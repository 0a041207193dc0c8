"""Seeded benchmark inputs, derived from the fixture made by the program's
own generator (graft.tools.FixtureGen, which takes no seed).

- lap_analytics reads the fixture as is; the seed orders the query
  cycles (in Main.scala).
- race_upsert: a seeded split of `events` into RACES time-contiguous race
  batches; every race after the first also re-sends ~5% of earlier races'
  rows as corrections with a newer `ts` and an adjusted `value`.
- docs: a seeded 90% subset of `documents`, curated once by a traced
  lap_analytics run.
"""
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

RACES = 5
CORRECTION_SHARE = 0.05
DOC_SHARE = 0.90
# corrections are stamped after every original event: base + race * step
CORRECTION_STEP_US = 10_000_000


def race_batches(events_path, seed):
    """Returns a list of RACES pyarrow tables (the season's batches)."""
    ev = pq.read_table(events_path).sort_by("event_id")
    n = ev.num_rows
    rng = np.random.default_rng([seed, 1])
    # equal-size races with seeded cut jitter of up to +-20% of a race
    size = n / RACES
    cuts = np.arange(1, RACES) * size + rng.uniform(-0.2, 0.2, RACES - 1) * size
    bounds = [0] + [int(c) for c in cuts] + [n]
    ts_us = pc.cast(ev["ts"], pa.int64()).to_numpy()
    base_us = int(ts_us.max()) + 1
    batches = []
    for r in range(RACES):
        own = ev.slice(bounds[r], bounds[r + 1] - bounds[r])
        if r == 0:
            batches.append(own)
            continue
        k = int(round(CORRECTION_SHARE * own.num_rows))
        pick = np.sort(rng.choice(bounds[r], size=k, replace=False))
        fix = ev.take(pa.array(pick))
        new_ts = base_us + r * CORRECTION_STEP_US + np.arange(k, dtype=np.int64)
        scale = 1.0 + rng.uniform(-0.05, 0.05, k)
        fix = fix.set_column(fix.schema.get_field_index("ts"), "ts",
                             pa.array(new_ts, pa.int64()).cast(ev.schema.field("ts").type))
        fix = fix.set_column(fix.schema.get_field_index("value"), "value",
                             pc.multiply(fix["value"], pa.array(scale)))
        batches.append(pa.concat_tables([own, fix]))
    return batches


def doc_subset(docs_path, seed):
    docs = pq.read_table(docs_path)
    n = docs.num_rows
    rng = np.random.default_rng([seed, 2])
    keep = np.sort(rng.choice(n, size=int(round(DOC_SHARE * n)), replace=False))
    return docs.take(pa.array(keep))


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def build(workload, fixture_dir, out_dir, seed):
    """Writes the seeded inputs of `workload` (race_upsert, docs or
    lap_analytics) under `out_dir` and returns the directory the program
    reads (`fixture_dir` for lap_analytics) plus facts for the report."""
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    if workload == "race_upsert":
        batches = race_batches(os.path.join(fixture_dir, "events.parquet"), seed)
        for r, b in enumerate(batches):
            _write(b, os.path.join(out_dir, "races", f"race_{r:02d}", "part-0.parquet"))
        return out_dir, {"races": RACES, "rows": sum(b.num_rows for b in batches)}
    if workload == "docs":
        docs = doc_subset(os.path.join(fixture_dir, "documents.parquet"), seed)
        _write(docs, os.path.join(out_dir, "documents.parquet"))
        return out_dir, {"docs": docs.num_rows}
    return fixture_dir, {}


def digest(paths):
    """sha256 over every file under `paths`, in path order: the rows and
    schema of a parquet file (its bytes differ between writes of the same
    rows), the bytes of any other file."""
    h = hashlib.sha256()
    files = []
    for p in paths:
        if os.path.isfile(p):
            files.append(p)
        for root, dirs, names in os.walk(p):
            dirs.sort()
            files.extend(os.path.join(root, f) for f in sorted(names))
    for f in files:
        h.update(os.path.basename(f).encode())
        if f.endswith(".parquet"):
            t = pq.read_table(f).combine_chunks()
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, t.schema) as w:
                w.write_table(t)
            h.update(sink.getvalue())
            continue
        with open(f, "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()[:16]
