"""Correctness checks of one run, made with DuckDB outside the timed
window. The comparison rules follow the repository's oracle gate: columns
sorted by name, same row count, rows compared positionally (every query
ends in a total ORDER BY), same dtype kind, and values equal exactly
(NULL equals NaN equals NULL)."""
import glob
import math
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _read_dir(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pq.ParquetDataset(files).read().to_pandas()


def compare(exp, got):
    """None when the frames agree, else a one-line reason."""
    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(exp.columns) != list(got.columns):
        return f"columns {list(got.columns)} != oracle {list(exp.columns)}"
    if len(exp) != len(got):
        return f"{len(got)} rows != oracle {len(exp)}"
    kind = lambda dt: {"u": "i"}.get(dt.kind, dt.kind)  # noqa: E731
    for c in exp.columns:
        if kind(exp[c].dtype) != kind(got[c].dtype):
            return f"{c}: dtype {got[c].dtype} != oracle {exp[c].dtype}"
        for i, (a, b) in enumerate(zip(exp[c].tolist(), got[c].tolist())):
            a_null = a is None or (isinstance(a, float) and math.isnan(a))
            b_null = b is None or (isinstance(b, float) and math.isnan(b))
            if a_null and b_null:
                continue
            if a != b:
                return f"{c}[{i}]: {b!r} != oracle {a!r}"
    return None


def _connect(views):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name, path in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def query_mix(fixture_dir, check):
    """{query: reason} for every dumped query that differs from its
    oracle SQL over the same fixture files."""
    con = _connect({t: os.path.join(fixture_dir, f"{t}.parquet") for t in TABLES})
    bad = {}
    for name, sql in sorted(check["oracle"].items()):
        try:
            why = compare(con.execute(sql).fetchdf(),
                          _read_dir(os.path.join(check["dir"], name)))
        except Exception as e:  # a missing dump or a failing oracle both fail the query
            why = f"{type(e).__name__}: {e}"
        if why:
            bad[name] = why
    return bad


def race_upsert(input_dir, check):
    """{part: reason} for the final season: the table must equal an
    independent latest-wins-by-ts recomputation over every race batch,
    and the standings must equal the q05 oracle over that table."""
    bad = {}
    batches = os.path.join(input_dir, "races", "*", "*.parquet")
    table = os.path.join(check["table"], "*.parquet")
    con = _connect({})
    cols = "event_id, epoch_us(ts) AS ts, user_id, event_type, value, props"
    expect = (f"SELECT {cols} FROM (SELECT *, row_number() OVER ("
              f"PARTITION BY event_id ORDER BY ts DESC) AS rn "
              f"FROM read_parquet('{batches}')) WHERE rn = 1")
    got = ("SELECT event_id, ts, user_id, event_type, value, props "
           f"FROM read_parquet('{table}')")
    n_exp = con.execute(f"SELECT count(*) FROM ({expect})").fetchone()[0]
    n_got = con.execute(f"SELECT count(*) FROM ({got})").fetchone()[0]
    diff = con.execute(
        f"SELECT count(*) FROM (({expect}) EXCEPT ALL ({got}))").fetchone()[0]
    if n_exp != n_got or diff:
        bad["table"] = f"{n_got} rows vs {n_exp} expected, {diff} differ"
    # the program reads `ts` as raw microseconds; give DuckDB the same view
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{table}')")
    try:
        why = compare(con.execute(check["standings_oracle"]).fetchdf(),
                      _read_dir(check["standings"]))
    except Exception as e:
        why = f"{type(e).__name__}: {e}"
    if why:
        bad["standings"] = why
    return bad
