#!/usr/bin/env python3
"""Benchmark of the lap-analytics engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload lap_analytics --seed 1 --seconds 10 --trace 0

Builds the program from source (perfbench/build.py), generates the
fixture with the program's own generator once per checkout, derives the
seeded inputs, runs one closed-loop client in one JVM (perfbench/src),
checks the outputs with DuckDB, and prints a report line followed by the
result line: {"correct", "attempted", "failed", "metrics"}. --trace 0
reports the end-to-end metrics, --trace 1 the per-layer ones. Workloads,
metrics and the layer map are described in perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import check  # noqa: E402
import inputs  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("lap_analytics", "race_upsert")
FIXTURE_SF = "0.1"
# warm-up: whole rounds until two consecutive rounds agree within WARM_TOL
WARM_MIN, WARM_MAX, WARM_TOL = 2, 3, 0.10
# a run's JVM must end within RUN_DEADLINE_S of its start; generating the
# fixture (once per checkout) has its own allowance
RUN_DEADLINE_S, FIXTURE_DEADLINE_S = 165, 300
# set-up is measured this many times in a run; setup_s is the median
SETUPS = 3
HEAP = "2g"
QUERIES = ["q01_avg_value_by_user", "q02_equal_weight_by_day",
           "q03_speed_consistency", "q04_day_normalized", "q05_pareto_rank",
           "q06_slope_by_user_type", "q07_slope_price_qty", "q08_dup_keys",
           "q09_dedup_latest", "q10_integrity_events"]
PIPELINE_COUNTS = ["after_quality", "after_exact", "after_neardup", "after_mix"]
OPERATOR_SPANS = ["operators.TextAnalysis.curationDecision_s",
                  "operators.NearDup.simHash_s",
                  "operators.NearDup.simHashPairsCapped_s",
                  "operators.Graph.connectedComponents_s",
                  "operators.Sampling.deterministicMix_s",
                  "operators.DataMix.manifestCells_s",
                  "engine.ZOrder.zOrderedWrite_s"]
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
MB = 1048576.0


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def cores():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def _stop_child(signum, _frame):
    """SIGTERM / SIGINT: take the running JVM's process group down too
    (it runs in its own session), then exit without a result."""
    if _child is not None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
    sys.exit(128 + signum)


_child = None


def java(classpath, tmp, args, log_path, deadline):
    """Runs one JVM to completion (or kills its process group at the
    deadline) and returns its exit code."""
    global _child
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in JDK_OPENS]
           + ["-cp", classpath] + args)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    with open(log_path, "ab") as fh:
        proc = _child = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                         env=env, start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
        finally:
            _child = None


def fixture(root, classpath, data_dir, work):
    """The FixtureGen output at FIXTURE_SF, generated once per checkout
    and generator version. Returns (dir, seconds spent generating)."""
    gen_src = os.path.join(root, "src", "main", "scala", "graft", "tools",
                           "FixtureGen.scala")
    key = inputs.digest([gen_src])
    target = os.path.join(data_dir, f"sf{FIXTURE_SF}-{key}")
    if os.path.isdir(target):
        return target, 0.0
    t0 = time.monotonic()
    tmp = target + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    rc = java(classpath, os.path.join(work, "tmp"),
              ["graft.tools.FixtureGen", tmp, FIXTURE_SF],
              os.path.join(work, "fixturegen.log"),
              time.monotonic() + FIXTURE_DEADLINE_S)
    if rc != 0:
        sys.exit(f"[perfbench] fixture generation failed ({rc}); "
                 f"see {os.path.join(work, 'fixturegen.log')}")
    os.rename(tmp, target)
    return target, time.monotonic() - t0


def window_metrics(ops, window_s):
    done = [o for o in ops if o["ok"]]
    times = [o["s"] for o in ops]
    return {"ops_per_s": len(done) / window_s,
            "p50": stats.percentile(times, 50),
            "p90": stats.percentile(times, 90)}


def layer_metrics(res, workload, ops):
    """Per-layer metrics of the traced window (zero where the workload
    does not exercise the layer)."""
    n = len(ops)
    c = res["cores"]
    mean = lambda f: stats.mean_per_op(ops, f)  # noqa: E731
    # the execution base of an op: the noop write of a query, the whole
    # upsert + standings op of a race
    run_s = [o.get("run_s", o.get("upsert_s", 0) + o.get("standings_s", 0))
             for o in ops]
    busy = [o["busy_s"] for o in ops]
    m = {
        "SparkEntry.build_s": ("s", mean("build_s")),
        "plans.plan_s": ("s", mean("plan_s")),
        "exec.run_s": ("s", sum(run_s) / n),
        "exec.driver_gap_s": ("s", sum(max(0.0, r - b) for r, b in zip(run_s, busy)) / n),
        "exec.jobs": ("count", mean("jobs")),
        "exec.stages": ("count", mean("stages")),
        "exec.tasks": ("count", mean("tasks")),
        "exec.task_s": ("s", mean("task_s")),
        "exec.cpu_s": ("s", mean("cpu_s")),
        "exec.core_util": ("ratio", stats.ratio(sum(o["task_s"] for o in ops),
                                                sum(run_s) * c)["value"] or 0.0),
        "exec.shuffle_write_mb": ("MB", mean("shuffle_write_bytes") / MB),
        "exec.shuffle_read_mb": ("MB", mean("shuffle_read_bytes") / MB),
        "exec.spill_mb": ("MB", mean("spill_bytes") / MB),
        "exec.input_mb": ("MB", mean("input_bytes") / MB),
        "engine.Sources.repartitions": ("count", mean("repartitions")),
    }
    for q in QUERIES:
        xs = [o["s"] for o in ops if o["kind"] == q]
        m[f"{q}.p50_s"] = ("s", stats.percentile(xs, 50)["value"] if xs else 0.0)
    race = workload == "race_upsert"
    up = [o["upsert_s"] for o in ops] if race else []
    rd = [o["standings_s"] for o in ops] if race else []
    m["streaming.EventStream.upsert_s"] = ("s", stats.percentile(up, 50)["value"] if up else 0.0)
    m["streaming.bytes_written_mb"] = ("MB", mean("bytes_written") / MB)
    m["streaming.write_amp"] = ("ratio", stats.ratio(
        sum(o.get("bytes_written", 0) for o in ops),
        sum(o.get("batch_bytes", 0) for o in ops))["value"] or 0.0)
    m["engine.Dedup.keep_ratio"] = ("ratio", stats.ratio(
        sum(o.get("rows_kept", 0) for o in ops),
        sum(o.get("rows_in", 0) for o in ops))["value"] or 0.0)
    m["read.standings_s"] = ("s", stats.percentile(rd, 50)["value"] if rd else 0.0)
    x = res["extra"]
    m["Pipeline.curate_s"] = ("s", x.get("Pipeline.curate_s", 0.0))
    for k in PIPELINE_COUNTS:
        m[f"Pipeline.{k}"] = ("count", x.get(f"Pipeline.{k}", 0))
    m["Pipeline.keep_ratio"] = ("ratio", stats.ratio(
        x.get("Pipeline.after_mix", 0), x.get("Pipeline.input", 0))["value"] or 0.0)
    for k in OPERATOR_SPANS:
        m[k] = ("s", x.get(k, 0.0))
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop_child)
    signal.signal(signal.SIGINT, _stop_child)

    root = os.getcwd()
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    work = os.path.join(root, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        classpath = build.build(root, build_dir)
    except build.BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
    fix_dir, fixture_s = fixture(root, classpath, os.path.join(root, ".bench_data"), work)

    t0 = time.monotonic()
    data, facts = inputs.build(a.workload, fix_dir, os.path.join(work, "input"), a.seed)
    docs_dir = None
    if a.workload == "lap_analytics" and a.trace:
        docs_dir, _ = inputs.build("docs", fix_dir,
                                   os.path.join(work, "docs"), a.seed)
    gen_s = time.monotonic() - t0
    digest = inputs.digest([data] + ([docs_dir] if docs_dir else []))
    log(f"inputs seed={a.seed} digest={digest} gen_s={gen_s:.3f} "
        f"fixture_gen_s={fixture_s:.3f} {facts}")

    args = ["perfbench.Main", f"workload={a.workload}", f"data={data}",
            f"work={work}", f"seconds={a.seconds}", f"trace={a.trace}",
            f"seed={a.seed}", f"cores={cores()}", f"warm_min={WARM_MIN}",
            f"warm_max={WARM_MAX}", f"warm_tol={WARM_TOL}", f"setups={SETUPS}"]
    if docs_dir:
        args.append(f"docs={docs_dir}")
    rc = java(classpath, os.path.join(work, "tmp"), args,
              os.path.join(work, "jvm.log"), time.monotonic() + RUN_DEADLINE_S)
    if rc != 0:
        sys.exit(f"[perfbench] benchmark JVM failed ({'timeout' if rc is None else rc}); "
                 f"see {os.path.join(work, 'jvm.log')}")
    with open(os.path.join(work, "result.json")) as fh:
        res = json.load(fh)

    # correctness, once per run, outside the timed window
    if a.workload == "lap_analytics":
        bad = check.query_mix(fix_dir, res["check"])
    else:
        bad = check.race_upsert(data, res["check"])
    ops = res["ops"]
    tops = res["traced_ops"] or []
    attempted = len(tops if a.trace else ops)
    # an op whose result differs from the check counts as failed: for the
    # mix, every op of a failing query; for the race, every op of the season
    def failed_of(xs):
        return sum(1 for o in xs if not o["ok"] or o["kind"] in bad
                   or (a.workload == "race_upsert" and bad))
    failed = failed_of(tops if a.trace else ops)
    correct = not bad and failed == 0 and res["warmup_failed"] == 0

    untraced = window_metrics(ops, res["window_s"])
    setup = stats.percentile(res["setup_s"], 50)
    e2e = {
        "setup_s": ("s", setup["value"]),
        "ops_per_s": ("1/s", untraced["ops_per_s"]),
        "op_p50_s": ("s", untraced["p50"]["value"]),
    }
    report = {"workload": a.workload, "seed": a.seed, "input_digest": digest,
              "gen_input_s": gen_s, "fixture_gen_s": fixture_s,
              "failed": failed, "attempted": attempted,
              "failure_share": stats.failure_share(failed, attempted),
              "correct": correct, "check_failures": bad,
              "warmup_errors": res["warmup_errors"],
              "end_to_end": {k: {"value": v, "unit": u} for k, (u, v) in e2e.items()},
              "op_s_p50": untraced["p50"], "op_s_p90": untraced["p90"],
              "setups_s": res["setup_s"], "until_timed_s": res["until_timed_s"],
              "window_s": res["window_s"], "warmup_rounds": res["warmup_rounds"],
              "warm_drift": stats.warm_drift(res["warmup_last_round"] + ops)}
    report["end_to_end"]["op_p50_s"]["n"] = untraced["p50"]["n"]
    report["end_to_end"]["ops_per_s"]["n"] = len(ops)
    report["end_to_end"]["setup_s"]["n"] = setup["n"]

    if a.trace:
        traced = window_metrics(tops, res["traced_window_s"])
        layer = layer_metrics(res, a.workload, tops)
        drift = report["warm_drift"]
        layer.update({
            "setup.session_s": ("s", res["session_s"]),
            "setup.warmup_s": ("s", res["warmup_s"]),
            "setup.warmup_ops": ("count", res["warmup_ops"]),
            "jvm.gc_s": ("s", res["gc_setup_s"]),
            "jvm.heap_peak_mb": ("MB", res["heap_peak_mb"]),
            "loop.warm_drift": ("ratio", drift["value"]),
            "loop.op_p90_s": ("s", untraced["p90"]["value"]),
            "trace.ops_per_s": ("1/s", traced["ops_per_s"]),
            "trace.overhead": ("ratio", stats.ratio(
                untraced["ops_per_s"], traced["ops_per_s"])["value"] - 1.0),
            "gen.input_s": ("s", gen_s),
        })
        report["per_layer"] = {k: {"value": v, "unit": u} for k, (u, v) in layer.items()}
        report["per_layer"]["loop.warm_drift"].update(
            {"num": drift["num"], "base": drift["base"],
             "n": len(res["warmup_last_round"]) + len(ops)})
        metrics = layer
    else:
        metrics = e2e
    print(json.dumps({"report": report}), flush=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (u, v) in metrics.items()}}), flush=True)


if __name__ == "__main__":
    main()
