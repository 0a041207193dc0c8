"""Statistics of one benchmark run, computed from the raw per-op records
that perfbench/src/perfbench/Main.scala writes. Every percentile carries its sample count and every ratio its
base, so a reader can tell a steady number from a thin one."""
import statistics


def quantile(xs, q):
    """Linear-interpolated quantile (numpy's default rule) of a non-empty
    sequence; `q` in [0, 1]."""
    if not xs:
        raise ValueError("quantile of no samples")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"quantile {q} outside [0, 1]")
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def percentile(xs, p):
    """{"value", "n", "beyond"}: the p-th percentile of `xs`, the sample
    count, and how many samples lie strictly above the value."""
    v = quantile(xs, p / 100.0)
    return {"value": v, "n": len(xs), "beyond": sum(1 for x in xs if x > v)}


def ratio(num, den):
    """{"value", "num", "base"}; value is None when the base is 0."""
    return {"value": (num / den) if den else None, "num": num, "base": den}


def failure_share(failed, attempted):
    """failed / attempted with its base; attempted must be at least 1."""
    if attempted < 1:
        raise ValueError("no attempted ops")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed {failed} outside [0, {attempted}]")
    return ratio(failed, attempted)


def warm_drift(ops):
    """Median of the first quarter of `ops` over the median of its last
    quarter, each op first divided by the mean of its own kind (the mix
    changes from round to round; only the trend is wanted; a mean, not a
    median, so that no op reads exactly 1 by construction). Above 1: the
    ops were still speeding up. Fewer than 4 ops read as flat (1.0)."""
    if len(ops) < 4:
        return ratio(1.0, 1.0)
    by_kind = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(o["s"])
    ref = {k: statistics.fmean(v) for k, v in by_kind.items()}
    norm = [o["s"] / ref[o["kind"]] if ref[o["kind"]] else 1.0 for o in ops]
    q = len(norm) // 4
    return ratio(statistics.median(norm[:q]), statistics.median(norm[-q:]))


def mean_per_op(ops, field):
    vals = [o.get(field, 0) for o in ops]
    return sum(vals) / len(vals) if vals else 0.0
