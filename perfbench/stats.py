"""Statistics and result-line helpers shared by run.py and steady.py."""
import json
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile_with_tail(xs, min_tail=10):
    """Highest of p90/p99/p99.9 that has at least `min_tail` samples
    strictly beyond it, as (label, value); None when no percentile
    qualifies (a latency is then reported as its median alone)."""
    s = sorted(xs)
    best = None
    for label, q in (("p90", 0.90), ("p99", 0.99), ("p999", 0.999)):
        # nearest-rank percentile
        rank = max(1, math.ceil(q * len(s)))
        v = s[rank - 1] if s else 0.0
        beyond = sum(1 for x in s if x > v)
        if beyond >= min_tail:
            best = (label, v)
    return best


def spread(values):
    """Interquartile distance as a share of the median (the steadiness
    measure), from statistics.quantiles(values, n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def parse_result(stdout):
    """The result object from a run's standard output: its last line,
    which must be one JSON object with exactly RESULT_KEYS, whole-number
    counts and a {value, unit} per metric."""
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if not lines:
        raise ValueError("empty output")
    obj = json.loads(lines[-1])
    if not isinstance(obj, dict) or set(obj) != RESULT_KEYS:
        raise ValueError(f"result keys {sorted(obj) if isinstance(obj, dict) else obj}")
    if not isinstance(obj["correct"], bool):
        raise ValueError("correct must be a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(obj[k], int) or isinstance(obj[k], bool):
            raise ValueError(f"{k} must be a whole number")
    if obj["attempted"] < 1:
        raise ValueError("attempted must be at least 1")
    for name, m in obj["metrics"].items():
        if set(m) != {"value", "unit"}:
            raise ValueError(f"metric {name} keys {sorted(m)}")
        if not isinstance(m["value"], (int, float)) or isinstance(m["value"], bool):
            raise ValueError(f"metric {name} value {m['value']!r}")
    return obj
