"""Statistics the benchmark reports, kept apart so selftest.py can check
them: medians, the tail-percentile rule, span self times and the parsing
of the printed result line."""
import json
import math
import statistics

# A tail percentile needs at least this many samples behind it; with
# fewer, only the median is reported.
MIN_TAIL_SAMPLES = 40


def median(xs):
    xs = [float(x) for x in xs]
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def percentile(xs, p):
    """The p-th percentile (0 < p < 100) by linear interpolation between
    closest ranks, or None when there are fewer than MIN_TAIL_SAMPLES
    samples: such a figure would be no tail."""
    xs = sorted(float(x) for x in xs)
    if len(xs) < MIN_TAIL_SAMPLES:
        return None
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def self_times(spans):
    """Self time per span name: each span's duration minus the part of
    its interval that its children cover (children may not overlap one
    another, since spans on one thread nest). Returns {name: seconds}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        start, end = s["start_ns"], s["end_ns"]
        covered = 0
        for c in kids.get(s["id"], []):
            covered += max(0, min(end, c["end_ns"]) - max(start, c["start_ns"]))
        out[s["name"]] = out.get(s["name"], 0.0) + (end - start - covered) / 1e9
    return out


RESULT_KEYS = ("correct", "attempted", "failed", "metrics")


def parse_result_line(line):
    """Parse and validate the last line a run prints. Returns the dict;
    raises ValueError when it does not have the required form."""
    doc = json.loads(line)
    if not isinstance(doc, dict) or tuple(sorted(doc)) != tuple(sorted(RESULT_KEYS)):
        raise ValueError("result keys must be exactly %s" % (RESULT_KEYS,))
    if not isinstance(doc["correct"], bool):
        raise ValueError("correct must be a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(doc[k], int) or isinstance(doc[k], bool) or doc[k] < 0:
            raise ValueError("%s must be a whole number" % k)
    if doc["attempted"] < 1 or doc["failed"] > doc["attempted"]:
        raise ValueError("need 1 <= attempted and failed <= attempted")
    for name, m in doc["metrics"].items():
        if sorted(m) != ["unit", "value"]:
            raise ValueError("metric %s must have exactly value and unit" % name)
        v = m["value"]
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            raise ValueError("metric %s has no finite value" % name)
    return doc


def format_result_line(correct, attempted, failed, metrics):
    """The printed line; metrics maps name -> (value, unit)."""
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    })
