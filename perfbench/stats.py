"""Statistics over one benchmark run's raw record.

Pure functions, no I/O, so the rules are unit-tested in
``perfbench/tests/test_stats.py``:

* percentiles, and the tail rule: a p90 is only reported when at least
  ``MIN_BEYOND_TAIL`` samples lie beyond it;
* outcome counting: a failed output check makes its operation a failed
  operation, and a failed set-up check counts as one failed operation;
* span self-time: a span's duration minus the time covered by its child
  spans.
"""
import statistics

MIN_BEYOND_TAIL = 10


class TooFewSamples(ValueError):
    pass


def median(values):
    if not values:
        raise TooFewSamples("median of no samples")
    return statistics.median(values)


def percentile(values, q):
    """Linear-interpolated percentile, q in [0, 1] (numpy's default)."""
    if not values:
        raise TooFewSamples("percentile of no samples")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values, q=0.9):
    """The q-quantile of a tail metric. A tail read from fewer than
    MIN_BEYOND_TAIL samples beyond it is noise, so it is refused:
    at q = 0.9 that needs at least 100 samples."""
    beyond = len(values) * (1.0 - q)
    if beyond + 1e-9 < MIN_BEYOND_TAIL:
        raise TooFewSamples(
            f"p{round(q * 100)} needs >= {MIN_BEYOND_TAIL} samples beyond it; "
            f"{len(values)} samples give {beyond:.1f}")
    return percentile(values, q)


def outcomes(op_ok, checks):
    """(attempted, failed) operations.

    Every timed operation is attempted once; it failed if the JVM marked
    it failed or if any check recorded against it failed. Each set-up or
    verification check (``op == -1``) is its own attempted operation.
    """
    failed_ops = {i for i, ok in enumerate(op_ok) if not ok}
    setup_checks = 0
    setup_failed = 0
    for c in checks:
        if c["op"] < 0:
            setup_checks += 1
            setup_failed += 0 if c["ok"] else 1
        elif not c["ok"]:
            failed_ops.add(c["op"])
    return len(op_ok) + setup_checks, len(failed_ops) + setup_failed


def self_times(spans):
    """span id -> duration minus the summed durations of its direct
    children, in seconds. Spans come from one thread, so children never
    overlap each other; the result is clamped at 0 against clock jitter."""
    dur = {s["id"]: (s["end_ns"] - s["start_ns"]) / 1e9 for s in spans}
    covered = {}
    for s in spans:
        if s["parent"] >= 0:
            covered[s["parent"]] = covered.get(s["parent"], 0.0) + dur[s["id"]]
    return {i: max(0.0, d - covered.get(i, 0.0)) for i, d in dur.items()}


def per_op(spans, name):
    """op id -> summed self-time of the spans called `name` in that op."""
    st = self_times(spans)
    out = {}
    for s in spans:
        if s["name"] == name:
            out[s["op"]] = out.get(s["op"], 0) + st[s["id"]]
    return out

