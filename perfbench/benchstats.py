"""Statistics for the graft benchmark: medians, the tail rule, failure
counting, and the metrics each run reports."""

import math
import statistics

# Candidate tail percentiles, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail(samples):
    """The highest percentile in TAIL_PERCENTILES that has at least ten
    samples ranked beyond it (nearest-rank), as (percentile, value,
    sample count, samples beyond); None with fewer than 20 samples."""
    xs = sorted(samples)
    n = len(xs)
    for p in TAIL_PERCENTILES:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= 10:
            return p, xs[rank - 1], n, n - rank
    return None


def failure_counts(ok_flags):
    """(attempted, failed, failed_ratio) over per-op success flags."""
    attempted = len(ok_flags)
    failed = sum(1 for ok in ok_flags if not ok)
    return attempted, failed, (failed / attempted if attempted else 1.0)


# The two timed parts of each workload's op, gated as op_a and op_b.
PARTS = {
    "kv_nearsync": ("verify", "range_check"),  # full verify; one range check
    "corpus_dedup": ("minhash", "drop"),  # clearCaches + minhashNearDup; dropNearDuplicates
}


def end_to_end(raw):
    """The end-to-end metrics of an untraced run's raw samples. Part
    latencies are over every measured op; a failed op makes the run
    incorrect whatever its latency."""
    a, b = PARTS[raw["workload"]]
    parts = raw["parts_ms"]
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "op_a_p50_ms": statistics.median(parts[a]) if parts.get(a) else float("nan"),
        "op_b_p50_ms": statistics.median(parts[b]) if parts.get(b) else float("nan"),
        "peak_heap_MB": max(raw["heap_after_gc_MB"]),
    }


def trace_overhead(raw):
    """(traced − untraced) median op latency of a traced run, in ms and
    as a percentage of the untraced median."""
    traced = [m for m, ok, t in zip(raw["op_ms"], raw["op_ok"], raw["op_traced"]) if ok and t]
    plain = [m for m, ok, t in zip(raw["op_ms"], raw["op_ok"], raw["op_traced"]) if ok and not t]
    if not traced or not plain:
        return float("nan"), float("nan")
    d = statistics.median(traced) - statistics.median(plain)
    return d, 100.0 * d / statistics.median(plain)
