"""Pure reductions from the harness report to metric values: medians,
nearest-rank percentiles, per-record latency attribution, closed-loop
throughput and span self times. No Spark, no I/O — unit-tested in
perfbench/tests/test_stats.py."""
import math


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it. Returns (value, samples strictly above
    its rank) so callers can require enough samples in the tail."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1], len(s) - rank


def batch_end_ms(b):
    """End of a micro-batch: progress timestamp + triggerExecution."""
    return b["start_ms"] + b["durations"].get("triggerExecution", 0)


def covering_batch(shard, progress):
    """First micro-batch (by batch id) whose source end offset covers
    the shard. Offsets count shard files consumed, so shard number o
    (1-based, in name order) is covered once end_offset >= o."""
    for b in sorted(progress, key=lambda b: b["batch_id"]):
        end = b.get("end_offset")
        if end is not None and int(end) >= shard["offset"]:
            return b
    return None


def latency_samples(shards, progress):
    """Per-record latency (ms) from each shard's due time to the end of
    the first micro-batch that covers it; every record of a shard gets
    its shard's latency. Shards no batch covers are returned apart, as
    they never committed."""
    samples, uncovered = [], []
    for sh in shards:
        b = covering_batch(sh, progress)
        if b is None:
            uncovered.append(sh)
        else:
            samples.extend([batch_end_ms(b) - sh["due_ms"]] * sh["records"])
    return samples, uncovered


def throughput(shards, progress, start_ms=None):
    """Closed-loop records/s: records of the covered shards divided by
    the time from `start_ms` (default: the first shard's due time) to
    the last covering batch's end."""
    ends, n = [], 0
    for sh in shards:
        b = covering_batch(sh, progress)
        if b is not None:
            ends.append(batch_end_ms(b))
            n += sh["records"]
    if not ends:
        return 0.0, 0
    if start_ms is None:
        start_ms = min(sh["due_ms"] for sh in shards)
    window = (max(ends) - start_ms) / 1000.0
    return (n / window if window > 0 else 0.0), n


def covered_ms(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time_ms(span, children):
    """A span's duration minus the time its child spans cover."""
    lo, hi = span["start_ms"], span["end_ms"]
    return (hi - lo) - covered_ms([(c["start_ms"], c["end_ms"]) for c in children], lo, hi)


def quartile_spread(values):
    """(Q3 - Q1) / median, quartiles as statistics.quantiles(n=4) gives them."""
    import statistics
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
