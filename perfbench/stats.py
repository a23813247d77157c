"""Pure helpers for the benchmark's figures: percentiles with a sample
floor, open-loop latency, and golden fingerprint comparison."""
import math

# a reported percentile needs at least this many samples above it
TAIL_SAMPLES = 10


def min_samples(p, floor=TAIL_SAMPLES):
    """Smallest sample count that leaves `floor` samples beyond percentile
    p (0 < p < 100)."""
    return max(1, math.ceil(floor / (1.0 - p / 100.0) - 1e-9))


def percentile(values, p, floor=TAIL_SAMPLES):
    """Nearest-rank percentile of `values`; ValueError when fewer than
    `floor` samples would lie beyond it."""
    xs = sorted(values)
    if len(xs) < min_samples(p, floor):
        raise ValueError(
            f"p{p:g} needs {min_samples(p, floor)} samples, got {len(xs)}")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def open_loop_latencies(due, commit):
    """Latency of each open-loop request, from when it was due to when it
    committed, in the unit of the inputs. Timing from the due time (not
    from when the generator got round to sending it) charges a stall to
    every request queued behind it."""
    if len(due) != len(commit):
        raise ValueError("due and commit lists differ in length")
    return [c - d for d, c in zip(due, commit)]


def backlog_at_arrivals(due, commit):
    """Mean number of requests in the system as each one arrives,
    counting the arrival itself (so the figure is at least 1)."""
    counts = [sum(1 for d2, c2 in zip(due, commit) if d2 <= d < c2) for d in due]
    return sum(counts) / len(counts)


def compare_goldens(observed, goldens):
    """Names whose fingerprint differs from its golden, or that have no
    golden. `observed` and `goldens` map query name -> {"rows", "hash"}."""
    bad = []
    for name, fp in sorted(observed.items()):
        want = goldens.get(name)
        if want is None or want.get("rows") != fp.get("rows") or \
                want.get("hash") != fp.get("hash"):
            bad.append(name)
    return bad
