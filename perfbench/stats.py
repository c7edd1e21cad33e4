"""Statistics the benchmark reports, kept apart so selfcheck.py can pin them."""


def median(values):
    v = sorted(values)
    if not v:
        raise ValueError("median of no values")
    m = len(v) // 2
    return v[m] if len(v) % 2 else (v[m - 1] + v[m]) / 2


def tail_percentile(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it, as
    (percentile, value); None when there are fewer than 4 * beyond
    samples, where such a percentile would be no tail."""
    v = sorted(values)
    n = len(v)
    if n < 4 * beyond:
        return None
    # the value at rank r (0-based) has n - 1 - r samples beyond it
    r = n - 1 - beyond
    return (100.0 * (r + 1) / n, v[r])


def warm_setups(rounds):
    """The second half of the set-up rounds. The first round also pays
    JVM and Spark start-up, and the JIT is still compiling the set-up
    path through the rounds after it."""
    return rounds[len(rounds) // 2:]


def split_passes(records):
    """Cold records (the first pass) and warm records (the passes after
    the settling one)."""
    cold = [r for r in records if r["phase"] == "cold"]
    warm = [r for r in records if r["phase"] == "warm"]
    return cold, warm


def op_medians(warm, ops):
    """Each op's median wall time over its warm executions that succeeded."""
    out = {}
    for op in ops:
        walls = [r["wall_s"] for r in warm if r["op"] == op and r["ok"]]
        if walls:
            out[op] = median(walls)
    return out


def counts(records):
    """(attempted, failed) over every op execution of a run."""
    return len(records), sum(1 for r in records if not r["ok"])
