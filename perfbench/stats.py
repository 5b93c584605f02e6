"""The benchmark's arithmetic: percentiles, interval algebra for the
layer split, and the run-to-run spread. Kept free of I/O so that
`tests/test_stats.py` can check it directly."""
import math
import statistics

# A percentile is reported only when at least this many samples lie
# beyond it, so one slow sample cannot set it.
MIN_BEYOND = 10


def nearest_rank(values, p):
    """The p-th percentile (0 < p <= 100) by the nearest-rank rule."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    return xs[max(1, math.ceil(p / 100 * len(xs))) - 1]


def beyond(n, p):
    """How many of n samples lie strictly beyond the nearest-rank p-th
    percentile's position."""
    return n - max(1, math.ceil(p / 100 * n))


def supported_percentile(values, p):
    """The p-th percentile, or None while fewer than MIN_BEYOND samples
    lie beyond it."""
    if beyond(len(values), p) < MIN_BEYOND:
        return None
    return nearest_rank(values, p)


def median(values):
    return statistics.median(values)


def geomean(values):
    """Geometric mean of positive values: every operation weighs the
    same, whatever its size."""
    return math.exp(sum(math.log(v) for v in values) / len(values))


def spread(values):
    """Distance between the first and third quartile, as a share of the
    median (statistics.quantiles with n=4, its default method)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return (q3 - q1) / m if m else float("inf")


def union(intervals):
    """Merge [start, end] intervals into disjoint sorted ones."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def clip(intervals, lo, hi):
    return [[max(s, lo), min(e, hi)] for s, e in intervals if min(e, hi) > max(s, lo)]


def length(intervals):
    return sum(e - s for s, e in union(intervals))


def covered(window, intervals):
    """How much of `window` the intervals cover."""
    return length(clip(intervals, window[0], window[1]))


def layer_split(op, compose_end, jobs, phases):
    """Self times of one operation's layers, in the units of the inputs.

    `op` is the operation's [start, end]; the call into graft's entry
    point runs from start to `compose_end`, the forcing action from there
    to end. `jobs` and `phases` are the Spark job and planning-phase
    intervals caused by the operation. Jobs take precedence over
    planning phases, which take precedence over the driver time of the
    two spans that contain them, so the parts never overlap:

      exec        time covered by a running job
      plans       planning phases not overlapped by a job
      compose     the entry-point call's remaining (self) time
      driver      the action's remaining time: no job, no planning
      unattributed  the wall minus all of the above

    The parts sum to the operation's wall."""
    s, e = op
    j = union(clip(jobs, s, e))
    jp = union(j + clip(phases, s, e))
    exec_t = length(j)
    plans_t = length(jp) - exec_t
    compose_t = (compose_end - s) - covered([s, compose_end], jp)
    driver_t = (e - compose_end) - covered([compose_end, e], jp)
    unattributed = (e - s) - (exec_t + plans_t + compose_t + driver_t)
    return {"exec": exec_t, "plans": plans_t, "compose": compose_t,
            "driver": driver_t, "unattributed": unattributed}


def unattributed_gap(start, end, ops):
    """Time of a pass's [start, end] that no operation's span covers:
    the closed loop's own bookkeeping between operations."""
    return (end - start) - covered([start, end], ops)


def owner(t, windows, tick=1.0):
    """Index of the window that a listener time `t` belongs to, or None.

    Listener times are wall-clock milliseconds rounded down, so `t`
    stands for the interval [t, t + tick). The windows are [start, end)
    on an exact clock; the one that overlaps most of that interval owns
    `t` (the earliest on a tie), so back-to-back windows never both
    claim it. None when no window overlaps it."""
    best, most = None, 0.0
    for i, (s, e) in enumerate(windows):
        o = min(e, t + tick) - max(s, t)
        if o > most:
            best, most = i, o
    return best
