"""Pure functions that turn the harness's raw records into metrics.

Kept apart from run.py so that perfbench/test_perfbench.py can check the
rules on synthetic inputs without a JVM.
"""
import math
import re

# Slope above this share of the offered rate means the backlog grows.
BACKLOG_GROWTH_SHARE = 0.2
# Samples that must lie beyond a reported tail percentile.
TAIL_MIN_BEYOND = 10


def percentile(values, p):
    """Linear-interpolated percentile, p in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n):
    """Highest whole percentile with at least TAIL_MIN_BEYOND of n samples
    beyond it, or None when n supports no percentile above the median."""
    if n <= TAIL_MIN_BEYOND:
        return None
    p = math.floor(100 * (n - TAIL_MIN_BEYOND) / n)
    while p > 50 and n * (100 - p) / 100 < TAIL_MIN_BEYOND:
        p -= 1
    return p if p > 50 else None


def tail(values):
    """(percentile, value, samples) by the tail rule, or None."""
    p = tail_percentile(len(values))
    if p is None:
        return None
    return p, percentile(values, p), len(values)


def slope(points):
    """Least-squares slope of [(x, y), ...]."""
    n = len(points)
    if n < 2:
        return 0.0
    mx = sum(x for x, _ in points) / n
    my = sum(y for _, y in points) / n
    sxx = sum((x - mx) ** 2 for x, _ in points)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in points) / sxx


def backlog_grows(points, offered_rate):
    """points: [(seconds, backlog rows)] sampled over one rung. The
    backlog grows when its fitted slope exceeds BACKLOG_GROWTH_SHARE of
    the offered rate (rows/s): the queries then fall behind by more than
    that share of what is offered, for as long as the rung lasts."""
    return slope(points) > BACKLOG_GROWTH_SHARE * offered_rate


def union_ms(intervals, lo=None, hi=None):
    """Total length of the union of [start, end] intervals, optionally
    clipped to [lo, hi]."""
    spans = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            spans.append((s, e))
    spans.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


_SITE = re.compile(r"^(\S+) at ([A-Za-z0-9_$.-]+\.(?:scala|java)):\d+")
HARNESS_FILES = {"BatchLoad.scala", "StreamLoad.scala", "Digest.scala", "PerfBench.scala"}
DRIVER_ACTIONS = {"collect", "collectAsList", "take", "head", "first", "count",
                  "reduce", "toLocalIterator", "takeAsList", "tail"}


def parse_callsite(site):
    """'checkpoint at Util.scala:64' -> ('checkpoint', 'Util.scala');
    (None, None) when the site names no source file."""
    m = _SITE.match(site or "")
    return (m.group(1), m.group(2)) if m else (None, None)


def attribute_job(site, phase):
    """Layer a job belongs to, from its short call site and the harness
    phase it ran in: 'util' for jobs started in ops/Util.scala (the
    checkpoint and rank helpers), 'ops' for other jobs started while a
    key's DataFrame was being built, 'exec' for the materialising write
    and anything else."""
    _, f = parse_callsite(site)
    if f == "Util.scala":
        return "util"
    if phase == "build" and f not in HARNESS_FILES:
        return "ops"
    return "exec"


def is_driver_action(site):
    action, _ = parse_callsite(site)
    return action in DRIVER_ACTIONS

