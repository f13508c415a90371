"""Pure functions behind the benchmark's numbers and checks (unit-tested
in ``tests/test_stats.py``)."""
import collections
import hashlib
import math
import statistics

# Percentiles a timing may be reported at, lowest first.
LADDER = (0.5, 0.75, 0.9, 0.95, 0.99, 0.999)


def tail_quantile(n):
    """The highest percentile in LADDER with at least ten of ``n`` samples
    beyond it, or None when even the median has fewer than ten."""
    best = None
    for q in LADDER:
        if n * (1 - q) >= 10 - 1e-9:
            best = q
    return best


def quantile_name(q):
    return "p" + ("%g" % (q * 100))


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least ``q`` of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = max(0, min(len(xs) - 1, math.ceil(q * len(xs)) - 1))
    return xs[k]


def median(values):
    return statistics.median(values) if values else 0.0


def union_length(intervals, lo=None, hi=None):
    """Total length covered by ``intervals`` ((start, end) pairs), clipped
    to ``[lo, hi]`` when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    that its child spans cover. ``spans`` holds dicts with id, parent,
    start and end."""
    children = collections.defaultdict(list)
    for s in spans:
        if s.get("parent") is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children[s["id"]], s["start"], s["end"]) for s in spans}


def row_hash(row):
    return int.from_bytes(hashlib.md5(row.encode("utf-8")).digest()[:8], "little")


def digest(rows):
    """Order-insensitive digest of a multiset of canonical row strings:
    the row count and the sum of 64-bit row hashes modulo 2**64."""
    total = 0
    n = 0
    for r in rows:
        total = (total + row_hash(r)) % (1 << 64)
        n += 1
    return "%d:%016x" % (n, total)


def sum_by_key(rows):
    """Sum the last ``|``-separated field of each row, grouped by the other
    fields."""
    out = collections.Counter()
    for r in rows:
        key, _, value = r.rpartition("|")
        out[key] += int(value)
    return out


def additive_mismatches(trigger_rows, expected_rows):
    """Keys whose values, summed over every trigger's output rows, differ
    from the batch computation over the whole archive."""
    got, want = sum_by_key(trigger_rows), sum_by_key(expected_rows)
    return sorted(k for k in set(got) | set(want) if got.get(k, 0) != want.get(k, 0))


def multiset_diff(got, want):
    """(missing, unexpected) rows between two multisets of rows."""
    g, w = collections.Counter(got), collections.Counter(want)
    return list((w - g).elements()), list((g - w).elements())


def release_lateness(schedule):
    """Lateness of an open-loop releaser: ``schedule`` is a list of
    (scheduled_ms, actual_ms). Returns (max, median) lateness in ms; early
    releases count as zero."""
    late = [max(0.0, a - s) for s, a in schedule]
    return (max(late) if late else 0.0), median(late)


def trigger_cpu_ms(sink_calls):
    """CPU time of each trigger of a closed-loop drain, from the process CPU
    time stamped at the end of every sink call (``batch``, ``cpu_end``).
    Triggers run back to back, so a trigger's CPU time runs from the end of
    the previous trigger's last sink call to the end of its own and covers
    one whole trigger. The first trigger, which also starts the query, gets
    no sample."""
    last = {}
    for c in sink_calls:
        last[c["batch"]] = max(last.get(c["batch"], c["cpu_end"]), c["cpu_end"])
    ends = [last[b] for b in sorted(last)]
    return [b - a for a, b in zip(ends, ends[1:])]


def backlog_at_triggers(release_ms, file_batch, trigger_starts):
    """Files released but not yet taken by an earlier trigger, at the start
    of each trigger. ``release_ms`` maps file -> actual release time,
    ``file_batch`` maps file -> batch id, ``trigger_starts`` maps batch id
    -> start time."""
    out = {}
    for b, t in trigger_starts.items():
        out[b] = sum(1 for f, r in release_ms.items()
                     if r <= t and file_batch.get(f, b) >= b)
    return out
