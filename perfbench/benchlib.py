"""The benchmark's arithmetic: percentiles, latency attribution and self
time. Pure functions over the raw measurements the JVM side writes;
`tests/test_benchlib.py` covers them."""
import math
import statistics

MIN_BEYOND = 10


def percentile(samples, p):
    """Nearest-rank percentile under the rule that a percentile needs at least
    MIN_BEYOND samples beyond it: when there are too few samples for `p`, the
    highest percentile that has them is used instead.

    `samples` holds plain values or (value, weight) pairs; a weight counts as
    that many samples. Returns (value, percentile used, sample count)."""
    pairs = [s if isinstance(s, tuple) else (s, 1) for s in samples]
    n = sum(w for _, w in pairs)
    if n == 0:
        raise ValueError("no samples")
    p_used = min(float(p), math.floor(100.0 * (n - MIN_BEYOND) / n)) if n > MIN_BEYOND else 0.0
    p_used = max(p_used, 0.0)
    rank = max(1, math.ceil(p_used / 100.0 * n))
    seen = 0
    for v, w in sorted(pairs):
        seen += w
        if seen >= rank:
            return v, p_used, n
    return sorted(pairs)[-1][0], p_used, n


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("no samples")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2.0


def attribute_latencies(batches, sched_ns, t0_ns):
    """Commit latency per record: from its scheduled send to the progress event
    of the first batch whose end offset on the record's shard covers it.

    `batches`: progress events in batch order, each with `end_offsets`
    (shard -> records consumed) and `event_ns`. `sched_ns`: shard -> send
    offsets (ns after `t0_ns`) in sequence-number order. Returns a list of
    (latency_ns, 1) samples and the records never covered."""
    done = {s: 0 for s in sched_ns}
    out = []
    for b in batches:
        for shard, end in b["end_offsets"].items():
            sends = sched_ns.get(shard, [])
            for seq in range(done.get(shard, 0), min(end, len(sends))):
                out.append((b["event_ns"] - (t0_ns + sends[seq]), 1))
            done[shard] = max(done.get(shard, 0), end)
    uncovered = sum(len(v) - min(done.get(s, 0), len(v)) for s, v in sched_ns.items())
    return out, uncovered


def batch_latencies(batches, start_ns):
    """Closed loop: every record is available at `start_ns`, so each batch
    contributes (its event time - start) weighted by its records."""
    prev = {}
    out = []
    for b in batches:
        n = sum(end - prev.get(s, 0) for s, end in b["end_offsets"].items())
        prev.update(b["end_offsets"])
        if n > 0:
            out.append((b["event_ns"] - start_ns, n))
    return out


def union_ns(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
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
    """Self time of each span: its length minus the time covered by the spans
    directly nested in it. Spans are dicts with `key`, `start_ns`, `end_ns`;
    nesting is containment. Returns a list of (span, self_ns)."""
    order = sorted(range(len(spans)), key=lambda i: (spans[i]["start_ns"], -spans[i]["end_ns"]))
    children = {i: [] for i in order}
    stack = []
    for i in order:
        s = spans[i]
        while stack and spans[stack[-1]]["end_ns"] < s["end_ns"]:
            stack.pop()
        if stack and spans[stack[-1]]["start_ns"] <= s["start_ns"]:
            children[stack[-1]].append(i)
        stack.append(i)
    return [(spans[i], spans[i]["end_ns"] - spans[i]["start_ns"] -
             union_ns([(spans[c]["start_ns"], spans[c]["end_ns"]) for c in children[i]]))
            for i in range(len(spans))]


def quartile_spread(values):
    """(Q3 - Q1) / median, with quartiles as statistics.quantiles gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)

