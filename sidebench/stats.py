"""Turns the driver's raw samples into metrics.

Kept apart from run.py so the rules are unit-tested
(`python3 -m unittest discover -s sidebench/tests`).
"""

import math


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def percentile(xs, q, min_beyond=10):
    """Nearest-rank q-quantile, or None unless at least `min_beyond`
    samples lie beyond it (a tail percentile from fewer samples is
    noise)."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    v = s[max(0, math.ceil(q * len(s)) - 1)]
    return v if sum(1 for x in s if x > v) >= min_beyond else None


def latencies(units, window=None):
    """Per-unit latencies (ms) from [due, sent, done] records. Latency
    runs from the DUE time, not the send time, so a stalled generator's
    delay counts against the system it stalled on (open loop); units
    whose due time falls outside `window` (the timed phase) are warm-up
    or tail and are skipped."""
    out = []
    for due, _sent, done in units:
        if window is not None and not (window[0] <= due < window[1]):
            continue
        if done is None or (isinstance(done, float) and math.isnan(done)):
            raise ValueError("unit never completed")
        out.append(done - due)
    return out


def busy_rate(batches, window):
    """Median rows per second of busy time over the batches (micro-batches
    or passes) that ended inside `window`, the timed phase: warm-up
    batches end before it, so their rows and time stay out (they count
    in setup). Each batch carries its rows, busy_ms and end_ms; batches
    with the same `group` (one lifecycle cycle) form one sample."""
    groups = {}
    for i, b in enumerate(batches):
        if window[0] <= b["end_ms"] < window[1]:
            g = groups.setdefault(b.get("group", ("batch", i)), [0, 0.0])
            g[0] += b["rows"]
            g[1] += b["busy_ms"]
    rates = [rows / (ms / 1000.0) for rows, ms in groups.values() if rows > 0 and ms > 0]
    if not rates:
        raise ValueError("no timed batch")
    return median(rates)


def op_seconds(samples):
    """Median time of one operation. An operation made of parts (a pass
    of queries, the two waits of a sideline lifecycle) is the sum of each
    part's median, so one slow execution of one part does not move it."""
    if "op_parts" in samples:
        return sum(median(v) for v in samples["op_parts"].values())
    return median(samples["ops"])


def setup_seconds(setup):
    """Session start, the repeated staging and the warm-up phase.
    Staging repeats either the whole input (`stage_parts` 1) or writes
    it in equal parts; either way the median repetition stands for each
    part, so one slow write does not move the figure."""
    return (setup["session_s"] + setup.get("stage_parts", 1) * median(setup["stage_s"])
            + setup["warmup_s"])


def self_times(spans):
    """Self time per layer: each span's duration minus the part of it
    its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_end = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ms"]):
            a, b = max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"])
            if cur_end is not None:
                a = max(a, cur_end)
            if b > a:
                covered += b - a
            cur_end = b if cur_end is None else max(cur_end, b)
        key = s["layer"]
        out[key] = out.get(key, 0.0) + (s["end_ms"] - s["start_ms"]) - covered
    return out
