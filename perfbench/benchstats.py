"""Pure arithmetic of the benchmark: percentiles with their sample
counts, backlog growth, the sustained-rate pick and self time from
spans. No I/O; `test_benchstats.py` covers it."""

import math

#: A percentile is reported only if at least this many samples lie beyond it.
TAIL_BEYOND = 10


def quantile(xs, q):
    """Nearest-rank q-th percentile (0 < q <= 100) of a non-empty sample."""
    s = sorted(xs)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def tail_percentile(n, cap=95, beyond=TAIL_BEYOND):
    """Highest whole percentile, at most `cap`, with at least `beyond`
    of `n` samples above its nearest-rank value; None when that
    percentile would not even reach the median."""
    if n <= 0:
        return None
    q = min(cap, math.floor(100.0 * (n - beyond) / n))
    while q > 0 and n - math.ceil(q / 100.0 * n) < beyond:
        q -= 1
    return q if q >= 50 else None


def tail(xs, cap=95):
    """(percentile, value, n) of a sample's tail, per `tail_percentile`;
    (None, None, n) when the sample is too small for a tail."""
    q = tail_percentile(len(xs), cap)
    return (q, quantile(xs, q) if q else None, len(xs))


def backlog_grows(drain_ms, limit_ms):
    """True when the backlog a rate step left behind was not visible
    within the latency limit after the step ended: the pipeline fell
    behind the offered rate by more than the limit allows. A step lasts
    only a few micro-batches, so a trend in the sampled backlog cannot
    tell growth from the sawtooth; the time to drain it can. A step
    whose drain was never observed (None or NaN) counts as grown."""
    return drain_ms is None or not drain_ms <= limit_ms


def pick_eps_max(steps, limit_ms):
    """Highest offered rate among `steps` that kept up: its backlog did
    not grow and its p99 freshness stayed under `limit_ms`. `steps`
    holds (rate, drain_ms, fresh_p99_ms) triples. 0 if no step qualifies."""
    ok = [rate for rate, drain_ms, p99 in steps
          if not backlog_grows(drain_ms, limit_ms) and p99 is not None and p99 < limit_ms]
    return max(ok) if ok else 0


def self_times(spans):
    """Self time per span name: each span's duration minus the part of
    its interval that its direct children cover. `spans` are dicts with
    keys i, name, parent, start_ns, end_ns. Returns {name: ns}."""
    children = {}
    for s in spans:
        if s["parent"] >= 0:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered, cur_lo, cur_hi = 0, None, None
        for c in sorted(children.get(s["i"], []), key=lambda c: c["start_ns"]):
            a, b = max(lo, c["start_ns"]), min(hi, c["end_ns"])
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["name"]] = out.get(s["name"], 0) + (hi - lo) - covered
    return out
