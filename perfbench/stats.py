"""Pure statistics the benchmark derives its metrics from (unit-tested
in test_stats.py)."""
import statistics

PERCENTILES = (50, 75, 90, 95, 99, 99.9)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """Nearest-rank p-th percentile of a non-empty sample."""
    s = sorted(xs)
    rank = max(1, -(-len(s) * p // 100))  # ceil(n * p / 100)
    return s[int(rank) - 1]


def tail_percentile(xs, min_beyond=10):
    """The highest percentile of PERCENTILES that has at least
    `min_beyond` samples strictly above it, as (p, value); None when even
    the median has fewer."""
    best = None
    for p in PERCENTILES:
        v = percentile(xs, p) if xs else None
        if v is not None and sum(1 for x in xs if x > v) >= min_beyond:
            best = (p, v)
    return best


def self_times(spans):
    """Self time per span id: its duration minus the part of its interval
    that its children cover (overlapping children count once).
    `spans` are dicts with id, start, end, parent."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0, None, None
        for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def self_time_by_name(spans):
    """Total self time per span name, in the spans' time unit."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0) + st[s["id"]]
    return out


def fixed_waves(waves, pages, share=0.01):
    """Wall times of the tail waves that fetch at most `share` of the
    crawl's pages: their time is nearly all per-wave fixed cost."""
    return [w["wall_s"] for w in waves if 0 < w["fetched"] <= share * pages]


def host_speed(calib, ref):
    """How fast the host ran during a phase, relative to the reference
    host: the reference kernel's time there (`ref`) over its median time
    in the phase (above 1 is faster). The median keeps one kernel pass
    that a background thread slowed from moving it."""
    return ref / median(calib)


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return (q3 - q1) / m if m else float("inf")
