"""Pure helpers shared by run.py and its tests: percentiles,
geometric mean and span self time.
No third-party imports, so the tests run anywhere."""
import math


def quantile(values, q):
    """Nearest-rank quantile (0 < q <= 1) of a non-empty sample."""
    if not values:
        raise ValueError("quantile of an empty sample")
    s = sorted(values)
    k = max(1, math.ceil(q * len(s)))
    return s[k - 1]


def tail_quantile(n, candidates=(0.5, 0.75, 0.9, 0.95, 0.99, 0.999)):
    """The highest candidate quantile with at least ten samples beyond it
    in a sample of n, or None when even the median has fewer."""
    best = None
    for q in candidates:
        if n - max(1, math.ceil(q * n)) >= 10:
            best = q
    return best


def geomean(values):
    """Geometric mean of positive values."""
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def self_times(spans):
    """Self time per span id: its duration minus the part of it that its
    children cover (children may overlap each other). `spans` are dicts
    with id, parent, start_ns, end_ns."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                     for c in kids.get(s["id"], []))
        covered, cur_s, cur_e = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - covered
    return out
