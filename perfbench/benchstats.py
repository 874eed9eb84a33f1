"""The benchmark's own maths, free of Spark and of file formats.

Everything `run.py` reports is reduced by these functions, and
`tests/test_benchstats.py` checks them on synthetic inputs.
"""
import statistics

TAIL_BEYOND = 10  # a tail percentile needs at least this many samples beyond it


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile range as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def tail(values, beyond=TAIL_BEYOND):
    """Latency at the highest percentile that has at least `beyond` samples
    above it. Returns (value, percentile, n); percentile is the share of
    samples at or below the value, in percent. Needs n > beyond."""
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"tail needs more than {beyond} samples, got {n}")
    i = n - 1 - beyond
    return xs[i], 100.0 * (i + 1) / n, n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
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
    """Self time of every span: its duration minus the union of its
    children's intervals, each clipped to the parent. Children may overlap
    one another (jobs of one stage run concurrently). Returns {id: seconds}."""
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        if s["parent"] in by_id:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        clipped = [(max(c["start"], lo), min(c["end"], hi)) for c in kids.get(s["id"], [])]
        out[s["id"]] = max(0.0, (hi - lo) - union_length(clipped))
    return out


def layer_self_times(spans):
    """Self time summed per layer."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out


def coverage(build_s, plan_s, exec_s, wall_s):
    """Share of a query's wall explained by its build, plan and exec spans."""
    return (build_s + plan_s + exec_s) / wall_s


def pair_wins(parent, change, better):
    """Pairs runs by key (the seed). Returns (wins, losses, ties) of the
    change; equal values are ties."""
    wins = losses = ties = 0
    for k in sorted(set(parent) & set(change)):
        p, c = parent[k], change[k]
        if p == c:
            ties += 1
        elif (c < p) == (better == "lower"):
            wins += 1
        else:
            losses += 1
    return wins, losses, ties


def verdict(parent, change, better, bound, win_share=0.9):
    """Verdict for one (metric, workload) pair of result sets.

    `parent` and `change` map seed -> value. In order:
      unresolved - either side's spread (IQR / median) is wider than bound;
      improved   - the change wins at least `win_share` of the pairs, ties
                   excluded, and the medians differ by more than the parent's
                   IQR in the better direction;
      no worse   - the change's median is within `bound` of the parent's;
      regressed  - otherwise.
    Returns a dict with the figures the verdict rests on."""
    pv, cv = list(parent.values()), list(change.values())
    pq, cq = quartiles(pv), quartiles(cv)
    wins, losses, ties = pair_wins(parent, change, better)
    decided = wins + losses
    sign = -1.0 if better == "lower" else 1.0
    gain = sign * (cq[1] - pq[1])  # > 0 is better
    ratio = cq[1] / pq[1] if pq[1] else None
    worse_share = -gain / abs(pq[1]) if pq[1] else (0.0 if gain >= 0 else float("inf"))
    if spread(pv) > bound or spread(cv) > bound:
        v = "unresolved"
    elif decided and wins >= win_share * decided and gain > (pq[2] - pq[0]):
        v = "improved"
    elif worse_share <= bound:
        v = "no worse"
    else:
        v = "regressed"
    return {"verdict": v, "parent_median": pq[1], "change_median": cq[1],
            "parent_quartiles": [pq[0], pq[2]], "change_quartiles": [cq[0], cq[2]],
            "ratio": ratio, "base": pq[1], "wins": wins, "losses": losses, "ties": ties,
            "pairs": decided + ties}
