"""Span-file analysis for traced runs: self time per layer and the check
that, for every trigger and query, the self times in its span tree add up
to its duration.

A span's self time is its duration minus the part of it that its child
spans cover. Child time that falls outside its parent belongs to no
self time inside the tree, so it counts against the check: a tree whose
spans do not nest (a child started before, or ended after, its parent)
fails it.
"""
import json
import os
import shutil
import sys
from collections import defaultdict

# largest share of a trigger's or query's duration by which the self times
# of its tree may miss it: span ends are read in milliseconds
GAP_BOUND = 0.01


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def self_times(spans):
    """Self time of every span, and per root the microseconds of child
    spans in its tree that fall outside their parent (clipped away).

    Each root's interval is cut at every span boundary; each piece is
    charged to the innermost spans active over it, split evenly when
    sibling spans overlap (parallel Spark stages). A span's self time is
    then its duration minus the time its children cover, and the self
    times of a tree add up to its root's duration.
    """
    children = defaultdict(list)
    ids = {s["id"] for s in spans}
    for s in spans:
        children[s["parent"] if s["parent"] in ids else 0].append(s)
    selfs = {s["id"]: 0.0 for s in spans}
    clipped = defaultdict(int)
    for root in children[0]:
        # clip every descendant to its parent's (clipped) interval
        iv = {root["id"]: (root["start_us"], root["end_us"])}
        stack, tree = [root], []
        while stack:
            s = stack.pop()
            tree.append(s)
            lo, hi = iv[s["id"]]
            for c in children[s["id"]]:
                a, b = max(c["start_us"], lo), min(c["end_us"], hi)
                clipped[root["id"]] += (c["end_us"] - c["start_us"]) - max(0, b - a)
                iv[c["id"]] = (a, max(a, b))
                stack.append(c)
        cuts = sorted({t for a, b in iv.values() for t in (a, b)})
        for lo, hi in zip(cuts, cuts[1:]):
            active = {s["id"] for s in tree if iv[s["id"]][0] <= lo and iv[s["id"]][1] >= hi}
            leaves = [i for i in active
                      if not any(c["id"] in active for c in children[i])]
            for i in leaves:
                selfs[i] += (hi - lo) / len(leaves)
    return selfs, children, clipped


def report(spans_path, out_dir, name):
    """Write `<name>.spans.jsonl`, `<name>.selftime.txt` and
    `<name>.trees.json` under out_dir; print the table to stderr; return
    the common path prefix of the three files and the largest gap share,
    |sum(self) + child time outside its parent - duration| / duration,
    over the roots."""
    os.makedirs(out_dir, exist_ok=True)
    prefix = os.path.join(out_dir, name)
    shutil.copyfile(spans_path, prefix + ".spans.jsonl")
    spans = load(spans_path)
    selfs, children, clipped = self_times(spans)
    by_name = defaultdict(lambda: [0, 0, 0])
    for s in spans:
        row = by_name[s["name"]]
        row[0] += 1
        row[1] += s["end_us"] - s["start_us"]
        row[2] += selfs[s["id"]]
    roots = children[0]
    root_total = sum(r["end_us"] - r["start_us"] for r in roots) or 1
    lines = [f"{'span':<20}{'count':>8}{'total_ms':>14}{'self_ms':>14}{'self_share':>12}"]
    for n, (cnt, tot, slf) in sorted(by_name.items(), key=lambda kv: -kv[1][2]):
        lines.append(f"{n:<20}{cnt:>8}{tot / 1000:>14.1f}{slf / 1000:>14.1f}"
                     f"{slf / root_total:>12.3f}")
    # per root: the tree's self times plus its child time outside a parent
    # (the sum over unclipped child intervals) against the root's duration
    gaps = []
    for r in roots:
        stack, total = [r], clipped[r["id"]]
        while stack:
            s = stack.pop()
            total += selfs[s["id"]]
            stack.extend(children[s["id"]])
        dur = r["end_us"] - r["start_us"]
        gaps.append({"trace": r["trace"], "name": r["name"], "duration_ms": dur / 1000,
                     "self_sum_ms": total / 1000,
                     "gap_share": abs(total - dur) / dur if dur > 0 else 0.0})
    worst = max((g["gap_share"] for g in gaps), default=0.0)
    lines.append(f"roots: {len(roots)}; largest gap share: {worst:.4f} (bound {GAP_BOUND}); "
                 f"child time outside its parent: {sum(clipped.values()) / 1000:.1f} ms")
    text = "\n".join(lines)
    with open(prefix + ".selftime.txt", "w") as f:
        f.write(text + "\n")
    with open(prefix + ".trees.json", "w") as f:
        json.dump(gaps, f, indent=1)
    print(text, file=sys.stderr)
    return prefix, worst
