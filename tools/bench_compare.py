#!/usr/bin/env python3
"""Compare two batches of graft.Bench runs, entry by entry.

Usage: python3 tools/bench_compare.py OLD NEW [--touched FILE] [-v]

OLD and NEW are each a run JSON or a directory of them (every *.json in
it, e.g. bench_runs/r14pre and bench_runs/r14). Per entry, each side
takes its best (minimum) time over its runs.

Two batches rarely run under the same ambient load, so the tool also
estimates an ambient factor: the median NEW/OLD ratio over the entries
the change did not touch. FILE names the touched entries, one per line
('#' starts a comment); without it every common entry counts as
untouched. The normalized ratio is the raw ratio over that factor.

Regression gate (the repo's, unchanged): an entry regresses when its
ratio exceeds 1.5x AND its NEW best exceeds 0.3 s. It is applied to the
raw and to the normalized ratio; the exit status is 1 when the
normalized gate flags any entry.
"""
import argparse
import glob
import json
import os
import statistics
import sys


def load(path):
    """(number of runs, {entry: best seconds}) of a run file or directory."""
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    per = {}
    for p in files:
        d = json.load(open(p))
        q = d.get("queries") or (d.get("parsed") or {}).get("queries") or {}
        for k, v in q.items():
            if isinstance(v, (int, float)) and v > 0:
                per.setdefault(k, []).append(v)
    return len(files), {k: min(v) for k, v in per.items()}


def read_touched(path):
    if not path:
        return set()
    names = (line.split("#", 1)[0].strip() for line in open(path))
    return {n for n in names if n}


def gate(entries, old, new, factor):
    return [k for k in entries if new[k] / old[k] / factor > 1.5 and new[k] > 0.3]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--touched", help="file listing the entries the change touched")
    ap.add_argument("-v", action="store_true", help="list every common entry")
    a = ap.parse_args()

    n_old, old = load(a.old)
    n_new, new = load(a.new)
    touched = read_touched(a.touched)
    common = sorted(set(old) & set(new))
    if not common:
        print("no common entries")
        return 2
    untouched = [k for k in common if k not in touched] or common
    ambient = statistics.median(new[k] / old[k] for k in untouched)

    print(f"old: {n_old} run(s)  new: {n_new} run(s)  common entries: {len(common)}"
          f"  touched: {len([k for k in common if k in touched])}")
    s_old, s_new = sum(old[k] for k in common), sum(new[k] for k in common)
    print(f"sum best-of: old {s_old:.1f}s  new {s_new:.1f}s  ({s_new / s_old:.2f}x)")
    print(f"geomean new/old: {statistics.geometric_mean([new[k] / old[k] for k in common]):.3f}")
    print(f"ambient factor (median new/old over {len(untouched)} untouched): {ambient:.2f}x")

    print(f"\n{'entry':32s} {'old':>7s} {'new':>7s} {'ratio':>6s} {'norm':>6s}")
    for k in sorted(common, key=lambda k: new[k] / old[k]):
        r = new[k] / old[k]
        if a.v or k in touched or r / ambient > 1.5 or r / ambient < 0.67:
            mark = " *" if k in touched else ""
            print(f"{k:32s} {old[k]:7.2f} {new[k]:7.2f} {r:6.2f} {r / ambient:6.2f}{mark}")

    raw, norm = gate(common, old, new, 1.0), gate(common, old, new, ambient)
    print(f"\nregression gate (>1.5x and >0.3s), raw: {', '.join(raw) or 'EMPTY'}")
    print(f"regression gate (>1.5x and >0.3s), normalized: {', '.join(norm) or 'EMPTY'}")
    fresh, gone = sorted(set(new) - set(old)), sorted(set(old) - set(new))
    if fresh:
        print(f"new entries ({len(fresh)}): {', '.join(fresh)}")
    if gone:
        print(f"dropped entries ({len(gone)}): {', '.join(gone)}")
    return 1 if norm else 0


if __name__ == "__main__":
    sys.exit(main())
