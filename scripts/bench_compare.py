#!/usr/bin/env python3
"""Diff two Bench outputs (bench_full.json or BENCH_r{N}.json).

Usage: bench_compare.py OLD NEW [--top N]

Accepts either the raw one-line Bench JSON ({"metric":"total",...,
"queries":{...}}) or a driver BENCH_r{N}.json wrapper (reads the
"queries" dict out of the tail's full line when present). Keys in
either file's "failed" map (a query that threw, with its exception
class) are printed by name: they are absent from "queries", so they
would otherwise drop silently out of the common-key diff.
"""
import json
import re
import sys


def load(path):
    """(queries, failed) of one Bench output; failed is {} for artifacts
    written before Bench reported failures."""
    with open(path) as f:
        d = json.load(f)
    if "queries" in d:
        return d["queries"], d.get("failed", {})
    # driver wrapper: the full line lives in the captured tail
    tail = d.get("tail", "")
    m = re.search(r'"queries":(\{[^}]*\})', tail)
    if not m:
        sys.exit(f"{path}: no queries dict found")
    f = re.search(r'"failed":(\{[^}]*\})', tail)
    return json.loads(m.group(1)), json.loads(f.group(1)) if f else {}


def main():
    top = 15
    args = []
    argv = sys.argv[1:]
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--top" or a.startswith("--top="):
            if "=" in a:
                top = int(a.split("=", 1)[1])
            else:
                i += 1
                if i >= len(argv):
                    sys.exit("--top requires a value")
                top = int(argv[i])
        elif a.startswith("--"):
            sys.exit(f"unknown flag {a}")
        else:
            args.append(a)
        i += 1
    if len(args) != 2:
        sys.exit(__doc__.strip().splitlines()[2])
    (old, old_failed), (new, new_failed) = load(args[0]), load(args[1])
    for name, failed in (("failed-old", old_failed),
                         ("failed-new", new_failed)):
        for k in sorted(failed):
            print(f"{name}: {k} ({failed[k]})")
    both = sorted(set(old) & set(new),
                  key=lambda k: abs(new[k] - old[k]), reverse=True)
    print(f"{'query':40s} {'old':>8s} {'new':>8s} {'delta':>8s}")
    for k in both[:top]:
        print(f"{k:40s} {old[k]:8.2f} {new[k]:8.2f} {new[k]-old[k]:+8.2f}")
    for name, s in (("only-old", set(old) - set(new)),
                    ("only-new", set(new) - set(old))):
        if s:
            print(f"{name}: {', '.join(sorted(s))}")
    print(f"total: {sum(old.values()):.1f} -> {sum(new.values()):.1f} "
          f"({sum(new.values()) - sum(old.values()):+.1f}; "
          f"{len(old)} -> {len(new)} queries)")


if __name__ == "__main__":
    main()
