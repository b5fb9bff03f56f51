#!/usr/bin/env python3
"""Per-family gate-vs-artifact bench ratio table.

Usage: gate_ratio.py <gate.json> <artifact.json>

gate.json     = a reps=1 sweep (the driver's BENCH_r{N} full line, e.g.
                bench_full.json)
artifact.json = the round's controlled REPS=3 artifact
                (bench_r{M}_reps3.json)

Prints a markdown table of per-FAMILY totals (family = key prefix up to
the first '_') over the keys common to both files, plus the total
ratio. Keys in either file's "failed" map (a query that threw) are
listed by name first, since they are absent from "queries" and would
otherwise drop silently out of the common-key set. The point (r16
verdict ask #6): the reps=1 gate swings ±30-50%
with hypervisor weather, and pricing the noise per family each round —
instead of re-litigating it — is the cheap durable fix.
"""
import json
import sys
from collections import defaultdict


def load(path):
    with open(path) as f:
        doc = json.load(f)
    qs = doc.get("queries")
    if qs is None:
        # driver BENCH_r{N}.json wraps the full line under "tail"
        raise SystemExit(f"{path}: no 'queries' map — pass the full "
                         "bench line file (bench_full.json / *_reps3.json)")
    return qs, doc.get("failed", {})


def main():
    (gate, gate_failed), (art, art_failed) = (load(sys.argv[1]),
                                              load(sys.argv[2]))
    for name, failed in (("gate", gate_failed), ("artifact", art_failed)):
        for k in sorted(failed):
            print(f"failed in {name}: {k} ({failed[k]})")
    common = sorted(set(gate) & set(art))
    fam_g, fam_a, fam_n = (defaultdict(float), defaultdict(float),
                           defaultdict(int))
    for k in common:
        fam = k.split("_", 1)[0]
        fam_g[fam] += gate[k]
        fam_a[fam] += art[k]
        fam_n[fam] += 1
    print(f"| family | keys | gate s | artifact s | ratio |")
    print(f"|---|---|---|---|---|")
    for fam in sorted(fam_g, key=lambda f: -fam_g[f] / max(fam_a[f], 1e-9)):
        g, a = fam_g[fam], fam_a[fam]
        print(f"| {fam} | {fam_n[fam]} | {g:.1f} | {a:.1f} "
              f"| {g/max(a, 1e-9):.2f} |")
    tg, ta = sum(fam_g.values()), sum(fam_a.values())
    print(f"| **total** | {len(common)} | {tg:.1f} | {ta:.1f} "
          f"| {tg/max(ta, 1e-9):.2f} |")
    worst = sorted(common, key=lambda k: -(gate[k] - art[k]))[:8]
    print("\nworst absolute gate-minus-artifact lines:")
    for k in worst:
        print(f"  {k}: gate {gate[k]:.2f} vs artifact {art[k]:.2f} "
              f"(+{gate[k] - art[k]:.2f})")


if __name__ == "__main__":
    main()
