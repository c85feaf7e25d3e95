#!/usr/bin/env python3
"""Assemble per-query scaling exponents from a `Harness scale` log.

Reads `[tri] <sf> <name> <sec> s (<rows> rows)` lines, computes the
log-slope of wall time across the scale decades (exponent b in
t ~ sf^b via least squares on log10(t) vs log10(sf)), and prints a
markdown table sorted by exponent. Queries bounded by doc_id filters
are expected near 0; linear scaling is 1.0; the interesting rows are
>1.2 (super-linear -> root-cause or design note).

Usage:
  sbt 'runMain graft.tools.Harness scale <sf0.01 dir> top:60 <sf0.1 dir> <sf1.0 dir>' | tee tri.log
  tri_exponents.py tri.log
"""
import math
import re
import sys
from collections import defaultdict

SF = {"sf0.01": 0.01, "sf0.1": 0.1, "sf1.0": 1.0}

def main(path):
    runs = defaultdict(dict)   # name -> sf -> sec
    rows = defaultdict(dict)
    errs = []
    pat = re.compile(
        r"\[tri\] (\S+) (\S+)\s+([0-9.]+) s\s+\((\d+) rows\)")
    epat = re.compile(r"\[tri\] (\S+) (\S+) (WARM-)?ERR (.*)")
    for line in open(path, errors="replace"):
        m = pat.search(line)
        if m:
            sf, name, sec, n = m.groups()
            runs[name][sf] = float(sec)
            rows[name][sf] = int(n)
            continue
        m = epat.search(line)
        if m:
            errs.append(m.groups())
    out = []
    for name, by in runs.items():
        pts = [(math.log10(SF[sf]), math.log10(max(t, 1e-3)))
               for sf, t in by.items() if sf in SF]
        if len(pts) < 2:
            continue
        n = len(pts)
        mx = sum(x for x, _ in pts) / n
        my = sum(y for _, y in pts) / n
        denom = sum((x - mx) ** 2 for x, _ in pts)
        b = sum((x - mx) * (y - my) for x, y in pts) / denom if denom else 0.0
        out.append((b, name, by))
    out.sort(reverse=True)
    print("| query | sf0.01 | sf0.1 | sf1.0 | exponent |")
    print("|---|---|---|---|---|")
    for b, name, by in out:
        print("| %s | %s | %s | %s | %.2f |" % (
            name,
            "%.2f" % by.get("sf0.01", float("nan")),
            "%.2f" % by.get("sf0.1", float("nan")),
            "%.2f" % by.get("sf1.0", float("nan")),
            b))
    if errs:
        print("\nERRORS:")
        for e in errs:
            print(" ", e)

if __name__ == "__main__":
    main(sys.argv[1])
