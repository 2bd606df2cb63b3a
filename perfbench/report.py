"""Side-by-side report over run records written by `run.py --out`.

    python3 perfbench/report.py PARENT.jsonl [CHANGE.jsonl]

With one file: per workload x end-to-end metric, the median, quartiles,
sample count and spread (quartile distance over median) of the
untraced runs, whether the spread is under a third of the metric's
bound in BENCHMARK.json, and the tracing overhead (traced minus
untraced median) where traced runs exist.

With two files: one row per workload x end-to-end metric with both
sides' median and quartiles and a verdict:
  improved   the change wins >= 90% of seed-paired runs (ties count for
             neither) and the medians differ by more than the parent's
             quartile distance;
  worse      the change's median is worse than the parent's by more
             than the bound;
  unresolved either side's spread is wider than the bound, unless every
             change run beats every parent run;
  no worse   otherwise.
All end-to-end metrics are lower-is-better.

Each side's failed ops include every record whose output hashes differ
from an earlier record of the same workload and seed: runs of one seed
on one commit must repeat every output exactly.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def quartiles(vals: list[float]) -> tuple[float, float, float]:
    if len(vals) == 1:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def series(records: list[dict], traced: int, metrics: list[str]) -> dict:
    """{(workload, metric): {seed: value}} over the end-to-end values."""
    out: dict = {}
    for r in records:
        if r["trace"] != traced:
            continue
        for m in metrics:
            out.setdefault((r["workload"], m), {})[r["seed"]] = r["e2e"][m]
    return out


def verdict(par: dict, chg: dict, bound: float) -> str:
    p, c = list(par.values()), list(chg.values())
    p1, pm, p3 = quartiles(p)
    c1, cm, c3 = quartiles(c)
    seeds = sorted(set(par) & set(chg))
    wins = sum(chg[s] < par[s] for s in seeds)
    if seeds and wins >= 0.9 * len(seeds) and pm - cm > p3 - p1:
        return "improved"
    if cm > pm * (1 + bound):
        return "worse"
    if ((p3 - p1) / pm > bound or (c3 - c1) / cm > bound) and not max(c) < min(p):
        return "unresolved"
    return "no worse"


def failures(records: list[dict]) -> str:
    att = sum(r["attempted"] for r in records)
    bad = [f["op"] for r in records for f in r["failures"]]
    first: dict = {}
    for r in records:
        for op, h in r["output_hashes"].items():
            if first.setdefault((r["workload"], r["seed"], op), h) != h:
                bad.append(f"{op} (output differs across runs of seed {r['seed']})")
    return f"{len(bad)}/{att} ops failed" + (f" ({', '.join(sorted(set(bad)))})" if bad else "")


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    bounds = {m["name"]: m["bound"] for m in json.loads((ROOT / "BENCHMARK.json").read_text())["end_to_end"]}
    sides = [load(p) for p in argv]
    if len(sides) == 1:
        recs = sides[0]
        plain, traced = series(recs, 0, list(bounds)), series(recs, 1, list(bounds))
        print(f"{'workload':18} {'metric':14} {'n':>3} {'median':>9} {'q1':>9} {'q3':>9} {'spread':>7} {'bound':>6}  steady  trace_overhead")
        for (wl, m), vals in sorted(plain.items()):
            q1, med, q3 = quartiles(list(vals.values()))
            spread = (q3 - q1) / med
            over = ""
            if (wl, m) in traced:
                over = f"{statistics.median(traced[(wl, m)].values()) - med:+.3f} s"
            print(f"{wl:18} {m:14} {len(vals):3d} {med:9.3f} {q1:9.3f} {q3:9.3f} {spread:7.3f} {bounds[m]:6.2f}  "
                  f"{'yes' if spread < bounds[m] / 3 else 'NO':6}  {over}")
        print(failures(recs))
        return 0
    par, chg = (series(s, 0, list(bounds)) for s in sides)
    print(f"{'workload':18} {'metric':14} {'parent median [q1, q3] (n)':>34} {'change median [q1, q3] (n)':>34}  verdict")
    for key in sorted(set(par) | set(chg)):
        wl, m = key
        if key not in par or key not in chg:
            print(f"{wl:18} {m:14} missing on one side")
            continue
        cells = []
        for side in (par[key], chg[key]):
            q1, med, q3 = quartiles(list(side.values()))
            cells.append(f"{med:.3f} [{q1:.3f}, {q3:.3f}] ({len(side)})")
        print(f"{wl:18} {m:14} {cells[0]:>34} {cells[1]:>34}  {verdict(par[key], chg[key], bounds[m])}")
    print("parent:", failures(sides[0]))
    print("change:", failures(sides[1]))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
