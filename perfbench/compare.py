"""Compare two sets of benchmark runs: the parent commit against a change.

Usage, from the repository root::

    python3 perfbench/compare.py PARENT_RUNS CHANGE_RUNS

Each file holds the standard output of untraced runs (``--trace 0``) of
the benchmark, one run after another; the run records in it are used in
order. Pair i of a workload is its i-th parent run and its i-th change
run, so run the two sides alternately, switching which goes first, with
the same ``--seconds`` and seeds. For every workload and end-to-end
metric of BENCHMARK.json this prints both medians and quartiles, the
share of pairs the change won and a verdict (see ``stats.verdict``).
Exits 1 when any metric regressed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_runs(path: str) -> dict[str, list[dict]]:
    """Untraced run records in ``path``, by workload, in file order."""
    runs: dict[str, list[dict]] = defaultdict(list)
    with open(path) as f:
        for line in f:
            try:
                rec = json.loads(line)
            except json.JSONDecodeError:
                continue
            if isinstance(rec, dict) and "workload" in rec and not rec.get("trace"):
                runs[rec["workload"]].append(rec)
    return runs


def compare(parent: dict[str, list[dict]], change: dict[str, list[dict]],
            end_to_end: list[dict]) -> list[dict]:
    rows = []
    for wl in sorted(set(parent) & set(change)):
        for m in end_to_end:
            name = m["name"]
            p = [r["metrics"][name] for r in parent[wl] if name in r["metrics"]]
            c = [r["metrics"][name] for r in change[wl] if name in r["metrics"]]
            if p and c:
                rows.append({"workload": wl, "metric": name, "unit": m["unit"],
                             **stats.verdict(p, c, m["bound"], m["better"])})
    return rows


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default=os.path.join(ROOT, "BENCHMARK.json"))
    args = ap.parse_args(argv)
    with open(args.benchmark) as f:
        end_to_end = json.load(f)["end_to_end"]
    rows = compare(load_runs(args.parent), load_runs(args.change), end_to_end)
    print(f"{'workload':15} {'metric':20} {'parent q1/med/q3':>30} "
          f"{'change q1/med/q3':>30} {'won':>5} {'pairs':>5}  verdict")
    for r in rows:
        p, c = r["parent"], r["change"]
        print(f"{r['workload']:15} {r['metric']:20} "
              f"{p['q1']:9.4g} {p['median']:9.4g} {p['q3']:9.4g}  "
              f"{c['q1']:9.4g} {c['median']:9.4g} {c['q3']:9.4g}  "
              f"{r['won']:5.2f} {r['pairs']:5d}  {r['verdict']}")
    return 1 if any(r["verdict"] == "regressed" for r in rows) else 0


if __name__ == "__main__":
    sys.exit(main())
