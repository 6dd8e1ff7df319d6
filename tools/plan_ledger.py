"""Plan ledger: how every declared query is planned, one line per query.

``query_ledger.json`` maps each query in ``ALL_SPECS`` to the operator
counts of the physical plan its ``fn()`` returns, taken before any action
(for an AQE query, the initial plan). Only planner decisions are counted:
exchanges by partitioning, broadcasts and reuse, join strategies, windows,
aggregate kinds, Generate, scans by kind and Python evaluation. A row
holds no expression ids, paths or partition counts, so it changes only
when the plan's shape does. ``tests/test_queries.py::test_query_runs``
compares every query with its row, so a plan change shows up as a
reviewed one-line diff of the ledger.

Usage: python tools/plan_ledger.py [SF_DIR] [OUT]

Defaults: the sf0.001 fixtures and ``query_ledger.json`` at the repo root,
built in ``sorted(ALL_SPECS)`` order with the test suite's session conf.
Nothing is written unless every query builds.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import Counter

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from hippo_claim_crossover_spark.plans import ALL_SPECS  # noqa: E402
from hippo_claim_crossover_spark.session import get_spark  # noqa: E402

LEDGER = os.path.join(_REPO, "query_ledger.json")
REGENERATE = "python tools/plan_ledger.py"

# One operator per tree line: the root, or a child after "+- " / ":- ";
# "*(n) " marks a whole-stage-codegen member. Group 1 is the operator,
# group 2 the word after it (partitioning, file format or scan kind).
_NODE = re.compile(r"(?:[ :|]*[+:]- )?(?:\*\(\d+\) )?(\w+)(?: (\w+))?")
_QUALIFIED = {"Exchange", "FileScan", "Scan"}
_COUNTED = re.compile(
    r"BroadcastExchange|ReusedExchange"
    r"|BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin"
    r"|BroadcastNestedLoopJoin|CartesianProduct"
    r"|Window|WindowGroupLimit"
    r"|HashAggregate|ObjectHashAggregate|SortAggregate|MergingSessions"
    r"|Generate|LocalTableScan|InMemoryTableScan|BatchScan|Range"
    r"|\w*(?:Python|Pandas|Arrow)\w*")


def plan_shape(df) -> dict[str, int]:
    """Operator counts of ``df``'s physical plan before execution.

    Keys are Spark's operator names; ``Exchange``, ``FileScan`` and
    ``Scan`` carry their next word (``Exchange hashpartitioning``,
    ``FileScan parquet``). ``Scan ExistingRDD`` is what a
    ``localCheckpoint`` (or any RDD-built frame) reads as."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    shape: Counter[str] = Counter()
    for line in plan.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        op, word = m.groups()
        if op in _QUALIFIED and word:
            shape[f"{op} {word}"] += 1
        elif _COUNTED.fullmatch(op):
            shape[op] += 1
    return dict(shape)


def main(argv: list[str]) -> None:
    from tests.conftest import SF_SMALL, TEST_CONF

    sf_dir = argv[0] if argv else SF_SMALL
    out = argv[1] if len(argv) > 1 else LEDGER
    spark = get_spark("plan_ledger", extra_conf=TEST_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    rows = {}
    for name in sorted(ALL_SPECS):
        try:
            rows[name] = plan_shape(ALL_SPECS[name].fn(spark, sf_dir))
        except Exception as e:
            e.add_note(f"plan_ledger: {name} failed to build; "
                       f"{out} not written")
            raise
    lines = [f"{json.dumps(n)}: {json.dumps(r, sort_keys=True)}"
             for n, r in rows.items()]
    with open(out + ".tmp", "w") as f:
        f.write("{\n" + ",\n".join(lines) + "\n}\n")
    os.replace(out + ".tmp", out)
    print(f"wrote {out} ({len(rows)} queries)")


if __name__ == "__main__":
    main(sys.argv[1:])
