"""Plan-shape audit over every registry row (guide §1/§7.2).

For each ``queries()`` row, captures ``explain("formatted")`` at the given
sf tier and records: Exchange count, ``Exchange SinglePartition`` count
(stages that funnel every row through one task, such as unpartitioned
windows and aggregates without grouping keys), join strategies,
Python-eval nodes (BatchEvalPython/ArrowEvalPython — should be zero
outside the sanctioned vectorized paths), CartesianProduct nodes, and
whether parquet scans carry PushedFilters.  Writes one JSON line per row
to stdout; optionally dumps the full plan text per row into a directory.

Only the plan of the DataFrame a row returns is explained.  Work a row runs
eagerly before it returns is not counted: ``GraphContext.build``,
``run_program``, ``dense_ids`` and any other ``localCheckpoint``.  Rows such
as ``engine_msf`` or ``engine_triangles`` can report 0 Exchanges here while
running dozens of Spark jobs; for them read the jobs and stages from the
Spark status store, as ``perfbench/spans.py`` does.

Usage: python tools/plan_audit.py [sf_dir] [outdir] [name ...]
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from linkgraph.session import get_spark  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    outdir = sys.argv[2] if len(sys.argv) > 2 else None
    only = set(sys.argv[3:])
    if outdir:
        os.makedirs(outdir, exist_ok=True)

    spark = get_spark(app_name="plan-audit", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as exc:  # noqa: BLE001 — audit must not abort
            print(json.dumps({"name": name, "error": str(exc)[:200]}))
            continue
        rec = {
            "name": name,
            "exchanges": plan.count("Exchange ("),
            "single_partition": plan.count("Arguments: SinglePartition"),
            "smj": plan.count("SortMergeJoin"),
            "bhj": plan.count("BroadcastHashJoin"),
            "shj": plan.count("ShuffledHashJoin"),
            "bnlj": plan.count("BroadcastNestedLoopJoin"),
            "cartesian": plan.count("CartesianProduct"),
            "python_eval": plan.count("BatchEvalPython") + plan.count("ArrowEvalPython"),
            "arrow_map": (
                plan.count("MapInArrow")
                + plan.count("FlatMapGroupsInPandas")
                + plan.count("FlatMapCoGroupsInArrow")
                + plan.count("MapInPandas")
                + plan.count("FlatMapGroupsInArrow")
            ),
            "scans": plan.count("Scan parquet"),
            "scans_pushed": len(
                re.findall(r"PushedFilters: \[(?!\])", plan)
            ),
            "sorts": plan.count("() Sort") + plan.count(") Sort"),
            "window": plan.count("Window"),
            "rows_est": None,
        }
        print(json.dumps(rec))
        if outdir:
            with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
                f.write(plan)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
