"""Deterministic per-query scheduler-cost audit: jobs, stages, tasks.

Wall-clock on this VM swings 2-5x with outside load (r11: the same
query measured 2.7 s and 14.7 s four minutes apart), so seconds are a
noisy optimization signal. Job/stage/task counts are DETERMINISTIC
for a fixed plan + fixture, and they are exactly the quantity a
contended scheduler amplifies (guide §2.2: many tiny tasks/blocks is
the scale failure mode too). This tool times nothing: it runs each
query through the noop sink inside its own job group and reports the
scheduler shape.

Usage:
    python tools/task_audit.py [--sf DIR] [query ...] > TASKS.json
"""

from __future__ import annotations

import argparse
import json
import re
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from fhir2sql_spark import registry  # noqa: E402
from fhir2sql_spark.session import get_spark  # noqa: E402


def python_rdds(df) -> int:
    """``PythonRDD`` nodes under the RDD scans (``LogicalRDD``) of the
    analyzed plan and its subqueries. Walks the plan only, so it runs
    no job, and it sees broadcast sides that the final RDD's lineage
    leaves out."""
    def seq(s) -> list:
        return [s.apply(i) for i in range(s.size())]

    n, todo = 0, [df._jdf.queryExecution().analyzed()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "LogicalRDD":
            lineage = node.rdd().toDebugString()
            n += len(set(re.findall(r"\bPythonRDD\[(\d+)\]", lineage)))
        todo += seq(node.children()) + seq(node.subqueries())
    return n


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    registry.load_all()
    spark = get_spark("task-audit")
    sc = spark.sparkContext
    names = args.queries or sorted(registry.QUERIES)
    registry.QUERIES["q_scan_count"](spark, args.sf).collect()

    out: dict[str, dict] = {}
    for name in names:
        sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            df = registry.QUERIES[name](spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 — audit must finish
            out[name] = {"error": str(exc)[:200]}
            continue
        dt = time.time() - t0
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(name)
        stage_ids: set[int] = set()
        for j in jobs:
            ji = st.getJobInfo(j)
            if ji is not None:
                stage_ids.update(ji.stageIds)
        n_tasks = 0
        n_stages = 0
        for s in stage_ids:
            si = st.getStageInfo(s)
            if si is not None:
                n_stages += 1
                n_tasks += si.numTasks
        out[name] = {
            "jobs": len(jobs),
            "stages": n_stages,
            "tasks": n_tasks,
            "python_rdds": python_rdds(df),
            "sec": round(dt, 2),
        }
        sc.setJobGroup(None, None)

    print(json.dumps(out, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
