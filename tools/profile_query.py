"""Per-query job/stage/task profile (r14, guide §1).

Runs each named query through the noop sink inside a job group, then reads
the status tracker for how many Spark JOBS the query launched and how many
stages/tasks they contained — the scheduling-overhead shape VERDICT r13
item 2 targets (many-small-jobs paths degrade under a contended 32-thread
scheduler even when their data cost is tiny).

Usage: python tools/profile_query.py [sf_dir] q1 [q2 ...]
Prints one line per query: name, median wall s of 3 passes, and the
[min, max] of jobs, stages and tasks over those passes. The counters can
move pass to pass on unchanged code, because how AQE splits one plan into
map-stage jobs and skipped stages depends on timing (e.g. 54-58 stages
for ``dedup_cc_star``, 115-155 tasks for ``sim_graph_search_topk``), so
compare ranges, not single readings.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ntd_gtfs_to_socrata_spark.operators.stagecache import release_all
from ntd_gtfs_to_socrata_spark.queries import REGISTRY, load_all_query_modules
from ntd_gtfs_to_socrata_spark.session import get_spark


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    load_all_query_modules()
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    spark = get_spark("profile_query")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for name in names:
        release_all()
        spark.catalog.clearCache()
        # untimed warm pass (bench.py discipline)
        REGISTRY[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        passes, counts = [], []
        for i in range(3):
            group = f"prof_{name}_{i}"
            sc.setJobGroup(group, name)
            t0 = time.time()
            REGISTRY[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            passes.append(time.time() - t0)
            sc.setJobGroup(None, None)
            job_ids = tracker.getJobIdsForGroup(group)
            stage_ids = set()
            n_tasks = 0
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                for sid in info.stageIds:
                    if sid in stage_ids:
                        continue
                    stage_ids.add(sid)
                    sinfo = tracker.getStageInfo(sid)
                    if sinfo is not None:
                        n_tasks += sinfo.numTasks
            counts.append((len(job_ids), len(stage_ids), n_tasks))
        ranges = " ".join(
            f"{label}=[{min(c)}, {max(c)}]"
            for label, c in zip(("jobs", "stages", "tasks"), zip(*counts))
        )
        print(
            f"{name}: median={statistics.median(passes):.3f}s "
            f"passes={[round(p, 3) for p in passes]} {ranges}",
            flush=True,
        )
    release_all()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
