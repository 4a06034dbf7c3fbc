"""Trace the Spark jobs a query runs (count + per-job wall + names).

Usage: python tools/job_trace.py <id1,id2,...> <sf_dir>

Runs each query once warm, then once traced under its own job group.
Job ids and times come from the status store, which is kept with the UI
off, so the trace sees every job the query triggers — construction-side
writes/collects AND the final noop materialization.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from thrive_spark import registry  # noqa: E402
from thrive_spark.session import get_spark  # noqa: E402


def main() -> None:
    ids = [s for s in sys.argv[1].split(",") if s]
    sf_dir = sys.argv[2]
    registry.load_all()
    spark = get_spark("thrive-job-trace")
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    for qid in ids:
        fn = registry.QUERIES[qid]
        for phase in ("warm", "trace"):
            gid = f"{phase}:{qid}"
            sc.setJobGroup(gid, gid)
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sorted(sc.statusTracker().getJobIdsForGroup(gid))
        print(f"== {qid}: {len(jobs)} jobs, wall {wall:.3f} s")
        for jid in jobs:
            j = store.job(jid)
            sub, comp, desc = j.submissionTime(), j.completionTime(), j.description()
            dur_s = (
                f"{(comp.get().getTime() - sub.get().getTime()) / 1e3:7.3f}"
                if sub.isDefined() and comp.isDefined()
                else "      ?"
            )
            name = (desc.get() if desc.isDefined() else j.name())[:100]
            print(
                f"  job {jid:>4} {dur_s} s  stages={j.stageIds().size()} "
                f"tasks={j.numTasks():>4}  {name}"
            )


if __name__ == "__main__":
    main()
