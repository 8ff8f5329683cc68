#!/usr/bin/env python3
"""Per-entry decomposition: JOB COUNT and construction-vs-execution
wall for bench entries (guide §1: decide whether time goes to driver
work, job-scheduling floors, or executor compute BEFORE touching
code).  Job/stage counts are host-noise-free — on a box with heavy
hypervisor steal (np_gemm_ms swinging 10x, see OPTIMIZATION_r13.md)
they are the only stable profiling signal, and at sf0.1 (~18 MB input)
nearly every entry is FIXED-OVERHEAD-bound, so "how many sequential
jobs does one invocation schedule" is the first-order cost model.

Usage::

    python tools/profile_entry.py entry[,entry...] [sf_dir]

Prints one JSON line per entry:
``{"entry", "construct_s", "exec_s", "jobs_construct", "jobs_exec",
"n_rows"}`` — jobs_construct counts jobs run while the entry function
BUILDS the DataFrame (eager staging, counts, collects, checkpoints),
jobs_exec the jobs of the final noop materialization.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"


def main() -> int:
    names = sys.argv[1].split(",")
    from bdq_spark.plans.plan_lint import count_jobs
    from bdq_spark.session import get_spark

    spark = get_spark()
    import bdq_spark.entry_queries as eq

    for name in names:
        fn = eq.QUERIES[name]
        # warmup (JIT/codegen/page-cache; mirrors bench methodology)
        df = fn(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()

        t0 = time.monotonic()
        with count_jobs(spark) as built:
            df = fn(spark, SF_DIR)
        t1 = time.monotonic()
        with count_jobs(spark) as ran:
            df.write.format("noop").mode("overwrite").save()
        t2 = time.monotonic()
        print(json.dumps({
            "entry": name,
            "construct_s": round(t1 - t0, 2),
            "exec_s": round(t2 - t1, 2),
            "jobs_construct": built["jobs"],
            "jobs_exec": ran["jobs"],
        }), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
