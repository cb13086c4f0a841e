"""Count how often perfbench's interrupt gate finds the job already done.

perfbench's ``boilerplate_resume`` interrupts ``run_extraction_job`` by
cancelling its job group once the manifest shows one committed group.  Two
groups run at a time, so the second can also commit before the cancel
lands; the gate then raises "the job finished before the interrupt" and
perfbench exits 1.  This script builds that workload's inputs and session
through perfbench's own ``Workload`` and ``setup`` (imported read-only),
runs 3 warm jobs, then N interrupt cycles exactly as ``resume_cycle``
starts them, and prints how many cycles were interrupted, how many
finished first, and the seconds the cycles took.

Usage (from the repository root):

    python3 scripts/interrupt_race.py [--cycles N] [--seed S]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# perfbench/run.py imports its siblings as top-level modules
sys.path[:0] = [REPO, os.path.join(REPO, "perfbench")]

from perfbench import run as bench  # noqa: E402

WARM_JOBS = 3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--cycles", type=int, default=100)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    from fuzzy_search_spark.spark.job import run_extraction_job

    work = tempfile.mkdtemp(prefix="interrupt_race-")
    try:
        bench.prepare_environment(work)
        wl = bench.Workload("boilerplate_resume", args.seed, work)
        spark, model, _ = bench.setup(wl, f"local[{bench.NPROC}]",
                                      bench.spark_conf(work))
        out = os.path.join(work, "out")
        for _ in range(WARM_JOBS):
            wl.run_job(spark, model, out)
        interrupted = finished = 0
        t0 = time.monotonic()
        for _ in range(args.cycles):
            bench.fresh(out)
            try:
                bench.interrupt(spark, lambda: run_extraction_job(
                    spark, wl.input_path, out, model,
                    num_groups=bench.NUM_GROUPS),
                    os.path.join(out, "_manifest.jsonl"))
                interrupted += 1
            except RuntimeError:
                finished += 1
        seconds = time.monotonic() - t0
        spark.stop()
    finally:
        bench.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(f"cycles {args.cycles}: interrupted {interrupted}, "
          f"finished first {finished}, {seconds:.1f} s")
    return 0


if __name__ == "__main__":
    if os.environ.get("PYTHONHASHSEED") != "0":
        # the same hash seed as perfbench/run.py's runs and the workers
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable] + sys.argv)
    sys.exit(main())
