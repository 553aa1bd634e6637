"""Stage the seeded benchmark inputs of one seed, every kind not yet
cached, with their reference outputs.

    python3 perfbench/stage.py --seed 1

run.py calls this in a process of its own when the input for a seed is
not cached yet, so the measured process never inherits a JVM warmed by
input generation. Every kind is staged at once so that the workloads of
one seed share one JVM start.
"""

from __future__ import annotations

import argparse
import sys

import run


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--seed", type=int, required=True)
    args = parser.parse_args(argv)

    import probes

    probes.become_subreaper()
    cores = run.host_env()
    sys.path.insert(0, run.REPO)
    import bench
    import inputs

    spark = bench.build_spark(cores)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for kind in inputs.STAGERS:
            inputs.stage(spark, run.INPUTS, kind, args.seed)
    finally:
        run.stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
