"""The local[1] leg of the traced run's 1->4 scaling reading.

    python3 perfbench/scaling_leg.py <workload> <seed> <work_dir> <subset_dir>

Starts its own JVM at local[1], regenerates the workload's dictionary from
the seed, and prints {"rows_per_s": ...} for the operation on
``subset_dir`` as its last line.
"""

from __future__ import annotations

import json
import os
import sys

from run import prepare_env, stop_jvm


def main() -> None:
    name, seed, work, subset = sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4]
    child = os.path.join(work, "local1")
    prepare_env(child)
    import tracing
    import workloads
    from workloads import WORKLOADS

    workloads.CORES = 1
    wl = WORKLOADS[name](child, seed)
    wl.generate()
    spark = workloads.session(f"perfbench-{name}-local1", child)
    try:
        rate = tracing.subset_rate(wl, spark, child, subset)
    finally:
        stop_jvm(spark)
    print(json.dumps({"rows_per_s": rate}))


if __name__ == "__main__":
    main()
