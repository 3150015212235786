"""Simulate the round driver's execution environment exactly.

The driver imports ``__spark_entry__`` under its OWN plain SparkSession —
``local[N]``, 200 shuffle partitions, no AQE, none of the engine's
session.py configs — so any conf the engine needs must be applied at
runtime by the operators themselves (see ``sources/tables.py``). This
tool reproduces that environment and times every query, which is what
the per-round CORRECTNESS artifact reflects. Usage:

    python tools/driver_sim.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import shutil
import sys
import time


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod
    from nfl_predictions_spark import state

    # cold-start: drop the engine's staged/stream/model caches
    if not only:
        shutil.rmtree(state.root(), ignore_errors=True)

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    print(
        "session: shuffle.partitions=%s aqe=%s"
        % (
            spark.conf.get("spark.sql.shuffle.partitions"),
            spark.conf.get("spark.sql.adaptive.enabled"),
        )
    )

    t_all = time.time()
    times: list[tuple[str, float]] = []
    n_fail = 0
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            n = len(fn(spark, sf_dir).collect())
            el = time.time() - t0
            times.append((name, el))
            print(f"ok   {name}: {n} rows ({el:.1f}s)", flush=True)
        except Exception as e:
            n_fail += 1
            print(f"FAIL {name}: {type(e).__name__}: {str(e)[:200]}", flush=True)
    total = time.time() - t_all
    times.sort(key=lambda kv: -kv[1])
    slowest = ", ".join(f"{k}={v:.1f}s" for k, v in times[:8])
    print(f"\ntotal {total:.1f}s, {n_fail} fail; slowest: {slowest}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
