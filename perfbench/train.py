"""Train the benchmark's own scoring models once per checkout.

Run as a child process by the workloads that score (``api_serve``,
``stream_route``) when ``.perfbench_work/models`` is missing, so the
training JVM never warms the JVM that is measured. The models are built
exactly as ``nfl_predictions_spark.ml.queries.trained_models`` builds
them, but into the benchmark's own directory.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import common


def ensure_models() -> None:
    if (common.MODELS / "_manifest.json").is_file():
        return
    subprocess.run([sys.executable, os.path.abspath(__file__)], check=True)


def main() -> None:
    scratch = common.run_dir("train")
    common.prepare_env(scratch)
    from nfl_predictions_spark.ml.features import build_features
    from nfl_predictions_spark.ml.pipeline import save_models, train_models
    from nfl_predictions_spark.ml.synthetic import synthetic_plays

    spark, _ = common.start_spark("perfbench-train")
    try:
        t0 = time.perf_counter()
        plays = build_features(
            synthetic_plays(spark, common.TRAIN_GAMES, common.TRAIN_PLAYS)
        ).persist()
        # trained_models pins 8 shuffle partitions for the fits; do the same.
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        pass_model, run_model = train_models(plays)
        build = common.WORK / f"models.build-{os.getpid()}"
        save_models(pass_model, run_model, str(build))
        elapsed = time.perf_counter() - t0
        (build / "_manifest.json").write_text(
            json.dumps({"train_s": elapsed, "games": common.TRAIN_GAMES,
                        "plays": common.TRAIN_PLAYS})
        )
        shutil.rmtree(common.MODELS, ignore_errors=True)
        os.rename(build, common.MODELS)
    finally:
        common.stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
