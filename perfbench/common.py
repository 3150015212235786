"""Shared plumbing for the perfbench workloads.

Everything the benchmark writes goes under ``WORK`` inside the checkout:
Spark's local dirs, the JVM and Python temp dirs, the trained-model
cache, generated tables and trace files. ``prepare_env`` must run before
pyspark is imported, because the temp-dir and spark-submit settings are
read once at process start.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench_work"
MODELS = WORK / "models"

# Models are trained exactly as nfl_predictions_spark.ml.queries.trained_models
# trains them: 24 synthetic games x 120 plays, default GBT params and seed.
TRAIN_GAMES = 24
TRAIN_PLAYS = 120

#: JVM heap for every Spark process the benchmark starts. The inputs are
#: tens of MB; a small ceiling keeps the JVM's resident size, and so
#: ``peak_rss_mb``, from following each run's garbage-collection timing.
DRIVER_MEM = "1g"

#: Rows of the single-partition calibration probe (modelled on bench.py's
#: ``_calibration_sec``; smaller so it costs well under a second per run).
CALIBRATION_ROWS = 30_000_000


def program_present() -> bool:
    return (ROOT / "nfl_predictions_spark" / "__init__.py").is_file() and (
        ROOT / "__spark_entry__.py"
    ).is_file()


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def run_dir(tag: str) -> Path:
    """A fresh per-process scratch dir under WORK (removed by the caller)."""
    d = WORK / "runs" / f"{tag}-{os.getpid()}"
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    return d


def prepare_env(scratch: Path) -> None:
    """Point every temp/spill location at ``scratch`` and fix the Spark
    settings the benchmark relies on. Child processes inherit it."""
    tmp = scratch / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_UI"] = "false"
    # Every JVM (the spark-submit launcher too) would otherwise write its
    # perf-data file under /tmp, whatever java.io.tmpdir says.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={scratch / 'warehouse'}",
            "--driver-java-options",
            f'"-Djava.io.tmpdir={tmp} -Dderby.system.home={scratch}"',
            "pyspark-shell",
        ]
    )
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def start_spark(app: str):
    """Return (spark, seconds spent in ``session.get_spark``)."""
    from nfl_predictions_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app)
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, elapsed


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def calibration_s(spark) -> float:
    """Median wall time of a fixed single-core Spark job (one warm run
    first). A host-speed reading to normalise runs made on other days."""
    times = []
    for i in range(4):
        t0 = time.perf_counter()
        spark.range(0, CALIBRATION_ROWS, 1, 1).selectExpr("bit_xor(xxhash64(id)) AS h").collect()
        if i:
            times.append(time.perf_counter() - t0)
    return statistics.median(times)


def host_info(spark) -> dict:
    """Recorded fields, not metrics: core count, versions, host speed."""
    import pyspark

    java = subprocess.run(
        ["java", "-version"], capture_output=True, text=True, check=False
    ).stderr.splitlines()
    return {
        "nproc": nproc(),
        "pyspark": pyspark.__version__,
        "java": next((line for line in java if " version " in line), "unknown"),
        "python": sys.version.split()[0],
        "calibration_s": calibration_s(spark),
    }


def job_counts(tracker, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under a job group, from the status tracker."""
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for stage_id in list(info.stageIds) if info else []:
            st = tracker.getStageInfo(stage_id)
            tasks += st.numTasks if st else 0
    return len(jobs), tasks


def load_models():
    """Load the benchmark's own model cache; return (pass, run, seconds)."""
    from nfl_predictions_spark.ml.pipeline import load_models as _load

    t0 = time.perf_counter()
    pass_model, run_model = _load(str(MODELS))
    return pass_model, run_model, time.perf_counter() - t0


def train_s() -> float:
    """Training time recorded when the model cache was built."""
    return json.loads((MODELS / "_manifest.json").read_text())["train_s"]


# -- process memory ----------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(entry))
    return out


def peak_rss_mb() -> float:
    """Sum of peak resident set sizes (VmHWM) of this process and all its
    descendants: this Python process plus its JVM and workers."""
    total_kb = 0
    stack = [os.getpid()]
    while stack:
        p = stack.pop()
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
        stack.extend(_children(p))
    return total_kb / 1024


# -- statistics --------------------------------------------------------------

#: Percentiles a tail may be reported at, highest first.
_TAILS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(0, math.ceil(p / 100 * len(s)) - 1)
    return s[k]


def tail(values: list[float]) -> dict:
    """The highest of the fixed percentiles with at least ten samples
    beyond it, or the median when the sample is too small for any."""
    n = len(values)
    for p in _TAILS:
        if n * (1 - p / 100) >= 10:
            return {"percentile": p, "value": percentile(values, p), "samples": n}
    return {"percentile": 50.0, "value": statistics.median(values), "samples": n,
            "note": "fewer than 20 samples: no tail above the median"}


def share(part: int, whole: int) -> float:
    return part / whole if whole else 0.0


# -- output ------------------------------------------------------------------


def write_spans(path: Path, spans: list[dict]) -> None:
    """Spans are kept in memory during a run and written once at its end."""
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(spans))


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def emit(correct: bool, attempted: int, failed: int, metrics: dict, detail: dict) -> None:
    """Print the detail line, then the result line (always the last line)."""
    print(json.dumps({"detail": detail}, default=str), flush=True)
    print(
        json.dumps(
            {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
        ),
        flush=True,
    )
