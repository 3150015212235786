"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload api_serve --seed 1 --seconds 20 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

- ``api_serve``     single-play /api traffic to ScoringService.serve_http
- ``stream_route``  streaming.score.score_and_route over a staged file stream
- ``analytics``     a fixed mix of oracle-backed queries from __spark_entry__

Inputs are made from ``--seed``. ``--seconds`` is the measured time.
With ``--trace 0`` the result line carries the end-to-end metrics; with
``--trace 1`` the run measures half its time untraced and half traced,
and the result line carries the per-layer metrics and the tracing
overhead. The second-to-last stdout line is a ``detail`` object with
per-phase attempted/succeeded/failed counts, the workload's metrics under
their layer names, host details and set-up parts. Spans go to
``.perfbench_work/traces/``. The exit code is 1 when any output is wrong
and 2 when the program is not in the checkout.
"""

from __future__ import annotations

import argparse
import importlib
import shutil
import sys

import common

WORKLOADS = {"api_serve": "wl_api", "stream_route": "wl_stream", "analytics": "wl_analytics"}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    if not common.program_present():
        print(f"perfbench: no nfl_predictions_spark package under {common.ROOT}",
              file=sys.stderr)
        return 2

    scratch = common.run_dir(args.workload)
    try:
        common.prepare_env(scratch)
        if args.workload != "analytics":
            import train

            train.ensure_models()
        workload = importlib.import_module(WORKLOADS[args.workload])
        out = workload.run(args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    common.write_spans(
        common.WORK / "traces" / f"{args.workload}-seed{args.seed}-trace{args.trace}.json",
        out["spans"])
    metrics = out["per_layer"] if args.trace else out["end_to_end"]
    common.emit(out["correct"], out["attempted"], out["failed"], metrics, out["detail"])
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
