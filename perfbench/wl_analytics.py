"""``analytics``: one client runs a fixed query mix back to back.

Why this workload: the ``sources``/``operators``/``session`` path with no
ML. It shows when a session-wide change made for scoring costs the query
layer. Each query in ``MIX`` comes from ``__spark_entry__.queries()``, is
built, then written to the noop sink; the mix covers scans, filters,
broadcast and shuffle joins, hash aggregates, windows, top-k, TPC-H
macro plans and exact percentiles. The tables are generated from the
seed (``datagen.py``) at scale factor ``SF``.

Correctness: the untimed warm-up pass collects every query's rows; after
timing they are compared with ``__spark_entry__.oracle_sql()`` run
through DuckDB on the same files.
"""

from __future__ import annotations

import datetime
import math
import shutil
import statistics
import time

import common
import datagen

#: Scale factor of the generated tables (lineitem = 6 M x SF rows): small
#: enough that a run's warm-up pass, timed passes and oracle check fit the
#: benchmark's time budget.
SF = 0.03
#: Pass time on a 4-core host once warm. A window runs a whole number of
#: passes, ``round(seconds / PASS_S)``, so every run does the same work.
PASS_S = 5.0
MIX = [
    "q01_scan_parquet",
    "q04_filter_conjunctive",
    "q06_join_broadcast",
    "q07_join_shuffle_agg",
    "q12_agg_pricing_summary",
    "q16_window_lag_default",
    "q17_window_rank",
    "q20_topk",
    "q156_tpch_q3",
    "q157_tpch_q5",
    "q159_tpch_q18",
    "q45_percentiles",
]
TABLES = ["region", "nation", "customer", "supplier", "orders", "lineitem", "events"]


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return "NULL" if v is None else str(v)


def same_rows(cols_a, rows_a, cols_b, rows_b) -> bool:
    """Equal column sets and equal row multisets, column order ignored."""
    if sorted(cols_a) != sorted(cols_b) or len(rows_a) != len(rows_b):
        return False
    ia = sorted(range(len(cols_a)), key=lambda i: cols_a[i])
    ib = sorted(range(len(cols_b)), key=lambda i: cols_b[i])
    return sorted(tuple(_canon(r[i]) for i in ia) for r in rows_a) == sorted(
        tuple(_canon(r[i]) for i in ib) for r in rows_b)


def oracle_mismatches(data_dir, collected: dict) -> list[str]:
    import duckdb

    import __spark_entry__ as entry

    oracle = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        bad = []
        for name, (cols, rows) in collected.items():
            res = con.execute(oracle[name])
            if not same_rows(cols, rows, [d[0] for d in res.description], res.fetchall()):
                bad.append(name)
        return bad
    finally:
        con.close()


class JobStats:
    """Spark jobs, tasks, busy time and shuffle bytes of a job group, read
    from Spark's status tracker and status store."""

    def __init__(self, spark) -> None:
        self.tracker = spark.sparkContext.statusTracker()
        self.store = spark.sparkContext._jsc.sc().statusStore()

    def group(self, group: str) -> dict:
        jobs = self.tracker.getJobIdsForGroup(group)
        tasks, shuffle, spans = 0, 0, []
        for j in jobs:
            data = self.store.job(j)
            sub, done = data.submissionTime(), data.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime(), done.get().getTime()))
            for stage_id in list(self.tracker.getJobInfo(j).stageIds):
                st = self.tracker.getStageInfo(stage_id)
                if st is None:
                    continue
                tasks += st.numTasks
                shuffle += self.store.lastStageAttempt(stage_id).shuffleWriteBytes()
        busy, end = 0, 0  # union of job intervals, ms
        for s, e in sorted(spans):
            busy += max(0, e - max(s, end))
            end = max(end, e)
        return {"jobs": len(jobs), "tasks": tasks, "shuffle_write_mb": shuffle / 1e6,
                "busy_ms": busy}


def run_pass(spark, queries, data_dir, tag: str | None) -> list[dict]:
    out = []
    for name in MIX:
        if tag is not None:
            spark.sparkContext.setJobGroup(f"{tag}-{name}", name)
        rec = {"query": name, "group": f"{tag}-{name}"}
        t0 = time.perf_counter()
        try:
            df = queries[name](spark, str(data_dir))
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            rec.update(build_ms=(t1 - t0) * 1000, exec_ms=(time.perf_counter() - t1) * 1000,
                       ok=True)
        except Exception as e:  # a failing query is counted, the pass goes on
            rec.update(ok=False, error=f"{type(e).__name__}: {str(e)[:200]}")
        rec["wall_ms"] = (time.perf_counter() - t0) * 1000
        out.append(rec)
    return out


def run(seed: int, seconds: float, trace: bool) -> dict:
    import __spark_entry__ as entry
    from nfl_predictions_spark.sources.tables import table

    scratch = common.run_dir("analytics")
    data_dir = scratch / "data"
    t = time.perf_counter()
    rows = datagen.generate(data_dir, seed, SF)
    generate_s = time.perf_counter() - t

    t0 = time.perf_counter()
    spark, session_s = common.start_spark("perfbench-analytics")
    try:
        t1 = time.perf_counter()
        for name in TABLES:
            table(spark, str(data_dir), name)
        handles_s = time.perf_counter() - t1
        setup_s = time.perf_counter() - t0
        host = common.host_info(spark)
        queries = entry.queries()

        # untimed warm-up pass; its collected rows are the oracle check's input
        t = time.perf_counter()
        collected, warm_errors = {}, []
        for name in MIX:
            try:
                df = queries[name](spark, str(data_dir))
                collected[name] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as e:
                warm_errors.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
        warmup_s = time.perf_counter() - t

        windows = [seconds / 2, seconds / 2] if trace else [seconds]
        results = []
        for i, win_s in enumerate(windows):
            start = time.perf_counter()
            passes = [run_pass(spark, queries, data_dir, f"p{i}-{k}" if trace and i else None)
                      for k in range(max(1, round(win_s / PASS_S)))]
            results.append({"passes": passes, "wall": time.perf_counter() - start})
        stats = {}
        if trace:
            js = JobStats(spark)
            stats = {rec["group"]: js.group(rec["group"])
                     for p in results[1]["passes"] for rec in p}
        rss = common.peak_rss_mb()
    finally:
        common.stop_spark(spark)

    try:
        bad = oracle_mismatches(data_dir, collected)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    bad_set = set(bad) | {e.split(":")[0] for e in warm_errors}

    def summary(res):
        recs = [r for p in res["passes"] for r in p]
        walls = [r["wall_ms"] for r in recs]
        return {"recs": recs, "walls": walls, "p50_ms": statistics.median(walls),
                "qps": len(recs) / res["wall"],
                "pass_s": statistics.median(sum(r["wall_ms"] for r in p) / 1000
                                            for p in res["passes"])}

    all_recs = [r for res in results for p in res["passes"] for r in p]
    failed = sum(1 for r in all_recs if not r["ok"] or r["query"] in bad_set)
    first = summary(results[0])
    tail = common.tail(first["walls"])
    detail = {
        "workload": "analytics", "seed": seed, "seconds": seconds,
        "setup": {"setup_s": setup_s, "session_s": session_s, "table_handles_s": handles_s},
        "host": host,
        "input": {"sf": SF, "rows": rows, "generate_s": generate_s},
        "mix": MIX, "warmup_s": warmup_s,
        "metrics": {
            "analytics.pass_s": common.metric(first["pass_s"], "s"),
            "analytics.query_p50_ms": common.metric(first["p50_ms"], "ms"),
            "analytics.query_tail_ms": common.metric(tail["value"], "ms"),
            "analytics.query_tail_percentile": tail["percentile"],
            "analytics.fail_share": common.metric(common.share(failed, len(all_recs)), "share"),
            "setup_s": common.metric(setup_s, "s"),
            "peak_rss_mb": common.metric(rss, "MB"),
        },
        "phases": {"timed": {"attempted": len(all_recs), "succeeded": len(all_recs) - failed,
                             "failed": failed, "passes": sum(len(r["passes"]) for r in results)},
                   "oracle": {"attempted": len(MIX), "succeeded": len(MIX) - len(bad_set),
                              "failed": len(bad_set), "mismatched": bad,
                              "warmup_errors": warm_errors}},
        "errors": [r["error"] for r in all_recs if not r["ok"]][:5],
    }
    end_to_end = {
        "setup_s": common.metric(setup_s, "s"),
        "peak_rss_mb": common.metric(rss, "MB"),
        "p50_ms": common.metric(first["p50_ms"], "ms"),
        "throughput_per_s": common.metric(first["qps"], "1/s"),
    }
    per_layer = None
    spans = [{"name": "query", **r} for r in all_recs]
    if trace:
        second = summary(results[1])
        med = statistics.median
        layers = {}
        for name in MIX:
            recs = [r for r in second["recs"] if r["query"] == name and r["ok"]]
            st = [stats[r["group"]] for r in recs]
            layers.update({
                f"analytics.{name}.build_ms": med(r["build_ms"] for r in recs),
                f"analytics.{name}.exec_ms": med(r["exec_ms"] for r in recs),
                f"analytics.{name}.shuffle_write_mb": med(s["shuffle_write_mb"] for s in st),
                f"analytics.{name}.jobs": med(s["jobs"] for s in st),
            })
        ok = [r for r in second["recs"] if r["ok"]]
        detail["layers"] = layers
        detail["traced_query_p50_ms"] = second["p50_ms"]
        per_layer = {
            "setup.session_s": common.metric(session_s, "s"),
            "setup.program_s": common.metric(handles_s, "s"),
            "op.plan_ms": common.metric(med(r["build_ms"] for r in ok), "ms"),
            "op.exec_ms": common.metric(med(r["exec_ms"] for r in ok), "ms"),
            "op.outside_ms": common.metric(
                med(r["wall_ms"] - stats[r["group"]]["busy_ms"] for r in ok), "ms"),
            "op.jobs": common.metric(statistics.mean(stats[r["group"]]["jobs"] for r in ok),
                                     "count"),
            "op.tasks": common.metric(statistics.mean(stats[r["group"]]["tasks"] for r in ok),
                                      "count"),
            "op.count": common.metric(len(ok), "count"),
            "trace.overhead_pct": common.metric(
                (second["p50_ms"] / first["p50_ms"] - 1) * 100, "%"),
        }
    return {
        "correct": failed == 0 and not bad_set, "attempted": len(all_recs), "failed": failed,
        "end_to_end": end_to_end, "per_layer": per_layer, "detail": detail, "spans": spans,
    }
