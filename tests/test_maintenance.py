"""Table-lifecycle invariants: compaction reduces file count without
changing content; the catalog table answers by name; the HLL sketch
rollup's estimate really is the merged-daily-sketch path (value parity
for all three is covered by the parametrized oracle comparison)."""

from __future__ import annotations

import os

from tests.conftest import SF_SMOKE


def test_compaction_reduces_files_preserves_rows(spark):
    from nfl_predictions_spark.operators.maintenance import _tmp, q82_compaction
    from nfl_predictions_spark.sources.tables import table

    q82_compaction(spark, SF_SMOKE).collect()
    staged = _tmp(SF_SMOKE, "compaction_events")
    n_files = sum(1 for f in os.listdir(staged) if f.endswith(".parquet"))
    assert 1 <= n_files < 64
    assert spark.read.parquet(staged).count() == table(spark, SF_SMOKE, "events").count()


def test_catalog_table_is_addressable_by_name(spark):
    from nfl_predictions_spark.operators.maintenance import q81_catalog_table

    q81_catalog_table(spark, SF_SMOKE).collect()
    tables = [t.name for t in spark.catalog.listTables()]
    assert any(t.startswith("nflspark_orders_") for t in tables)


def test_hll_daily_sketches_merge_to_overall(spark):
    """Union of per-day sketches estimates the same cardinality as one
    global sketch — the mergeability property the rollup relies on."""
    from pyspark.sql import functions as F

    from nfl_predictions_spark.sources.tables import table

    ev = table(spark, SF_SMOKE, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk")
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    ).first()["est"]
    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(14))).alias("est")
    ).first()["est"]
    assert merged == direct


def test_grid_range_agg_decomposition(spark):
    """q304: the tile decomposition must equal a direct predicate scan
    for every rectangle (rows and exact-decimal revenue), and each rect
    intersects at least one tile."""
    from nfl_predictions_spark.operators.maintenance import (
        _GRID_RECTS,
        q304_grid_range_agg,
    )
    from pyspark.sql import functions as F

    rows = {r.rid: r for r in q304_grid_range_agg(spark, SF_SMOKE).collect()}
    assert set(rows) == {r[0] for r in _GRID_RECTS}
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    for rid, qlo, qhi, plo, phi in _GRID_RECTS:
        direct = li.filter(
            (F.col("l_quantity") >= qlo) & (F.col("l_quantity") < qhi)
            & (F.col("l_extendedprice") >= plo) & (F.col("l_extendedprice") < phi)
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2)
            .cast("double").alias("rev"),
        ).first()
        assert rows[rid].n_rows == direct.n
        assert rows[rid].revenue == direct.rev
        assert rows[rid].n_tiles_full + rows[rid].n_tiles_boundary >= 1


def test_same_basename_fixtures_never_share_staged_state(spark, tmp_path, monkeypatch):
    """Two fixture dirs with one basename (…/a/sf0.001, …/b/sf0.001) but
    different events and orders: every staged copy and the q81 catalog
    table are keyed on the source fingerprint, so each dir's answers equal
    the DuckDB oracle on that dir, whichever ran first."""
    import shutil
    import tempfile

    import duckdb
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from oracle_check import compare

    import __spark_entry__ as entrymod

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path / "tmp"))
    fixtures = []
    for side, keep in (("a", 0), ("b", 1)):
        sf = tmp_path / side / "sf0.001"
        sf.mkdir(parents=True)
        for f in os.listdir(SF_SMOKE):
            shutil.copy(os.path.join(SF_SMOKE, f), sf / f)
        # a keeps the even keys, b the odd ones
        for t, key in (("events", "event_id"), ("orders", "o_orderkey")):
            rows = pq.read_table(os.path.join(SF_SMOKE, f"{t}.parquet"))
            odd = pc.equal(pc.bit_wise_and(rows[key], 1), 1)
            pq.write_table(rows.filter(odd if keep else pc.invert(odd)), sf / f"{t}.parquet")
        fixtures.append(str(sf))

    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    for name in ("q49b_orc_source", "q81_catalog_table", "q82_compaction", "q93_schema_evolution"):
        for sf in fixtures:
            df = queries[name](spark, sf)
            con = duckdb.connect()
            for t in ("events", "orders"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
            res = con.execute(oracles[name])
            problems = compare(
                name,
                [tuple(r) for r in df.collect()],
                df.columns,
                res.fetchall(),
                [d[0] for d in res.description],
            )
            assert not problems, f"{name} on {sf}: {problems}"


def test_only_state_module_touches_the_cache_root():
    """One owner for on-disk state: no package module but state.py asks
    for the temp root or renames a directory into place. The one
    exception is compact()'s rename swap, which is q82's subject."""
    import ast
    import inspect

    import nfl_predictions_spark
    from nfl_predictions_spark.operators import maintenance

    pkg = os.path.dirname(nfl_predictions_spark.__file__)
    lines, start = inspect.getsourcelines(maintenance.compact)
    allowed = {
        (os.path.join(pkg, "operators", "maintenance.py"), n)
        for n in range(start, start + len(lines))
    }
    found = []
    for dirpath, _, files in os.walk(pkg):
        for f in files:
            p = os.path.join(dirpath, f)
            if not f.endswith(".py") or p == os.path.join(pkg, "state.py"):
                continue
            with open(p) as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if isinstance(node, ast.Attribute):
                    hit = node.attr == "gettempdir" or (
                        node.attr == "rename"
                        and getattr(node.value, "id", None) in ("os", "_os")
                    )
                elif isinstance(node, ast.ImportFrom):
                    hit = any(a.name in ("gettempdir", "rename") for a in node.names)
                else:
                    hit = False
                if hit and (p, node.lineno) not in allowed:
                    found.append(f"{os.path.relpath(p, pkg)}:{node.lineno}")
    assert not found, found


def test_only_session_module_writes_conf():
    """One writer of session conf: no package module but session.py
    calls ``.conf.set`` or ``.conf.unset``."""
    import ast

    import nfl_predictions_spark

    pkg = os.path.dirname(nfl_predictions_spark.__file__)
    found = []
    for dirpath, _, files in os.walk(pkg):
        for f in files:
            p = os.path.join(dirpath, f)
            if not f.endswith(".py") or p == os.path.join(pkg, "session.py"):
                continue
            with open(p) as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Attribute)
                    and node.attr in ("set", "unset")
                    and isinstance(node.value, ast.Attribute)
                    and node.value.attr == "conf"
                ):
                    found.append(f"{os.path.relpath(p, pkg)}:{node.lineno}")
    assert not found, found


def test_get_spark_sizes_shuffle_to_twice_the_parallelism(spark):
    from nfl_predictions_spark.session import default_parallelism

    assert spark.conf.get("spark.sql.shuffle.partitions") == str(2 * default_parallelism())


def test_get_spark_sizes_the_codegen_class_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


#: A fixed mix of scans, joins, aggregates, windows, top-k and TPC-H plans
#: whose generated classes together outnumber Spark's default cache of 100.
ANALYTICS_MIX = [
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


def test_repeated_query_mix_compiles_no_generated_code(spark):
    """A second pass of the mix reuses every class the first compiled:
    the JVM's codegen cache holds the whole working set, so Janino
    compiles nothing."""
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen.METRIC_COMPILATION_TIME()

    def run_pass() -> int:
        before = compiles.getCount()
        for name in ANALYTICS_MIX:
            queries[name](spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
        return compiles.getCount() - before

    run_pass()
    assert run_pass() == 0


def test_table_and_stream_leave_session_conf_unchanged(spark, tmp_path):
    """A first ``table()`` call on an input dir and a ``run_to_batch``
    stream read the session conf and write none of it, whatever the
    session's shuffle width is."""
    from nfl_predictions_spark.session import scoped_conf
    from nfl_predictions_spark.sources.tables import table
    from nfl_predictions_spark.streaming.sources import events_file_stream
    from nfl_predictions_spark.streaming.windows import run_to_batch, tumbling_counts

    # a dir no earlier call has seen, so any once-per-input work runs
    os.symlink(os.path.join(SF_SMOKE, "orders.parquet"), tmp_path / "orders.parquet")
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "3"}):
        before = dict(spark.sql("SET").collect())
        assert table(spark, str(tmp_path), "orders").count() > 0
        stream = events_file_stream(spark, SF_SMOKE, with_dups=False)
        assert run_to_batch(spark, tumbling_counts(stream), "complete").count() > 0
        assert dict(spark.sql("SET").collect()) == before


def test_scoped_conf_restores_set_and_unset_keys(spark):
    """``scoped_conf`` gives a key that was set its old value back and
    unsets a key that was unset, on a normal exit and when the body
    raises."""
    import pytest

    from nfl_predictions_spark.session import scoped_conf

    was_set = "spark.sql.autoBroadcastJoinThreshold"
    was_unset = "spark.sql.cbo.joinReorder.enabled"
    old = spark.conf.get(was_set)
    assert spark.conf.get(was_unset, None) is None
    before = dict(spark.sql("SET").collect())
    scoped = {was_set: "-1", was_unset: "true"}

    with scoped_conf(spark, scoped):
        assert spark.conf.get(was_set) == "-1"
        assert spark.conf.get(was_unset) == "true"
    assert spark.conf.get(was_set) == old
    assert spark.conf.get(was_unset, None) is None

    with pytest.raises(RuntimeError, match="body failed"):
        with scoped_conf(spark, scoped):
            raise RuntimeError("body failed")
    assert spark.conf.get(was_set) == old
    assert spark.conf.get(was_unset, None) is None
    assert dict(spark.sql("SET").collect()) == before


def test_superseded_catalog_copies_on_disk_are_reaped_once_quiet(spark, tmp_path, monkeypatch):
    """Copies of earlier tags that only exist on disk (left by earlier
    sessions) are removed once quiet for the grace period; a recently
    used one, the current tag and other tables stay."""
    import time

    from nfl_predictions_spark import catalog, state

    db = tmp_path / "buckets.db"
    monkeypatch.setattr(catalog, "db_dir", lambda spark, name: str(tmp_path / f"{name}.db"))
    old = time.time() - state.GC_GRACE_S - 60
    for name in ("zz_edges_sf_b8_old", "zz_edges_sf_b8_fresh", "zz_edges_sf_b8_cur", "yy_other"):
        (db / name).mkdir(parents=True)
        if name != "zz_edges_sf_b8_fresh":
            os.utime(db / name, (old, old))
    catalog.drop_superseded(spark, "buckets", ("zz_edges_sf_b",), {"zz_edges_sf_b8_cur"})
    assert sorted(os.listdir(db)) == ["yy_other", "zz_edges_sf_b8_cur", "zz_edges_sf_b8_fresh"]
    # the current copy was touched: its grace window runs from this use
    assert os.stat(db / "zz_edges_sf_b8_cur").st_mtime > old + 60
