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
