"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__`` on a scale-factor
dir, runs the matching ``oracle_sql()`` through DuckDB on the same
parquet, and compares row count, sorted column names, and an
order-insensitive canonicalized value multiset. Usage:

    python tools/oracle_check.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import datetime
import math
import sys
import time
from pathlib import Path

import duckdb


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def compare(name, spark_rows, spark_cols, duck_rows, duck_cols):
    problems = []
    if sorted(spark_cols) != sorted(duck_cols):
        problems.append(f"cols: spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
    if len(spark_rows) != len(duck_rows):
        problems.append(f"rowcount: spark={len(spark_rows)} duck={len(duck_rows)}")
    if not problems:
        s_idx = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
        d_idx = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
        s_set = sorted(tuple(canon(r[i]) for i in s_idx) for r in spark_rows)
        d_set = sorted(tuple(canon(r[i]) for i in d_idx) for r in duck_rows)
        if s_set != d_set:
            diffs = [
                (a, b) for a, b in zip(s_set, d_set) if a != b
            ][:3]
            problems.append(f"values differ; first diffs (spark vs duck): {diffs}")
    return problems


# --- output-type contract -------------------------------------------------
#
# The driver's hasher feeds column *representations*, and those diverge
# between engines for types outside this whitelist even when values agree:
# DuckDB sum(BIGINT) returns HUGEINT (int128 -> pandas float64 -> "42.0"),
# Spark decimal(28,3) strings differ from DuckDB DECIMAL(38,3) strings, etc.
# Width differences inside a class (int32 vs int64, naive-UTC vs UTC
# timestamps under the session's pinned UTC zone) produce IDENTICAL value
# representations — the driver has green rows for those (q24, q31-34, q40)
# — so the canon collapses each class to one token and only flags
# representation-CHANGING divergence. (q96/q105 hash-failed two driver
# rounds on exactly this before the contract was pinned.)

_SPARK_CANON = {
    "bigint": "int", "long": "int", "int": "int", "integer": "int",
    "smallint": "int", "tinyint": "int", "double": "float", "float": "float",
    "string": "str", "boolean": "bool", "date": "date",
    "timestamp": "ts", "timestamp_ntz": "ts", "binary": "bin",
}

_DUCK_CANON = {
    "int64": "int", "int32": "int", "int16": "int", "int8": "int",
    "uint64": "FORBIDDEN:uint64", "uint32": "int", "double": "float",
    "float": "float", "string": "str", "large_string": "str", "bool": "bool",
    "date32[day]": "date", "binary": "bin", "large_binary": "bin",
}

_ALLOWED = {"int", "float", "str", "bool", "date", "ts", "bin"}


def _canon_spark_type(t: str) -> str:
    t = t.strip()
    if t.startswith("array<") and t.endswith(">"):
        return f"list<{_canon_spark_type(t[6:-1])}>"
    if t.startswith("decimal"):
        return f"FORBIDDEN:{t}"
    return _SPARK_CANON.get(t, f"FORBIDDEN:{t}")


def _canon_duck_type(t: str) -> str:
    t = str(t).strip()
    if t.startswith(("list<", "large_list<")) and t.endswith(">"):
        inner = t.split("<", 1)[1][:-1]
        # arrow prints list items as "item: type"
        inner = inner.split(":", 1)[-1].strip()
        return f"list<{_canon_duck_type(inner)}>"
    if t.startswith("decimal") or t == "int128":
        return f"FORBIDDEN:{t}"
    if t.startswith("timestamp"):
        return "ts"
    return _DUCK_CANON.get(t, f"FORBIDDEN:{t}")


def type_problems(spark_schema, duck_arrow_schema) -> list[str]:
    """Column-by-column output-type parity between a Spark result schema
    (``df.schema``) and the DuckDB oracle's Arrow schema. A list type is
    allowed when its element type is; everything else must be in the
    whitelist and canonically equal on both sides."""
    problems = []
    duck = {f.name: _canon_duck_type(f.type) for f in duck_arrow_schema}
    for field in spark_schema.fields:
        s = _canon_spark_type(field.dataType.simpleString())
        d = duck.get(field.name)
        for side, c in (("spark", s), ("duck", d)):
            base = c
            if base is not None and base.startswith("list<"):
                base = base[5:-1]
            if base is not None and base not in _ALLOWED:
                problems.append(f"{field.name}: {side} type {c} outside contract")
        if d is not None and s != d:
            problems.append(f"{field.name}: spark={s} duck={d}")
    return problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entrymod
    from nfl_predictions_spark.session import get_spark

    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_weak = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            spark_cols = df.columns
            spark_rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        el = time.time() - t0
        if name not in oracles:
            status = "ok" if len(spark_rows) >= 0 else "??"
            print(f"WEAK {name}: rows-only, {len(spark_rows)} rows ({el:.1f}s)")
            n_weak += 1
            continue
        try:
            arrow_schema = con.execute(oracles[name]).arrow().schema
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        problems = compare(name, spark_rows, spark_cols, duck_rows, duck_cols)
        problems += type_problems(df.schema, arrow_schema)
        if problems:
            print(f"FAIL {name} ({el:.1f}s): " + " | ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name}: {len(spark_rows)} rows ({el:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_weak} weak (rows-only), {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
