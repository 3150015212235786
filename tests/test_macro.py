"""TPC-H macro suite (operators/macro.py), BPE tokenizer training
(operators/tokenizer.py), and skyline (operators/frontier.py)."""

from __future__ import annotations

import pytest

from oracle_check import compare, type_problems  # tools/, on sys.path
from tests.conftest import SF_SMOKE

NAMES = [
    "q156_tpch_q3",
    "q157_tpch_q5",
    "q158_tpch_q10",
    "q159_tpch_q18",
    "q160_bpe_merges",
    "q161_skyline",
    "q162_bpe_tokenize",
    # round-5 completion of the 22-query TPC-H tier
    "q280_tpch_q6",
    "q281_tpch_q2",
    "q282_tpch_q7",
    "q283_tpch_q8",
    "q284_tpch_q9",
    "q285_tpch_q11",
    "q286_tpch_q12",
    "q287_tpch_q13",
    "q288_tpch_q15",
    "q289_tpch_q16",
    "q290_tpch_q19",
    "q291_tpch_q20",
]


def oracle_compare(spark, duck, name):
    import __spark_entry__ as entrymod

    df = entrymod.queries()[name](spark, SF_SMOKE)
    sql = entrymod.oracle_sql()[name]
    spark_rows = [tuple(r) for r in df.collect()]
    arrow_schema = duck.execute(sql).arrow().schema
    res = duck.execute(sql)
    duck_cols = [d[0] for d in res.description]
    problems = compare(name, spark_rows, df.columns, res.fetchall(), duck_cols)
    problems += type_problems(df.schema, arrow_schema)
    assert not problems, f"{name}: {problems}"


@pytest.mark.parametrize("name", NAMES)
def test_matches_oracle(spark, duck, name):
    oracle_compare(spark, duck, name)


def test_tpch_q18_having_semantics(spark):
    """Every surviving order's line quantities really sum past the
    HAVING threshold."""
    from nfl_predictions_spark.operators.macro import q159_tpch_q18

    rows = q159_tpch_q18(spark, SF_SMOKE).collect()
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").collect()
    from collections import defaultdict

    qty = defaultdict(float)
    for l in li:
        qty[l.l_orderkey] += l.l_quantity
    for r in rows:
        assert qty[r.o_orderkey] > 300
        assert abs(r.sum_qty - qty[r.o_orderkey]) < 1e-9


def test_bpe_matches_reference_python_bpe(spark):
    """The distributed merge table equals a straightforward Python BPE
    trainer (the Sennrich reference algorithm) on the same corpus."""
    from collections import Counter

    from nfl_predictions_spark.operators.tokenizer import q160_bpe_merges

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    freqs = Counter(w for d in docs for w in d.text.lower().split(" ") if w)
    vocab = {w: list(w) for w in freqs}

    def merge_word(sym, a, b):
        out, i = [], 0
        while i < len(sym):
            if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        return out

    expected = []
    for step in range(1, 6):
        pairs = Counter()
        for w, f in freqs.items():
            sym = vocab[w]
            for i in range(len(sym) - 1):
                pairs[(sym[i], sym[i + 1])] += f
        (a, b), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((step, a, b, a + b, c))
        vocab = {w: merge_word(s, a, b) for w, s in vocab.items()}

    got = [
        (r.step, r.lhs, r.rhs, r.merged, r.pair_count)
        for r in q160_bpe_merges(spark, SF_SMOKE).collect()
    ]
    assert got == expected


def test_bpe_tokenize_bounds(spark):
    """Per-doc BPE token counts sit between word count (every word >= 1
    token) and character count (merges only ever shrink), and 5 merge
    rounds must have compressed SOME document below its char count."""
    from nfl_predictions_spark.operators.tokenizer import q162_bpe_tokenize

    rows = q162_bpe_tokenize(spark, SF_SMOKE).collect()
    docs = {
        d.doc_id: [w for w in d.text.lower().split(" ") if w]
        for d in spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    }
    assert len(rows) == len(docs)
    compressed = False
    for r in rows:
        words = docs[r.doc_id]
        chars = sum(len(w) for w in words)
        assert r.n_words == len(words)
        assert len(words) <= r.n_tokens_bpe <= chars
        compressed = compressed or r.n_tokens_bpe < chars
    assert compressed


def test_skyline_dominance_definition(spark):
    """No returned point is dominated; every excluded point is."""
    from nfl_predictions_spark.operators.frontier import q161_skyline

    pts = [
        (p.p_partkey, p.p_retailprice, p.p_size)
        for p in spark.read.parquet(f"{SF_SMOKE}/part.parquet").collect()
    ]
    sky = {r.p_partkey for r in q161_skyline(spark, SF_SMOKE).collect()}

    def dominated(p):
        return any(
            q[1] <= p[1] and q[2] <= p[2] and (q[1] < p[1] or q[2] < p[2])
            for q in pts
            if q[0] != p[0]
        )

    for p in pts:
        assert (p[0] in sky) == (not dominated(p))


def test_bpe_trainer_symbols_match_spark_encoding(spark, tmp_path):
    """Spark ``rtrim`` strips only spaces, so a word ending in a control
    character keeps it as a symbol: the trainer's Python encoding must
    give the same symbols as ``_encode_sym``, and ``learn_merges`` must
    merge that trailing symbol. Java's regex '.' does not match U+0085,
    U+2028 or U+2029, so those stay glued to the symbol before them, in
    the DuckDB oracles' encoding too."""
    import duckdb
    from pyspark.sql import functions as F

    from nfl_predictions_spark.operators.tokenizer import (
        _bpe_cte_prefix,
        _encode_sym,
        _encode_sym_py,
        learn_merges,
    )

    words = ["ab\t", "a\x0bb\x0c", "x\r", "tab\t\t", "plain",
             "a\u2028b", "\u2029z", "c\x85d", "e\u2028\u2029f"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    assert [r[0] for r in df.select(_encode_sym(F.col("w"))).collect()] == [
        _encode_sym_py(w) for w in words
    ]

    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT ? AS text", [" ".join(words)])
    oracle = con.execute(_bpe_cte_prefix(rounds=0) + " SELECT s FROM w0").fetchall()
    assert sorted(r[0] for r in oracle) == sorted(_encode_sym_py(w) for w in words)

    spark.createDataFrame([(1, "ab\t ab\t ab\t cd")], "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    assert learn_merges(spark, str(tmp_path), rounds=2) == [
        (1, "a", "b", "ab", 3),
        (2, "ab", "\t", "ab\t", 3),
    ]
