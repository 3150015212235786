"""Deduplication suite (north-star; SURVEY §2B Q38-Q39).

Exact dedup, MinHash+LSH near-dup, n-gram Jaccard, and SimHash over the
``documents`` table — the operators a large-scale training-data
pipeline runs first. Everything is built from JVM-side expressions
(split/transform/xxhash64/array_intersect + one shuffle per stage); no
Python in the hot path.

Scale design (the part that matters at 100 TB):
- exact dedup is a hash-aggregate on a digest — one shuffle on a
  uniformly distributed key, no skew.
- MinHash-LSH is the linear-time near-dup path: shingle -> 64 seeded
  min-hashes (one explode + one groupBy per doc) -> 16 bands x 4 rows
  -> bucket self-join (only same-bucket pairs are compared) -> exact
  Jaccard verification of the candidates. The all-pairs exact join
  (q39b) exists as the small-scale oracle/baseline; LSH is what
  survives a 1000x scale-up because candidate generation never
  enumerates the cross product.
- SimHash packs a document into one 60-bit md5-derived signature split
  into 6 ten-bit bands; candidate pairs share at least one band — by
  pigeonhole, any pair at hamming <= 5 shares a band, so recall is
  exact at the default threshold; candidates are then verified by
  exact popcount.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nfl_predictions_spark.sources.tables import spread, table

QUERIES: dict = {}
ORACLE: dict[str, str] = {}


def _q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


# ---------------------------------------------------------------------------
# Shingling (shared by minhash / exact jaccard)
# ---------------------------------------------------------------------------


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column, as an array.
    Word-level 3-grams: the TESTDATA documents draw from a ~31-word
    vocabulary, so single-token sets saturate (Jaccard 1.0 everywhere)
    while 3-gram sets separate planted near-dups (>=0.9) from background
    (<=0.1).

    NOTE: higher-order-function lambdas run interpreted (outside
    whole-stage codegen) — fine for ad-hoc use, but the hot near-dup
    path uses ``shingle_rows`` (posexplode + lead window, fully
    codegen'd) instead.
    """
    toks = F.split(text, " ")
    size = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), size - n),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)]),
    )
    return F.array_distinct(F.when(size >= n, grams).otherwise(F.array().cast("array<string>")))


def shingle_rows(docs: DataFrame, n: int = 3, id_col: str = "doc_id") -> DataFrame:
    """Distinct (doc_id, shingle) rows — the exploded form both the
    inverted-index join and the MinHash aggregation consume.

    Implementation: n shifted ``slice``s zipped with ``arrays_zip`` and
    exploded — native array ops only, no higher-order-function lambdas
    (those run interpreted, ~17 us/shingle) and no window sort. The only
    shuffle is the final distinct. A small-file scan is one task, so
    docs are spread across the cluster before the CPU-heavy tokenize."""
    d = (
        docs.repartition(F.col(id_col))
        .select(id_col, F.split(F.col("text"), " ").alias("tk"))
        .withColumn("m", F.size("tk") - (n - 1))  # number of complete grams
        .filter(F.col("m") >= 1)
    )
    zipped = F.arrays_zip(
        *[F.slice("tk", j + 1, F.col("m")).alias(f"w{j}") for j in range(n)]
    )
    return (
        d.select(id_col, F.explode(zipped).alias("g"))
        .select(
            id_col,
            F.concat_ws(" ", *[F.col(f"g.w{j}") for j in range(n)]).alias("s"),
        )
        .distinct()
    )


_SHINGLE_SQL = (
    "list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] "
    "for i in range(1, len(ts) - 1)])"
)


# ---------------------------------------------------------------------------
# Q38 — exact dedup
# ---------------------------------------------------------------------------


@_q(
    "q38_dedup_exact",
    "SELECT (SELECT count(*) FROM documents) AS cnt_total, "
    "(SELECT count(*) FROM (SELECT DISTINCT * FROM documents)) AS cnt_distinct_rows, "
    "(SELECT count(DISTINCT md5(text)) FROM documents) AS cnt_distinct_text",
)
def q38_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup two ways: whole-row distinct and content-digest
    distinct (the form that scales — the digest is computed map-side and
    the shuffle carries 16 bytes per row, not the document). One lazy
    single-pass aggregate: nothing executes until the caller acts, so
    the driver/bench measure the real scan+agg, not a pre-baked literal."""
    docs = table(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("cnt_total"),
        F.countDistinct(F.struct(*docs.columns)).alias("cnt_distinct_rows"),
        F.countDistinct(F.md5("text")).alias("cnt_distinct_text"),
    )


@_q(
    "q38b_dedup_rows",
    "SELECT doc_id FROM (SELECT doc_id, row_number() OVER "
    "(PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM documents) "
    "WHERE rn = 1 ORDER BY doc_id",
)
def q38b_dedup_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content dedup keeping the lowest doc_id per digest — the
    deterministic keep-rule form (dropDuplicates keeps an arbitrary
    row; a pipeline needs a defined survivor)."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q39 — near-dup: exact n-gram Jaccard (baseline) and MinHash-LSH (scale path)
# ---------------------------------------------------------------------------

_JACCARD_ORACLE = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
sh AS (SELECT doc_id, {_SHINGLE_SQL} AS shingles FROM tok WHERE len(ts) >= 3),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
          FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT d1, d2, round(i * 1.0 / (s1.sz + s2.sz - i), 6) AS jac
FROM inter JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
WHERE i * 1.0 / (s1.sz + s2.sz - i) >= 0.8
ORDER BY d1, d2
"""


@_q("q39b_ngram_jaccard_pairs", _JACCARD_ORACLE)
def q39b_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs 3-gram Jaccard >= 0.8 via an inverted-index
    self-join (pairs sharing no shingle are never materialized). Correct
    at any scale but quadratic in the worst case — the LSH variant below
    is the production path."""
    ex = shingle_rows(table(spark, sf_dir, "documents"))
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (
        ex.alias("a")
        .join(ex.alias("b"), (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("i"))
    )
    jac = F.col("i") / (F.col("s1.sz") + F.col("s2.sz") - F.col("i"))
    return (
        inter.join(sizes.alias("s1"), F.col("d1") == F.col("s1.doc_id"))
        .join(sizes.alias("s2"), F.col("d2") == F.col("s2.doc_id"))
        .filter(jac >= 0.8)
        .select("d1", "d2", F.round(jac, 6).alias("jac"))
        .orderBy("d1", "d2")
    )


_N_HASHES = 64
_BANDS = 16
_ROWS_PER_BAND = 4


def minhash_signatures(ex: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc, shingle) rows -> 64 min-hashes per doc in a single grouped
    aggregation (one shuffle on the doc id; map-side partial mins).

    The shingle string is hashed once; the 64 per-seed hashes re-hash
    that 8-byte value instead of the full string — same independence,
    ~64x less string hashing."""
    hashed = ex.withColumn("hs", F.xxhash64("s"))
    aggs = [
        F.min(F.xxhash64(F.col("hs"), F.lit(seed))).alias(f"mh{seed}")
        for seed in range(_N_HASHES)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Band the signature 16x4 and self-join on (band, band-hash):
    only same-bucket pairs ever meet."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.col(f"mh{b * _ROWS_PER_BAND + r}") for r in range(_ROWS_PER_BAND)]
                ).alias("bh"),
            )
            for b in range(_BANDS)
        ]
    )
    banded = sigs.select(id_col, F.explode(bands).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    return (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2")
        )
        .distinct()
    )


@_q("q39_minhash_lsh_pairs", _JACCARD_ORACLE)
def q39_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + LSH(16 bands x 4) candidates, exact-Jaccard
    verified at >= 0.8. Shares the exact-pairs oracle: at this band
    config a true 0.8-pair is missed with p ~= 2e-4 and the planted
    near-dups sit at >= 0.9 (miss p ~= 3e-8), so LSH+verify equals the
    exact answer; the verification step guarantees no false positives."""
    # The exploded shingle table feeds FOUR consumers (sizes, signature
    # aggregation, both verify probes). Column-pruning differences keep
    # the subtrees from canonicalizing equal, so exchange reuse does NOT
    # cover them (verified: 12 parquet scans in the un-cut plan) — one
    # lazy checkpoint computes the tokenize+distinct once (measured
    # 3.07 -> 2.62 s at sf0.1, and the recompute it removes is
    # O(corpus) at 100 TB).
    ex = shingle_rows(table(spark, sf_dir, "documents")).localCheckpoint(
        eager=False
    )
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("sz"))
    sigs = minhash_signatures(ex)
    cands = lsh_candidate_pairs(sigs)
    # Exact verification from the same exploded shingle table: the
    # candidate set is tiny, so the joins touch only its doc ids.
    inter = (
        cands.join(ex.alias("a"), F.col("d1") == F.col("a.doc_id"))
        .join(
            ex.alias("b"),
            (F.col("d2") == F.col("b.doc_id")) & (F.col("a.s") == F.col("b.s")),
        )
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("i"))
    )
    jac = F.col("i") / (F.col("s1.sz") + F.col("s2.sz") - F.col("i"))
    return (
        inter.join(sizes.alias("s1"), F.col("d1") == F.col("s1.doc_id"))
        .join(sizes.alias("s2"), F.col("d2") == F.col("s2.doc_id"))
        .filter(jac >= 0.8)
        .select("d1", "d2", F.round(jac, 6).alias("jac"))
        .orderBy("d1", "d2")
    )


# ---------------------------------------------------------------------------
# SimHash near-dup — 60-bit signature on a cross-engine md5-derived
# shingle hash, so the FULL pipeline (shingle -> hash -> bit votes ->
# signature -> band join -> popcount verify) is value-checked by DuckDB.
# ---------------------------------------------------------------------------

_SIM_BITS = 60  # 15 hex chars of md5 — exactly representable in both engines
_SIM_BANDS = 6  # 6 bands x 10 bits; pigeonhole => exact recall, hamming <= 5
_SIM_BAND_BITS = _SIM_BITS // _SIM_BANDS
_SIM_MAX_HAMMING = _SIM_BANDS - 1


def _h60_spark(col: str) -> Column:
    """60-bit hash: the top 15 hex chars of md5, parsed base-16.
    Chosen over xxhash64 because DuckDB reproduces it exactly (a
    15-term strpos polynomial over the same md5 hex string)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _h60_duck(expr: str) -> str:
    return " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({expr}), {i + 1}, 1)) - 1) "
        f"* {16 ** (14 - i)}"
        for i in range(15)
    )


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash over word 3-gram shingles: for each bit, sum +/-1
    by whether the shingle's hash has that bit set; the sign of the sum
    is the signature bit. One explode + one grouped aggregation — the
    60 bit-votes are map-side partial aggregates, so the only shuffle
    carries 60 small ints per doc."""
    ex = shingle_rows(docs, id_col=id_col).withColumn("h", _h60_spark("s"))
    bit_sums = [
        F.sum(
            F.when(F.expr(f"(shiftrightunsigned(h, {b}) & 1) = 1"), 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(_SIM_BITS)
    ]
    agg = ex.groupBy(id_col).agg(*bit_sums)
    sig = None
    for b in range(_SIM_BITS):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        sig = term if sig is None else sig.bitwiseOR(term)
    return agg.select(id_col, sig.alias("simhash"))


def simhash_near_dup_pairs(docs: DataFrame, max_hamming: int = _SIM_MAX_HAMMING) -> DataFrame:
    """Candidate pairs share >= 1 of 6 ten-bit signature bands
    (pigeonhole guarantees exact recall for hamming <= 5), verified by
    popcount. 10-bit bands keep candidate volume ~4x below byte-banding
    while the planted near-dups (hamming <= ~4 at 60 bits) stay inside
    the guarantee."""
    sigs = simhash(docs)
    bands_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("pos"),
                F.expr(
                    f"shiftrightunsigned(simhash, {_SIM_BAND_BITS * i})"
                    f" & {2 ** _SIM_BAND_BITS - 1}"
                ).alias("bv"),
            )
            for i in range(_SIM_BANDS)
        ]
    )
    banded = sigs.select("doc_id", "simhash", F.explode(bands_arr).alias("bb")).select(
        "doc_id", "simhash", F.col("bb.pos").alias("pos"), F.col("bb.bv").alias("bv")
    )
    cands = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.simhash").alias("s1"),
            F.col("b.simhash").alias("s2"),
        )
        .distinct()
    )
    hamming = F.expr("bit_count(s1 ^ s2)").cast("long")
    return (
        cands.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
        .orderBy("d1", "d2")
    )


def _simhash_oracle() -> str:
    h60 = _h60_duck("s")
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(_SIM_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(_SIM_BITS)
    )
    mask = 2 ** _SIM_BAND_BITS - 1
    return f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    sh AS (SELECT doc_id, {_SHINGLE_SQL} AS shingles FROM tok WHERE len(ts) >= 3),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    hs AS (SELECT doc_id, {h60} AS h FROM ex),
    bs AS (SELECT doc_id, {bit_sums} FROM hs GROUP BY doc_id),
    sig AS (SELECT doc_id, {sig} AS simhash FROM bs),
    band AS (
      SELECT doc_id, simhash, p.pos,
             (simhash >> ({_SIM_BAND_BITS} * p.pos)) & {mask} AS bv
      FROM sig CROSS JOIN (
        SELECT unnest(range({_SIM_BANDS})) AS pos
      ) p
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
             a.simhash AS s1, b.simhash AS s2
      FROM band a JOIN band b
        ON a.pos = b.pos AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(s1, s2)) <= {_SIM_MAX_HAMMING}
    ORDER BY d1, d2
    """


@_q("q39c_simhash_pairs", _simhash_oracle())
def q39c_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(docs)


_DECON_N = 8  # benchmark-contamination n-gram order


@_q(
    "q91_decontamination",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_distinct(
        [array_to_string(ts[i : i + {_DECON_N - 1}], ' ')
         for i in range(1, len(ts) - {_DECON_N - 2})])) AS s
      FROM toks WHERE len(ts) >= {_DECON_N}
    ), ev AS (SELECT doc_id AS eval_id, s FROM sh WHERE doc_id % 50 = 0),
       tr AS (SELECT doc_id, s FROM sh WHERE doc_id % 50 <> 0)
    SELECT tr.doc_id, count(DISTINCT tr.s) AS n_shared,
           count(DISTINCT ev.eval_id) AS n_eval_docs
    FROM tr JOIN ev ON tr.s = ev.s
    GROUP BY tr.doc_id ORDER BY tr.doc_id
    """,
)
def q91_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the LLM-data op that q38-q39's
    within-corpus dedup does NOT cover: find training documents sharing
    any long n-gram ({_DECON_N}-gram) with a held-out eval set (here a
    deterministic 2% slice, doc_id % 50 == 0), reporting how many grams
    leak and from how many eval documents. Shingling reuses the
    codegen'd shifted-slice path (``shingle_rows``); the join BROADCASTS
    the eval side — at 100 TB the benchmark suite is always tiny next to
    the corpus, so contamination is one broadcast hash join over the
    train shingles, no shuffle of the big side at all."""
    sh = shingle_rows(table(spark, sf_dir, "documents"), n=_DECON_N)
    is_eval = F.col("doc_id") % 50 == 0
    ev = (
        sh.filter(is_eval)
        .select(F.col("doc_id").alias("eval_id"), F.col("s").alias("es"))
    )
    tr = sh.filter(~is_eval)
    return (
        tr.join(F.broadcast(ev), tr.s == ev.es)
        .groupBy("doc_id")
        .agg(
            F.count_distinct("s").alias("n_shared"),
            F.count_distinct("eval_id").alias("n_eval_docs"),
        )
        .orderBy("doc_id")
    )


_PASSAGE_N = 8  # duplicate-passage span length (tokens)


@_q(
    "q117_dup_passages",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_distinct(
        [array_to_string(ts[i : i + {_PASSAGE_N - 1}], ' ')
         for i in range(1, len(ts) - {_PASSAGE_N - 2})])) AS s
      FROM toks WHERE len(ts) >= {_PASSAGE_N}
    ), d AS (
      SELECT s, count(*) AS n_docs, min(doc_id) AS first_doc,
             max(doc_id) AS last_doc
      FROM sh GROUP BY s HAVING count(*) >= 2
    ), r AS (
      SELECT *, row_number() OVER (ORDER BY n_docs DESC, s) AS rn FROM d
    )
    SELECT s AS span, CAST(n_docs AS BIGINT) AS n_docs, first_doc, last_doc
    FROM r WHERE rn <= 20 ORDER BY n_docs DESC, span
    """,
)
def q117_dup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-passage detection — the span-level form
    of exact-substring dedup (the public "Deduplicating Training Data
    Makes Language Models Better" recipe, restated at fixed span
    granularity instead of a suffix array): every {_PASSAGE_N}-token
    span occurring in 2+ distinct documents, top 20 by document reach.

    Dataflow: the codegen'd shifted-slice shingler (``shingle_rows``,
    already per-doc-distinct so a doc repeating its own phrase counts
    once) -> one groupBy(span) with map-side combine -> HAVING >= 2 ->
    bounded top-k. At 100 TB the only wide stage is the span groupBy,
    whose input is already collapsed per (doc, span); duplicated spans
    concentrate mass, unique spans combine away to count 1 and are
    dropped by the HAVING before the top-k. A suffix-array pass finds
    variable-length repeats but is not expressible as a distributed
    plan; fixed-span detection composes with q91's decontamination
    shingler and shares its scan."""
    from pyspark.sql import Window

    sh = shingle_rows(table(spark, sf_dir, "documents"), n=_PASSAGE_N)
    dup = (
        sh.groupBy("s")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    w = Window.orderBy(F.desc("n_docs"), F.asc("s"))
    return (
        dup.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select(
            F.col("s").alias("span"),
            F.col("n_docs").cast("long").alias("n_docs"),
            "first_doc",
            "last_doc",
        )
        .orderBy(F.desc("n_docs"), "span")
    )


# ---------------------------------------------------------------------------
# q133 — containment-based decontamination
# ---------------------------------------------------------------------------

_CONT_N = 5  # shingle length for containment
_CONT_T = 0.3  # flag training docs covering >= this fraction of an eval doc


@_q(
    "q133_containment_decontam",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_distinct(
        [array_to_string(ts[i : i + {_CONT_N - 1}], ' ')
         for i in range(1, len(ts) - {_CONT_N - 2})])) AS s
      FROM toks WHERE len(ts) >= {_CONT_N}
    ), ev AS (SELECT doc_id AS eval_id, s FROM sh WHERE doc_id % 50 = 0),
       evn AS (SELECT eval_id, count(*) AS n_ev FROM ev GROUP BY eval_id),
       tr AS (SELECT doc_id, s FROM sh WHERE doc_id % 50 <> 0),
       hits AS (
         SELECT tr.doc_id, ev.eval_id, count(*) AS n_shared
         FROM tr JOIN ev ON tr.s = ev.s GROUP BY tr.doc_id, ev.eval_id
       )
    SELECT h.doc_id, h.eval_id,
           CAST(h.n_shared AS BIGINT) AS n_shared,
           CAST(e.n_ev AS BIGINT) AS n_eval_shingles,
           ROUND(h.n_shared * 1.0 / e.n_ev, 6) AS containment
    FROM hits h JOIN evn e USING (eval_id)
    WHERE h.n_shared * 1.0 / e.n_ev >= {_CONT_T}
    ORDER BY doc_id, eval_id
    """,
)
def q133_containment_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-based decontamination — the graded form of q91's
    binary n-gram leak check (the public Bag-of-Words-containment /
    "contaminated if a large fraction of the eval example appears"
    criterion used by LLM training-set audits): for each (train, eval)
    document pair, the fraction of the EVAL doc's distinct
    {_CONT_N}-gram shingles also present in the training doc. Pairs at
    containment >= {_CONT_T} are flagged — this catches paraphrased or
    partially-copied eval items that share many short spans but no
    single exact {{8}}-gram (q91's blind spot), at the cost of a
    shorter, more collision-prone shingle.

    Scale shape: identical to q91 — the eval side is always tiny next
    to the corpus, so its shingles BROADCAST; the per-pair group keys
    are (train_doc, eval_doc) hits only (pairs sharing nothing are
    never materialized); the containment denominator joins back from a
    broadcast-sized per-eval-doc count. The threshold compares the
    same integer ratio both engines compute, so there is no float
    boundary to flake on."""
    sh = shingle_rows(table(spark, sf_dir, "documents"), n=_CONT_N)
    is_eval = F.col("doc_id") % 50 == 0
    ev = sh.filter(is_eval).select(
        F.col("doc_id").alias("eval_id"), F.col("s").alias("es")
    )
    evn = ev.groupBy("eval_id").agg(F.count(F.lit(1)).alias("n_ev"))
    tr = sh.filter(~is_eval)
    hits = (
        tr.join(F.broadcast(ev), tr.s == ev.es)
        .groupBy("doc_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        hits.join(F.broadcast(evn), "eval_id")
        .filter(F.col("n_shared") / F.col("n_ev") >= _CONT_T)
        .select(
            "doc_id",
            "eval_id",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.col("n_ev").cast("long").alias("n_eval_shingles"),
            F.round(F.col("n_shared") / F.col("n_ev"), 6).alias("containment"),
        )
        .orderBy("doc_id", "eval_id")
    )


# ---------------------------------------------------------------------------
# q135 — prefix-filtered exact Jaccard join (scalable EXACT set-similarity)
# ---------------------------------------------------------------------------

_PF_TAU = 0.8


@_q("q135_prefix_filter_jaccard", _JACCARD_ORACLE)
def q135_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard >= 0.8 pairs via PREFIX FILTERING (the
    ssjoin/ppjoin family, Chaudhuri et al. ICDE'06 / Xiao et al.
    WWW'08) — the exact set-similarity join that scales where q39b's
    inverted-index join does not, and the exact alternative to q39's
    probabilistic MinHash-LSH.

    The filter: order every document's shingles by GLOBAL document
    frequency ascending (rarest first, shingle string tie-break). A
    pair with Jaccard >= tau over sets A, B must share at least
    ceil(tau*|A|) elements, so A and B must collide within their first
    |X| - ceil(tau*|X|) + 1 shingles — candidates are generated ONLY
    by joining those short prefixes (at tau=0.8, ~20% of each set),
    plus the length filter |B| >= ceil(tau*|A|) (size-ratio bound).
    Against q39b this cuts candidate-generation join traffic ~5x and —
    because frequency-ascending ordering puts the RAREST shingles in
    the prefix — avoids the high-frequency-token hot keys that skew
    the naive join. Verification then counts full-set intersections
    for the (few) surviving candidate pairs only.

    Scale shape: df ranking is one agg + a broadcast-joined rank; the
    prefix join shuffles ~20% of the shingle rows on rare (low-skew)
    keys; verification is a semi-join-bounded count. Result set is
    IDENTICAL to q39b (same oracle) — exactness is the theorem, not a
    recall target."""
    from pyspark.sql import Window

    ex = shingle_rows(table(spark, sf_dir, "documents"))
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    dfreq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    wdoc = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("s"))
    ranked = (
        ex.join(dfreq, "s")
        .withColumn("pos", F.row_number().over(wdoc))
        .join(sizes, "doc_id")
    )
    # prefix length: sz - ceil(tau*sz) + 1
    prefix = ranked.filter(
        F.col("pos") <= F.col("sz") - F.ceil(F.lit(_PF_TAU) * F.col("sz")) + 1
    ).select("doc_id", "s", "sz", "pos")
    # ppjoin positional filter (Xiao et al. WWW'08 §3.2): a shared
    # prefix gram at positions (pa, pb) witnesses at most
    # 1 + min(sz_a-pa, sz_b-pb) overlap; pairs that cannot reach the
    # tau overlap requirement ceil(tau/(1+tau)*(sz_a+sz_b)) are pruned
    # before verification (3.4x candidate cut at sf0.1). OR-over-grams
    # via the distinct — only provably-sub-tau pairs are dropped, so
    # the result set is still exactly the oracle's.
    _pf_alpha = F.ceil(
        F.lit(_PF_TAU / (1 + _PF_TAU)) * (F.col("a.sz") + F.col("b.sz"))
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: |B| >= ceil(tau*|A|) and |A| >= ceil(tau*|B|)
            & (F.col("b.sz") >= F.ceil(F.lit(_PF_TAU) * F.col("a.sz")))
            & (F.col("a.sz") >= F.ceil(F.lit(_PF_TAU) * F.col("b.sz"))),
        )
        .filter(
            (
                1
                + F.least(
                    F.col("a.sz") - F.col("a.pos"),
                    F.col("b.sz") - F.col("b.pos"),
                )
            )
            >= _pf_alpha
        )
        .select(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .distinct()
    )
    # verify candidates only: count the full-set intersection per pair
    inter = (
        cand.join(ex.alias("ea"), F.col("d1") == F.col("ea.doc_id"))
        .join(
            ex.alias("eb"),
            (F.col("d2") == F.col("eb.doc_id"))
            & (F.col("ea.s") == F.col("eb.s")),
        )
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = F.col("i") / (F.col("s1.sz") + F.col("s2.sz") - F.col("i"))
    return (
        inter.join(sizes.alias("s1"), F.col("d1") == F.col("s1.doc_id"))
        .join(sizes.alias("s2"), F.col("d2") == F.col("s2.doc_id"))
        .filter(jac >= _PF_TAU)
        .select("d1", "d2", F.round(jac, 6).alias("jac"))
        .orderBy("d1", "d2")
    )


# ---------------------------------------------------------------------------
# q174 — sorted-neighborhood near-dup (the third blocking family)
# ---------------------------------------------------------------------------

_SN_WINDOW = 4  # each record compares to the next w-1 in sort order
_SN_PREFIX = 32
_SN_THRESHOLD = 0.5


def _sn_oracle() -> str:
    return f"""
    WITH r AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY substr(text, 1, {_SN_PREFIX}), doc_id)
               AS rn
      FROM documents
    ),
    cand AS (
      SELECT least(a.doc_id, b.doc_id) AS d1,
             greatest(a.doc_id, b.doc_id) AS d2
      FROM r a JOIN r b ON b.rn BETWEEN a.rn + 1 AND a.rn + {_SN_WINDOW - 1}
    ),
    tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    sh AS (SELECT doc_id, {{shingle}} AS shingles FROM tok
           WHERE len(ts) >= 3),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
    inter AS (
      SELECT c.d1, c.d2, count(*) AS i
      FROM cand c
      JOIN ex a ON a.doc_id = c.d1
      JOIN ex b ON b.doc_id = c.d2 AND b.s = a.s
      GROUP BY c.d1, c.d2
    )
    SELECT i.d1, i.d2,
           round(i.i * 1.0 / (s1.sz + s2.sz - i.i), 6) AS jac
    FROM inter i
    JOIN sizes s1 ON s1.doc_id = i.d1
    JOIN sizes s2 ON s2.doc_id = i.d2
    WHERE i.i * 1.0 / (s1.sz + s2.sz - i.i) >= {_SN_THRESHOLD}
    ORDER BY d1, d2
    """.format(shingle=_SHINGLE_SQL)


@_q("q174_sorted_neighborhood", _sn_oracle())
def q174_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup (Hernandez-Stolfo): sort by a
    cheap blocking key (the text's 32-char prefix), compare each record
    only to its w-1 successors in sort order, then verify candidates
    with exact shingle Jaccard. The third blocking family next to
    hash-bucket LSH (q39) and bit-signature SimHash (q39c): it catches
    the prefix-stable edit near-dups those can miss at low shingle
    overlap, at a guaranteed n*(w-1) candidate count.

    Shape: rank assignment is DISTRIBUTED (VERDICT r05 wrong-item #6)
    — ``repartitionByRange`` on the sort key gives contiguous
    ascending key ranges per partition, each partition ranks its own
    rows (a per-range sort, never one task), and the global rank is
    the broadcast cumulative per-range row count plus the local rank.
    RangePartitioner's bound sampling uses deterministic per-partition
    seeds and both uses of the ranged frame share one reused exchange,
    so ranks are stable. Candidate generation is an equi-join on rank
    (b.rn = a.rn + offset, offsets exploded from a
    {_SN_WINDOW - 1}-element literal array) so neighbors across range-
    partition boundaries are found by the join, not by fragile
    partition-edge bookkeeping. Verification joins the candidate list
    (n*w rows) into the shingle inverted index — never all pairs.
    """
    docs = table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    nparts = max(spark.sparkContext.defaultParallelism, 2)
    ranged = (
        docs.select("doc_id", F.substring("text", 1, _SN_PREFIX).alias("k"))
        .repartitionByRange(nparts, "k", "doc_id")
        .withColumn("pid", F.spark_partition_id())
    )
    counts = ranged.groupBy("pid").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offs_by_pid = counts.withColumn(
        "off", F.coalesce(F.sum("c").over(wcum), F.lit(0))
    ).select("pid", "off")
    wp = Window.partitionBy("pid").orderBy("k", "doc_id")
    r = (
        ranged.join(F.broadcast(offs_by_pid), "pid")
        .withColumn("rn", (F.col("off") + F.row_number().over(wp)).cast("int"))
        .select("doc_id", "rn")
    )
    offs = F.explode(
        F.array(*[F.lit(o) for o in range(1, _SN_WINDOW)])
    ).alias("o")
    a = r.select(F.col("doc_id").alias("da"), "rn", offs).withColumn(
        "rn2", F.col("rn") + F.col("o")
    )
    cand = (
        a.join(
            r.select(F.col("doc_id").alias("db"), F.col("rn").alias("rn2")),
            "rn2",
        )
        .select(
            F.least("da", "db").alias("d1"),
            F.greatest("da", "db").alias("d2"),
        )
    )
    # The shingle explode feeds both verification legs AND the size
    # table; column-pruning differences defeat exchange reuse (the q39
    # pattern — 16 scans in the un-cut plan), so one lazy checkpoint
    # computes tokenize+distinct once. The recompute it removes is
    # O(corpus x shingles); measured exec 1.63 -> 1.38 s at sf0.1.
    # (Checkpointing the rank frame r as well was A/B'd and rejected:
    # its extra planning pass costs more locally than the duplicated
    # rank pipeline, which is a cheap narrow sort.)
    ex = shingle_rows(docs).localCheckpoint(eager=False)
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (
        cand.join(ex.alias("a"), F.col("d1") == F.col("a.doc_id"))
        .join(
            ex.alias("b"),
            (F.col("d2") == F.col("b.doc_id")) & (F.col("a.s") == F.col("b.s")),
        )
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("i"))
    )
    jac = F.col("i") / (F.col("s1.sz") + F.col("s2.sz") - F.col("i"))
    return (
        inter.join(sizes.alias("s1"), F.col("d1") == F.col("s1.doc_id"))
        .join(sizes.alias("s2"), F.col("d2") == F.col("s2.doc_id"))
        .filter(jac >= _SN_THRESHOLD)
        .select("d1", "d2", F.round(jac, 6).alias("jac"))
        .orderBy("d1", "d2")
    )


# ---------------------------------------------------------------------------
# q220 — mutual nearest-neighbor pairs (reciprocal best match)
# ---------------------------------------------------------------------------


def _mutual_nn_oracle() -> str:
    return f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    sh AS (SELECT doc_id, {_SHINGLE_SQL} AS shingles FROM tok WHERE len(ts) >= 3),
    ex AS (SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh),
    sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    und AS (SELECT d1 AS a, d2 AS b, i FROM inter
            UNION ALL SELECT d2, d1, i FROM inter),
    jacs AS (
      SELECT u.a, u.b,
             round(u.i * 1.0 / (s1.sz + s2.sz - u.i), 6) AS jac
      FROM und u
      JOIN sizes s1 ON s1.doc_id = u.a
      JOIN sizes s2 ON s2.doc_id = u.b
    ),
    best AS (
      SELECT a, b, jac,
             row_number() OVER (PARTITION BY a ORDER BY jac DESC, b ASC) AS rn
      FROM jacs
    )
    SELECT x.a AS d1, x.b AS d2, x.jac AS jac
    FROM best x JOIN best y ON y.a = x.b AND y.b = x.a
    WHERE x.rn = 1 AND y.rn = 1 AND x.a < x.b
    ORDER BY d1, d2
    """


@_q("q220_mutual_nn_pairs", _mutual_nn_oracle())
def q220_mutual_nn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal best match: pairs of documents that are each other's
    single nearest neighbor by exact 3-gram Jaccard — the
    entity-resolution / record-linkage primitive (mutual-NN is the
    standard high-precision pairing rule before any threshold tuning,
    and the building block of hubness-robust matching).

    Same inverted-index candidate generation as q39b (pairs must share
    a shingle; disjoint docs never materialize), then one per-doc argmax
    window over the candidate edges (round-6 Jaccard, neighbor-id
    tie-break — cross-engine stable) and a self-join of the two argmax
    directions. At scale the candidate edge set is the bottleneck and
    it is exactly q39b's — everything after is edge-sized.
    """
    ex = shingle_rows(table(spark, sf_dir, "documents"))
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("i"))
    )
    und = inter.select(
        F.col("d1").alias("a"), F.col("d2").alias("b"), "i"
    ).unionByName(
        inter.select(F.col("d2").alias("a"), F.col("d1").alias("b"), "i")
    )
    jacs = (
        und.join(sizes.alias("s1"), F.col("a") == F.col("s1.doc_id"))
        .join(sizes.alias("s2"), F.col("b") == F.col("s2.doc_id"))
        .select(
            "a",
            "b",
            F.round(
                F.col("i") / (F.col("s1.sz") + F.col("s2.sz") - F.col("i")), 6
            ).alias("jac"),
        )
    )
    w = Window.partitionBy("a").orderBy(F.desc("jac"), F.asc("b"))
    best = (
        jacs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("a", "b", "jac")
    )
    x, y = best.alias("x"), best.alias("y")
    return (
        x.join(
            y,
            (F.col("y.a") == F.col("x.b")) & (F.col("y.b") == F.col("x.a")),
        )
        .filter(F.col("x.a") < F.col("x.b"))
        .select(
            F.col("x.a").alias("d1"),
            F.col("x.b").alias("d2"),
            F.col("x.jac").alias("jac"),
        )
        .orderBy("d1", "d2")
    )


# ---------------------------------------------------------------------------
# q241 — IDF-weighted Jaccard near-dup pairs
# ---------------------------------------------------------------------------

_WJ_THRESHOLD = 0.75


def _weighted_jaccard_oracle() -> str:
    return f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    sh AS (SELECT doc_id, {_SHINGLE_SQL} AS shingles FROM tok WHERE len(ts) >= 3),
    ex AS (SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh),
    nd AS (SELECT count(DISTINCT doc_id) AS n FROM ex),
    idf AS (
      SELECT s, CAST(round(ln(CAST((SELECT n FROM nd) AS DOUBLE) / count(*)) + 1.0, 6)
                     AS DECIMAL(18,6)) AS w
      FROM ex GROUP BY s
    ),
    wex AS (SELECT e.doc_id, e.s, idf.w FROM ex e JOIN idf ON idf.s = e.s),
    sizes AS (SELECT doc_id, sum(w) AS tw FROM wex GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, sum(a.w) AS iw
      FROM wex a JOIN wex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d1, d2,
           round(CAST(iw AS DOUBLE) / CAST(s1.tw + s2.tw - iw AS DOUBLE), 6)
             AS wjac
    FROM inter
    JOIN sizes s1 ON s1.doc_id = d1
    JOIN sizes s2 ON s2.doc_id = d2
    WHERE CAST(iw AS DOUBLE) / CAST(s1.tw + s2.tw - iw AS DOUBLE) >= {_WJ_THRESHOLD}
    ORDER BY d1, d2
    """


@_q("q241_weighted_jaccard_pairs", _weighted_jaccard_oracle())
def q241_weighted_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-weighted Jaccard near-dup pairs: shared BOILERPLATE shingles
    (high document frequency, low IDF) contribute little; shared RARE
    content dominates — the similarity plain Jaccard (q39b) cannot
    express, and the reason production dedup weighs shingles before
    thresholding (template-heavy corpora look alike under uniform
    weights).

    Same inverted-index candidate generation (pairs must share a
    shingle); intersection WEIGHT accumulates in the same shingle-keyed
    join, and per-doc total weights come from the identical weighted
    index — one extra |shingles|-sized IDF aggregate over q39b's plan.
    IDF values are quantized to DECIMAL(18,6) before any sum, so both
    engines sum identical quantities exactly; ln() only ever feeds the
    quantizer (NOTES round rules: the one transcendental is rounded at
    the source, never accumulated raw).
    """
    ex = shingle_rows(table(spark, sf_dir, "documents"))
    nd = ex.select("doc_id").distinct().count()
    idf = ex.groupBy("s").agg(
        F.round(F.log(F.lit(float(nd)) / F.count(F.lit(1))) + 1.0, 6)
        .cast("decimal(18,6)")
        .alias("w")
    )
    wex = ex.join(idf, "s")
    sizes = wex.groupBy("doc_id").agg(F.sum("w").alias("tw"))
    inter = (
        wex.alias("a")
        .join(
            wex.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.sum(F.col("a.w")).alias("iw"))
    )
    wjac = F.col("iw").cast("double") / (
        F.col("s1.tw") + F.col("s2.tw") - F.col("iw")
    ).cast("double")
    return (
        inter.join(sizes.alias("s1"), F.col("d1") == F.col("s1.doc_id"))
        .join(sizes.alias("s2"), F.col("d2") == F.col("s2.doc_id"))
        .filter(wjac >= _WJ_THRESHOLD)
        .select("d1", "d2", F.round(wjac, 6).alias("wjac"))
        .orderBy("d1", "d2")
    )


# ---------------------------------------------------------------------------
# q244 — LSH s-curve measurement (empirical vs theoretical collision rate)
# ---------------------------------------------------------------------------

_SC_BANDS = 4
_SC_ROWS_PER_BAND = 4  # 16 md5-derived min-hashes; one md5 yields 4 rows


def _sc_hash_duck(g: int, i: int) -> str:
    return (
        f"CAST(('0x' || substring(md5(s || ':mh{g}'), {8 * i + 1}, 8)) AS BIGINT)"
    )


def _scurve_oracle() -> str:
    nmh = _SC_BANDS * _SC_ROWS_PER_BAND
    sig_aggs = ", ".join(
        f"min({_sc_hash_duck(k // 4, k % 4)}) AS mh{k}" for k in range(nmh)
    )
    band_hits = " OR ".join(
        "("
        + " AND ".join(
            f"sa.mh{b * _SC_ROWS_PER_BAND + r} = sb.mh{b * _SC_ROWS_PER_BAND + r}"
            for r in range(_SC_ROWS_PER_BAND)
        )
        + ")"
        for b in range(_SC_BANDS)
    )
    return f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    sh AS (SELECT doc_id, {_SHINGLE_SQL} AS shingles FROM tok WHERE len(ts) >= 3),
    ex AS (SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh),
    sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
    sig AS (SELECT doc_id, {sig_aggs} FROM ex GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), jac AS (
      SELECT d1, d2, i * 1.0 / (s1.sz + s2.sz - i) AS j
      FROM inter JOIN sizes s1 ON s1.doc_id = d1
                 JOIN sizes s2 ON s2.doc_id = d2
    ), coll AS (
      SELECT jac.d1, jac.d2, jac.j,
             CASE WHEN {band_hits} THEN 1 ELSE 0 END AS hit
      FROM jac JOIN sig sa ON sa.doc_id = jac.d1
               JOIN sig sb ON sb.doc_id = jac.d2
    ), dec AS (
      SELECT least(CAST(floor(j * 10) AS BIGINT), 9) AS decile, hit FROM coll
    ), th AS (
      SELECT decile, (decile + 0.5) / 10 AS m FROM (
        SELECT DISTINCT decile FROM dec)
    )
    SELECT d.decile,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(d.hit) AS BIGINT) AS n_collide,
           CAST(sum(d.hit) AS DOUBLE) / count(*) AS emp_rate,
           1 - (1 - m*m*m*m) * (1 - m*m*m*m) * (1 - m*m*m*m) * (1 - m*m*m*m)
             AS theo_rate
    FROM dec d JOIN th ON th.decile = d.decile
    GROUP BY d.decile, th.m ORDER BY d.decile
    """


@_q("q244_lsh_scurve", _scurve_oracle())
def q244_lsh_scurve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measure the LSH s-curve on the actual corpus instead of trusting
    the formula: for every candidate pair (inverted index — pairs
    sharing a shingle), bucket by exact Jaccard decile and compare the
    EMPIRICAL band-collision rate of a {_SC_BANDS}x{_SC_ROWS_PER_BAND}
    MinHash index against the theoretical 1-(1-s^r)^b at the decile
    midpoint — the parameter-tuning harness behind q39's production
    16x4 choice ("measure, don't guess" applied to the index's own
    design).

    The study index uses md5-slice min-hashes (ONE md5 per shingle
    yields all 4 rows of a band group), so unlike the xxhash production
    signatures the whole measurement is engine-neutral and fully
    value-oracled: empirical rates are exact BIGINT ratios and the
    theory column is pure repeated multiplication — no pow(), no ulp
    exposure. Collision checks are per-pair column equalities on the
    broadcast-joinable signature table.
    """
    nmh = _SC_BANDS * _SC_ROWS_PER_BAND
    ex = shingle_rows(table(spark, sf_dir, "documents"))

    def h(k: int):
        g, i = k // 4, k % 4
        return F.conv(
            F.substring(F.md5(F.concat(F.col("s"), F.lit(f":mh{g}"))), 8 * i + 1, 8),
            16,
            10,
        ).cast("long")

    sig = ex.groupBy("doc_id").agg(
        *[F.min(h(k)).alias(f"mh{k}") for k in range(nmh)]
    )
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("i"))
    )
    jac = (
        inter.join(sizes.alias("s1"), F.col("d1") == F.col("s1.doc_id"))
        .join(sizes.alias("s2"), F.col("d2") == F.col("s2.doc_id"))
        .select(
            "d1",
            "d2",
            (F.col("i") / (F.col("s1.sz") + F.col("s2.sz") - F.col("i"))).alias("j"),
        )
    )
    sa = sig.select(
        F.col("doc_id").alias("d1"), *[F.col(f"mh{k}").alias(f"a{k}") for k in range(nmh)]
    )
    sb = sig.select(
        F.col("doc_id").alias("d2"), *[F.col(f"mh{k}").alias(f"b{k}") for k in range(nmh)]
    )
    band_hit = None
    for b in range(_SC_BANDS):
        cond = None
        for r in range(_SC_ROWS_PER_BAND):
            k = b * _SC_ROWS_PER_BAND + r
            eq = F.col(f"a{k}") == F.col(f"b{k}")
            cond = eq if cond is None else (cond & eq)
        band_hit = cond if band_hit is None else (band_hit | cond)
    coll = (
        jac.join(sa, "d1")
        .join(sb, "d2")
        .select(
            F.least(F.floor(F.col("j") * 10).cast("long"), F.lit(9)).alias(
                "decile"
            ),
            F.when(band_hit, 1).otherwise(0).alias("hit"),
        )
    )
    m = (F.col("decile") + 0.5) / 10
    s4 = m * m * m * m
    theo = 1 - (1 - s4) * (1 - s4) * (1 - s4) * (1 - s4)
    return (
        coll.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("hit").cast("long").alias("n_collide"),
            (F.sum("hit").cast("double") / F.count(F.lit(1))).alias("emp_rate"),
        )
        .select(
            "decile", F.col("n_pairs").cast("long"), "n_collide", "emp_rate",
            theo.alias("theo_rate"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# q267 — Fellegi–Sunter probabilistic record linkage (blocked)
# ---------------------------------------------------------------------------

#: Declared conditional-agreement probability P(field agrees | pair is a
#: match) — the standard untrained prior; u-probabilities are estimated
#: from the data (random-pair agreement odds), which is where all the
#: discriminative power comes from.
_FS_M = 0.9

#: Comparison-field expressions, written once in engine-neutral SQL so
#: the Spark plan and the DuckDB oracle derive bit-identical values.
#: kbal: thousand-dollar balance bucket; centd: cents digit (half-up on
#: the 2-decimal double, same IEEE op sequence both engines); idd: the
#: entity's numeric id mod 7 (a name-derived token field).
_FS_FIELDS = {
    "kbal": "CAST(floor({bal} / 1000.0) AS BIGINT)",
    "centd": "CAST(floor(abs({bal}) * 100 + 0.5) AS BIGINT) % 10",
    "idd": "CAST(regexp_extract({name}, '([0-9]+)', 1) AS BIGINT) % 7",
}


def _fs_weights(spark: SparkSession, sf_dir: str) -> dict[str, tuple[float, float]]:
    """Frequency-estimated Fellegi–Sunter weights.

    u_k = P(field k agrees | random cross pair) = sum_v pA(v) * pB(v),
    from exact per-value marginal counts. Both sides' three marginals
    come from ONE stacked scan each (explode of (field, value) structs →
    a single tiny groupBy) — at 100 TB this is one pass over each input,
    shuffling only (field, value, count) rows whose cardinality is the
    sum of the three value-domain sizes (≤ ~29 here), then a bounded
    driver-side product-sum: the same bounded-by-construction collect
    class as the engine's k×d centroid pulls. Weights are quantized
    half-up to 6 decimals with the identical floor(x*1e6 + 0.5)/1e6 op
    sequence the oracle uses (NOTES.md: Python round() is banker's —
    never use it for driver-facing values)."""
    import math

    def marginals(df: DataFrame, bal: str, name: str) -> tuple[dict, int]:
        fields = F.array(
            *[
                F.struct(
                    F.lit(k).alias("field"),
                    F.expr(e.format(bal=bal, name=name)).alias("value"),
                )
                for k, e in _FS_FIELDS.items()
            ]
        )
        rows = (
            df.select(F.explode(fields).alias("fv"))
            .groupBy("fv.field", "fv.value")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        )
        counts: dict[str, dict[int, int]] = {k: {} for k in _FS_FIELDS}
        for r in rows:
            counts[r["field"]][r["value"]] = r["cnt"]
        n = sum(counts["kbal"].values())
        return counts, n

    ca, na = marginals(table(spark, sf_dir, "customer"), "c_acctbal", "c_name")
    cb, nb = marginals(table(spark, sf_dir, "supplier"), "s_acctbal", "s_name")
    weights = {}
    for k in _FS_FIELDS:
        # exact integer product-sum, one double division — the same
        # arithmetic (and therefore the same double) as the oracle's
        # SUM(cA*cB) / (nA*nB)
        u = sum(ca[k].get(v, 0) * cb[k][v] for v in cb[k]) / (na * nb)
        wa = math.floor(math.log(_FS_M / u) * 1e6 + 0.5) / 1e6
        wd = math.floor(math.log((1 - _FS_M) / (1 - u)) * 1e6 + 0.5) / 1e6
        weights[k] = (wa, wd)
    return weights


def _fs_oracle() -> str:
    fa = {k: e.format(bal="c_acctbal", name="c_name") for k, e in _FS_FIELDS.items()}
    fb = {k: e.format(bal="s_acctbal", name="s_name") for k, e in _FS_FIELDS.items()}
    margins = []
    for k in _FS_FIELDS:
        margins.append(
            f"ma_{k} AS (SELECT {fa[k]} AS v, count(*) AS c FROM customer GROUP BY 1), "
            f"mb_{k} AS (SELECT {fb[k]} AS v, count(*) AS c FROM supplier GROUP BY 1), "
            f"u_{k} AS (SELECT SUM(a.c * b.c) / "
            f"((SELECT count(*) FROM customer) * (SELECT count(*) FROM supplier)) AS u "
            f"FROM ma_{k} a JOIN mb_{k} b ON a.v = b.v), "
            f"w_{k} AS (SELECT "
            f"floor(ln({_FS_M} / u) * 1e6 + 0.5) / 1e6 AS wa, "
            f"floor(ln({1 - _FS_M} / (1 - u)) * 1e6 + 0.5) / 1e6 AS wd FROM u_{k})"
        )
    per_field = ", ".join(
        f"CASE WHEN {fa[k]} = {fb[k]} THEN 'A' ELSE 'D' END AS p_{k}, "
        f"CAST(CASE WHEN {fa[k]} = {fb[k]} THEN w_{k}.wa ELSE w_{k}.wd END "
        f"AS DECIMAL(20,6)) AS w_{k}"
        for k in _FS_FIELDS
    )
    return (
        "WITH " + ", ".join(margins) + ", pairs AS ("
        f"SELECT c_custkey, s_suppkey, {per_field} "
        "FROM customer JOIN supplier ON c_nationkey = s_nationkey, "
        + ", ".join(f"w_{k}" for k in _FS_FIELDS)
        + ") SELECT c_custkey, s_suppkey, "
        "p_kbal || p_centd || p_idd AS pattern, "
        "CAST(w_kbal + w_centd + w_idd AS DOUBLE) AS score "
        "FROM pairs ORDER BY score DESC, c_custkey, s_suppkey LIMIT 20"
    )


@_q("q267_record_linkage", _fs_oracle())
def q267_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked Fellegi–Sunter probabilistic record linkage, the classic
    entity-resolution scorer (Fellegi & Sunter 1969) — a different
    family from the token-similarity dedup suite (q38/q39/q98): field-
    wise agreement evidence with data-estimated odds, not string
    distance. Links customers to suppliers within nation blocks.

    m = P(agree | match) is the declared 0.9 prior; u = P(agree |
    random pair) is estimated from exact per-value marginal frequencies
    (one stacked single-scan groupBy per side, bounded collect — see
    ``_fs_weights``). Agreement weight ln(m/u), disagreement weight
    ln((1-m)/(1-u)), both quantized half-up at 6 decimals; a pair's
    score is the exact DECIMAL sum over fields, so ranking is
    cross-engine deterministic.

    Scale shape: the candidate generator is a blocked equi-join on
    nationkey (never all-pairs — identical discipline to the LSH
    banding in q39); scoring is literal-weight codegen arithmetic with
    zero per-row Python; the final top-20 is a bounded TakeOrdered, not
    a global sort. At 100 TB: one scan per side for marginals, one
    blocked join, no driver state beyond ~29 frequency rows. Per-pair
    cost stays in long-integer micro-units (weights are 1e-6-quantized,
    so each is an exact BIGINT of micros; the decimal sum and the long
    sum denote the same rational, and both engines' final to-double
    conversion is correctly rounded → identical doubles). The stream
    side is ``spread()``: the blocked join fans each probe row out
    ~|suppliers per nation| times, so a single-row-group scan would
    serialize the whole expansion on one task (measured 33 s → 3.5 s at
    sf1, 32 cores); at real multi-file scale the guard makes it a
    no-op."""
    w = _fs_weights(spark, sf_dir)
    cust = spread(table(spark, sf_dir, "customer"))
    supp = table(spark, sf_dir, "supplier")
    for k, e in _FS_FIELDS.items():
        cust = cust.withColumn(f"a_{k}", F.expr(e.format(bal="c_acctbal", name="c_name")))
        supp = supp.withColumn(f"b_{k}", F.expr(e.format(bal="s_acctbal", name="s_name")))
    pairs = cust.join(
        F.broadcast(supp), cust.c_nationkey == supp.s_nationkey
    )
    pat = F.concat(
        *[
            F.when(F.col(f"a_{k}") == F.col(f"b_{k}"), F.lit("A")).otherwise(F.lit("D"))
            for k in _FS_FIELDS
        ]
    )
    score = None
    for k in _FS_FIELDS:
        wk = (
            F.when(
                F.col(f"a_{k}") == F.col(f"b_{k}"),
                F.lit(int(round(w[k][0] * 1e6))),
            )
            .otherwise(F.lit(int(round(w[k][1] * 1e6))))
            .cast("long")
        )
        score = wk if score is None else (score + wk)
    return (
        pairs.select(
            "c_custkey",
            "s_suppkey",
            pat.alias("pattern"),
            (score / F.lit(1e6)).alias("score"),
        )
        .orderBy(F.desc("score"), "c_custkey", "s_suppkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q307 — winnowing fingerprints (Schleimer/Wilkerson/Aiken, MOSS)
# ---------------------------------------------------------------------------

_WN_W = 4  # winnowing window (consecutive shingle hashes)


def _winnow_oracle() -> str:
    h = _h60_duck("s")
    return f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    sh0 AS (
      SELECT doc_id,
             [{{'pos': i - 1, 's': ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]}}
              for i in range(1, len(ts) - 1)] AS gs
      FROM tok WHERE len(ts) >= 3
    ),
    sh1 AS (SELECT doc_id, unnest(gs) AS g FROM sh0),
    sh AS (SELECT doc_id, g.pos AS pos, g.s AS s FROM sh1),
    r AS (SELECT doc_id, pos, CAST({h} AS BIGINT) AS h FROM sh),
    mx AS (SELECT doc_id, max(pos) AS mp FROM r GROUP BY doc_id),
    cand AS (
      SELECT a.doc_id, a.pos AS j, b.h, b.pos
      FROM r a
      JOIN r b ON b.doc_id = a.doc_id
              AND b.pos BETWEEN a.pos AND a.pos + {_WN_W - 1}
      JOIN mx m ON m.doc_id = a.doc_id
      WHERE a.pos <= m.mp - {_WN_W - 1}
    ),
    pick AS (SELECT doc_id, j, min(h) AS mh FROM cand GROUP BY doc_id, j),
    sel AS (
      SELECT c.doc_id, c.j, p.mh AS h, max(c.pos) AS pos
      FROM cand c
      JOIN pick p ON p.doc_id = c.doc_id AND p.j = c.j AND c.h = p.mh
      GROUP BY c.doc_id, c.j, p.mh
    ),
    fp AS (SELECT DISTINCT doc_id, h, pos FROM sel),
    ns AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
           FROM r GROUP BY doc_id),
    nf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp
           FROM fp GROUP BY doc_id)
    SELECT ns.doc_id, ns.n_shingles,
           CAST(coalesce(nf.n_fp, 0) AS BIGINT) AS n_fingerprints,
           round(CAST(coalesce(nf.n_fp, 0) AS DOUBLE)
                 / (ns.n_shingles - {_WN_W - 1}), 6) AS density
    FROM ns LEFT JOIN nf USING (doc_id)
    WHERE ns.n_shingles >= {_WN_W}
    ORDER BY ns.doc_id
    """


@_q("q307_winnowing_fingerprints", _winnow_oracle())
def q307_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm): hash every 3-token shingle, slide a
    w={_WN_W} window over consecutive hashes, and in each window keep
    the MINIMUM hash (rightmost occurrence on ties). The selected
    (hash, position) set is the document's fingerprint — the
    guarantee-backed sparse sampling (any shared substring of length
    >= w+k-1 tokens yields a shared fingerprint) that plain modular
    "0 mod p" sampling lacks. Emitted per doc: shingle count,
    fingerprint count, and selection density (theory: -> 2/(w+1)).

    Shape: positions come from one posexplode of the zipped shifted
    slices (shingle_rows' lambda-free idiom, order preserved); the
    sliding min is a rows-frame window PARTITIONED BY doc_id — per-doc
    state only, no corpus-wide sort; the rightmost-tie pick is
    min(struct(hash, -pos)) so a single frame computes value AND
    position. The 60-bit md5-slice hash is the engine-neutral _h60
    the SimHash family already certifies.
    """
    docs = table(spark, sf_dir, "documents")
    d = (
        docs.repartition(F.col("doc_id"))
        .select("doc_id", F.split("text", " ").alias("tk"))
        .withColumn("m", F.size("tk") - 2)
        .filter(F.col("m") >= 1)
    )
    zipped = F.arrays_zip(
        *[F.slice("tk", j + 1, F.col("m")).alias(f"w{j}") for j in range(3)]
    )
    sh = d.select("doc_id", F.posexplode(zipped).alias("pos", "g")).select(
        "doc_id",
        "pos",
        F.concat_ws(" ", *[F.col(f"g.w{j}") for j in range(3)]).alias("s"),
    )
    r = sh.select("doc_id", "pos", _h60_spark("s").alias("h"))
    wf = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, _WN_W - 1)
    )
    p = r.withColumn("cnt", F.count(F.lit(1)).over(wf)).withColumn(
        "sel",
        F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))).over(wf),
    )
    fp = (
        p.filter(F.col("cnt") == _WN_W)
        .select("doc_id", F.col("sel.h").alias("h"), (-F.col("sel.np")).alias("fpos"))
        .distinct()
    )
    ns = r.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    nf = fp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    return (
        ns.join(nf, "doc_id", "left")
        .filter(F.col("n_shingles") >= _WN_W)
        .select(
            "doc_id",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.coalesce(F.col("n_fp"), F.lit(0)).cast("long").alias("n_fingerprints"),
            F.round(
                F.coalesce(F.col("n_fp"), F.lit(0)).cast("double")
                / (F.col("n_shingles") - F.lit(_WN_W - 1)),
                6,
            ).alias("density"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q322 — maximal shared spans (variable-length cross-doc exact repeats)
# ---------------------------------------------------------------------------

_SPAN_K = 8  # anchor gram length (tokens) — matches q117's passage unit
_SPAN_DF_MAX = 50  # anchor document-frequency cap (skew bound, declared)
_SPAN_MIN = 12  # report only spans strictly longer than one anchor
_SPAN_OUT = 20


def _shared_spans_oracle() -> str:
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    g AS (
      SELECT doc_id, i AS pos, array_to_string(ts[i:i+{_SPAN_K - 1}], ' ') AS s
      FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - {_SPAN_K - 1})) AS i
            FROM toks WHERE len(ts) >= {_SPAN_K})
    ),
    anchors AS (
      SELECT s FROM (SELECT s, count(DISTINCT doc_id) AS df FROM g GROUP BY s)
      WHERE df BETWEEN 2 AND {_SPAN_DF_MAX}
    ),
    gg AS (SELECT g.* FROM g JOIN anchors USING (s)),
    hits AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, a.pos AS p1, b.pos AS p2,
             a.pos - b.pos AS diag
      FROM gg a JOIN gg b ON a.s = b.s AND a.doc_id < b.doc_id
    ),
    isl AS (
      SELECT d1, d2, diag, p1, p2,
             p1 - row_number() OVER (PARTITION BY d1, d2, diag ORDER BY p1) AS grp
      FROM hits
    ),
    spans AS (
      SELECT d1, d2, CAST(min(p1) AS BIGINT) AS start1,
             CAST(min(p2) AS BIGINT) AS start2,
             CAST(count(*) + {_SPAN_K - 1} AS BIGINT) AS span_tokens
      FROM isl GROUP BY d1, d2, diag, grp
    )
    SELECT d1, d2, start1, start2, span_tokens
    FROM (
      -- start2 completes the total order: the same block can repeat at
      -- two start2 offsets of one d2 with identical (span, d1, d2,
      -- start1), and a non-total order makes the rank-20 cutoff
      -- engine-dependent
      SELECT *, row_number() OVER (
        ORDER BY span_tokens DESC, d1, d2, start1, start2) AS rn
      FROM spans WHERE span_tokens >= {_SPAN_MIN}
    ) WHERE rn <= {_SPAN_OUT}
    ORDER BY span_tokens DESC, d1, d2, start1, start2
    """


@_q("q322_maximal_shared_spans", _shared_spans_oracle())
def q322_maximal_shared_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIABLE-LENGTH cross-document exact repeats — the distributed
    restatement of the suffix-array pass in the public exact-substring
    dedup recipe ("Deduplicating Training Data Makes Language Models
    Better"), which q117's docstring called inexpressible as a plan.
    It is expressible: anchor every {_SPAN_K}-token gram WITH its
    position, join same-gram positions across documents, and merge
    ADJACENT hits along each alignment DIAGONAL (p1 - p2 constant,
    consecutive p1) into maximal spans via the islands trick
    (p1 - row_number() is constant exactly on a consecutive run —
    positions are unique per (d1,d2,diag), so runs can't collide).
    A 93-token verbatim repeat shared by two docs comes out as ONE row
    of span_tokens=93, where q117 sees 86 independent 8-token spans.
    Emits the top-{_SPAN_OUT} spans >= {_SPAN_MIN} tokens. Maximality
    is with respect to anchors that PASS the df cap: a >{_SPAN_DF_MAX}-doc
    boilerplate gram inside a repeat truncates the span at that gram by
    design (the cap is the declared skew bound, not an approximation).

    Scale: the anchor join is bounded by the declared document-
    frequency cap df <= {_SPAN_DF_MAX} (boilerplate grams shared by
    hundreds of docs are navigational noise, not passages — same
    rare-anchor discipline as sorted-neighborhood q174); per gram the
    pair fan-out is <= df^2/2, and everything downstream (diagonal
    window, span agg) is keyed on (d1, d2, diag) — near-dup-pair
    scale, not corpus scale. The top-k is TakeOrderedAndProject."""
    return (
        _shared_spans(spark, sf_dir)
        .select("d1", "d2", "start1", "start2", "span_tokens")
        .orderBy(F.desc("span_tokens"), "d1", "d2", "start1", "start2")
        .limit(_SPAN_OUT)
    )


def _shared_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL maximal-shared-span relation (d1 < d2, span >= {_SPAN_MIN}
    tokens), staged ONCE per fixture (the _kn_model/neardup_pairs
    discipline): q322's top-k readout and q325's removal accounting both
    consume it, and the anchor self-join is the dominant cost — paying
    it per consumer is exactly what VERDICT r07 #3 flagged for the KN
    model. See q322's docstring for the diagonal islands merge."""
    import os

    from nfl_predictions_spark.state import atomic_stage, staged_path

    out = staged_path(sf_dir, "shared_spans", sources=("documents",))
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        atomic_stage(_shared_spans_frame(spark, sf_dir), out)
    return spark.read.parquet(out)


def _shared_spans_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-shot builder of the shared-span relation (see _shared_spans)."""
    docs = spread(table(spark, sf_dir, "documents"))
    d = (
        docs.select("doc_id", F.split("text", " ").alias("tk"))
        .withColumn("m", F.size("tk") - (_SPAN_K - 1))
        .filter(F.col("m") >= 1)
    )
    zipped = F.arrays_zip(
        *[F.slice("tk", j + 1, F.col("m")).alias(f"w{j}") for j in range(_SPAN_K)]
    )
    grams = d.select("doc_id", F.posexplode(zipped).alias("i", "g")).select(
        "doc_id",
        (F.col("i") + 1).alias("pos"),
        F.concat_ws(" ", *[F.col(f"g.w{j}") for j in range(_SPAN_K)]).alias("s"),
    )
    anchors = (
        grams.groupBy("s")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= _SPAN_DF_MAX))
        .select("s")
    )
    gg = grams.join(anchors, "s")
    a, b = gg.alias("a"), gg.alias("b")
    hits = (
        a.join(b, "s")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.pos").alias("p1"),
            F.col("b.pos").alias("p2"),
            (F.col("a.pos") - F.col("b.pos")).alias("diag"),
        )
    )
    w = Window.partitionBy("d1", "d2", "diag").orderBy("p1")
    spans = (
        hits.withColumn("grp", F.col("p1") - F.row_number().over(w))
        .groupBy("d1", "d2", "diag", "grp")
        .agg(
            F.min("p1").cast("long").alias("start1"),
            F.min("p2").cast("long").alias("start2"),
            (F.count(F.lit(1)) + (_SPAN_K - 1)).cast("long").alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= _SPAN_MIN)
    )
    return spans.select("d1", "d2", "start1", "start2", "span_tokens")


# ---------------------------------------------------------------------------
# q325 — exact-substring dedup removal accounting (keep-earliest)
# ---------------------------------------------------------------------------

_RM_OUT = 20


def _span_removal_oracle() -> str:
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    g AS (
      SELECT doc_id, i AS pos, array_to_string(ts[i:i+{_SPAN_K - 1}], ' ') AS s
      FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - {_SPAN_K - 1})) AS i
            FROM toks WHERE len(ts) >= {_SPAN_K})
    ),
    anchors AS (
      SELECT s FROM (SELECT s, count(DISTINCT doc_id) AS df FROM g GROUP BY s)
      WHERE df BETWEEN 2 AND {_SPAN_DF_MAX}
    ),
    gg AS (SELECT g.* FROM g JOIN anchors USING (s)),
    hits AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, a.pos AS p1, b.pos AS p2,
             a.pos - b.pos AS diag
      FROM gg a JOIN gg b ON a.s = b.s AND a.doc_id < b.doc_id
    ),
    isl AS (
      SELECT d1, d2, diag, p1, p2,
             p1 - row_number() OVER (PARTITION BY d1, d2, diag ORDER BY p1) AS grp
      FROM hits
    ),
    spans AS (
      SELECT d1, d2, min(p2) AS start2,
             count(*) + {_SPAN_K - 1} AS span_tokens
      FROM isl GROUP BY d1, d2, diag, grp
      HAVING count(*) + {_SPAN_K - 1} >= {_SPAN_MIN}
    ),
    iv AS (  -- removal intervals in the LATER doc of each pair
      SELECT d2 AS doc_id, start2 AS lo, start2 + span_tokens - 1 AS hi
      FROM spans
    ),
    run AS (
      SELECT doc_id, lo, hi,
             max(hi) OVER (PARTITION BY doc_id ORDER BY lo, hi
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_hi
      FROM iv
    ),
    isl2 AS (
      SELECT doc_id, lo, hi,
             sum(CASE WHEN prev_hi IS NULL OR lo > prev_hi THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY lo, hi) AS blk
      FROM run
    ),
    merged AS (
      SELECT doc_id, min(lo) AS lo, max(hi) AS hi
      FROM isl2 GROUP BY doc_id, blk
    ),
    removed AS (
      SELECT doc_id, CAST(sum(hi - lo + 1) AS BIGINT) AS removed_tokens
      FROM merged GROUP BY doc_id
    ),
    n AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tok FROM toks)
    SELECT doc_id, n_tok, removed_tokens,
           CAST(n_tok - removed_tokens AS BIGINT) AS kept_tokens
    FROM (
      SELECT n.doc_id, n.n_tok, r.removed_tokens,
             row_number() OVER (ORDER BY r.removed_tokens DESC, n.doc_id) AS rn
      FROM removed r JOIN n ON n.doc_id = r.doc_id
    ) WHERE rn <= {_RM_OUT}
    ORDER BY removed_tokens DESC, doc_id
    """


@_q("q325_span_dedup_removal", _span_removal_oracle())
def q325_span_dedup_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTION step of exact-substring dedup — q322 detects maximal
    verbatim repeats, this removes them under the keep-EARLIEST rule of
    the public recipe (one occurrence survives; every span is deleted
    from the LATER doc of its pair). A doc's removal intervals from
    different partners overlap, so per-doc intervals are merged with the
    running-max islands pass (interval.py's gaps-and-islands shape)
    before counting — removed_tokens is the UNION length, never a
    double-count. Emits the top-{_RM_OUT} docs by tokens removed with
    their kept-token residue, i.e. the per-document shrinkage report a
    corpus build acts on.

    Scale: spans come from the shared `_shared_spans` plan (anchor-df
    bounded); interval merge is one doc-partitioned window over the
    span relation (pair-scale, not corpus-scale); the join back to
    token counts is doc-keyed; top-k is TakeOrderedAndProject."""
    spans = _shared_spans(spark, sf_dir)
    iv = spans.select(
        F.col("d2").alias("doc_id"),
        F.col("start2").alias("lo"),
        (F.col("start2") + F.col("span_tokens") - 1).alias("hi"),
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("lo", "hi")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("lo", "hi")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    isl = iv.withColumn("prev_hi", F.max("hi").over(w_prev)).withColumn(
        "blk",
        F.sum(
            F.when(
                F.col("prev_hi").isNull() | (F.col("lo") > F.col("prev_hi")), 1
            ).otherwise(0)
        ).over(w_run),
    )
    removed = (
        isl.groupBy("doc_id", "blk")
        .agg(F.min("lo").alias("lo"), F.max("hi").alias("hi"))
        .groupBy("doc_id")
        .agg(F.sum(F.col("hi") - F.col("lo") + 1).cast("long").alias("removed_tokens"))
    )
    n = (
        spread(table(spark, sf_dir, "documents"))
        .select("doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tok"))
    )
    return (
        removed.join(n, "doc_id")
        .select(
            "doc_id",
            "n_tok",
            "removed_tokens",
            (F.col("n_tok") - F.col("removed_tokens")).cast("long").alias(
                "kept_tokens"
            ),
        )
        .orderBy(F.desc("removed_tokens"), "doc_id")
        .limit(_RM_OUT)
    )


# ---------------------------------------------------------------------------
# q327 — incremental dedup (new crawl batch vs existing base corpus)
# ---------------------------------------------------------------------------

_INC_TAU = 0.8  # near-dup Jaccard threshold for batch-vs-base matches
_INC_OFF = 1000000  # batch ids live in a disjoint id space


def recrawl_batch(docs: DataFrame) -> DataFrame:
    """The deterministic re-crawl batch q327/q332 dedupe against the
    base corpus: id%3==0 verbatim re-fetches, id%3==1 truncated edits
    (last two tokens dropped), id%3==2 reversed-token new pages."""
    tk = F.split("text", " ")
    return docs.select(
        (F.col("doc_id") + _INC_OFF).alias("batch_id"),
        F.when(F.col("doc_id") % 3 == 0, F.col("text"))
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat_ws(
                " ", F.slice(tk, 1, F.greatest(F.size(tk) - 2, F.lit(0)))
            ),
        )
        .otherwise(F.concat_ws(" ", F.reverse(tk)))
        .alias("text"),
    )


def inc_prefix(
    ex: DataFrame, idc: str, sizes: DataFrame, dfreq: DataFrame
) -> DataFrame:
    """ssjoin prefix rows at tau={_INC_TAU}: shingles ranked rarest-
    first by BASE document frequency (absent-from-base grams rank
    first with df 0 — they cannot generate a cross-corpus candidate),
    keeping only the first |X| - ceil(tau*|X|) + 1 per set."""
    w = Window.partitionBy(idc).orderBy(F.asc("df"), F.asc("s"))
    ranked = (
        ex.join(dfreq, "s", "left")
        .na.fill({"df": 0})
        .withColumn("pos", F.row_number().over(w))
        .join(sizes, idc)
    )
    return ranked.filter(
        F.col("pos") <= F.col("sz") - F.ceil(F.lit(_INC_TAU) * F.col("sz")) + 1
    ).select(idc, "s", "sz", "pos")


def inc_near(
    pb: DataFrame,
    pd_: DataFrame,
    bex: DataFrame,
    dex: DataFrame,
    bsz: DataFrame,
    dsz: DataFrame,
) -> DataFrame:
    """Cross-corpus near-dup verdicts (batch_id, match_id, jac): ppjoin
    positional filter — a colliding prefix gram at positions (pa, pb)
    can witness at most 1 + min(sz_a-pa, sz_b-pb) overlapping elements;
    pairs below the tau overlap requirement ceil(tau/(1+tau) *
    (sz_a+sz_b)) are pruned BEFORE verification (measured 3.4x
    candidate cut at sf0.1). Relaxed to OR-over-grams by the distinct,
    so it only ever drops provably-sub-tau pairs. Verification counts
    full intersections for survivors; the argmax base doc comes from a
    per-batch_id row_number window (never a global sort)."""
    _alpha = F.ceil(
        F.lit(_INC_TAU / (1 + _INC_TAU)) * (F.col("a.sz") + F.col("b.sz"))
    )
    cand = (
        pb.alias("a")
        .join(
            pd_.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("b.sz") >= F.ceil(F.lit(_INC_TAU) * F.col("a.sz")))
            & (F.col("a.sz") >= F.ceil(F.lit(_INC_TAU) * F.col("b.sz"))),
        )
        .filter(
            (
                1
                + F.least(
                    F.col("a.sz") - F.col("a.pos"),
                    F.col("b.sz") - F.col("b.pos"),
                )
            )
            >= _alpha
        )
        .select("batch_id", "doc_id")
        .distinct()
    )
    inter = (
        cand.alias("c")
        .join(bex.alias("ea"), "batch_id")
        .join(
            dex.alias("eb"),
            (F.col("c.doc_id") == F.col("eb.doc_id"))
            & (F.col("ea.s") == F.col("eb.s")),
        )
        .groupBy("batch_id", F.col("c.doc_id").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = F.col("i") / (F.col("b.sz") + F.col("d.sz") - F.col("i"))
    wbest = Window.partitionBy("batch_id").orderBy(
        F.desc("jac_raw"), F.asc("doc_id")
    )
    return (
        inter.join(bsz.alias("b"), "batch_id")
        .join(dsz.alias("d"), "doc_id")
        .withColumn("jac_raw", jac)
        .filter(F.col("jac_raw") >= _INC_TAU)
        .withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select(
            "batch_id",
            F.col("doc_id").alias("match_id"),
            F.round("jac_raw", 6).alias("jac"),
        )
    )


#: session-scoped plan-handle memo: (appId, component dir) -> DataFrame.
#: A DataFrame here is a lazy parquet-scan PLAN over the immutable
#: staged component — caching the handle skips the repeated
#: read.parquet footer/py4j round-trip every absorb-family query paid
#: per call (optimization round 11); the data is still computed from
#: the parquet bytes at every execution.
_COMP_HANDLES: dict = {}


def base_index(spark: SparkSession, sf_dir: str) -> dict:
    """The persistent base-corpus dedup index q332/q333 maintain —
    digest table (exact path), distinct shingles, set sizes, document
    frequencies, and df-ranked ppjoin prefix rows (near path). Each
    component is staged ONCE per fixture (fingerprint-keyed store,
    atomic install — the q41f/KN-model discipline) and read back as
    parquet; per-run cost is five file scans, never a rebuild.

    Returns the component frames plus ``comp(kind, build)`` so callers
    can stage DELTA components into the same index root (q333's
    absorb)."""
    import os

    from nfl_predictions_spark.state import atomic_stage, staged_path

    idx_root = staged_path(sf_dir, "neardup_base_index", sources=("documents",))
    app = spark.sparkContext.applicationId

    def comp(kind: str, build) -> DataFrame:
        out = os.path.join(idx_root, kind)
        cached = _COMP_HANDLES.get((app, out))
        if cached is not None:
            return cached
        if not os.path.exists(os.path.join(out, "_SUCCESS")):
            atomic_stage(build(), out)
        df = spark.read.parquet(out)
        _COMP_HANDLES[(app, out)] = df
        return df

    base = table(spark, sf_dir, "documents").select("doc_id", "text")
    bdig = comp("bdig", lambda: base.select("doc_id", F.md5("text").alias("dg")))
    dex = comp("dex", lambda: shingle_rows(base))
    dsz = comp(
        "dsz", lambda: dex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    )
    dfreq = comp(
        "dfreq", lambda: dex.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    )
    pd_ = comp("pd", lambda: inc_prefix(dex, "doc_id", dsz, dfreq))
    return {
        "root": idx_root,
        "comp": comp,
        "bdig": bdig,
        "dex": dex,
        "dsz": dsz,
        "dfreq": dfreq,
        "pd": pd_,
    }


#: Shared CTE chain for the incremental-dedup oracles (q327 batch form,
#: q332 streaming form — the stream oracle appends a chunk-map CTE).
_INC_WITH = f"""
WITH base AS (SELECT doc_id, text FROM documents),
batch AS (
  SELECT doc_id + {_INC_OFF} AS batch_id,
         CASE WHEN doc_id % 3 = 0 THEN text
              WHEN doc_id % 3 = 1
                THEN array_to_string(ts[1:greatest(len(ts) - 2, 0)], ' ')
              ELSE array_to_string(list_reverse(ts), ' ')
         END AS text
  FROM (SELECT doc_id, text, string_split(text, ' ') AS ts FROM documents)
),
exact AS (
  SELECT b.batch_id, min(d.doc_id) AS match_id
  FROM batch b JOIN base d ON md5(b.text) = md5(d.text)
  GROUP BY b.batch_id
),
rem AS (
  SELECT * FROM batch WHERE batch_id NOT IN (SELECT batch_id FROM exact)
),
bt AS (SELECT batch_id, string_split(text, ' ') AS ts FROM rem),
bex AS (SELECT batch_id, unnest({_SHINGLE_SQL}) AS s
        FROM bt WHERE len(ts) >= 3),
dt AS (SELECT doc_id, string_split(text, ' ') AS ts FROM base),
dex AS (SELECT doc_id, unnest({_SHINGLE_SQL}) AS s
        FROM dt WHERE len(ts) >= 3),
bsz AS (SELECT batch_id, count(*) AS sz FROM bex GROUP BY batch_id),
dsz AS (SELECT doc_id, count(*) AS sz FROM dex GROUP BY doc_id),
inter AS (
  SELECT b.batch_id, d.doc_id, count(*) AS i
  FROM bex b JOIN dex d ON b.s = d.s GROUP BY 1, 2
),
near AS (
  SELECT batch_id, doc_id AS match_id,
         i * 1.0 / (bsz.sz + dsz.sz - i) AS jac
  FROM inter JOIN bsz USING (batch_id) JOIN dsz USING (doc_id)
  WHERE i * 1.0 / (bsz.sz + dsz.sz - i) >= {_INC_TAU}
  QUALIFY row_number() OVER (PARTITION BY batch_id
                             ORDER BY jac DESC, doc_id ASC) = 1
)"""

_INC_VERDICTS = """
SELECT batch_id, action, match_id, jac FROM (
  SELECT batch_id, 'drop_exact' AS action, match_id,
         CAST(1.0 AS DOUBLE) AS jac
  FROM exact
  UNION ALL
  SELECT batch_id, 'drop_near' AS action, match_id, round(jac, 6) AS jac
  FROM near
  UNION ALL
  SELECT b.batch_id, 'keep' AS action, CAST(-1 AS BIGINT) AS match_id,
         CAST(0.0 AS DOUBLE) AS jac
  FROM batch b
  WHERE b.batch_id NOT IN (SELECT batch_id FROM exact)
    AND b.batch_id NOT IN (SELECT batch_id FROM near)
)"""

_INC_ORACLE = f"{_INC_WITH}\n{_INC_VERDICTS}\nORDER BY batch_id\n"

_INC_CHUNKS = 4  # micro-batches in the q332 streaming replay

#: q332 oracle: identical verdicts + the deterministic chunk each doc
#: arrived in (rank-split into {_INC_CHUNKS} doc_id-ordered chunks —
#: the same formula stage_batch_chunks uses).
_INC_STREAM_ORACLE = f"""{_INC_WITH},
chunkmap AS (
  SELECT batch_id,
         CAST(floor((row_number() OVER (ORDER BY batch_id) - 1)
              * {_INC_CHUNKS} / (SELECT count(*) FROM batch)) AS BIGINT)
           AS chunk
  FROM batch
)
SELECT cm.chunk, v.batch_id, v.action, v.match_id, v.jac
FROM ({_INC_VERDICTS}) v JOIN chunkmap cm USING (batch_id)
ORDER BY v.batch_id
"""


@_q("q327_incremental_dedup", _INC_ORACLE)
def q327_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — dedup a NEW crawl batch against the EXISTING
    base corpus, the steady-state form of q38/q39 (a production corpus
    is never rebuilt from scratch; each snapshot is deduped against
    what is already kept). The batch is derived deterministically from
    the corpus itself: docs with id % 3 == 0 are re-fetched verbatim
    (exact dups), id % 3 == 1 re-fetched with the last two tokens
    dropped (near-dup edits), id % 3 == 2 are genuinely new pages
    (token order reversed — same vocabulary, disjoint 3-gram shingle
    sets). Every batch doc gets a verdict: ``drop_exact`` (digest matches a base doc),
    ``drop_near`` (best exact 3-gram Jaccard vs base >= {_INC_TAU},
    reporting the argmax base doc), or ``keep``.

    Scale shape — why this survives a 100 TB base corpus:
    - exact matching is ONE hash join on md5(text), a uniformly
      distributed key; the base side ships only (digest, id).
    - near-dup candidates come from PREFIX FILTERING (q135's ssjoin
      bound, cross-corpus form): both sides order shingles by base-side
      document frequency ascending (rarest first; unseen-in-base grams
      rank first — they cannot collide with base anyway), and only the
      first |X| - ceil(tau*|X|) + 1 shingles of each set join, plus the
      size-ratio bound. Exactness at jac >= tau is the ppjoin theorem,
      not a recall target; the batch side is the small side throughout.
    - verification counts full intersections for surviving candidates
      only; the best-match pick is a row_number window partitioned by
      batch_id (per-batch-doc state, never a global sort).
    """
    docs = table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")
    bt = recrawl_batch(docs)
    exact = (
        bt.select("batch_id", F.md5("text").alias("dg"))
        .join(base.select(F.col("doc_id"), F.md5("text").alias("dg")), "dg")
        .groupBy("batch_id")
        .agg(F.min("doc_id").alias("match_id"))
    )
    rem = bt.join(
        exact.select("batch_id"), "batch_id", "left_anti"
    ).localCheckpoint(eager=False)

    # the shingle relations fan out to sizes, document frequency, prefix
    # ranking and verification (up to four consumers each): checkpoint
    # them once instead of re-running tokenize+explode per branch
    bex = shingle_rows(rem, id_col="batch_id").localCheckpoint(eager=False)
    dex = shingle_rows(base).localCheckpoint(eager=False)
    bsz = bex.groupBy("batch_id").agg(F.count(F.lit(1)).alias("sz"))
    dsz = dex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    # rarest-first global shingle order from BASE document frequency;
    # grams absent from base sort first (df 0) — harmless, they cannot
    # generate a cross-corpus candidate.
    dfreq = dex.groupBy("s").agg(F.count(F.lit(1)).alias("df"))

    pb = inc_prefix(bex, "batch_id", bsz, dfreq)
    pd_ = inc_prefix(dex, "doc_id", dsz, dfreq)
    near = inc_near(
        pb, pd_, bex, dex, bsz, dsz
        # consumed by the verdict union AND the keep anti-join: without
        # this the whole verification pipeline runs twice at exec
    ).localCheckpoint(eager=False)
    exact_rows = exact.select(
        "batch_id",
        F.lit("drop_exact").alias("action"),
        "match_id",
        F.lit(1.0).alias("jac"),
    )
    near_rows = near.select(
        "batch_id", F.lit("drop_near").alias("action"), "match_id", "jac"
    )
    keep_rows = (
        rem.join(near.select("batch_id"), "batch_id", "left_anti")
        .select(
            "batch_id",
            F.lit("keep").alias("action"),
            F.lit(-1).cast("long").alias("match_id"),
            F.lit(0.0).alias("jac"),
        )
    )
    return exact_rows.unionByName(near_rows).unionByName(keep_rows).orderBy(
        "batch_id"
    )


# ---------------------------------------------------------------------------
# q333 — base-absorb + re-dedup (cross-run dedup manifest compaction)
# ---------------------------------------------------------------------------

#: Oracle: REBUILDS the absorbed corpus from scratch in SQL — pass-1
#: verdicts (q327's CTEs), survivors = keeps minus intra-batch exact
#: dups (min batch_id wins), base2 = base + survivors, then the full
#: exact/near verdict chain re-run against base2. The Spark side
#: instead UPDATES the staged index incrementally (delta components);
#: equality of the per-doc pass-2 verdicts is the
#: incremental-equals-rebuild certificate (the q164/q228 discipline).
_ABSORB_ORACLE = f"""{_INC_WITH},
verd1 AS ({_INC_VERDICTS}),
ksurv AS (
  SELECT min(b.batch_id) AS doc_id, md5(b.text) AS dg
  FROM batch b JOIN verd1 v ON v.batch_id = b.batch_id
  WHERE v.action = 'keep'
  GROUP BY md5(b.text)
),
base2 AS (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT s.doc_id, b.text FROM ksurv s JOIN batch b ON b.batch_id = s.doc_id
),
exact2 AS (
  SELECT b.batch_id, min(d.doc_id) AS match_id
  FROM batch b JOIN base2 d ON md5(b.text) = md5(d.text)
  GROUP BY b.batch_id
),
rem2 AS (
  SELECT * FROM batch WHERE batch_id NOT IN (SELECT batch_id FROM exact2)
),
bt2 AS (SELECT batch_id, string_split(text, ' ') AS ts FROM rem2),
bex2 AS (SELECT batch_id, unnest({_SHINGLE_SQL}) AS s
         FROM bt2 WHERE len(ts) >= 3),
dt2 AS (SELECT doc_id, string_split(text, ' ') AS ts FROM base2),
dex2 AS (SELECT doc_id, unnest({_SHINGLE_SQL}) AS s
         FROM dt2 WHERE len(ts) >= 3),
bsz2 AS (SELECT batch_id, count(*) AS sz FROM bex2 GROUP BY batch_id),
dsz2 AS (SELECT doc_id, count(*) AS sz FROM dex2 GROUP BY doc_id),
inter2 AS (
  SELECT b.batch_id, d.doc_id, count(*) AS i
  FROM bex2 b JOIN dex2 d ON b.s = d.s GROUP BY 1, 2
),
near2 AS (
  SELECT batch_id, doc_id AS match_id,
         i * 1.0 / (bsz2.sz + dsz2.sz - i) AS jac
  FROM inter2 JOIN bsz2 USING (batch_id) JOIN dsz2 USING (doc_id)
  WHERE i * 1.0 / (bsz2.sz + dsz2.sz - i) >= {_INC_TAU}
  QUALIFY row_number() OVER (PARTITION BY batch_id
                             ORDER BY jac DESC, doc_id ASC) = 1
)
SELECT v1.batch_id, v1.action AS action1, v2.action2, v2.match_id2, v2.jac2
FROM verd1 v1 JOIN (
  SELECT batch_id, 'drop_exact' AS action2, match_id AS match_id2,
         CAST(1.0 AS DOUBLE) AS jac2
  FROM exact2
  UNION ALL
  SELECT batch_id, 'drop_near' AS action2, match_id AS match_id2,
         round(jac, 6) AS jac2
  FROM near2
  UNION ALL
  SELECT b.batch_id, 'keep' AS action2, CAST(-1 AS BIGINT) AS match_id2,
         CAST(0.0 AS DOUBLE) AS jac2
  FROM batch b
  WHERE b.batch_id NOT IN (SELECT batch_id FROM exact2)
    AND b.batch_id NOT IN (SELECT batch_id FROM near2)
) v2 ON v2.batch_id = v1.batch_id
ORDER BY v1.batch_id
"""

#: q336's oracle: the SAME rebuilt-from-scratch pass-2 chain as q333's
#: (the rebuild is order-free — it computes exact Jaccard by full
#: intersection), emitting pass-2 verdicts alone. The Spark side probes
#: a COMPACTED (re-ranked under refreshed df) index, so a green row
#: certifies compaction is verdict-invariant.
_COMPACT_ORACLE = (
    _ABSORB_ORACLE[: _ABSORB_ORACLE.index("SELECT v1.batch_id")]
    + """SELECT batch_id, action, match_id, jac FROM (
  SELECT batch_id, 'drop_exact' AS action, match_id,
         CAST(1.0 AS DOUBLE) AS jac
  FROM exact2
  UNION ALL
  SELECT batch_id, 'drop_near' AS action, match_id, round(jac, 6) AS jac
  FROM near2
  UNION ALL
  SELECT b.batch_id, 'keep' AS action, CAST(-1 AS BIGINT) AS match_id,
         CAST(0.0 AS DOUBLE) AS jac
  FROM batch b
  WHERE b.batch_id NOT IN (SELECT batch_id FROM exact2)
    AND b.batch_id NOT IN (SELECT batch_id FROM near2)
)
ORDER BY batch_id
"""
)


@_q("q333_absorb_rededup", _ABSORB_ORACLE)
def q333_absorb_rededup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base-absorb + re-dedup — the manifest-compaction step that closes
    the production dedup loop: after q327/q332 assign verdicts to a
    re-crawl batch, the base corpus must ABSORB the survivors
    (base' = base + keeps, minus intra-batch exact duplicates, min
    batch_id wins) WITHOUT rebuilding its dedup index. The staged
    index gains DELTA components only — survivor digests, shingles,
    sizes, and prefix rows — each O(survivors), never O(corpus); a
    second dedup pass of the same batch then runs against
    base-plus-delta and its per-doc verdicts are the output
    (batch_id, action1, action2, match_id2, jac2).

    Why the frozen token order is sound: ppjoin's prefix filter is
    exact under ANY total order shared by both join sides; ranking by
    ascending document frequency merely minimizes candidates. The
    index therefore freezes the (df, s) order minted at index birth
    and ranks survivor prefix rows under it — an O(delta) append. (A
    periodic re-rank under refreshed df is a pure optimization pass —
    the compaction analogue — never a correctness requirement.)

    The oracle REBUILDS base' from scratch and re-derives both passes,
    so a hash-green row certifies incremental == rebuild (the
    q164/q228 discipline). Idempotence falls out and is pinned in
    tests: after absorb, every batch doc is a drop (its surviving
    twin is in base'), so a second absorb adds nothing.
    """
    idx = base_index(spark, sf_dir)
    # dfreq is a bare staged-parquet scan: checkpointing it would cost a
    # physical-planning pass and forfeit column pruning for zero reuse
    # benefit (optimization round 11 — same reasoning for bdg/bsz below,
    # trivial derivations of already-checkpointed parents)
    dfreq = idx["dfreq"]
    docs = table(spark, sf_dir, "documents")
    bt = recrawl_batch(docs).localCheckpoint(eager=False)

    # ---- pass 1: q327's verdicts against the staged index ----
    bdg = bt.select("batch_id", F.md5("text").alias("dg"))
    exact1 = (
        bdg.join(idx["bdig"], "dg")
        .groupBy("batch_id")
        .agg(F.min("doc_id").alias("match_id"))
        .localCheckpoint(eager=False)
    )
    rem1 = bt.join(exact1.select("batch_id"), "batch_id", "left_anti")
    bex = shingle_rows(rem1, id_col="batch_id").localCheckpoint(eager=False)
    bsz = bex.groupBy("batch_id").agg(F.count(F.lit(1)).alias("sz"))
    pb = inc_prefix(bex, "batch_id", bsz, dfreq).localCheckpoint(eager=False)
    near1 = inc_near(pb, idx["pd"], bex, idx["dex"], bsz, idx["dsz"]).localCheckpoint(
        eager=False
    )
    verd1 = (
        exact1.select("batch_id", F.lit("drop_exact").alias("action1"))
        .unionByName(near1.select("batch_id", F.lit("drop_near").alias("action1")))
        .unionByName(
            rem1.join(near1.select("batch_id"), "batch_id", "left_anti").select(
                "batch_id", F.lit("keep").alias("action1")
            )
        )
    )

    # ---- absorb: survivor DELTA components, staged once per fixture
    # into the SAME index root (each O(survivors), not O(corpus)) ----
    def survivors() -> DataFrame:
        kept = (
            rem1.join(near1.select("batch_id"), "batch_id", "left_anti")
            .select("batch_id", "text", F.md5("text").alias("dg"))
        )
        first = kept.groupBy("dg").agg(F.min("batch_id").alias("batch_id"))
        return kept.join(first, ["dg", "batch_id"]).select(
            F.col("batch_id").alias("doc_id"), "text", "dg"
        )

    comp = idx["comp"]
    kdig = comp("kdig", lambda: survivors().select("doc_id", "dg"))
    kex = comp("kex", lambda: shingle_rows(survivors().select("doc_id", "text")))
    ksz = comp(
        "ksz", lambda: kex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    )
    # survivor prefix rows ranked under the FROZEN index order
    kpd = comp("kpd", lambda: inc_prefix(kex, "doc_id", ksz, dfreq))

    # ---- pass 2: same machinery against base-plus-delta ----
    exact2 = (
        bdg.join(idx["bdig"].unionByName(kdig), "dg")
        .groupBy("batch_id")
        .agg(F.min("doc_id").alias("match_id2"))
        .localCheckpoint(eager=False)
    )
    e2 = exact2.select("batch_id")
    # rem2 ⊆ rem1, so pass-1's batch-side relations are reused filtered
    # — no re-shingling of the batch
    bex2 = bex.join(e2, "batch_id", "left_anti")
    bsz2 = bsz.join(e2, "batch_id", "left_anti")
    pb2 = pb.join(e2, "batch_id", "left_anti")
    near2 = inc_near(
        pb2,
        idx["pd"].unionByName(kpd),
        bex2,
        idx["dex"].unionByName(kex),
        bsz2,
        idx["dsz"].unionByName(ksz),
    ).localCheckpoint(eager=False)
    verd2 = (
        exact2.select(
            "batch_id",
            F.lit("drop_exact").alias("action2"),
            "match_id2",
            F.lit(1.0).alias("jac2"),
        )
        .unionByName(
            near2.select(
                "batch_id",
                F.lit("drop_near").alias("action2"),
                F.col("match_id").alias("match_id2"),
                F.col("jac").alias("jac2"),
            )
        )
        .unionByName(
            bt.join(e2, "batch_id", "left_anti")
            .join(near2.select("batch_id"), "batch_id", "left_anti")
            .select(
                "batch_id",
                F.lit("keep").alias("action2"),
                F.lit(-1).cast("long").alias("match_id2"),
                F.lit(0.0).alias("jac2"),
            )
        )
    )
    return verd1.join(verd2, "batch_id").orderBy("batch_id")


def _batch_survivors(idx: dict, dfreq: DataFrame, bt: DataFrame) -> DataFrame:
    """Lazy pass-1 survivors of the re-crawl batch vs the staged index
    (keeps minus intra-batch exact dups, min batch_id wins) — the frame
    q333/q336 stage as the absorb delta. Entirely lazy: when the delta
    components are already staged, none of this ever executes."""
    bdg = bt.select("batch_id", F.md5("text").alias("dg"))
    exact1 = (
        bdg.join(idx["bdig"], "dg")
        .groupBy("batch_id")
        .agg(F.min("doc_id").alias("match_id"))
    )
    rem1 = bt.join(exact1.select("batch_id"), "batch_id", "left_anti")
    bex = shingle_rows(rem1, id_col="batch_id").localCheckpoint(eager=False)
    bsz = bex.groupBy("batch_id").agg(F.count(F.lit(1)).alias("sz"))
    pb = inc_prefix(bex, "batch_id", bsz, dfreq)
    near1 = inc_near(pb, idx["pd"], bex, idx["dex"], bsz, idx["dsz"])
    kept = (
        rem1.join(near1.select("batch_id"), "batch_id", "left_anti")
        .select("batch_id", "text", F.md5("text").alias("dg"))
    )
    first = kept.groupBy("dg").agg(F.min("batch_id").alias("batch_id"))
    return kept.join(first, ["dg", "batch_id"]).select(
        F.col("batch_id").alias("doc_id"), "text", "dg"
    )


@_q("q336_compacted_rededup", _COMPACT_ORACLE)
def q336_compacted_rededup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index compaction — the periodic re-rank that q333's frozen-order
    absorb defers: rebuild the ABSORBED corpus's prefix index under
    REFRESHED document frequencies (survivor grams now count), stage it
    as a new index generation (cdfreq/cpd components), and re-probe the
    batch against it. The verdicts must be IDENTICAL to q333's pass 2
    (pinned in tests) because ppjoin's prefix filter is exact under any
    shared total order — compaction only shrinks candidate counts.
    The oracle is the same from-scratch rebuild as q333's, emitting
    pass-2 verdicts alone, so a green row certifies
    frozen-order incremental == compacted re-rank == rebuild.

    Scale shape: the one-time compaction cost is O(corpus) (one df
    aggregation + one per-doc ranking window over the merged shingle
    relation — exactly an index rebuild, which is what compaction IS);
    it is staged once, and every subsequent probe pays only
    O(batch)-sized work against the compacted components."""
    idx = base_index(spark, sf_dir)
    dfreq0 = idx["dfreq"]
    bt = recrawl_batch(table(spark, sf_dir, "documents")).localCheckpoint(
        eager=False
    )
    comp = idx["comp"]

    def sv() -> DataFrame:
        return _batch_survivors(idx, dfreq0, bt)

    kdig = comp("kdig", lambda: sv().select("doc_id", "dg"))
    kex = comp("kex", lambda: shingle_rows(sv().select("doc_id", "text")))
    ksz = comp(
        "ksz", lambda: kex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    )
    # the compacted generation: refreshed df + re-ranked prefix rows
    # over the MERGED corpus, staged once
    # staged comps are parquet scans and the unions are cheap column-
    # pruned merges: no checkpoint (planning-pass savings, round 11)
    dex2 = idx["dex"].unionByName(kex)
    dsz2 = idx["dsz"].unionByName(ksz)
    dfreq2 = comp(
        "cdfreq",
        lambda: dex2.groupBy("s").agg(F.count(F.lit(1)).alias("df")),
    )
    pd2 = comp("cpd", lambda: inc_prefix(dex2, "doc_id", dsz2, dfreq2))

    # probe: the batch against the compacted index
    bdg = bt.select("batch_id", F.md5("text").alias("dg"))
    exact2 = (
        bdg.join(idx["bdig"].unionByName(kdig), "dg")
        .groupBy("batch_id")
        .agg(F.min("doc_id").alias("match_id"))
        .localCheckpoint(eager=False)
    )
    rem2 = bt.join(exact2.select("batch_id"), "batch_id", "left_anti")
    bex2 = shingle_rows(rem2, id_col="batch_id").localCheckpoint(eager=False)
    bsz2 = bex2.groupBy("batch_id").agg(F.count(F.lit(1)).alias("sz"))
    # batch-side prefix ranks under the REFRESHED order — both probe
    # sides must share the compacted total order
    pb2 = inc_prefix(bex2, "batch_id", bsz2, dfreq2)
    near2 = inc_near(pb2, pd2, bex2, dex2, bsz2, dsz2).localCheckpoint(
        eager=False
    )
    return (
        exact2.select(
            "batch_id",
            F.lit("drop_exact").alias("action"),
            "match_id",
            F.lit(1.0).alias("jac"),
        )
        .unionByName(
            near2.select(
                "batch_id", F.lit("drop_near").alias("action"), "match_id", "jac"
            )
        )
        .unionByName(
            rem2.join(near2.select("batch_id"), "batch_id", "left_anti")
            .select(
                "batch_id",
                F.lit("keep").alias("action"),
                F.lit(-1).cast("long").alias("match_id"),
                F.lit(0.0).alias("jac"),
            )
        )
        .orderBy("batch_id")
    )


# ---------------------------------------------------------------------------
# q338 — tombstone eviction + re-dedup (merge-on-read deletes)
# ---------------------------------------------------------------------------

_EVICT_MOD = 7  # deterministic tombstone set: doc_id % 7 == 0

_EVICT_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {_EVICT_MOD} <> 0
),
batch AS (
  SELECT doc_id + {_INC_OFF} AS batch_id,
         CASE WHEN doc_id % 3 = 0 THEN text
              WHEN doc_id % 3 = 1
                THEN array_to_string(ts[1:greatest(len(ts) - 2, 0)], ' ')
              ELSE array_to_string(list_reverse(ts), ' ')
         END AS text
  FROM (SELECT doc_id, text, string_split(text, ' ') AS ts FROM documents)
),
exact AS (
  SELECT b.batch_id, min(d.doc_id) AS match_id
  FROM batch b JOIN base d ON md5(b.text) = md5(d.text)
  GROUP BY b.batch_id
),
rem AS (
  SELECT * FROM batch WHERE batch_id NOT IN (SELECT batch_id FROM exact)
),
bt AS (SELECT batch_id, string_split(text, ' ') AS ts FROM rem),
bex AS (SELECT batch_id, unnest({{_SHINGLE_SQL}}) AS s
        FROM bt WHERE len(ts) >= 3),
dt AS (SELECT doc_id, string_split(text, ' ') AS ts FROM base),
dex AS (SELECT doc_id, unnest({{_SHINGLE_SQL}}) AS s
        FROM dt WHERE len(ts) >= 3),
bsz AS (SELECT batch_id, count(*) AS sz FROM bex GROUP BY batch_id),
dsz AS (SELECT doc_id, count(*) AS sz FROM dex GROUP BY doc_id),
inter AS (
  SELECT b.batch_id, d.doc_id, count(*) AS i
  FROM bex b JOIN dex d ON b.s = d.s GROUP BY 1, 2
),
near AS (
  SELECT batch_id, doc_id AS match_id,
         i * 1.0 / (bsz.sz + dsz.sz - i) AS jac
  FROM inter JOIN bsz USING (batch_id) JOIN dsz USING (doc_id)
  WHERE i * 1.0 / (bsz.sz + dsz.sz - i) >= {_INC_TAU}
  QUALIFY row_number() OVER (PARTITION BY batch_id
                             ORDER BY jac DESC, doc_id ASC) = 1
)
SELECT batch_id, action, match_id, jac FROM (
  SELECT batch_id, 'drop_exact' AS action, match_id,
         CAST(1.0 AS DOUBLE) AS jac
  FROM exact
  UNION ALL
  SELECT batch_id, 'drop_near' AS action, match_id, round(jac, 6) AS jac
  FROM near
  UNION ALL
  SELECT b.batch_id, 'keep' AS action, CAST(-1 AS BIGINT) AS match_id,
         CAST(0.0 AS DOUBLE) AS jac
  FROM batch b
  WHERE b.batch_id NOT IN (SELECT batch_id FROM exact)
    AND b.batch_id NOT IN (SELECT batch_id FROM near)
)
ORDER BY batch_id
""".replace("{_SHINGLE_SQL}", _SHINGLE_SQL)


@_q("q338_evict_rededup", _EVICT_ORACLE)
def q338_evict_rededup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone eviction — the INVERSE of q333's absorb, i.e. the
    delete path a production lake needs (takedowns, GDPR erasure,
    license revocation): a deterministic tombstone set
    (doc_id % {_EVICT_MOD} == 0) is removed from the base corpus
    WITHOUT touching the staged index bytes. Every probe applies the
    tombstones MERGE-ON-READ: broadcast anti-joins on doc_id against
    each staged component (digests, shingles, sizes, prefix rows) —
    O(probe) extra work, no index rewrite (a physical rewrite is the
    q336 compaction pass applied with the filter). The re-crawl batch
    is then re-deduped and verdicts FLIP where the evicted doc was the
    match: exact matches fall back to the next surviving copy or
    degrade to near/keep — pinned against q327 in tests.

    Correctness under the frozen order: document frequencies still
    COUNT evicted docs' grams (merge-on-read does not refresh df) —
    that is only the shared total order ppjoin ranks under, never a
    correctness input, so the prefix filter stays exact (q333's
    argument; the oracle rebuilds the evicted corpus from scratch and
    re-ranks from true df, proving order-independence again)."""
    idx = base_index(spark, sf_dir)
    dfreq = idx["dfreq"]
    bt = recrawl_batch(table(spark, sf_dir, "documents")).localCheckpoint(
        eager=False
    )
    # pruned+pushed one-column scan; cheaper re-read than a checkpoint
    tomb = (
        table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % _EVICT_MOD == 0)
    )

    def alive(compdf: DataFrame) -> DataFrame:
        # merge-on-read: tombstones are applied at probe time by a
        # broadcast anti-join; the staged component is never rewritten
        return compdf.join(F.broadcast(tomb), "doc_id", "left_anti")

    bdg = bt.select("batch_id", F.md5("text").alias("dg"))
    exact = (
        bdg.join(alive(idx["bdig"]), "dg")
        .groupBy("batch_id")
        .agg(F.min("doc_id").alias("match_id"))
        .localCheckpoint(eager=False)
    )
    rem = bt.join(exact.select("batch_id"), "batch_id", "left_anti")
    bex = shingle_rows(rem, id_col="batch_id").localCheckpoint(eager=False)
    bsz = bex.groupBy("batch_id").agg(F.count(F.lit(1)).alias("sz"))
    pb = inc_prefix(bex, "batch_id", bsz, dfreq)
    near = inc_near(
        pb,
        alive(idx["pd"]),
        bex,
        alive(idx["dex"]),
        bsz,
        alive(idx["dsz"]),
    ).localCheckpoint(eager=False)
    return (
        exact.select(
            "batch_id",
            F.lit("drop_exact").alias("action"),
            "match_id",
            F.lit(1.0).alias("jac"),
        )
        .unionByName(
            near.select(
                "batch_id", F.lit("drop_near").alias("action"), "match_id", "jac"
            )
        )
        .unionByName(
            rem.join(near.select("batch_id"), "batch_id", "left_anti")
            .select(
                "batch_id",
                F.lit("keep").alias("action"),
                F.lit(-1).cast("long").alias("match_id"),
                F.lit(0.0).alias("jac"),
            )
        )
        .orderBy("batch_id")
    )


# ---------------------------------------------------------------------------
# q334 — multi-generation sequential absorb (the full ingest loop)
# ---------------------------------------------------------------------------


def _multigen_oracle() -> str:
    """Unrolled {_INC_CHUNKS}-generation rebuild: chunk g is deduped
    against base_g = base + survivors of chunks < g, survivors (keeps
    minus intra-chunk exact dups, min batch_id wins) are appended, and
    the next generation repeats — generated as a flat CTE chain so
    DuckDB re-derives every generation's corpus from scratch. Every
    per-generation CTE is MATERIALIZED: base_{g+1} references the
    whole chain of generation g, so inlined CTEs re-evaluate earlier
    generations multiplicatively (measured: >15 min at sf0.001
    inlined vs seconds materialized)."""
    parts = [
        f"""
WITH base AS MATERIALIZED (SELECT doc_id, text FROM documents),
batch AS MATERIALIZED (
  SELECT doc_id + {_INC_OFF} AS batch_id,
         CASE WHEN doc_id % 3 = 0 THEN text
              WHEN doc_id % 3 = 1
                THEN array_to_string(ts[1:greatest(len(ts) - 2, 0)], ' ')
              ELSE array_to_string(list_reverse(ts), ' ')
         END AS text
  FROM (SELECT doc_id, text, string_split(text, ' ') AS ts FROM documents)
),
chunkmap AS MATERIALIZED (
  SELECT batch_id,
         CAST(floor((row_number() OVER (ORDER BY batch_id) - 1)
              * {_INC_CHUNKS} / (SELECT count(*) FROM batch)) AS BIGINT)
           AS chunk
  FROM batch
),
base_0 AS MATERIALIZED (SELECT doc_id, text FROM base)"""
    ]
    for g in range(_INC_CHUNKS):
        parts.append(f""",
chunk_{g} AS MATERIALIZED (
  SELECT b.batch_id, b.text FROM batch b
  JOIN chunkmap cm ON cm.batch_id = b.batch_id WHERE cm.chunk = {g}
),
exact_{g} AS MATERIALIZED (
  SELECT c.batch_id, min(d.doc_id) AS match_id
  FROM chunk_{g} c JOIN base_{g} d ON md5(c.text) = md5(d.text)
  GROUP BY c.batch_id
),
rem_{g} AS MATERIALIZED (
  SELECT * FROM chunk_{g}
  WHERE batch_id NOT IN (SELECT batch_id FROM exact_{g})
),
bt_{g} AS MATERIALIZED (SELECT batch_id, string_split(text, ' ') AS ts FROM rem_{g}),
bex_{g} AS MATERIALIZED (SELECT batch_id, unnest({_SHINGLE_SQL}) AS s
            FROM bt_{g} WHERE len(ts) >= 3),
dt_{g} AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS ts FROM base_{g}),
dex_{g} AS MATERIALIZED (SELECT doc_id, unnest({_SHINGLE_SQL}) AS s
            FROM dt_{g} WHERE len(ts) >= 3),
bsz_{g} AS MATERIALIZED (SELECT batch_id, count(*) AS sz FROM bex_{g} GROUP BY batch_id),
dsz_{g} AS MATERIALIZED (SELECT doc_id, count(*) AS sz FROM dex_{g} GROUP BY doc_id),
inter_{g} AS MATERIALIZED (
  SELECT b.batch_id, d.doc_id, count(*) AS i
  FROM bex_{g} b JOIN dex_{g} d ON b.s = d.s GROUP BY 1, 2
),
near_{g} AS MATERIALIZED (
  SELECT batch_id, doc_id AS match_id,
         i * 1.0 / (bsz_{g}.sz + dsz_{g}.sz - i) AS jac
  FROM inter_{g} JOIN bsz_{g} USING (batch_id) JOIN dsz_{g} USING (doc_id)
  WHERE i * 1.0 / (bsz_{g}.sz + dsz_{g}.sz - i) >= {_INC_TAU}
  QUALIFY row_number() OVER (PARTITION BY batch_id
                             ORDER BY jac DESC, doc_id ASC) = 1
),
verd_{g} AS MATERIALIZED (
  SELECT batch_id, 'drop_exact' AS action, match_id,
         CAST(1.0 AS DOUBLE) AS jac
  FROM exact_{g}
  UNION ALL
  SELECT batch_id, 'drop_near' AS action, match_id, round(jac, 6) AS jac
  FROM near_{g}
  UNION ALL
  SELECT r.batch_id, 'keep' AS action, CAST(-1 AS BIGINT) AS match_id,
         CAST(0.0 AS DOUBLE) AS jac
  FROM rem_{g} r
  WHERE r.batch_id NOT IN (SELECT batch_id FROM near_{g})
),
surv_{g} AS MATERIALIZED (
  SELECT min(r.batch_id) AS doc_id, md5(r.text) AS dg
  FROM rem_{g} r
  WHERE r.batch_id NOT IN (SELECT batch_id FROM near_{g})
  GROUP BY md5(r.text)
),
base_{g + 1} AS MATERIALIZED (
  SELECT doc_id, text FROM base_{g}
  UNION ALL
  SELECT s.doc_id, b.text FROM surv_{g} s JOIN batch b ON b.batch_id = s.doc_id
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT {g} AS gen, batch_id, action, match_id, jac FROM verd_{g}"
        for g in range(_INC_CHUNKS)
    )
    parts.append(f"\n{union}\nORDER BY batch_id\n")
    return "".join(parts)


@_q("q334_multigen_absorb", _multigen_oracle())
def q334_multigen_absorb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-generation sequential absorb — the COMPLETE production
    ingest loop: the re-crawl batch arrives as {_INC_CHUNKS}
    batch_id-ordered chunks; chunk g is deduped against base_g = base
    + survivors of every earlier chunk, its survivors (keeps minus
    intra-chunk exact duplicates, min batch_id wins) are absorbed, and
    generation g+1 repeats. Unlike q327/q333 (whole batch vs one
    frozen base), later chunks here DROP against earlier chunks'
    survivors — exactly what a lake ingesting crawl snapshots in
    sequence does.

    Scale shape: per-generation work is proportional to the CHUNK.
    The base-side index never rebuilds — each generation appends
    eagerly-checkpointed DELTA components (survivor digests, shingles,
    sizes, prefix rows ranked under the FROZEN (df, s) index order —
    exact for ppjoin under any shared total order, see q333), and the
    probe side unions base + deltas. The oracle re-derives every
    generation's corpus from scratch (an unrolled {_INC_CHUNKS}-step
    rebuild), so a hash-green row certifies the whole incremental
    chain (q164/q228 discipline, iterated).
    """
    idx = base_index(spark, sf_dir)
    dfreq = idx["dfreq"]
    bt = recrawl_batch(table(spark, sf_dir, "documents"))
    n = bt.count()
    w = Window.orderBy("batch_id")
    chunks = (
        bt.withColumn(
            "chunk",
            ((F.row_number().over(w) - 1) * _INC_CHUNKS / n).cast("long"),
        )
        .localCheckpoint(eager=True)
    )

    # chunk-sized work: 32 shuffle partitions would schedule ~30 empty
    # tasks per exchange across the loop's many small shuffles (the
    # q332 tuning, applied to the whole absorb loop — the eager delta
    # checkpoints execute the per-generation pipelines inside this
    # scope, so the tuned width covers the real work)
    old_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        state = AbsorbState(idx, dfreq)
        verdicts = []
        for g in range(_INC_CHUNKS):
            ch = chunks.filter(F.col("chunk") == g).select("batch_id", "text")
            verdicts.append(
                state.absorb(ch).select(
                    F.lit(g).cast("int").alias("gen"),
                    "batch_id",
                    "action",
                    "match_id",
                    "jac",
                )
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_shuffle)
    out = verdicts[0]
    for v in verdicts[1:]:
        out = out.unionByName(v)
    return out.orderBy("batch_id")


def _union_all(frames: list) -> DataFrame:
    acc = frames[0]
    for f in frames[1:]:
        acc = acc.unionByName(f)
    return acc


class AbsorbState:
    """The carried index state of the sequential absorb loop: base
    components plus one eagerly-checkpointed DELTA per absorbed chunk.
    ``absorb(chunk)`` assigns verdicts against base-plus-deltas, then
    appends the chunk's survivors — shared verbatim by the batch loop
    (q334) and the streaming foreachBatch form (q335), which is what
    makes stream == batch provable."""

    def __init__(self, idx: dict, dfreq: DataFrame):
        self.dfreq = dfreq
        self.digs = [idx["bdig"]]
        self.exs = [idx["dex"]]
        self.szs = [idx["dsz"]]
        self.pds = [idx["pd"]]

    def absorb(self, ch: DataFrame) -> DataFrame:
        bdg = ch.select("batch_id", F.md5("text").alias("dg"))
        exact = (
            bdg.join(_union_all(self.digs), "dg")
            .groupBy("batch_id")
            .agg(F.min("doc_id").alias("match_id"))
            .localCheckpoint(eager=False)
        )
        rem = ch.join(exact.select("batch_id"), "batch_id", "left_anti")
        bex = shingle_rows(rem, id_col="batch_id").localCheckpoint(eager=False)
        bsz = bex.groupBy("batch_id").agg(F.count(F.lit(1)).alias("sz"))
        pb = inc_prefix(bex, "batch_id", bsz, self.dfreq)
        near = inc_near(
            pb,
            _union_all(self.pds),
            bex,
            _union_all(self.exs),
            bsz,
            _union_all(self.szs),
        ).localCheckpoint(eager=False)
        verdicts = (
            exact.select(
                "batch_id",
                F.lit("drop_exact").alias("action"),
                "match_id",
                F.lit(1.0).alias("jac"),
            )
            .unionByName(
                near.select(
                    "batch_id",
                    F.lit("drop_near").alias("action"),
                    "match_id",
                    "jac",
                )
            )
            .unionByName(
                rem.join(near.select("batch_id"), "batch_id", "left_anti")
                .select(
                    "batch_id",
                    F.lit("keep").alias("action"),
                    F.lit(-1).cast("long").alias("match_id"),
                    F.lit(0.0).alias("jac"),
                )
            )
        )
        # absorb this chunk's survivors as ONE eagerly-checkpointed DELTA
        # component per generation: survivor digests (kind 'dg') and
        # exploded shingle rows (kind 's') packed into a single frame —
        # eager truncates the lineage so the next generation's plan does
        # not re-derive this one, and packing halves the per-generation
        # eager job count (the round-11 fixed-overhead cut: one job
        # launch + checkpoint instead of two). Digest/shingle views are
        # narrow filters over the checkpoint blocks. Prefix rows rank
        # under the FROZEN (df, s) index order.
        surv = (
            rem.join(near.select("batch_id"), "batch_id", "left_anti")
            .select("batch_id", "text", F.md5("text").alias("dg"))
        )
        first = surv.groupBy("dg").agg(F.min("batch_id").alias("batch_id"))
        sv = surv.join(first, ["dg", "batch_id"]).select(
            F.col("batch_id").alias("doc_id"), "text", "dg"
        )
        delta = (
            shingle_rows(sv.select("doc_id", "text"))
            .select("doc_id", F.lit("s").alias("kind"), F.col("s").alias("val"))
            .unionByName(
                sv.select(
                    "doc_id", F.lit("dg").alias("kind"), F.col("dg").alias("val")
                )
            )
            .coalesce(1)  # chunk-survivor-sized: one partition, one task
            .localCheckpoint(eager=True)
        )
        kex = delta.filter(F.col("kind") == "s").select(
            "doc_id", F.col("val").alias("s")
        )
        ksz = kex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
        self.digs.append(
            delta.filter(F.col("kind") == "dg").select(
                "doc_id", F.col("val").alias("dg")
            )
        )
        self.exs.append(kex)
        self.szs.append(ksz)
        self.pds.append(inc_prefix(kex, "doc_id", ksz, self.dfreq))
        return verdicts


# ---------------------------------------------------------------------------
# q343 — text-index maintenance policy (when to compact / re-rank)
# ---------------------------------------------------------------------------

_TOMB_CRIT = 0.10  # tombstone fraction that triggers eviction-compaction
_STALE_CRIT = 0.30  # changed-df fraction that triggers a q336 re-rank
_GROWTH_CRIT = 0.02  # new-shingle fraction that triggers re-compaction

_MAINT_POLICY_ORACLE = f"""{_INC_WITH},
keeps AS (
  SELECT b.batch_id FROM batch b
  WHERE b.batch_id NOT IN (SELECT batch_id FROM exact)
    AND b.batch_id NOT IN (SELECT batch_id FROM near)
),
sgrams AS (
  SELECT DISTINCT s FROM bex
  WHERE batch_id IN (SELECT batch_id FROM keeps)
),
bgrams AS (SELECT DISTINCT s FROM dex),
nb AS (SELECT count(*) AS n FROM bgrams),
vals AS (
  SELECT 'df_staleness' AS metric,
         round((SELECT count(*) FROM sgrams JOIN bgrams USING (s))
               * 1.0 / nb.n, 6) AS value
  FROM nb
  UNION ALL
  SELECT 'tombstone_fraction',
         round((SELECT count(*) FROM base WHERE doc_id % {_EVICT_MOD} = 0)
               * 1.0 / (SELECT count(*) FROM base), 6)
  UNION ALL
  SELECT 'vocab_growth',
         round((SELECT count(*) FROM sgrams
                WHERE s NOT IN (SELECT s FROM bgrams))
               * 1.0 / nb.n, 6)
  FROM nb
)
SELECT metric, value,
       CASE WHEN metric = 'tombstone_fraction' AND value > {_TOMB_CRIT}
              THEN 'compact'
            WHEN metric = 'df_staleness' AND value > {_STALE_CRIT}
              THEN 'rerank'
            WHEN metric = 'vocab_growth' AND value > {_GROWTH_CRIT}
              THEN 'recompact'
            ELSE 'noop' END AS decision
FROM vals ORDER BY metric
"""


@_q("q343_dedup_maintenance_policy", _MAINT_POLICY_ORACLE)
def q343_dedup_maintenance_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-index maintenance POLICY — the q342 analogue for the dedup
    index, closing the lifecycle loop on the text side: q336 re-ranks,
    q338 evicts, and this operator decides WHEN, from three metrics a
    production index monitors after an ingest cycle:

    - ``tombstone_fraction`` — deleted docs still carried merge-on-read
      (q338's tombstone set, doc_id % {_EVICT_MOD} == 0 ≈ 14%): above
      {_TOMB_CRIT} the anti-join tax on every probe exceeds the one-off
      compaction cost → 'compact'.
    - ``df_staleness`` — base shingles whose document frequency CHANGED
      under the absorbed survivors, as a fraction of the base shingle
      vocabulary: above {_STALE_CRIT} the frozen (df, s) prefix order
      drifts from optimal (still EXACT — q333's invariant — just less
      selective) → 'rerank' (q336's act). The derived survivors touch
      ~26-28% of the base vocabulary (truncated-edit keeps share their
      source doc's grams), under the 30% trigger → 'noop', the branch
      that proves the policy does not fire blindly.
    - ``vocab_growth`` — NEW shingles the survivors add, as a fraction
      of the base vocabulary: above {_GROWTH_CRIT} the delta components
      dominate probe fan-out → 'recompact' into one generation.

    Scale shape: the survivor set comes from the same prefix-filtered
    incremental dedup as q327 (never all-pairs); shingle sets are one
    distinct over the staged exploded component plus one over the
    survivor delta; every metric is a count ratio — two scans and a
    broadcast-scale join, no index rewrite."""
    base = table(spark, sf_dir, "documents").select("doc_id", "text")
    tomb = base.agg(
        F.round(
            F.sum(
                F.when(F.col("doc_id") % _EVICT_MOD == 0, 1).otherwise(0)
            )
            * F.lit(1.0)
            / F.count(F.lit(1)),
            6,
        ).alias("value")
    ).select(F.lit("tombstone_fraction").alias("metric"), "value")

    idx = base_index(spark, sf_dir)
    # survivor shingles: q333's staged ``kex`` delta component IS this
    # set (its intra-batch exact-dup removal drops only identical-text
    # twins, whose shingle sets are identical, so DISTINCT s is
    # unchanged) — read it when the absorb has staged it; otherwise
    # derive from the q327 keeps directly
    import os as _os

    kex_path = _os.path.join(idx["root"], "kex")
    if _os.path.exists(_os.path.join(kex_path, "_SUCCESS")):
        sgrams = spark.read.parquet(kex_path).select("s").distinct()
    else:
        keeps = (
            q327_incremental_dedup(spark, sf_dir)
            .filter(F.col("action") == "keep")
            .select("batch_id")
        )
        surv = recrawl_batch(base).join(keeps, "batch_id")
        sgrams = shingle_rows(
            surv.select(F.col("batch_id").alias("doc_id"), "text")
        ).select("s").distinct()
    bgrams = idx["dfreq"].select("s")  # distinct by construction
    # the whole policy is ONE lazy plan — no driver-side count jobs:
    # the (expensive) survivor-shingle subtree is aggregated once, the
    # vocabulary size rides a 1-row broadcast crossjoin, and the two
    # derived metrics unpivot from the single joint row
    joint = (
        sgrams.join(bgrams.withColumn("inb", F.lit(1)), "s", "left")
        .agg(
            F.sum(F.when(F.col("inb") == 1, 1).otherwise(0)).alias("stale"),
            F.sum(F.when(F.col("inb").isNull(), 1).otherwise(0)).alias("new"),
        )
        .crossJoin(
            F.broadcast(bgrams.agg(F.count(F.lit(1)).alias("nv")))
        )
    )
    derived = joint.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("df_staleness").alias("metric"),
                    F.round(
                        F.col("stale") * F.lit(1.0) / F.col("nv"), 6
                    ).alias("value"),
                ),
                F.struct(
                    F.lit("vocab_growth").alias("metric"),
                    F.round(
                        F.col("new") * F.lit(1.0) / F.col("nv"), 6
                    ).alias("value"),
                ),
            )
        ).alias("kv")
    ).select("kv.metric", "kv.value")

    out = derived.unionByName(tomb)
    return out.select(
        "metric",
        "value",
        F.when(
            (F.col("metric") == "tombstone_fraction")
            & (F.col("value") > _TOMB_CRIT),
            F.lit("compact"),
        )
        .when(
            (F.col("metric") == "df_staleness")
            & (F.col("value") > _STALE_CRIT),
            F.lit("rerank"),
        )
        .when(
            (F.col("metric") == "vocab_growth")
            & (F.col("value") > _GROWTH_CRIT),
            F.lit("recompact"),
        )
        .otherwise(F.lit("noop"))
        .alias("decision"),
    ).orderBy("metric")
