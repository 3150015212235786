"""LLM training-data preparation operators (round-2 widening of the
north-star suite; SURVEY §2B Q38-Q40 family).

Five pipeline stages a 100 TB pretraining-corpus build needs between
raw ingest and the tokenizer, each as a pure Catalyst plan with a full
DuckDB oracle:

- q106_repetition_stats — Gopher-style repetition quality signals
  (duplicate-token and duplicate-bigram fractions per doc, rolled up
  per language). Scan + per-row array expressions + one agg; no UDFs.
- q107_pii_redaction — regex redaction of emails/IPv4s with per-doc
  match counts. PII is injected deterministically from doc_id first so
  the redaction path is actually exercised by data that contains PII.
- q108_hash_split — deterministic content-hash train/val/test split
  (md5-derived bucket in [0,100)): reproducible on any cluster, no RNG
  state, stable under re-partitioning — the property a resumable
  pipeline needs.
- q109_token_shards — token-offset sharding (the "concatenate and cut
  every B tokens" step before sequence packing) via a SCALABLE prefix
  sum: per-group subtotals -> tiny broadcast prefix -> within-group
  cumulative window. A naive global cumsum window has ONE partition at
  100 TB; this shape keeps every wide stage keyed and bounded.
- q110_unigram_logprob — unigram language-model quality score: corpus
  token frequencies (broadcast, vocabulary-sized) scoring each doc's
  mean log-probability — the cheap statistical proxy for
  perplexity-based quality filtering.
- q130_sequence_packing (round 3) — greedy first-fit packing of docs
  into fixed-token training sequences: the inherently-sequential fold
  decomposed into independent prefix-sum shards (shared with q109),
  packed per shard in ``applyInPandas``; oracle = the same greedy fold
  as a recursive CTE.

All consume the synthetic ``documents`` table. No reference
counterpart exists (the reference has no corpus tooling); these follow
the public Gopher/CCNet-style recipes re-expressed as Spark plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
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
# q106 — repetition quality signals
# ---------------------------------------------------------------------------

_BIGRAM_SQL = "[ts[i] || ' ' || ts[i+1] for i in range(1, len(ts))]"


@_q(
    "q106_repetition_stats",
    f"""
    WITH tok AS (SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents),
    g AS (SELECT doc_id, lang, ts, {_BIGRAM_SQL} AS bg FROM tok),
    per_doc AS (
      SELECT doc_id, lang,
        round(1.0 - len(list_distinct(ts)) * 1.0 / len(ts), 6) AS dup_token_frac,
        CASE WHEN len(bg) > 0
             THEN round(1.0 - len(list_distinct(bg)) * 1.0 / len(bg), 6)
             ELSE 0.0 END AS dup_bigram_frac
      FROM g
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS docs,
      round(avg(dup_token_frac), 6) AS avg_dup_token_frac,
      round(avg(dup_bigram_frac), 6) AS avg_dup_bigram_frac,
      CAST(sum(CASE WHEN dup_token_frac > 0.3 THEN 1 ELSE 0 END) AS BIGINT)
        AS flagged
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
)
def q106_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals per the public Gopher quality-filter recipe:
    fraction of duplicated tokens and duplicated 2-grams per document,
    rolled up per language with a >30% flag count. Everything is
    per-row array arithmetic inside codegen (split / slice / arrays_zip
    / array_distinct) followed by one map-side-combinable aggregate —
    per-doc cost is O(tokens), the shuffle carries only (lang, 4
    doubles), so the plan is scan-bound at any corpus size. The scan is
    ``spread`` first: a single-row-group file is one task, and the
    per-row array CPU must fan out before it, not after."""
    toks = F.split(F.col("text"), " ")
    m = F.size("ts") - 1
    docs = (
        spread(table(spark, sf_dir, "documents"))
        .select("doc_id", "lang", toks.alias("ts"))
        .withColumn(
            "bg",
            F.when(
                m >= 1,
                F.transform(
                    F.arrays_zip(
                        F.slice("ts", 1, m), F.slice("ts", 2, m)
                    ),
                    lambda g: F.concat_ws(" ", g["0"], g["1"]),
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
    )
    per_doc = docs.select(
        "lang",
        F.round(
            1.0 - F.size(F.array_distinct("ts")) / F.size("ts"), 6
        ).alias("dup_token_frac"),
        F.when(
            F.size("bg") > 0,
            F.round(1.0 - F.size(F.array_distinct("bg")) / F.size("bg"), 6),
        )
        .otherwise(0.0)
        .alias("dup_bigram_frac"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.round(F.avg("dup_token_frac"), 6).alias("avg_dup_token_frac"),
            F.round(F.avg("dup_bigram_frac"), 6).alias("avg_dup_bigram_frac"),
            F.sum(
                F.when(F.col("dup_token_frac") > 0.3, 1).otherwise(0)
            ).alias("flagged"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q107 — PII redaction
# ---------------------------------------------------------------------------

_EMAIL_RE = "[a-z0-9]+@[a-z0-9]+\\.[a-z]{2,4}"
_IPV4_RE = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"


@_q(
    "q107_pii_redaction",
    f"""
    WITH aug AS (
      SELECT doc_id,
        text || CASE WHEN doc_id % 3 = 0
                     THEN ' contact user' || doc_id || '@mail' || (doc_id % 7) || '.com'
                     ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                     THEN ' from 10.' || (doc_id % 256) || '.0.' || (doc_id % 100)
                     ELSE '' END AS text
      FROM documents
    ), red AS (
      SELECT doc_id,
        len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_email,
        len(regexp_extract_all(text, '{_IPV4_RE}')) AS n_ip,
        regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                       '{_IPV4_RE}', '<IP>', 'g') AS clean
      FROM aug
    )
    SELECT doc_id, CAST(n_email AS BIGINT) AS n_email, CAST(n_ip AS BIGINT) AS n_ip,
           md5(clean) AS clean_md5
    FROM red WHERE n_email > 0 OR n_ip > 0 ORDER BY doc_id
    """,
)
def q107_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: count and redact email / IPv4 literals per document,
    returning match counts and an md5 of the redacted text (byte-level
    cross-engine parity without shipping the text back). The synthetic
    corpus contains no PII, so deterministic PII is first injected as a
    function of doc_id — the oracle injects identically, so the regex
    engines are compared on text that genuinely matches. Pure
    regexp_replace/count expressions: codegen, no UDFs, scan-bound."""
    docs = table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@mail"),
                    (F.col("doc_id") % 7).cast("string"),
                    F.lit(".com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" from 10."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".0."),
                    (F.col("doc_id") % 100).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    red = aug.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), F.lit(0))).cast(
            "long"
        ).alias("n_email"),
        F.size(F.regexp_extract_all("text", F.lit(_IPV4_RE), F.lit(0))).cast(
            "long"
        ).alias("n_ip"),
        F.md5(
            F.regexp_replace(
                F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"), _IPV4_RE, "<IP>"
            )
        ).alias("clean_md5"),
    )
    return (
        red.filter((F.col("n_email") > 0) | (F.col("n_ip") > 0))
        .select("doc_id", "n_email", "n_ip", "clean_md5")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q108 — deterministic content-hash split
# ---------------------------------------------------------------------------


@_q(
    "q108_hash_split",
    """
    WITH b AS (
      SELECT doc_id, lang,
        (ascii(substr(md5(text), 1, 1)) * 256 + ascii(substr(md5(text), 2, 1)))
          % 100 AS bucket
      FROM documents
    ), s AS (
      SELECT lang,
        CASE WHEN bucket < 90 THEN 'train'
             WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
      FROM b
    )
    SELECT lang, split, CAST(count(*) AS BIGINT) AS docs
    FROM s GROUP BY lang, split ORDER BY lang, split
    """,
)
def q108_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split keyed on a content
    hash (two md5 hex chars -> bucket in [0,100)): the split of a
    document never depends on partitioning, row order, cluster size, or
    an RNG seed file — re-running the pipeline anywhere reproduces the
    same membership, and a changed document migrates buckets atomically.
    Per-language counts verify the split is also roughly stratified.
    Pure expressions + one small agg; scan-bound at any scale."""
    docs = table(spark, sf_dir, "documents")
    bucket = (
        F.ascii(F.substring(F.md5("text"), 1, 1)) * 256
        + F.ascii(F.substring(F.md5("text"), 2, 1))
    ) % 100
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    return (
        docs.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("docs"))
        .orderBy("lang", "split")
    )


# ---------------------------------------------------------------------------
# q109 — token-offset sharding via scalable prefix sum
# ---------------------------------------------------------------------------

_SHARD_TOKENS = 4096
_PREFIX_GROUP = 500  # docs per prefix group (tune to ~partition size at scale)


def _token_offsets(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tok, start_off): each document's global token offset in
    doc_id order, via a THREE-level prefix sum (per-group subtotals ->
    per-supergroup subtotals -> tiny-table prefix window -> two keyed
    within-group windows). The only empty-partition window runs over
    the supergroup frame — docs / {_PREFIX_GROUP}^2 rows (e.g. 40 rows
    for 10M docs), so no task ever holds a data-proportional frame at
    ANY corpus size; every other window partitions on its (super)group
    key. Shared by q109 (sharding) and q130 (sequence packing) so both
    cut the corpus at identical offsets."""
    d = docs.select("doc_id", F.size(F.split("text", " ")).alias("n_tok"))
    g = d.withColumn("grp", F.floor(F.col("doc_id") / _PREFIX_GROUP))
    gsub = g.groupBy("grp").agg(F.sum("n_tok").alias("g_tok")).withColumn(
        "sgrp", F.floor(F.col("grp") / _PREFIX_GROUP)
    )
    wsg = Window.orderBy("sgrp").rowsBetween(Window.unboundedPreceding, -1)
    sbases = (
        gsub.groupBy("sgrp")
        .agg(F.sum("g_tok").alias("s_tok"))
        .withColumn("s_base", F.coalesce(F.sum("s_tok").over(wsg), F.lit(0)))
        .select("sgrp", "s_base")
    )
    wgin = Window.partitionBy("sgrp").orderBy("grp").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bases = (
        gsub.join(F.broadcast(sbases), "sgrp")
        .withColumn(
            "g_base",
            F.col("s_base") + F.coalesce(F.sum("g_tok").over(wgin), F.lit(0)),
        )
        .select("grp", "g_base")
    )
    ww = Window.partitionBy("grp").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return g.join(F.broadcast(bases), "grp").withColumn(
        "start_off",
        F.col("g_base") + F.coalesce(F.sum("n_tok").over(ww), F.lit(0)),
    )


@_q(
    "q109_token_shards",
    f"""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
    ), o AS (
      SELECT doc_id, n_tok,
        sum(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS start_raw
      FROM t
    ), s AS (
      SELECT doc_id, n_tok, COALESCE(start_raw, 0) AS start_off,
        COALESCE(start_raw, 0) // {_SHARD_TOKENS} AS shard,
        CASE WHEN (COALESCE(start_raw, 0) + n_tok - 1) // {_SHARD_TOKENS}
                  <> COALESCE(start_raw, 0) // {_SHARD_TOKENS}
             THEN 1 ELSE 0 END AS straddles
      FROM o
    )
    SELECT CAST(shard AS BIGINT) AS shard, CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(n_tok) AS BIGINT) AS tokens,
           CAST(sum(straddles) AS BIGINT) AS straddlers,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM s GROUP BY shard ORDER BY shard
    """,
)
def q109_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-offset sharding — the "concatenate the corpus in doc_id
    order and cut every {B} tokens" step that precedes sequence packing.
    The offsets are a global prefix sum, and the naive form (a window
    over ORDER BY doc_id with no partition key) collapses to ONE
    partition. This plan uses the scalable two-phase shape instead:

    1. group docs into doc_id ranges; per-group token subtotals
       (map-side combinable agg — tiny result, one row per group);
    2. prefix-sum the subtotals inside a window over the GROUP table
       (thousands of rows at 100 TB — negligible) and broadcast-join
       the group base offsets back;
    3. within-group running sum, window PARTITIONED BY the group key.

    Every wide stage is either keyed (per-group window) or operates on
    the group-count-sized table; nothing serializes the corpus through
    one task. The oracle states the same semantics as the naive global
    window, proving the decomposition exact."""
    s = (
        _token_offsets(table(spark, sf_dir, "documents"))
        .withColumn("shard", F.floor(F.col("start_off") / _SHARD_TOKENS))
        .withColumn(
            "straddles",
            (
                F.floor((F.col("start_off") + F.col("n_tok") - 1) / _SHARD_TOKENS)
                != F.col("shard")
            ).cast("int"),
        )
    )
    return (
        s.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tok").alias("tokens"),
            F.sum("straddles").cast("long").alias("straddlers"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# q130 — greedy sequence packing
# ---------------------------------------------------------------------------

_PACK_CAP = 512  # tokens per training sequence


@_q(
    "q130_sequence_packing",
    f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents
    ), o AS (
      SELECT doc_id, n,
        COALESCE(sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED
                              PRECEDING AND 1 PRECEDING), 0) AS start_off
      FROM t
    ), s AS (
      SELECT doc_id, n, start_off // {_SHARD_TOKENS} AS shard,
        row_number() OVER (PARTITION BY start_off // {_SHARD_TOKENS}
                           ORDER BY doc_id) AS rn
      FROM o
    ), packed AS (
      SELECT shard, rn, doc_id, n, 0 AS seq, n AS fill FROM s WHERE rn = 1
      UNION ALL
      SELECT s.shard, s.rn, s.doc_id, s.n,
        CASE WHEN p.fill + s.n <= {_PACK_CAP} THEN p.seq ELSE p.seq + 1 END,
        CASE WHEN p.fill + s.n <= {_PACK_CAP} THEN p.fill + s.n ELSE s.n END
      FROM packed p JOIN s ON s.shard = p.shard AND s.rn = p.rn + 1
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(max(seq) + 1 AS BIGINT) AS n_seqs,
           CAST(sum(n) AS BIGINT) AS tokens,
           ROUND(sum(n) * 1.0 / ((max(seq) + 1) * {_PACK_CAP}), 6) AS fill_ratio
    FROM packed GROUP BY shard ORDER BY shard
    """,
)
def q130_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing — the step after q109's sharding that
    actually fills training sequences: documents in doc_id order are
    first-fit packed into {_PACK_CAP}-token sequences (a new sequence
    starts when the next document would overflow; an oversized document
    gets a sequence of its own). Reported per shard: sequence count,
    packed tokens, and fill ratio — the padding-waste metric a training
    team watches.

    Greedy packing is inherently sequential (each cut depends on the
    running fill), which is exactly what a distributed plan must NOT
    serialize globally. The scalable decomposition: q109's two-phase
    prefix sum assigns each doc a {_SHARD_TOKENS}-token SHARD (packing
    state resets at shard boundaries by construction), then the
    sequential first-fit fold runs per shard as a JVM-side
    ``aggregate()`` over the shard's sorted (doc_id, n_tok) list —
    thousands of independent bounded groups at 100 TB, none larger
    than a few hundred docs, with no Python/Arrow round-trip (the
    applyInPandas form this replaced spent ~70% of its sf1 wall on
    per-group Python overhead). The oracle replays the same greedy
    fold as a recursive CTE, proving the per-shard decomposition
    exact."""
    docs = _token_offsets(spread(table(spark, sf_dir, "documents")))
    sharded = docs.withColumn(
        "shard", F.floor(F.col("start_off") / _SHARD_TOKENS)
    ).select("shard", "doc_id", "n_tok")
    # first-fit fold over the doc_id-sorted token counts: accumulator is
    # (n_seqs so far, fill of the open sequence); -1 marks "no open seq"
    fold = F.expr(
        "aggregate("
        "  transform(array_sort(collect_list(struct(doc_id, n_tok))), s -> s.n_tok),"
        "  named_struct('seqs', CAST(0 AS BIGINT), 'fill', CAST(-1 AS BIGINT)),"
        "  (acc, n) -> CASE"
        f"    WHEN acc.fill >= 0 AND acc.fill + n <= {_PACK_CAP}"
        "      THEN named_struct('seqs', acc.seqs, 'fill', acc.fill + CAST(n AS BIGINT))"
        "    ELSE named_struct('seqs', acc.seqs + CAST(1 AS BIGINT), 'fill', CAST(n AS BIGINT))"
        "  END,"
        "  acc -> acc.seqs)"
    )
    return (
        sharded.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.sum("n_tok").cast("long").alias("tokens"),
            fold.alias("n_seqs"),
        )
        .select(
            "shard",
            "docs",
            "n_seqs",
            "tokens",
            F.round(
                F.col("tokens") / (F.col("n_seqs") * F.lit(_PACK_CAP)), 6
            ).alias("fill_ratio"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# q131 — deterministic importance resampling
# ---------------------------------------------------------------------------

_IS_HALF = 40  # tokens at which the keep-weight reaches 0.5


@_q(
    "q131_importance_sample",
    f"""
    WITH w AS (
      SELECT doc_id, lang,
        len(string_split(text, ' ')) AS n,
        (({" + ".join(
            f"(strpos('0123456789abcdef', substr(md5('ws' || text), {i + 1}, 1)) - 1) * {16 ** (14 - i)}"
            for i in range(15)
        )}) % 1000000) AS bucket,
        len(string_split(text, ' ')) * 1.0
          / (len(string_split(text, ' ')) + {_IS_HALF}) AS wgt
      FROM documents
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS docs,
      CAST(sum(CASE WHEN bucket < CAST(floor(wgt * 1000000) AS BIGINT)
               THEN 1 ELSE 0 END) AS BIGINT) AS kept,
      CAST(sum(CASE WHEN bucket < CAST(floor(wgt * 1000000) AS BIGINT)
               THEN n ELSE 0 END) AS BIGINT) AS kept_tokens,
      ROUND(avg(wgt), 6) AS mean_weight
    FROM w GROUP BY lang ORDER BY lang
    """,
)
def q131_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic importance resampling — the weighted form of q59's
    uniform hash sample and the mechanism behind quality-proportional
    corpus selection (the public DSIR/importance-resampling recipe):
    each document is kept with probability equal to a per-doc weight,
    decided by comparing a content-hash bucket against the weight — no
    RNG state, reproducible on any cluster, stable under repartitioning,
    and the SAME decision for the same document on every run (the
    property an incremental corpus build needs).

    The weight here is the saturating length weight n/(n+{_IS_HALF})
    (longer docs proportionally likelier kept); any per-doc quality
    score — q110's unigram logprob, q40b's gate, a model score — plugs
    into the same comparison. The keep decision compares the hash
    bucket to floor(weight * 1e6): pure rational arithmetic on
    identical inputs, so both engines make bit-identical decisions —
    no float-boundary flake. One scan, one map-side-combined agg; at
    100 TB the sample never materializes a shuffle of the corpus."""
    n = F.size(F.split("text", " "))
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ws"), F.col("text"))), 1, 15), 16, 10
        ).cast("long")
        % 1000000
    )
    wgt = n / (n + F.lit(_IS_HALF))
    keep = bucket < F.floor(wgt * 1000000).cast("long")
    return (
        spread(table(spark, sf_dir, "documents"))
        .select("lang", n.alias("n"), keep.alias("keep"), wgt.alias("wgt"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.col("keep").cast("long")).alias("kept"),
            F.sum(F.when(F.col("keep"), F.col("n")).otherwise(0)).alias(
                "kept_tokens"
            ),
            F.round(F.avg("wgt"), 6).alias("mean_weight"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q110 — unigram-LM quality score
# ---------------------------------------------------------------------------


@_q(
    "q110_unigram_logprob",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ), freq AS (
      SELECT t, count(*) AS c FROM tok GROUP BY t
    ), tot AS (SELECT sum(c) AS n FROM freq),
    scored AS (
      SELECT tok.doc_id, avg(ln(freq.c * 1.0 / tot.n)) AS mean_lp
      FROM tok JOIN freq ON tok.t = freq.t CROSS JOIN tot
      GROUP BY tok.doc_id
    ), ranked AS (
      SELECT doc_id, round(mean_lp, 6) AS mean_logprob,
             row_number() OVER (ORDER BY mean_lp DESC, doc_id) AS rn
      FROM scored
    )
    SELECT doc_id, mean_logprob, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 20 ORDER BY rn
    """,
)
def q110_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring — the cheap statistical proxy for
    perplexity-based quality filtering (CCNet uses a 5-gram KenLM; the
    unigram case is the same dataflow): corpus term frequencies form
    the model, each document scores as the mean log-probability of its
    tokens, top 20 most-probable docs returned. The model table is
    vocabulary-sized -> broadcast; the corpus side is exploded tokens
    with a map-side-combinable per-doc agg. mean_lp is an avg of ~100
    doubles — both engines agg in float64 and round to 6, and the
    per-doc token join order cannot perturb avg() beyond that rounding.
    """
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    n = freq.agg(F.sum("c").alias("n"))
    scored = (
        tok.join(F.broadcast(freq), "t")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(F.avg(F.log(F.col("c") / F.col("n"))).alias("mean_lp"))
    )
    w = Window.orderBy(F.desc("mean_lp"), F.asc("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 20)
        .select(
            "doc_id", F.round("mean_lp", 6).alias("mean_logprob"), "rn"
        )
        .orderBy("rn")
    )


# ---------------------------------------------------------------------------
# q111 — the full corpus build as ONE plan
# ---------------------------------------------------------------------------


def _corpus_pipeline_oracle() -> str:
    from nfl_predictions_spark.operators.dedup import _DECON_N
    from nfl_predictions_spark.operators.text import _STOPWORDS

    sw = "['" + "','".join(_STOPWORDS) + "']"
    shingle = (
        f"list_distinct([array_to_string(ts[i : i + {_DECON_N - 1}],' ') "
        f"for i in range(1, len(ts) - {_DECON_N - 2})])"
    )
    return f"""
WITH t AS (
  SELECT doc_id, lang, text, string_split(text,' ') AS ts,
         len(string_split(text,' ')) AS n,
         len(list_filter(string_split(text,' '), x -> list_contains({sw}, x))) AS n_stop,
         length(text) - length(regexp_replace(text,'[^a-zA-Z0-9 ]','','g')) AS n_punct
  FROM documents
), q AS (
  SELECT doc_id, lang, text, ts, n FROM t
  WHERE n BETWEEN 20 AND 80 AND n_stop*1.0/n BETWEEN 0.05 AND 0.6
    AND n_punct*1.0/length(text) < 0.1 AND doc_id % 50 <> 0
), d AS (
  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM q
), surv AS (SELECT doc_id, lang, text, ts, n FROM d WHERE rn = 1),
evsh AS (
  SELECT DISTINCT unnest({shingle}) AS s
  FROM t WHERE doc_id % 50 = 0 AND len(ts) >= {_DECON_N}
), tsh AS (
  SELECT doc_id, unnest({shingle}) AS s
  FROM surv WHERE len(ts) >= {_DECON_N}
), contaminated AS (SELECT DISTINCT tsh.doc_id FROM tsh JOIN evsh USING (s)),
clean AS (SELECT surv.* FROM surv LEFT JOIN contaminated c ON surv.doc_id = c.doc_id
          WHERE c.doc_id IS NULL),
sp AS (
  SELECT lang, n,
    CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
  FROM (SELECT lang, n,
          (ascii(substr(md5(text),1,1))*256 + ascii(substr(md5(text),2,1))) % 100 AS b
        FROM clean)
)
SELECT lang, split, CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(n) AS BIGINT) AS tokens
FROM sp GROUP BY lang, split ORDER BY lang, split
"""


@_q("q111_corpus_pipeline", _corpus_pipeline_oracle())
def q111_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole pretraining-corpus build as ONE composed Catalyst plan:

        quality gate (q40b rule) -> exact dedup survivor (q38b rule)
        -> benchmark decontamination (q91 rule, broadcast eval side)
        -> deterministic hash split (q108 rule)
        -> per-(lang, split) doc/token accounting

    Composition is the point: each stage is the operator already
    oracle-checked in isolation, and because everything stays
    declarative, Catalyst fuses the quality filter into the scan,
    plans ONE shuffle for the dedup window, broadcasts the (tiny) eval
    shingle set and the contaminated-id set, and map-side-combines the
    final agg. At 100 TB nothing in this plan materializes an
    intermediate corpus copy - the anti-join and filters stream.

    The survivor subtree feeds two consumers (its shingles and the
    final anti-join), and the pruning difference keeps the copies from
    canonicalizing equal — so the survivor set is checkpointed between
    stages (what a production 100 TB run does to storage, and what the
    incremental q112 effectively does with its state files): the
    quality gate + dedup window run once, not per consumer."""
    from nfl_predictions_spark.operators.dedup import _DECON_N, shingle_rows
    from nfl_predictions_spark.operators.text import _STOPWORDS

    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    sw = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
    n_punct = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), "[^a-zA-Z0-9 ]", "")
    )
    is_eval = F.col("doc_id") % 50 == 0

    quality = (
        docs.withColumn("n", n)
        .filter(
            F.col("n").between(20, 80)
            & (n_stop / F.col("n")).between(0.05, 0.6)
            & (n_punct / F.length("text") < 0.1)
            & ~is_eval
        )
        .select("doc_id", "lang", "text", "n")
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    # the survivor subtree feeds two consumers (its shingles and the
    # final anti-join); the lazy checkpoint computes the quality gate +
    # dedup window once instead of per consumer — the "production run
    # would checkpoint the survivor set between stages" note below,
    # applied (optimization round 11)
    surv = (
        quality.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .localCheckpoint(eager=False)
    )
    evsh = (
        shingle_rows(docs.filter(is_eval), n=_DECON_N)
        .select("s")
        .distinct()
    )
    contaminated = (
        shingle_rows(surv, n=_DECON_N)
        .join(F.broadcast(evsh), "s")
        .select("doc_id")
        .distinct()
    )
    clean = surv.join(F.broadcast(contaminated), "doc_id", "left_anti")
    bucket = (
        F.ascii(F.substring(F.md5("text"), 1, 1)) * 256
        + F.ascii(F.substring(F.md5("text"), 2, 1))
    ) % 100
    split = F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    return (
        clean.select("lang", "n", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("docs"), F.sum("n").alias("tokens"))
        .orderBy("lang", "split")
    )


# ---------------------------------------------------------------------------
# Reusable quality rule (shared with the streaming corpus ingest, q112)
# ---------------------------------------------------------------------------

#: DuckDB CTE body stating the same rule as ``quality_docs`` (callers
#: interpolate it as  WITH t AS (...), q AS ({QUALITY_SQL})  ...).
QUALITY_SQL = """
  SELECT doc_id, lang, text, n FROM (
    SELECT doc_id, lang, text,
      len(string_split(text,' ')) AS n,
      len(list_filter(string_split(text,' '),
          x -> list_contains({sw}, x))) AS n_stop,
      length(text) - length(regexp_replace(text,'[^a-zA-Z0-9 ]','','g'))
        AS n_punct
    FROM documents
  ) WHERE n BETWEEN 20 AND 80 AND n_stop*1.0/n BETWEEN 0.05 AND 0.6
    AND n_punct*1.0/length(text) < 0.1
"""


def quality_docs(docs: DataFrame) -> DataFrame:
    """The q40b quality gate as a reusable streaming-safe filter:
    returns (doc_id, lang, text, n) for documents passing the
    length-band / stopword-ratio / punctuation-density rule. Pure row
    expressions, so it applies identically to a batch frame or a
    micro-batch inside foreachBatch."""
    from nfl_predictions_spark.operators.text import _STOPWORDS

    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    sw = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
    n_punct = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), "[^a-zA-Z0-9 ]", "")
    )
    return docs.withColumn("n", n).filter(
        F.col("n").between(20, 80)
        & (n_stop / F.col("n")).between(0.05, 0.6)
        & (n_punct / F.length("text") < 0.1)
    ).select("doc_id", "lang", "text", "n")


def quality_sql() -> str:
    from nfl_predictions_spark.operators.text import _STOPWORDS

    return QUALITY_SQL.format(sw="['" + "','".join(_STOPWORDS) + "']")


# ---------------------------------------------------------------------------
# q113 — pipeline observability via df.observe
# ---------------------------------------------------------------------------


@_q(
    "q113_pipeline_observability",
    """
    WITH t AS (
      SELECT doc_id,
        len(string_split(text,' ')) AS n,
        len(list_filter(string_split(text,' '),
            x -> list_contains(['the','a','of','and','to','in','is','it'], x)))
          AS n_stop,
        length(text) - length(regexp_replace(text,'[^a-zA-Z0-9 ]','','g'))
          AS n_punct,
        length(text) AS len_text
      FROM documents
    )
    SELECT CAST(count(*) AS BIGINT) AS rows_in,
      CAST(sum(CASE WHEN n BETWEEN 20 AND 80
                     AND n_stop*1.0/n BETWEEN 0.05 AND 0.6
                     AND n_punct*1.0/len_text < 0.1 THEN 1 ELSE 0 END)
           AS BIGINT) AS rows_kept,
      CAST(sum(n) AS BIGINT) AS tokens_in
    FROM t
    """,
)
def q113_pipeline_observability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability with ``df.observe``: accumulator-style
    metrics (rows in, rows passing the quality gate, total tokens)
    collected DURING the pass itself — zero extra scans, zero extra
    shuffles; the metrics ride the same tasks as the data. This is how
    a production corpus build reports its attrition funnel without
    re-aggregating 100 TB: observe() on each stage, one pass total.
    The observed values are returned as a one-row DataFrame so the
    driver can value-check them against the oracle's direct aggregate.
    """
    from pyspark.sql import Observation

    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    from nfl_predictions_spark.operators.text import _STOPWORDS

    sw = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
    n_punct = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), "[^a-zA-Z0-9 ]", "")
    )
    keep = (
        n.between(20, 80)
        & (n_stop / n).between(0.05, 0.6)
        & (n_punct / F.length("text") < 0.1)
    )
    obs = Observation("corpus_funnel")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(keep.cast("long")).alias("rows_kept"),
        F.sum(n.cast("long")).alias("tokens_in"),
    )
    observed.write.format("noop").mode("overwrite").save()  # the single pass
    m = obs.get
    return spark.createDataFrame(
        [(m["rows_in"], m["rows_kept"], m["tokens_in"])],
        "rows_in long, rows_kept long, tokens_in long",
    )


# ---------------------------------------------------------------------------
# q138 — bigram language-model quality score
# ---------------------------------------------------------------------------


@_q(
    "q138_bigram_logprob",
    f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    bg AS (
      SELECT doc_id, unnest({_BIGRAM_SQL}) AS b
      FROM tok WHERE len(ts) >= 2
    ), split AS (
      SELECT doc_id, string_split(b, ' ')[1] AS w1, string_split(b, ' ')[2] AS w2
      FROM bg
    ), c12 AS (
      SELECT w1, w2, count(*) AS c12 FROM split GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, count(*) AS c1 FROM split GROUP BY w1
    ), vocab AS (
      SELECT count(DISTINCT t) AS v
      FROM (SELECT unnest(ts) AS t FROM tok)
    ), scored AS (
      SELECT s.doc_id,
        avg(ln((c12.c12 + 1.0) / (c1.c1 + vocab.v))) AS mean_lp
      FROM split s
      JOIN c12 ON c12.w1 = s.w1 AND c12.w2 = s.w2
      JOIN c1 ON c1.w1 = s.w1
      CROSS JOIN vocab
      GROUP BY s.doc_id
    ), ranked AS (
      SELECT doc_id, round(mean_lp, 6) AS mean_bigram_lp,
             row_number() OVER (ORDER BY mean_lp DESC, doc_id) AS rn
      FROM scored
    )
    SELECT doc_id, mean_bigram_lp, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 20 ORDER BY rn
    """,
)
def q138_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring with add-one smoothing — one order
    up from q110's unigram proxy and one step closer to the KenLM-style
    perplexity filters CCNet-class pipelines use: P(w2|w1) = (c(w1,w2)
    + 1) / (c(w1,·) + V), each document scored by the mean log-prob of
    its bigram occurrences, top 20 most-fluent docs returned.

    Scale shape: bigrams come from the SAME shifted-slice zip the
    shingler uses (no window sort, no lambda); the conditional model is
    two hash aggs over the bigram rows (c12 reuses the exploded scan,
    c1 reuses c12's shuffle). The model table is vocab²-bounded — here
    broadcast; at web scale it exceeds broadcast range, and the join
    key (w1, w2) is exactly the pre-partitioned layout a production
    run would bucket the model table by. The smoothed probability is
    pure rational arithmetic on counts, identical in both engines;
    mean_lp is an avg of doubles rounded to 6 (the q110 precedent)."""
    docs = table(spark, sf_dir, "documents")
    d = (
        docs.select("doc_id", F.split("text", " ").alias("tk"))
        .withColumn("m", F.size("tk") - 1)
        .filter(F.col("m") >= 1)
    )
    pairs = d.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("tk", 1, F.col("m")).alias("w1"),
                F.slice("tk", 2, F.col("m")).alias("w2"),
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
    c12 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("t"))
        .agg(F.countDistinct("t").alias("v"))
    )
    scored = (
        pairs.join(F.broadcast(c12), ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.avg(
                F.log((F.col("c12") + 1.0) / (F.col("c1") + F.col("v")))
            ).alias("mean_lp")
        )
    )
    w = Window.orderBy(F.desc("mean_lp"), F.asc("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 20)
        .select(
            "doc_id", F.round("mean_lp", 6).alias("mean_bigram_lp"), "rn"
        )
        .orderBy("rn")
    )


# ---------------------------------------------------------------------------
# q140 — weighted sampling without replacement (Efraimidis–Spirakis A-ES)
# ---------------------------------------------------------------------------

_WS_K = 50  # sample size


@_q(
    "q140_weighted_sample",
    f"""
    WITH u AS (
      SELECT doc_id, n_chars,
        ((({" + ".join(
            f"(strpos('0123456789abcdef', substr(md5('aes' || text), {i + 1}, 1)) - 1) * {16 ** (14 - i)}"
            for i in range(15)
        )}) % 1000000) + 0.5) / 1000000.0 AS u
      FROM documents
    ), keyed AS (
      SELECT doc_id, n_chars, round(ln(u) / n_chars, 6) AS k FROM u
    ), ranked AS (
      SELECT doc_id, n_chars, k,
        row_number() OVER (ORDER BY k DESC, doc_id) AS rn
      FROM keyed
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS weight, k AS aes_key,
           CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= {_WS_K} ORDER BY rn
    """,
)
def q140_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement — the Efraimidis–Spirakis
    A-ES scheme (key = u^(1/w), equivalently ln(u)/w; take the top-k
    keys), with the uniform u derived from a content md5 instead of RNG
    state: fully deterministic, repartition-stable, and mergeable — the
    top-k of per-partition top-ks IS the global sample, which is what
    makes this the distributed-correct weighted sampler (vs rejection
    or roulette schemes that need a global pass per draw). Weight =
    n_chars: longer documents proportionally likelier sampled; any
    quality score plugs in.

    Scale shape: one scan computing (u, key) map-side + a top-k — at
    100 TB this is partial top-k per partition then a {_WS_K}-row
    merge, no global sort, no shuffle of the corpus. u is quantized to
    the same 1e-6 grid as q131's buckets (exact rational arithmetic);
    the only cross-engine float op is ln(), absorbed by the house
    round-6 + doc_id tie-break ranking rule."""
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("aes"), F.col("text"))), 1, 15
                ),
                16,
                10,
            ).cast("long")
            % 1000000
        )
        + 0.5
    ) / 1000000.0
    k = F.round(F.log(u) / F.col("n_chars"), 6)
    w = Window.orderBy(F.desc("k"), F.asc("doc_id"))
    return (
        spread(table(spark, sf_dir, "documents"))
        .select("doc_id", "n_chars", k.alias("k"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _WS_K)
        .select(
            "doc_id",
            F.col("n_chars").cast("long").alias("weight"),
            F.col("k").alias("aes_key"),
            "rn",
        )
        .orderBy("rn")
    )


# ---------------------------------------------------------------------------
# q146 — train/val distribution drift (hash-split token distributions)
# ---------------------------------------------------------------------------

_BUCKET_SQL = (
    "(ascii(substr(md5(text), 1, 1)) * 256 + ascii(substr(md5(text), 2, 1))) % 100"
)


@_q(
    "q146_split_drift",
    f"""
    WITH b AS (
      SELECT CASE WHEN {_BUCKET_SQL} < 90 THEN 'train'
                  WHEN {_BUCKET_SQL} < 95 THEN 'val' ELSE 'test' END AS split,
             unnest(string_split(text, ' ')) AS term
      FROM documents
    ), h AS (
      SELECT term,
             sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS c_tr,
             sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS c_va
      FROM b WHERE split IN ('train', 'val') GROUP BY term
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS v,
             CAST(sum(c_tr) AS BIGINT) AS n_tr,
             CAST(sum(c_va) AS BIGINT) AS n_va
      FROM h
    ), contrib AS (
      SELECT v, n_tr, n_va,
        (c_tr + 1.0) / (n_tr + v) AS p,
        (c_va + 1.0) / (n_va + v) AS q
      FROM h CROSS JOIN tot
    )
    SELECT any_value(v) AS n_terms, any_value(n_tr) AS train_tokens,
           any_value(n_va) AS val_tokens,
      CAST(round(sum(CAST(round(abs(p - q) / 2, 14) AS DECIMAL(20,14))), 6)
           AS DOUBLE) AS tv_distance,
      CAST(round(sum(CAST(round((p-q)*(p-q)/(p+q), 14) AS DECIMAL(20,14))), 6)
           AS DOUBLE) AS chi2,
      CAST(round(sum(CAST(round(sqrt(p * q), 14) AS DECIMAL(20,14))), 6)
           AS DOUBLE) AS bhattacharyya
    FROM contrib
    """,
)
def q146_split_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between the train and val hash-splits (q108's
    deterministic md5 buckets): total-variation distance, chi-square
    distance, and the Bhattacharyya coefficient over add-one-smoothed
    token distributions. The guard a corpus pipeline runs after any
    split change — a content-hash split SHOULD be distributionally
    neutral, and this measures it.

    Numeric contract: the three divergences use only IEEE-exact-or-
    correctly-rounded ops (+,-,*,/,sqrt) so per-term contributions are
    bit-identical across engines (KL's ln() is NOT — libm last-ulp
    differs — which is why TV/chi2/BC are the emitted metrics); each
    contribution is rounded to 14 dp and summed in DECIMAL so the total
    is order-independent, then rounded once to DOUBLE on the wire.

    Scale: one shuffle on term (map-side combined), a 1-row broadcast
    of the totals, one vocabulary-sized final agg. No driver loops."""
    docs = spread(table(spark, sf_dir, "documents"))
    bucket = (
        F.ascii(F.substring(F.md5("text"), 1, 1)) * 256
        + F.ascii(F.substring(F.md5("text"), 2, 1))
    ) % 100
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    h = (
        docs.select(split.alias("split"), F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("split").isin("train", "val"))
        .groupBy("term")
        .agg(
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("c_tr"),
            F.sum(F.when(F.col("split") == "val", 1).otherwise(0)).alias("c_va"),
        )
    )
    tot = h.agg(
        F.count(F.lit(1)).alias("v"),
        F.sum("c_tr").alias("n_tr"),
        F.sum("c_va").alias("n_va"),
    )
    p = (F.col("c_tr") + 1.0) / (F.col("n_tr") + F.col("v"))
    q = (F.col("c_va") + 1.0) / (F.col("n_va") + F.col("v"))

    def _dsum(expr):
        return F.round(
            F.sum(F.round(expr, 14).cast("decimal(20,14)")), 6
        ).cast("double")

    return (
        h.crossJoin(F.broadcast(tot))
        .select("v", "n_tr", "n_va", p.alias("p"), q.alias("q"))
        .agg(
            F.any_value(F.col("v")).alias("n_terms"),
            F.any_value(F.col("n_tr")).alias("train_tokens"),
            F.any_value(F.col("n_va")).alias("val_tokens"),
            _dsum(F.abs(F.col("p") - F.col("q")) / 2).alias("tv_distance"),
            _dsum(
                (F.col("p") - F.col("q")) * (F.col("p") - F.col("q"))
                / (F.col("p") + F.col("q"))
            ).alias("chi2"),
            _dsum(F.sqrt(F.col("p") * F.col("q"))).alias("bhattacharyya"),
        )
    )


# ---------------------------------------------------------------------------
# q147 — rank-based top-decile quality filter
# ---------------------------------------------------------------------------


from nfl_predictions_spark.operators.text import _SW_LIST_SQL as _SW147


@_q(
    "q147_quality_topk_filter",
    f"""
    WITH s AS (
      SELECT doc_id, lang,
        round(
          len(list_filter(string_split(text, ' '),
                          x -> list_contains({_SW147}, x)))
            * 1.0 / len(string_split(text, ' '))
          - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
            * 1.0 / length(text), 6) AS score
      FROM documents
    ), ranked AS (
      SELECT s.*, row_number() OVER (ORDER BY score DESC, doc_id) AS rn,
             count(*) OVER () AS n
      FROM s
    ), top AS (
      SELECT * FROM ranked WHERE rn <= (n + 9) // 10
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS kept_docs,
      CAST(round(sum(CAST(score AS DECIMAL(18,6))) / count(*), 6) AS DOUBLE)
        AS avg_score,
      CAST(min(score) AS DOUBLE) AS min_score
    FROM top GROUP BY lang ORDER BY lang
    """,
)
def q147_quality_topk_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the top 10% of documents by heuristic quality score
    (stopword density minus punctuation density — q40b's signals fused
    into one rank key) and profile what survives per language. The
    "keep the best X%" curation step every pretraining recipe has.

    Threshold-by-RANK, not by interpolated percentile: k = ceil(N/10)
    in integer arithmetic, cut at the k-th (score, doc_id) — exact,
    deterministic, and no float-boundary flake (percentile_cont's
    interpolation can differ by 1 ulp between engines). Spark executes
    ``orderBy(...).limit(k)`` as TakeOrdered: per-partition top-k then
    a k-sized merge — no global sort, no single-partition window, scale-
    safe for any k that fits one executor. The survivor aggregate sums
    6-dp scores in exact DECIMAL (order-independent), emits DOUBLE."""
    from nfl_predictions_spark.operators.text import _STOPWORDS

    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    sw = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
    n_punct = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), "[^a-zA-Z0-9 ]", "")
    )
    score = F.round(
        n_stop / F.size(toks) - n_punct / F.length("text"), 6
    )
    scored = docs.select("doc_id", "lang", score.alias("score"))
    k = (scored.count() + 9) // 10  # one count job sizes the top-k cut
    top = scored.orderBy(F.desc("score"), "doc_id").limit(int(k))
    return (
        top.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("kept_docs"),
            F.round(
                F.sum(F.col("score").cast("decimal(18,6)")) / F.count(F.lit(1)), 6
            )
            .cast("double")
            .alias("avg_score"),
            F.min("score").cast("double").alias("min_score"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q177 — training-mixture construction (weighted source sampling)
# ---------------------------------------------------------------------------

#: Mixture spec: source-class -> share of the document budget.
_MIX_BUDGET = 200
_MIX_SHARES = {"web": 0.5, "books": 0.3, "code": 0.2}
_MIX_CLASS_SQL = (
    "CASE CAST(substr(source, 4) AS BIGINT) % 3 "
    "WHEN 0 THEN 'web' WHEN 1 THEN 'books' ELSE 'code' END"
)


def _mixture_oracle() -> str:
    targets = " ".join(
        f"WHEN '{c}' THEN {int(_MIX_BUDGET * s)}" for c, s in _MIX_SHARES.items()
    )
    return f"""
    WITH d AS (
      SELECT doc_id, {_MIX_CLASS_SQL} AS cls, md5(text) AS h
      FROM documents
    ), r AS (
      SELECT doc_id, cls,
             row_number() OVER (PARTITION BY cls ORDER BY h, doc_id) AS rn,
             CASE cls {targets} END AS target
      FROM d
    )
    SELECT cls,
           CAST(any_value(target) AS BIGINT) AS target,
           CAST(count(*) FILTER (rn <= target) AS BIGINT) AS taken,
           CAST(count(*) AS BIGINT) AS available,
           CAST(sum(doc_id) FILTER (rn <= target) AS BIGINT) AS key_sum
    FROM r GROUP BY cls ORDER BY cls
    """


@_q("q177_dataset_mixture", _mixture_oracle())
def q177_dataset_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture construction: sample each source class down to
    its share of the document budget (web 50% / books 30% / code 20%),
    selecting rows by content-hash rank so the mix is reproducible
    bit-for-bit with no RNG state — rerunning on the same corpus, or on
    any permutation of it, picks the identical documents.

    The report emits per-class target/taken/available plus a key
    checksum of the selected set (row-level evidence without shipping
    the rows). Scale: the rank window partitions by class, so the sort
    is per-class and distributes across classes; at 100 TB the
    production path replaces the exact rank cut with a hash-threshold
    prefilter (q131's importance-sampling trick) and reserves the rank
    for the boundary stratum — the mixture spec itself stays declarative.
    """
    cls = (
        F.when(F.substring("source", 4, 10).cast("long") % 3 == 0, "web")
        .when(F.substring("source", 4, 10).cast("long") % 3 == 1, "books")
        .otherwise("code")
    )
    targets = F.create_map(
        *[
            x
            for c, s in _MIX_SHARES.items()
            for x in (F.lit(c), F.lit(int(_MIX_BUDGET * s)))
        ]
    )
    d = table(spark, sf_dir, "documents").select(
        "doc_id", cls.alias("cls"), F.md5("text").alias("h")
    )
    w = Window.partitionBy("cls").orderBy("h", "doc_id")
    r = d.withColumn("rn", F.row_number().over(w)).withColumn(
        "target", targets[F.col("cls")].cast("long")
    )
    sel = F.col("rn") <= F.col("target")
    return (
        r.groupBy("cls")
        .agg(
            F.any_value("target").alias("target"),
            F.count(F.when(sel, 1)).alias("taken"),
            F.count(F.lit(1)).alias("available"),
            F.sum(F.when(sel, F.col("doc_id"))).alias("key_sum"),
        )
        .orderBy("cls")
    )


# ---------------------------------------------------------------------------
# q178 — greedy set-cover corpus selection (submodular diversity pick)
# ---------------------------------------------------------------------------

_SC_ROUNDS = 5


def _setcover_oracle(rounds: int = _SC_ROUNDS) -> str:
    parts = [
        """
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    sh AS (SELECT doc_id, {shingle} AS shingles FROM tok WHERE len(ts) >= 3),
    ex AS (SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh),
    c0 AS (SELECT CAST(NULL AS VARCHAR) AS s WHERE false)""".format(
            shingle=_SHINGLE_SQL_178
        )
    ]
    excl = ""
    for r in range(1, rounds + 1):
        parts.append(
            f"""
    , u{r} AS (
      SELECT e.doc_id, count(*) AS c
      FROM ex e LEFT JOIN c{r - 1} cv ON cv.s = e.s
      WHERE cv.s IS NULL{excl}
      GROUP BY e.doc_id
    ), p{r} AS (SELECT doc_id, c FROM u{r} ORDER BY c DESC, doc_id LIMIT 1),
    c{r} AS (SELECT s FROM c{r - 1}
             UNION SELECT e.s FROM ex e JOIN p{r} USING (doc_id))"""
        )
        excl += f" AND e.doc_id NOT IN (SELECT doc_id FROM p{r})"
    finals = " UNION ALL ".join(
        f"SELECT {r} AS round, doc_id, CAST(c AS BIGINT) AS gain, "
        f"(SELECT CAST(count(*) AS BIGINT) FROM c{r}) AS covered FROM p{r}"
        for r in range(1, rounds + 1)
    )
    parts.append(f"\n    SELECT * FROM ({finals}) ORDER BY round")
    return "".join(parts)


def set_cover_rounds(
    spark: SparkSession,
    sf_dir: str,
    rounds: int,
    plan_sizes: list[int] | None = None,
) -> DataFrame:
    """Greedy max-coverage selection loop, parameterized by round count.

    The covered set is ``localCheckpoint``-ed (eager) every round: without
    it, round k's anti-join re-derives a k-deep union-distinct lineage
    from scratch and driver-side planning grows quadratically in rounds —
    harmless at 5 rounds, a planner bottleneck at the 50-100 rounds a
    real selection run needs (VERDICT r03 "What's wrong" #3). The
    checkpoint also makes ``covered.count()`` a re-read, not a recompute.
    ``plan_sizes``, when given, collects the covered-set logical-plan
    string length per round so tests can pin that lineage stays bounded.
    """
    from pyspark import StorageLevel

    from nfl_predictions_spark.operators.dedup import shingle_rows

    # The corpus-sized shingle index is reused every round — persist it
    # so the per-round work is (index anti-join covered), not a rescan.
    ex = shingle_rows(table(spark, sf_dir, "documents")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    covered = None
    picked: list[int] = []
    out = []
    try:
        for r in range(1, rounds + 1):
            gains = ex
            if picked:
                gains = gains.filter(~F.col("doc_id").isin(picked))
            if covered is not None:
                gains = gains.join(F.broadcast(covered), "s", "left_anti")
            rows = (
                gains.groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("c"))
                .orderBy(F.desc("c"), F.asc("doc_id"))
                .limit(1)
                .collect()
            )
            if not rows:  # every shingle covered: selection saturated
                break
            top = rows[0]
            picked.append(top["doc_id"])
            new_cov = ex.filter(F.col("doc_id") == top["doc_id"]).select("s")
            covered = (
                new_cov if covered is None else covered.union(new_cov)
            ).distinct().localCheckpoint(eager=True)
            if plan_sizes is not None:
                plan_sizes.append(
                    len(covered._jdf.queryExecution().logical().toString())
                )
            out.append((r, top["doc_id"], top["c"], covered.count()))
    finally:
        ex.unpersist()
    return spark.createDataFrame(
        out, "round long, doc_id long, gain long, covered long"
    ).orderBy("round")


@_q("q178_set_cover_selection", None)  # oracle attached below (needs import)
def q178_set_cover_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage corpus selection: pick the document with
    the most not-yet-covered shingles, 5 rounds — the submodular
    facility-location heuristic behind diversity-driven data selection
    (with its classic (1 - 1/e) guarantee), run as a relational
    iteration.

    Per round the plan is: anti-join the shingle index against the
    covered set (broadcast — it holds at most rounds * |doc| shingles),
    one map-side-combinable per-doc count, and a 1-row argmax collect
    (the same bounded driver state as q160's BPE merge picker). The
    corpus-sized index is persisted once and reused; the covered set is
    checkpointed per round so lineage stays O(1) across rounds (see
    ``set_cover_rounds``).
    """
    return set_cover_rounds(spark, sf_dir, _SC_ROUNDS)


# the oracle needs dedup's shingle SQL; bind it after definition
from nfl_predictions_spark.operators.dedup import _SHINGLE_SQL as _SHINGLE_SQL_178  # noqa: E402

ORACLE["q178_set_cover_selection"] = _setcover_oracle()


# ---------------------------------------------------------------------------
# q190 — stratified k-fold construction (leakage-free CV splits)
# ---------------------------------------------------------------------------

_KFOLDS = 5


def _kfold_oracle() -> str:
    return f"""
    WITH r AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id)
               AS rn
      FROM documents
    ), f AS (
      SELECT doc_id, lang, CAST((rn - 1) % {_KFOLDS} AS BIGINT) AS fold
      FROM r
    )
    SELECT fold, lang, CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(doc_id) AS BIGINT) AS key_sum
    FROM f GROUP BY fold, lang ORDER BY fold, lang
    """


@_q("q190_stratified_kfold", _kfold_oracle())
def q190_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified k-fold assignment: within each language stratum,
    documents are ranked by content hash and dealt round-robin into
    {_KFOLDS} folds — every fold gets each language's count to within
    ±1, the assignment is a pure function of content (rerunnable,
    order-independent, no RNG), and each document lands in EXACTLY one
    fold by construction (the leakage guarantee cross-validation needs,
    and the reason this is a rank deal rather than {_KFOLDS} independent
    samples). Per-(fold, stratum) counts plus key checksums are the
    evidence. One rank window per stratum, then a tiny agg — the same
    scale shape as q177's mixture.
    """
    r = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.md5("text").alias("h"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("lang").orderBy("h", "doc_id")
            ),
        )
    )
    return (
        r.select(
            "doc_id",
            "lang",
            ((F.col("rn") - 1) % _KFOLDS).cast("long").alias("fold"),
        )
        .groupBy("fold", "lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("doc_id").alias("key_sum"),
        )
        .orderBy("fold", "lang")
    )


# ---------------------------------------------------------------------------
# q223 — temperature-balanced language sampling (mT5/XLM-R mixture)
# ---------------------------------------------------------------------------

_TB_TAU_SQRT = True  # tau = 0.5 -> weight = sqrt(count)
_TB_TARGET = 200


def _temp_balance_oracle() -> str:
    n = _TB_TARGET
    return f"""
    WITH c AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang
    ), w AS (
      SELECT lang, n, CAST(round(sqrt(n), 6) AS DECIMAL(18,6)) AS wt FROM c
    ), tot AS (SELECT sum(wt) AS tw FROM w),
    t AS (
      SELECT lang, n,
             CAST(floor({n} * (CAST(wt AS DOUBLE) / CAST(tw AS DOUBLE)) + 0.5)
                  AS BIGINT) AS target
      FROM w CROSS JOIN tot
    ), r AS (
      SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':bal'), doc_id) AS rn
      FROM documents
    ), p AS (
      SELECT r.lang, CAST(count(*) AS BIGINT) AS picked_n,
             CAST(sum(r.doc_id) AS BIGINT) AS key_sum
      FROM r JOIN t ON t.lang = r.lang AND r.rn <= t.target
      GROUP BY r.lang
    )
    SELECT t.lang, t.n AS n_docs, t.target AS target_n,
           coalesce(p.picked_n, 0) AS picked_n,
           coalesce(p.key_sum, 0) AS key_sum
    FROM t LEFT JOIN p ON p.lang = t.lang
    ORDER BY t.lang
    """


@_q("q223_temperature_balance", _temp_balance_oracle())
def q223_temperature_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-balanced multilingual sampling (tau = 0.5): per-lang
    budgets proportional to count^tau — the mT5/XLM-R recipe that
    up-weights rare languages so the head language cannot drown them —
    then a deterministic md5-ranked pick of exactly that many docs per
    language (q108's RNG-free selection idiom; key_sum proves both
    engines picked the IDENTICAL documents, not just the same counts).

    Numerics: sqrt(n) is correctly rounded IEEE (engine-identical),
    quantized to DECIMAL(18,6) so the weight TOTAL is order-independent;
    the budget share is one double division + half-up floor. Shape: two
    scans of the lang-sized aggregate + one window over the corpus
    partitioned by lang — the rank is the only corpus-wide work, and it
    keys on the same lang partitioning the output needs anyway.
    """
    docs = table(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    w = c.withColumn("wt", F.round(F.sqrt(F.col("n")), 6).cast("decimal(18,6)"))
    tot = w.agg(F.sum("wt").alias("tw"))
    t = w.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n",
        F.floor(
            F.lit(_TB_TARGET)
            * (F.col("wt").cast("double") / F.col("tw").cast("double"))
            + 0.5
        )
        .cast("long")
        .alias("target"),
    )
    rw = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":bal"))),
        F.asc("doc_id"),
    )
    r = docs.select("lang", "doc_id").withColumn("rn", F.row_number().over(rw))
    p = (
        r.join(F.broadcast(t.select("lang", "target")), "lang")
        .filter(F.col("rn") <= F.col("target"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("picked_n"),
            F.sum("doc_id").alias("key_sum"),
        )
    )
    return (
        t.join(p, "lang", "left")
        .select(
            "lang",
            F.col("n").cast("long").alias("n_docs"),
            F.col("target").alias("target_n"),
            F.coalesce(F.col("picked_n"), F.lit(0)).cast("long").alias("picked_n"),
            F.coalesce(F.col("key_sum"), F.lit(0)).cast("long").alias("key_sum"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q234 — representation parity audit (who is over/under-sampled?)
# ---------------------------------------------------------------------------


@_q(
    "q234_representation_audit",
    """
    WITH cell AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang, source
    ), tot AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS td,
             CAST(sum(n_tokens) AS BIGINT) AS tt
      FROM cell
    )
    SELECT lang, source, n_docs, n_tokens,
           CAST(n_docs AS DOUBLE) / td AS doc_share,
           CAST(n_tokens AS DOUBLE) / tt AS token_share,
           (CAST(n_tokens AS DOUBLE) / tt) / (CAST(n_docs AS DOUBLE) / td)
             AS length_bias
    FROM cell CROSS JOIN tot
    ORDER BY lang, source
    """,
)
def q234_representation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representation audit over the (lang x source) grid: document
    share vs TOKEN share, and their ratio — the length-bias factor that
    tells you a stratum is over-weighted in training epochs even when
    its document count looks fair (long-document sources silently
    dominate token-weighted training; this is the query that catches
    it before q223's mixture targets are set).

    One grid-sized aggregate + a 1-row total broadcast; shares are
    exact BIGINT/BIGINT single divisions and the bias factor is one
    further division of those identical doubles — no rounding needed
    anywhere. Scale cost: one corpus scan.
    """
    cell = (
        table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens"),
        )
    )
    tot = cell.agg(
        F.sum("n_docs").alias("td"), F.sum("n_tokens").alias("tt")
    )
    doc_share = F.col("n_docs").cast("double") / F.col("td")
    token_share = F.col("n_tokens").cast("double") / F.col("tt")
    return (
        cell.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            F.col("n_docs").cast("long"),
            F.col("n_tokens").cast("long"),
            doc_share.alias("doc_share"),
            token_share.alias("token_share"),
            (token_share / doc_share).alias("length_bias"),
        )
        .orderBy("lang", "source")
    )


# ---------------------------------------------------------------------------
# q235 — nested scaling-law samples (1% subset of 10% subset of 100%)
# ---------------------------------------------------------------------------

_NEST_LEVELS = (1, 10, 100)  # percent tiers; each is a SUBSET of the next


@_q(
    "q235_nested_samples",
    f"""
    WITH h AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':nest'),
                                     1, 8)) AS BIGINT) % 100 AS bucket,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT tier,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(doc_id) AS BIGINT) AS key_sum
    FROM h, (SELECT unnest([{", ".join(str(t) for t in _NEST_LEVELS)}]) AS tier)
    WHERE bucket < tier
    GROUP BY tier ORDER BY tier
    """,
)
def q235_nested_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scaling-law dataset tiers: deterministic 1% / 10% / 100% corpus
    samples where each tier is a strict SUBSET of the next (the md5
    bucket < tier rule — the property scaling-law experiments require,
    so the 1%-model's data is literally contained in the 10%-model's).
    RNG-free (q108's hash idiom), with per-tier doc/token budgets and a
    key checksum proving both engines picked identical documents.

    One scan; the tier fan-out is a 3-element unnest against the same
    bucket column, so adding tiers costs nothing new. At 100 TB this IS
    how you materialize nested training subsets: one hash predicate per
    tier, partition-prunable if the corpus is bucket-partitioned.
    """
    tiers = F.explode(
        F.array(*[F.lit(t) for t in _NEST_LEVELS])
    ).alias("tier")
    h = table(spark, sf_dir, "documents").select(
        "doc_id",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":nest"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 100
        ).alias("bucket"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    return (
        h.select("doc_id", "bucket", "n_tokens", tiers)
        .filter(F.col("bucket") < F.col("tier"))
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("doc_id").cast("long").alias("key_sum"),
        )
        .select("tier", F.col("n_docs").cast("long"), "n_tokens", "key_sum")
        .orderBy("tier")
    )


# ---------------------------------------------------------------------------
# q246 — worst-window fluency gate (local quality, not just doc means)
# ---------------------------------------------------------------------------

_WW_WIN = 20  # tokens per window
_WW_OUT = 20  # worst docs reported


def _worst_window_oracle() -> str:
    w = _WW_WIN
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t,
             CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT)
               AS pos
      FROM documents
    ), freq AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM freq),
    lp AS (
      SELECT tok.doc_id, tok.pos,
             CAST(round(ln(freq.c * 1.0 / n.n), 6) AS DECIMAL(18,6)) AS lp
      FROM tok JOIN freq ON freq.t = tok.t CROSS JOIN n
    ), win AS (
      SELECT doc_id, pos,
             sum(lp) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW)
               AS wsum,
             row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn,
             count(*) OVER (PARTITION BY doc_id) AS n_tokens
      FROM lp
    ), worst AS (
      SELECT doc_id, n_tokens, pos - {w - 1} AS win_start, wsum,
             row_number() OVER (PARTITION BY doc_id ORDER BY wsum ASC, pos ASC)
               AS pick
      FROM win WHERE rn >= {w}
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(win_start AS BIGINT) AS win_start,
           CAST(wsum AS DOUBLE) / {w} AS worst_mean_lp
    FROM worst WHERE pick = 1
    ORDER BY worst_mean_lp ASC, doc_id LIMIT {_WW_OUT}
    """


@_q("q246_worst_window_logprob", _worst_window_oracle())
def q246_worst_window_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local fluency gate: a document's MEAN log-probability (q110)
    hides a garbage span inside an otherwise-fluent page, so quality
    filters also gate on the WORST {_WW_WIN}-token window — this finds
    each doc's minimum sliding-window unigram log-probability and
    reports the {_WW_OUT} worst offenders with the window position (the
    span a reviewer inspects).

    Per-token logprobs are ln(c/N) QUANTIZED to DECIMAL(18,6) at the
    source (the q241 rule: the transcendental feeds the quantizer,
    never an accumulation), so the sliding frame sums and the min-pick
    are exact decimal arithmetic — cross-engine hash-equal. Shape: one
    token explode + broadcast vocab join + per-doc frame windows on the
    shared (doc, pos) sort.
    """
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p0", "t")
    ).select("doc_id", "t", (F.col("p0") + 1).cast("long").alias("pos"))
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    n = freq.agg(F.sum("c").alias("n"))
    lp = (
        tok.join(F.broadcast(freq), "t")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "pos",
            F.round(F.log(F.col("c") / F.col("n")), 6)
            .cast("decimal(18,6)")
            .alias("lp"),
        )
    )
    fr = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(_WW_WIN - 1), 0)
    )
    wo = Window.partitionBy("doc_id").orderBy("pos")
    wc = Window.partitionBy("doc_id")
    win = (
        lp.withColumn("wsum", F.sum("lp").over(fr))
        .withColumn("rn", F.row_number().over(wo))
        .withColumn("n_tokens", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") >= _WW_WIN)
    )
    wp = Window.partitionBy("doc_id").orderBy(F.asc("wsum"), F.asc("pos"))
    worst = (
        win.withColumn("pick", F.row_number().over(wp))
        .filter(F.col("pick") == 1)
        .select(
            "doc_id",
            F.col("n_tokens").cast("long"),
            (F.col("pos") - (_WW_WIN - 1)).cast("long").alias("win_start"),
            (F.col("wsum").cast("double") / _WW_WIN).alias("worst_mean_lp"),
        )
    )
    return worst.orderBy(F.asc("worst_mean_lp"), F.asc("doc_id")).limit(_WW_OUT)


# ---------------------------------------------------------------------------
# q247 — curriculum training-order materialization
# ---------------------------------------------------------------------------


@_q(
    "q247_curriculum_order",
    """
    WITH q AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             ntile(10) OVER (ORDER BY len(string_split(text, ' ')) DESC,
                             doc_id) AS decile
      FROM documents
    ), ord AS (
      SELECT doc_id, decile,
             row_number() OVER (
               ORDER BY decile ASC,
                        md5(CAST(doc_id AS VARCHAR) || ':cur'), doc_id) AS pos
      FROM q
    )
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(pos) AS BIGINT) AS first_pos,
           CAST(max(pos) AS BIGINT) AS last_pos,
           CAST(sum(pos * doc_id) AS BIGINT) AS order_checksum
    FROM ord GROUP BY decile ORDER BY decile
    """,
)
def q247_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize a curriculum training ORDER: docs grouped into
    quality deciles (longest-first here as the stand-in quality signal),
    easy-tier-first, deterministically shuffled WITHIN each tier by md5
    (no RNG state — the q108 idiom applied to ordering). The
    position-weighted checksum sum(pos * doc_id) pins the exact global
    permutation, not just tier membership — reordering any two docs
    changes it.

    Data ordering is a first-class training lever (curriculum /
    anti-curriculum schedules); this materializes one reproducibly.
    Neither total order ever sorts the corpus in one task (the r05
    plan sorted it twice): the LENGTH rank is a two-phase prefix sum
    keyed on n_tokens (distinct doc lengths — a bounded frame), the
    decile falls out of that rank in closed form (ntile(10) of rank r
    with n rows: the first n%10 tiles hold n//10+1 rows), and the
    curriculum POSITION is a second two-phase prefix sum keyed on
    (decile, 2-hex md5 prefix) — 10 x 256 buckets — with the
    within-bucket order (md5, doc_id) completing the same total order
    the oracle's row_number declares.
    """
    docs = table(spark, sf_dir, "documents")
    nt = F.size(F.split(F.col("text"), " "))
    d = docs.select("doc_id", nt.alias("nt"))
    gn = d.groupBy("nt").agg(F.count(F.lit(1)).alias("gs"))
    wn = Window.orderBy(F.desc("nt")).rowsBetween(Window.unboundedPreceding, -1)
    offs_n = gn.withColumn(
        "cb", F.coalesce(F.sum("gs").over(wn), F.lit(0))
    ).withColumn("n", F.sum("gs").over(Window.partitionBy())).select(
        "nt", "cb", "n"
    )
    rank = F.col("cb") + F.row_number().over(
        Window.partitionBy("nt").orderBy("doc_id")
    )
    base = F.floor(F.col("n") / 10)
    rem = F.col("n") % 10
    big_span = rem * (base + 1)  # rows covered by the (base+1)-sized tiles
    decile = F.when(
        F.col("rank") <= big_span, F.ceil(F.col("rank") / (base + 1))
    ).otherwise(rem + F.ceil((F.col("rank") - big_span) / base))
    q = (
        d.join(F.broadcast(offs_n), "nt")
        .withColumn("rank", rank)
        .withColumn("decile", decile.cast("int"))
        .withColumn(
            "h", F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":cur")))
        )
        .withColumn("pfx", F.substring("h", 1, 2))
    )
    gb = q.groupBy("decile", "pfx").agg(F.count(F.lit(1)).alias("bgs"))
    wb = Window.orderBy("decile", "pfx").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs_b = gb.withColumn(
        "bcb", F.coalesce(F.sum("bgs").over(wb), F.lit(0))
    ).select("decile", "pfx", "bcb")
    pos = F.col("bcb") + F.row_number().over(
        Window.partitionBy("decile", "pfx").orderBy("h", "doc_id")
    )
    ordd = q.join(F.broadcast(offs_b), ["decile", "pfx"]).withColumn(
        "pos", pos.cast("long")
    )
    return (
        ordd.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("pos").alias("first_pos"),
            F.max("pos").alias("last_pos"),
            F.sum(F.col("pos") * F.col("doc_id")).alias("order_checksum"),
        )
        .select(
            F.col("decile").cast("long"),
            F.col("n_docs").cast("long"),
            F.col("first_pos").cast("long"),
            F.col("last_pos").cast("long"),
            F.col("order_checksum").cast("long"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# q248 — cross-split near-dup leakage audit
# ---------------------------------------------------------------------------


def _split_leakage_oracle() -> str:
    from nfl_predictions_spark.operators.dedup import _SHINGLE_SQL

    return f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    sh AS (SELECT doc_id, {_SHINGLE_SQL} AS shingles FROM tok WHERE len(ts) >= 3),
    ex AS (SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh),
    sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT d1, d2 FROM inter
      JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
      WHERE i * 1.0 / (s1.sz + s2.sz - i) >= 0.8
    ), sp AS (
      SELECT doc_id,
        CASE WHEN (ascii(substr(md5(text), 1, 1)) * 256
                   + ascii(substr(md5(text), 2, 1))) % 100 < 90 THEN 'train'
             WHEN (ascii(substr(md5(text), 1, 1)) * 256
                   + ascii(substr(md5(text), 2, 1))) % 100 < 95 THEN 'val'
             ELSE 'test' END AS split
      FROM documents
    ), tagged AS (
      SELECT least(a.split, b.split) AS s1, greatest(a.split, b.split) AS s2,
             CASE WHEN a.split <> b.split THEN 1 ELSE 0 END AS leak,
             p.d1, p.d2
      FROM pairs p JOIN sp a ON a.doc_id = p.d1 JOIN sp b ON b.doc_id = p.d2
    )
    SELECT s1 AS split_a, s2 AS split_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(leak) AS BIGINT) AS n_leaks,
           CAST(sum(d1 + d2) AS BIGINT) AS pair_checksum
    FROM tagged GROUP BY s1, s2 ORDER BY split_a, split_b
    """


@_q("q248_split_leakage_audit", _split_leakage_oracle())
def q248_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did near-duplicates leak ACROSS the train/val/test boundary?
    Content-hash splitting (q108) sends each doc independently, so a
    near-dup pair can straddle splits and inflate eval — the classic
    dedup-before-split bug. This joins the exact near-dup pair set
    (q39b's 0.8-Jaccard edges) against each side's split assignment and
    reports every (split, split) combination with leak counts and a
    pair checksum — the audit that says "dedup FIRST, then split".

    Pure composition: the pair set is q39b's plan, the split rule is
    q108's expression, and the tagging join is pair-sized. Zero new
    scan cost beyond the near-dup candidate generation the pipeline
    already runs.
    """
    from nfl_predictions_spark.operators.graph import neardup_pairs

    docs = table(spark, sf_dir, "documents")
    pairs = neardup_pairs(spark, sf_dir)
    bucket = (
        F.ascii(F.substring(F.md5("text"), 1, 1)) * 256
        + F.ascii(F.substring(F.md5("text"), 2, 1))
    ) % 100
    sp = docs.select(
        "doc_id",
        F.when(bucket < 90, "train")
        .when(bucket < 95, "val")
        .otherwise("test")
        .alias("split"),
    )
    a = sp.select(F.col("doc_id").alias("d1"), F.col("split").alias("sa"))
    b = sp.select(F.col("doc_id").alias("d2"), F.col("split").alias("sb"))
    tagged = (
        pairs.join(a, "d1")
        .join(b, "d2")
        .select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
            F.when(F.col("sa") != F.col("sb"), 1).otherwise(0).alias("leak"),
            (F.col("d1") + F.col("d2")).alias("ck"),
        )
    )
    return (
        tagged.groupBy("split_a", "split_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("leak").cast("long").alias("n_leaks"),
            F.sum("ck").cast("long").alias("pair_checksum"),
        )
        .select(
            "split_a", "split_b", F.col("n_pairs").cast("long"),
            "n_leaks", "pair_checksum",
        )
        .orderBy("split_a", "split_b")
    )


# ---------------------------------------------------------------------------
# q292 — k-anonymity audit over quasi-identifiers (privacy compliance)
# ---------------------------------------------------------------------------


_KANON_KS = (2, 5, 10)


@_q(
    "q292_k_anonymity",
    f"""
    WITH raw AS (
      SELECT c_mktsegment AS qi1, CAST(c_nationkey AS BIGINT) AS qi2,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS qi3
      FROM customer
    ),
    gen AS (
      SELECT c_mktsegment AS qi1, CAST(n_regionkey AS BIGINT) AS qi2,
             CAST(floor(c_acctbal / 5000) AS BIGINT) AS qi3
      FROM customer JOIN nation ON c_nationkey = n_nationkey
    ),
    classes AS (
      SELECT 'raw' AS level, qi1, qi2, qi3, count(*) AS sz
      FROM raw GROUP BY qi1, qi2, qi3
      UNION ALL
      SELECT 'generalized', qi1, qi2, qi3, count(*)
      FROM gen GROUP BY qi1, qi2, qi3
    )
    SELECT level, k,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(CASE WHEN sz < k THEN 1 ELSE 0 END) AS BIGINT)
             AS classes_below,
           CAST(sum(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT)
             AS rows_at_risk
    FROM classes CROSS JOIN (SELECT unnest([{', '.join(map(str, _KANON_KS))}]) AS k)
    GROUP BY level, k
    ORDER BY level, k
    """,
)
def q292_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit — the privacy gate a training-data pipeline
    runs before releasing records keyed by quasi-identifiers (Sweeney's
    k-anonymity: every QI equivalence class must hold >= k rows or its
    members are re-identifiable). Two disclosure levels are audited in
    one pass: the raw QI tuple (segment, nation, $1k balance bucket)
    and one generalization step up the lattice (nation -> region, $5k
    buckets) — the report shows how many classes and rows each k
    threshold puts at risk at each level, i.e. whether the
    generalization buys compliance.

    Scale: one groupBy per level over the QI columns (map-combinable
    count), then the per-k rollup runs on CLASS-cardinality rows — the
    3-row k list cross-joins the class table, never the data. All
    arithmetic is integer-exact; floor() on the (possibly negative)
    balance agrees across engines."""
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    raw = cust.select(
        F.lit("raw").alias("level"),
        F.col("c_mktsegment").alias("qi1"),
        F.col("c_nationkey").cast("long").alias("qi2"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("qi3"),
    )
    gen = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            F.lit("generalized").alias("level"),
            F.col("c_mktsegment").alias("qi1"),
            F.col("n_regionkey").cast("long").alias("qi2"),
            F.floor(F.col("c_acctbal") / 5000).cast("long").alias("qi3"),
        )
    )
    classes = (
        raw.unionByName(gen)
        .groupBy("level", "qi1", "qi2", "qi3")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    ks = spark.createDataFrame([(k,) for k in _KANON_KS], "k int")
    return (
        classes.crossJoin(F.broadcast(ks))
        .groupBy("level", "k")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum(F.when(F.col("sz") < F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("classes_below"),
            F.sum(F.when(F.col("sz") < F.col("k"), F.col("sz")).otherwise(0))
            .cast("long")
            .alias("rows_at_risk"),
        )
        .orderBy("level", "k")
    )


# ---------------------------------------------------------------------------
# q298 — annotator agreement: pairwise Cohen's kappa over synthetic labels
# ---------------------------------------------------------------------------

_AGREE_ANNOTATORS = (1, 2, 3)
_AGREE_CLASSES = 5
_AGREE_NOISE_HEX = 4  # first md5 hex digit < 4 -> ~25% deterministic "noise"


def _annotator_label_sql(a: int) -> str:
    """Engine-neutral deterministic annotator label: the true class
    ``p`` (0..4 from the priority digit) flipped to a rotated class
    whenever the first md5 hex digit of (orderkey, annotator) is below
    {noise} — a fixed ~25% disagreement with no RNG state. ``instr``
    and ``md5`` behave identically in Spark SQL and DuckDB."""
    v = (
        "(instr('0123456789abcdef', "
        f"substr(md5(CAST(o_orderkey AS STRING) || ':{a}'), 1, 1)) - 1)"
    )
    return (
        f"(CASE WHEN {v} < {_AGREE_NOISE_HEX} "
        f"THEN (p + 1 + ({v} % {_AGREE_CLASSES})) % {_AGREE_CLASSES} "
        "ELSE p END)"
    )


def _agree_oracle() -> str:
    labs = ", ".join(
        f"{_annotator_label_sql(a)} AS l{a}" for a in _AGREE_ANNOTATORS
    )
    stacked = " UNION ALL ".join(
        f"SELECT CAST({ai} AS BIGINT) AS ai, CAST({aj} AS BIGINT) AS aj, "
        f"l{ai} AS la, l{aj} AS lb FROM lab"
        for idx, ai in enumerate(_AGREE_ANNOTATORS)
        for aj in _AGREE_ANNOTATORS[idx + 1 :]
    )
    return f"""
    WITH base AS (
      SELECT o_orderkey,
             CAST(substr(o_orderpriority, 1, 1) AS BIGINT) - 1 AS p
      FROM orders
    ),
    lab AS (SELECT o_orderkey, {labs} FROM base),
    stacked AS ({stacked}),
    cell AS (
      SELECT ai, aj, la, lb, CAST(count(*) AS BIGINT) AS c
      FROM stacked GROUP BY ai, aj, la, lb
    ),
    tot AS (
      SELECT ai, aj, CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CASE WHEN la = lb THEN c ELSE 0 END) AS BIGINT) AS agree
      FROM cell GROUP BY ai, aj
    ),
    ra AS (SELECT ai, aj, la AS cls, sum(c) AS rc FROM cell GROUP BY ai, aj, la),
    rb AS (SELECT ai, aj, lb AS cls, sum(c) AS sc FROM cell GROUP BY ai, aj, lb),
    pe AS (
      SELECT ra.ai, ra.aj, CAST(sum(ra.rc * rb.sc) AS BIGINT) AS pe_num
      FROM ra JOIN rb ON ra.ai = rb.ai AND ra.aj = rb.aj AND ra.cls = rb.cls
      GROUP BY ra.ai, ra.aj
    )
    SELECT tot.ai, tot.aj, tot.n, tot.agree,
           CAST(tot.agree AS DOUBLE) / CAST(tot.n AS DOUBLE) AS po,
           CAST(pe.pe_num AS DOUBLE) / CAST(tot.n * tot.n AS DOUBLE) AS pe,
           (CAST(tot.agree AS DOUBLE) / CAST(tot.n AS DOUBLE)
            - CAST(pe.pe_num AS DOUBLE) / CAST(tot.n * tot.n AS DOUBLE))
             / (1.0 - CAST(pe.pe_num AS DOUBLE) / CAST(tot.n * tot.n AS DOUBLE))
             AS kappa
    FROM tot JOIN pe ON pe.ai = tot.ai AND pe.aj = tot.aj
    ORDER BY tot.ai, tot.aj
    """


@_q("q298_label_agreement", _agree_oracle())
def q298_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-annotator agreement for preference/label data — the QA
    gate an RLHF labeling pipeline runs before trusting votes (sibling
    of q293's Bradley-Terry fit, which consumes such labels): three
    deterministic synthetic annotators label every order (true class =
    priority digit, md5-rotated on ~25% of (item, annotator) keys — no
    RNG state), and the engine reports per-pair observed agreement and
    Cohen's kappa. ONE scan computes all three labels as column
    expressions; the pair grid is exploded row-locally (3 structs/row)
    and partial-aggregated to a <=75-cell (pair, la, lb) contingency
    frame, so the shuffle is class-grid-sized at any data volume.
    Exactness: kappa's p_e uses integer marginal products
    sum(rc*sc)/n^2 — every sum is integer-exact, each emitted double is
    ONE IEEE division/subtraction chain on exact operands, identical in
    DuckDB with no quantization."""
    orders = table(spark, sf_dir, "orders")
    base = orders.withColumn(
        "p", F.expr("CAST(substr(o_orderpriority, 1, 1) AS BIGINT) - 1")
    )
    lab = base.select(
        *[
            F.expr(_annotator_label_sql(a)).alias(f"l{a}")
            for a in _AGREE_ANNOTATORS
        ]
    )
    pair_structs = F.array(
        *[
            F.struct(
                F.lit(ai).cast("long").alias("ai"),
                F.lit(aj).cast("long").alias("aj"),
                F.col(f"l{ai}").alias("la"),
                F.col(f"l{aj}").alias("lb"),
            )
            for idx, ai in enumerate(_AGREE_ANNOTATORS)
            for aj in _AGREE_ANNOTATORS[idx + 1 :]
        ]
    )
    cell = (
        lab.select(F.explode(pair_structs).alias("s"))
        .select("s.ai", "s.aj", "s.la", "s.lb")
        .groupBy("ai", "aj", "la", "lb")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = cell.groupBy("ai", "aj").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.when(F.col("la") == F.col("lb"), F.col("c")).otherwise(0))
        .cast("long")
        .alias("agree"),
    )
    ra = cell.groupBy("ai", "aj", F.col("la").alias("cls")).agg(
        F.sum("c").alias("rc")
    )
    rb = cell.groupBy("ai", "aj", F.col("lb").alias("cls")).agg(
        F.sum("c").alias("sc")
    )
    pe = (
        ra.join(rb, ["ai", "aj", "cls"])
        .groupBy("ai", "aj")
        .agg(F.sum(F.col("rc") * F.col("sc")).cast("long").alias("pe_num"))
    )
    po_c = F.col("agree").cast("double") / F.col("n").cast("double")
    pe_c = F.col("pe_num").cast("double") / (F.col("n") * F.col("n")).cast("double")
    return (
        tot.join(pe, ["ai", "aj"])
        .select(
            "ai",
            "aj",
            "n",
            "agree",
            po_c.alias("po"),
            pe_c.alias("pe"),
            ((po_c - pe_c) / (F.lit(1.0) - pe_c)).alias("kappa"),
        )
        .orderBy("ai", "aj")
    )


# ---------------------------------------------------------------------------
# q319 — Kneser-Ney smoothed bigram model (the production n-gram smoother)
# ---------------------------------------------------------------------------

_KN_D = 0.75  # absolute discount
_KN_OUT = 30


def _kn_bigram_instances(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) — one row per bigram INSTANCE, zip-sliced from the
    whitespace token stream (no self-join, no positional shuffle)."""
    d = (
        docs.select("doc_id", F.split("text", " ").alias("tk"))
        .withColumn("m", F.size("tk") - 1)
        .filter(F.col("m") >= 1)
    )
    return d.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("tk", 1, F.col("m")).alias("w1"),
                F.slice("tk", 2, F.col("m")).alias("w2"),
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))


def _kn_model_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fitted interpolated-KN bigram model as a relation:
    (w1, w2, c12, c1, pkn). Four hash aggregates over the bigram-type
    table (pair counts; left totals + left fan-out in one pass; right
    fan-out; 1-row type total, broadcast) joined back on their own keys.
    All inputs to pkn are BIGINT counts, so the staged doubles are
    bit-reproducible on any partitioning."""
    inst = _kn_bigram_instances(spread(table(spark, sf_dir, "documents")))
    c12 = inst.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1p_l")
    )
    contr = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p_r"))
    tot = c12.agg(F.count(F.lit(1)).alias("n1p_all"))
    pkn = (
        F.greatest(F.col("c12") - _KN_D, F.lit(0.0))
        + _KN_D
        * F.col("n1p_l")
        * (F.col("n1p_r").cast("double") / F.col("n1p_all"))
    ) / F.col("c1")
    return (
        c12.join(c1, "w1")
        .join(contr, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c12", "c1", pkn.alias("pkn"))
    )


def _kn_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fitted KN bigram model, staged ONCE per fixture (VERDICT r07 #3,
    the q41f/neardup_pairs staging pattern): q319 (top-30 readout) and
    q321 (per-document perplexity filter) previously each re-derived the
    identical model — the train-once/score-many split every production
    LM pipeline makes. Keyed by the documents parquet's fingerprint via
    state.staged_path, installed with state.atomic_stage."""
    import os

    from nfl_predictions_spark.state import atomic_stage, staged_path

    out = staged_path(sf_dir, "kn_bigram_model", sources=("documents",))
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        atomic_stage(_kn_model_frame(spark, sf_dir), out)
    return spark.read.parquet(out)


@_q(
    "q319_kneser_ney_bigrams",
    f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents
                 WHERE len(string_split(text, ' ')) >= 2),
    split AS (
      SELECT ts[i] AS w1, ts[i + 1] AS w2
      FROM (SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i FROM tok)
    ),
    c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
            FROM split GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                  CAST(count(*) AS BIGINT) AS n1p_l
           FROM c12 GROUP BY w1),
    contr AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p_r
              FROM c12 GROUP BY w2),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n1p_all FROM c12),
    scored AS (
      SELECT c12.w1, c12.w2, c12.c12, c1.c1,
             CAST(c12.c12 AS DOUBLE) / c1.c1 AS mle,
             (greatest(c12.c12 - {_KN_D}, 0)
              + {_KN_D} * c1.n1p_l
                * (CAST(contr.n1p_r AS DOUBLE) / tot.n1p_all)) / c1.c1 AS pkn
      FROM c12
      JOIN c1 ON c1.w1 = c12.w1
      JOIN contr ON contr.w2 = c12.w2
      CROSS JOIN tot
    )
    SELECT w1, w2, c12, round(mle, 6) AS p_mle, round(pkn, 6) AS p_kn
    FROM (
      SELECT *, row_number() OVER (ORDER BY c12 DESC, w1, w2) AS rn
      FROM scored
    ) WHERE rn <= {_KN_OUT}
    ORDER BY c12 DESC, w1, w2
    """,
)
def q319_kneser_ney_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (Kneser & Ney 1995;
    Chen & Goodman's winner) — the smoothing production n-gram LMs
    (KenLM, the CCNet-class perplexity filters) actually use, one step
    past q138's add-one: mass is removed by ABSOLUTE discount d={_KN_D}
    and redistributed via the CONTINUATION probability (how many
    distinct left-contexts a word follows — 'francisco' is frequent but
    nearly always after 'san', so its continuation mass is tiny; add-one
    gets exactly this wrong). Emitted for the top-{_KN_OUT} bigrams:
    raw MLE next to P_KN, so the discount/backoff effect is visible
    per row.

    Shape: the model is FOUR hash aggregates over the bigram-type
    table (pair counts, left totals + left fan-out in one pass,
    right fan-out, type total) joined back on their own keys — every
    stage key-partitioned and map-side combinable; the 1-row type
    total broadcasts — fitted ONCE per fixture and staged as parquet
    (``_kn_model``), shared with q321's perplexity filter. P_KN is
    pure rational arithmetic on BIGINT counts evaluated by the
    identical expression in both engines; the only rounding is the
    emitted 1e-6.
    """
    scored = _kn_model(spark, sf_dir).select(
        "w1",
        "w2",
        "c12",
        (F.col("c12").cast("double") / F.col("c1")).alias("mle"),
        "pkn",
    )
    wr = Window.orderBy(F.desc("c12"), F.asc("w1"), F.asc("w2"))
    return (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= _KN_OUT)
        .select(
            "w1",
            "w2",
            F.col("c12").cast("long"),
            F.round("mle", 6).alias("p_mle"),
            F.round("pkn", 6).alias("p_kn"),
        )
        .orderBy(F.desc("c12"), F.asc("w1"), F.asc("w2"))
    )


# ---------------------------------------------------------------------------
# q320 — exact-k per-stratum sample (the distributed reservoir)
# ---------------------------------------------------------------------------

_RSV_K = 10


def _reservoir_oracle() -> str:
    from nfl_predictions_spark.operators.dedup import _h60_duck

    h = _h60_duck("CAST(doc_id AS VARCHAR)")
    return f"""
    WITH keyed AS (
      SELECT lang, doc_id, CAST({h} AS BIGINT) AS hk FROM documents
    ), r AS (
      SELECT lang, doc_id, hk,
             row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rk
      FROM keyed
    )
    SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id
    FROM r WHERE rk <= {_RSV_K} ORDER BY lang, rk
    """


@_q("q320_reservoir_sample", _reservoir_oracle())
def q320_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k uniform sample per stratum — the distributed reservoir.
    ``sample(fraction)`` (q59/q67's shape) only gives an EXPECTED size;
    eval-set builds and human-annotation batches need exactly k per
    language. The classic reservoir algorithm is sequential; its
    distributed equivalent is an ORDER STATISTIC: key every row by a
    uniform deterministic hash and keep the k smallest per stratum —
    identical in distribution to a uniform k-subset, reproducible on
    any cluster, no RNG state, stable under re-partitioning (the q108
    properties, for fixed-size samples). Weighted variants (Efraimidis-
    Spirakis A-ES, key u^(1/w)) drop into the same plan by changing the
    sort key.

    Shape: one scan + a per-stratum rank filter that Spark plans as
    WindowGroupLimit — every input partition keeps its own top-k, then
    k-per-partition merge; never a global or per-stratum full sort.
    The 60-bit md5 hash is the engine-neutral draw (dedup._h60_spark),
    so both engines select the identical sample."""
    from nfl_predictions_spark.operators.dedup import _h60_spark

    docs = table(spark, sf_dir, "documents").select(
        "lang", "doc_id", _h60_spark(F.col("doc_id").cast("string")).alias("hk")
    )
    w = Window.partitionBy("lang").orderBy(F.asc("hk"), F.asc("doc_id"))
    return (
        docs.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _RSV_K)
        .select("lang", "rk", "doc_id")
        .orderBy("lang", "rk")
    )


# ---------------------------------------------------------------------------
# q321 — per-document perplexity under the KN bigram LM (quality filter)
# ---------------------------------------------------------------------------

_PPL_OUT = 20


def _kn_ppl_oracle() -> str:
    return f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents
                 WHERE len(string_split(text, ' ')) >= 2),
    inst AS (
      SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
      FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
            FROM tok)
    ),
    c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
            FROM inst GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                  CAST(count(*) AS BIGINT) AS n1p_l
           FROM c12 GROUP BY w1),
    contr AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p_r
              FROM c12 GROUP BY w2),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n1p_all FROM c12),
    model AS (
      SELECT c12.w1, c12.w2,
             (greatest(c12.c12 - {_KN_D}, 0)
              + {_KN_D} * c1.n1p_l
                * (CAST(contr.n1p_r AS DOUBLE) / tot.n1p_all)) / c1.c1 AS pkn
      FROM c12
      JOIN c1 ON c1.w1 = c12.w1
      JOIN contr ON contr.w2 = c12.w2
      CROSS JOIN tot
    ),
    per_doc AS (
      SELECT inst.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             -avg(ln(model.pkn)) AS xent
      FROM inst JOIN model ON model.w1 = inst.w1 AND model.w2 = inst.w2
      GROUP BY inst.doc_id
    ),
    r AS (
      -- rank on the ROUNDED xent (the repo's float-ranking rule): the
      -- raw avg-of-ln double is summation-order-dependent, so ranking
      -- on it would make the rank-20 cutoff cross-engine nondeterministic
      SELECT doc_id, n_bigrams, xent,
             row_number() OVER (ORDER BY round(xent, 6) DESC, doc_id) AS rn
      FROM per_doc
    )
    SELECT doc_id, n_bigrams, round(xent, 6) AS xent,
           round(exp(xent), 6) AS ppl, CAST(rn AS BIGINT) AS rn
    FROM r WHERE rn <= {_PPL_OUT} ORDER BY rn
    """


@_q("q321_kn_doc_perplexity", _kn_ppl_oracle())
def q321_kn_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under the interpolated Kneser-Ney bigram
    LM — the CCNet-class quality filter run end-to-end: q319 builds the
    model, this scores every document against it and surfaces the
    {_PPL_OUT} WORST (highest cross-entropy) — the reject list a
    perplexity-filtered corpus build actually acts on. (CCNet scores
    against a KenLM trained on Wikipedia; here the corpus scores
    itself, which is the identical dataflow with zero external
    artifacts — every in-corpus bigram is in-model, so no OOV backoff
    branch is needed.)

    Scale shape: the model is the bigram-TYPE table (vocabulary-
    squared upper bound, far smaller in practice) and the scoring side
    is bigram INSTANCES — both shuffle-keyed on (w1, w2), so the join
    co-partitions; per-doc aggregation is map-side combinable; the
    final top-{_PPL_OUT} is a WindowGroupLimit rank, never a global
    sort. The model is the per-fixture staged fit (``_kn_model``,
    shared with q319) — train once, score many. pkn is pure rational
    arithmetic on BIGINT counts (bit-equal cross-engine); ln/exp ride
    the q110 contract (both engines' libm on identical doubles,
    absorbed by the 1e-6 rounding)."""
    inst = _kn_bigram_instances(spread(table(spark, sf_dir, "documents")))
    model = _kn_model(spark, sf_dir).select("w1", "w2", "pkn")
    per_doc = (
        inst.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (-F.avg(F.log("pkn"))).alias("xent"),
        )
    )
    w = Window.orderBy(F.desc(F.round("xent", 6)), F.asc("doc_id"))
    return (
        per_doc.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _PPL_OUT)
        .select(
            "doc_id",
            F.col("n_bigrams").cast("long"),
            F.round("xent", 6).alias("xent"),
            F.round(F.exp("xent"), 6).alias("ppl"),
            "rn",
        )
        .orderBy("rn")
    )


# ---------------------------------------------------------------------------
# q323 — retrieval chunking (fixed token windows with stride/overlap)
# ---------------------------------------------------------------------------

_CHUNK_W = 64  # window length (tokens)
_CHUNK_S = 48  # stride (overlap = W - S = 16)


def _chunk_windows_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
    ), k AS (
      SELECT doc_id, ts, n_tok,
             1 + CAST(floor((greatest(n_tok - {_CHUNK_W}, 0) + {_CHUNK_S} - 1)
                            / {_CHUNK_S}) AS BIGINT) AS n_chunks
      FROM toks
    ), c AS (
      SELECT doc_id, n_tok, CAST(cid AS BIGINT) AS chunk_id,
             CAST(1 + (cid - 1) * {_CHUNK_S} AS BIGINT) AS start, ts
      FROM (SELECT doc_id, n_tok, ts, unnest(generate_series(1, n_chunks)) AS cid
            FROM k)
    )
    SELECT doc_id, chunk_id, start,
           CAST(least({_CHUNK_W}, n_tok - start + 1) AS BIGINT) AS chunk_len,
           array_to_string(ts[start:start+2], ' ') AS head
    FROM c ORDER BY doc_id, chunk_id
    """


@_q("q323_chunk_windows", _chunk_windows_oracle())
def q323_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-side chunking — split every document into fixed
    {_CHUNK_W}-token windows advancing by stride {_CHUNK_S} (so adjacent
    chunks overlap by {_CHUNK_W - _CHUNK_S} tokens, the standard RAG
    ingest layout: overlap keeps a sentence that straddles a boundary
    retrievable from both sides). One row per (doc, chunk) with its
    start offset, actual length (the tail chunk truncates), and a
    3-token head as the chunk anchor.

    Shape: chunk starts are pure arithmetic on the token count, so the
    fan-out is a ``posexplode(sequence(...))`` — narrow, no shuffle at
    all until the output sort; the chunk relation is what downstream
    embedding/indexing jobs consume (q41's corpus side). Chunk count
    per doc is ceil((n_tok - W)/S) + 1, clamped to >= 1, evaluated by
    the identical integer formula in both engines."""
    d = (
        spread(table(spark, sf_dir, "documents"))
        .select("doc_id", F.split("text", " ").alias("tk"))
        .withColumn("n_tok", F.size("tk"))
        .withColumn(
            "n_chunks",
            (
                F.lit(1)
                + F.floor(
                    (
                        F.greatest(F.col("n_tok") - _CHUNK_W, F.lit(0))
                        + (_CHUNK_S - 1)
                    )
                    / _CHUNK_S
                )
            ).cast("long"),
        )
    )
    c = d.select(
        "doc_id",
        "n_tok",
        "tk",
        F.explode(F.sequence(F.lit(1).cast("long"), F.col("n_chunks"))).alias(
            "chunk_id"
        ),
    ).withColumn("start", (1 + (F.col("chunk_id") - 1) * _CHUNK_S).cast("long"))
    return (
        c.select(
            "doc_id",
            "chunk_id",
            "start",
            F.least(F.lit(_CHUNK_W), F.col("n_tok") - F.col("start") + 1)
            .cast("long")
            .alias("chunk_len"),
            F.array_join(
                F.slice("tk", F.col("start").cast("int"), 3), " "
            ).alias("head"),
        )
        .orderBy("doc_id", "chunk_id")
    )


# ---------------------------------------------------------------------------
# q326 — weighted reservoir (Efraimidis-Spirakis A-ES, exact-k per stratum)
# ---------------------------------------------------------------------------

_WRSV_K = 10


def _weighted_reservoir_oracle() -> str:
    from nfl_predictions_spark.operators.dedup import _h60_duck

    h = _h60_duck("CAST(doc_id AS VARCHAR)")
    return f"""
    WITH keyed AS (
      SELECT lang, doc_id, n_chars,
             -ln((CAST({h} AS BIGINT) + 1) / 1152921504606846976.0)
               / n_chars AS es_key
      FROM documents WHERE n_chars > 0
    ), r AS (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang
               ORDER BY round(es_key, 9), doc_id) AS rk
      FROM keyed
    )
    SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id,
           CAST(n_chars AS BIGINT) AS weight
    FROM r WHERE rk <= {_WRSV_K} ORDER BY lang, rk
    """


@_q("q326_weighted_reservoir", _weighted_reservoir_oracle())
def q326_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted exact-k sample per stratum — the Efraimidis-Spirakis
    A-ES key q320's docstring promised as a drop-in: each row draws the
    deterministic uniform u from its 60-bit md5 hash and keeps the k
    SMALLEST values of -ln(u)/w (equivalent to the largest u^(1/w), the
    A-ES order statistic), so inclusion probability scales with weight
    w = n_chars — the size-biased pick a token-budget-aware eval build
    wants (long docs carry more of the corpus) with zero RNG state and
    full reproducibility under re-partitioning.

    Shape: identical plan family to q320 — one scan + a per-stratum
    rank filter that compiles to WindowGroupLimit (per-partition top-k
    heaps, k-per-partition merge, never a full sort). The ranking is on
    the 9-decimal-rounded key with doc_id tie-break (the repo's
    float-ranking rule; ln rides the q110 libm contract)."""
    from nfl_predictions_spark.operators.dedup import _h60_spark

    docs = table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (_h60_spark(F.col("doc_id").cast("string")) + 1) / F.lit(
        float(1 << 60)
    )
    keyed = docs.select(
        "lang",
        "doc_id",
        "n_chars",
        (-F.log(u) / F.col("n_chars")).alias("es_key"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.asc(F.round("es_key", 9)), F.asc("doc_id")
    )
    return (
        keyed.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _WRSV_K)
        .select("lang", "rk", "doc_id", F.col("n_chars").alias("weight"))
        .orderBy("lang", "rk")
    )
