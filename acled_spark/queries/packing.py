"""Training-batch preparation operators (extended surface).

Sequence packing and data-mixture weighting — the last mile of a
training-data pipeline: after filter/dedup/decontaminate, documents are
packed into fixed token-budget sequences and sources are reweighted to
the target mixture.

Both are pure window/aggregate plans: packing is a per-stream running
token sum (one shuffle on the stream key, linear scan per partition),
mixing is a vocabulary-sized aggregate.  No UDFs, no driver loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from acled_spark.queries.filters_q import hex_to_int_sql
from acled_spark.queries.text import (
    _TOKENS_SQL,
    _ngrams_sql,
    _tokens_spark,
    ngrams_spark,
)
from acled_spark.registry import query
from acled_spark.tables import load

TOKEN_BUDGET = 2048  # tokens per packed training sequence

# Token COUNT as a thin face over text.py's canonical tokenizer
# (round-7 review): the whitespace class and blank-guard are spelled
# ONCE, in text.py, and both engines' packing counts derive from that
# single spelling — a respelled copy here could silently desynchronize
# token budgets between the text family and the packing family.
_NTOK_SQL = f"len({_TOKENS_SQL})"


def _n_tok() -> F.Column:
    """Whitespace token count of ``text`` — THE tokenization rule of the
    packing family, shared by pack/mix/materialize and DERIVED from
    ``text._tokens_spark`` so it cannot drift from the text family."""
    return F.size(_tokens_spark(F.col("text")))


@query(
    "pack_sequences",
    oracle=f"""
    WITH d AS (
      -- zero-token docs carry nothing to pack and never advance the
      -- running sum, so an unbounded run of them (scraper-failure
      -- blanks at crawl scale) would pile into ONE bin (r8 scale
      -- lens) — excluded on BOTH engines
      SELECT doc_id, lang, {_NTOK_SQL} AS n_tok FROM documents
      WHERE {_NTOK_SQL} > 0
    ),
    c AS (
      SELECT lang, n_tok,
             SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_tok
      FROM d
    ),
    b AS (
      SELECT lang, n_tok,
             CAST(COALESCE(prev_tok, 0) // {TOKEN_BUDGET} AS BIGINT) AS bin
      FROM c
    ),
    bins AS (
      SELECT lang, bin, COUNT(*) AS n_docs, SUM(n_tok) AS tokens
      FROM b GROUP BY lang, bin
    )
    SELECT lang,
           COUNT(*) AS n_bins,
           CAST(SUM(n_docs) AS BIGINT) AS docs,
           CAST(SUM(tokens) AS BIGINT) AS tokens,
           ROUND(AVG(CAST(tokens AS DOUBLE) / {TOKEN_BUDGET}), 4) AS avg_fill,
           CAST(MAX(n_docs) AS BIGINT) AS max_docs_per_bin
    FROM bins GROUP BY lang ORDER BY lang
    """,
    tags=("packing", "training-prep", "extended"),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into TOKEN_BUDGET-token training bins, per language.

    Cumulative-quota packing: docs are streamed in doc_id order within
    each lang and a doc opens in bin floor(preceding_tokens / budget) —
    the contiguous-packing-with-overflow semantics most LLM pipelines
    use before truncating at sequence boundaries.  Integer running sums
    only, so the oracle matches bit-for-bit.  Scale: one shuffle on the
    stream key and a linear window scan per partition; at 100 TB the
    stream key would be (lang, shard) so no partition exceeds executor
    memory, and bin ids get a shard prefix.
    """
    docs = load(spark, sf_dir, "documents")
    n_tok = _n_tok()
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # zero-token exclusion mirrors the oracle (see its inline note)
    b = docs.select("doc_id", "lang", n_tok.alias("n_tok")).filter(
        F.col("n_tok") > 0
    ).select(
        "lang",
        "n_tok",
        # floor-div on BOTH engines: DuckDB's int/int '/' returns DOUBLE
        # and CAST..BIGINT rounds, while Spark's cast truncates
        F.floor(F.coalesce(F.sum("n_tok").over(w), F.lit(0)) / TOKEN_BUDGET)
        .cast("long")
        .alias("bin"),
    )
    bins = b.groupBy("lang", "bin").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("tokens")
    )
    return (
        bins.groupBy("lang")
        .agg(
            F.count("*").alias("n_bins"),
            F.sum("n_docs").cast("long").alias("docs"),
            F.sum("tokens").cast("long").alias("tokens"),
            F.round(
                F.avg(F.col("tokens").cast("double") / TOKEN_BUDGET), 4
            ).alias("avg_fill"),
            F.max("n_docs").cast("long").alias("max_docs_per_bin"),
        )
        .orderBy("lang")
    )


MIX_TEMPERATURE = 0.5  # alpha: p^alpha flattens the source distribution


@query(
    "mix_weights",
    oracle=f"""
    WITH s AS (
      SELECT source, COUNT(*) AS docs,
             CAST(SUM({_NTOK_SQL}) AS BIGINT) AS tokens
      FROM documents GROUP BY source
    ),
    t AS (
      SELECT *,
             CAST(SUM(tokens) OVER () AS DOUBLE) AS total_tokens,
             POW(tokens / CAST(SUM(tokens) OVER () AS DOUBLE),
                 {MIX_TEMPERATURE}) AS pa
      FROM s
    )
    SELECT source, docs, tokens,
           ROUND(tokens / total_tokens, 6) AS p_raw,
           ROUND(pa / SUM(pa) OVER (), 6) AS p_mixed
    FROM t ORDER BY source
    """,
    tags=("packing", "training-prep", "extended"),
)
def mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-reweighted source mixture (p_i^alpha / sum p_j^alpha).

    The standard multilingual/multi-source sampling correction: alpha<1
    upsamples small sources.  Token-weighted, not doc-weighted.  The
    per-source rollup is vocabulary-sized, so the normalizing sums run
    as unpartitioned window aggregates over a handful of rows; the only
    real work is the one pass computing per-source token counts.
    """
    docs = load(spark, sf_dir, "documents")
    n_tok = _n_tok()
    s = docs.select("source", n_tok.alias("n_tok")).groupBy("source").agg(
        F.count("*").alias("docs"), F.sum("n_tok").cast("long").alias("tokens")
    )
    wall = Window.partitionBy()
    t = s.select(
        "source",
        "docs",
        "tokens",
        F.sum("tokens").over(wall).cast("double").alias("total_tokens"),
        F.pow(
            F.col("tokens") / F.sum("tokens").over(wall).cast("double"),
            F.lit(MIX_TEMPERATURE),
        ).alias("pa"),
    )
    return t.select(
        "source",
        "docs",
        "tokens",
        F.round(F.col("tokens") / F.col("total_tokens"), 6).alias("p_raw"),
        F.round(F.col("pa") / F.sum("pa").over(wall), 6).alias("p_mixed"),
    ).orderBy("source")


# --- packed-sequence materialization (the packing step's output face) -------
EOS = " <eos> "


@query(
    "pack_materialize",
    oracle=f"""
    WITH b AS (
      SELECT lang, text,
             CAST(FLOOR(COALESCE(SUM(n_tok) OVER (
                 PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / {TOKEN_BUDGET}) AS BIGINT) AS bin,
             doc_id
      FROM (
        -- zero-token exclusion: without it the (lang, bin) group is
        -- NOT bounded by TOKEN_BUDGET — blank docs never advance the
        -- running sum, so millions of them (each potentially MBs of
        -- whitespace) land in one collect_list buffer (r8 scale lens)
        SELECT doc_id, lang, text,
               {_NTOK_SQL} AS n_tok
        FROM documents
        WHERE {_NTOK_SQL} > 0
      )
    )
    SELECT lang, bin,
           COUNT(*) AS n_docs,
           CAST(LENGTH(STRING_AGG(text, '{EOS}' ORDER BY doc_id)) AS BIGINT)
             AS seq_chars,
           MD5(STRING_AGG(text, '{EOS}' ORDER BY doc_id)) AS seq_md5
    FROM b GROUP BY lang, bin ORDER BY lang, bin
    """,
    tags=("packing", "extended"),
)
def pack_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the packed training sequences pack_sequences plans:
    per (lang, bin), documents concatenated in doc_id order with an EOS
    separator — verified by CONTENT (md5 of the packed string), so the
    hash gate proves the actual bytes a trainer would read, not just
    bin counts.

    Scale: the per-bin collect_list is bounded by construction — a bin
    holds ~TOKEN_BUDGET tokens regardless of corpus size, so the group
    payload never outgrows an executor.  One shuffle on (lang, bin).
    """
    docs = load(spark, sf_dir, "documents")
    n_tok = _n_tok()
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # zero-token exclusion mirrors the oracle (see its inline note) —
    # this is what makes the docstring's bounded-group claim TRUE
    b = docs.select("doc_id", "lang", "text", n_tok.alias("n_tok")).filter(
        F.col("n_tok") > 0
    ).select(
        "lang",
        "doc_id",
        "text",
        F.floor(F.coalesce(F.sum("n_tok").over(w), F.lit(0)) / TOKEN_BUDGET)
        .cast("long")
        .alias("bin"),
    )
    # ONE collect_list per group (an agg expression per derived column
    # would shuffle the text twice); array_sort on (doc_id, text)
    # structs orders by doc_id, the join rebuilds the packed byte stream
    seq = F.array_join(
        F.transform(F.array_sort(F.col("__docs")), lambda s: s["text"]), EOS
    )
    return (
        b.groupBy("lang", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.collect_list(F.struct("doc_id", "text")).alias("__docs"),
        )
        .select(
            "lang",
            "bin",
            "n_docs",
            F.length(seq).cast("long").alias("seq_chars"),
            F.md5(seq).alias("seq_md5"),
        )
        .orderBy("lang", "bin")
    )


# --- deterministic global training shuffle -----------------------------------
# Before sharding a corpus for training, its order must be randomized —
# adjacent crawl/source locality in the input order becomes adjacent
# batches and visibly hurts convergence.  A seeded md5 sort key gives a
# uniform, reproducible permutation (same seed -> byte-identical shard
# contents across re-runs and cluster sizes, like the p7/p8/p9 samplers);
# bumping the seed re-shuffles between epochs without touching the data.
SHUFFLE_SEED = "42"
N_SHUFFLE_SHARDS = 16


def shuffle_key_cols(
    id_col: str, seed: str = SHUFFLE_SEED, n_shards: int = N_SHUFFLE_SHARDS
):
    """The seeded permutation's ``(sort key, shard)`` column pair —
    shared by :func:`shuffle_assignment` and the export layer's
    shuffled-shard writer (which sorts on the key directly and never
    materializes a rank)."""
    hk = F.md5(F.concat(F.lit(seed + "|"), F.col(id_col).cast("string")))
    shard = (F.conv(F.substring(hk, 1, 4), 16, 10).cast("long") % n_shards).cast(
        "int"
    )
    return hk, shard


def shuffle_assignment(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: str = SHUFFLE_SEED,
    n_shards: int = N_SHUFFLE_SHARDS,
) -> DataFrame:
    """Append ``(shard, pos)`` — a deterministic global shuffle order.

    ``shard`` comes from a hash-prefix bucket (NOT range boundaries,
    which Spark derives by sampling and are run-dependent), ``pos`` from
    a row_number window PARTITIONED BY shard — so no stage ever sorts
    the whole corpus on one partition: the only exchange is the
    hash-bucket shuffle, and each shard sorts locally.  When only a
    shuffled ORDER is needed (not the explicit rank), sort on
    :func:`shuffle_key_cols` directly and skip the window — that is how
    ``write_jsonl(shuffle_seed=...)`` emits byte-stable shuffled shards
    with a single exchange.
    """
    clash = {"shard", "pos", "__hk"} & set(df.columns)
    if clash:
        raise ValueError(f"input columns collide with shuffle outputs: {clash}")
    hk, shard = shuffle_key_cols(id_col, seed, n_shards)
    s = df.withColumn("__hk", hk).withColumn("shard", shard)
    w = Window.partitionBy("shard").orderBy("__hk", id_col)
    return s.withColumn("pos", F.row_number().over(w)).drop("__hk")


@query(
    "train_shuffle",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             md5('{SHUFFLE_SEED}|' || CAST(doc_id AS VARCHAR)) AS hk
      FROM documents
    ),
    s AS (
      SELECT doc_id, hk,
             ({hex_to_int_sql("hk", 4)}) % {N_SHUFFLE_SHARDS} AS shard
      FROM h
    ),
    p AS (
      SELECT shard, doc_id,
             ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hk, doc_id) AS pos
      FROM s
    )
    SELECT shard, COUNT(*) AS n_docs,
           CAST(SUM(pos * doc_id) AS BIGINT) AS order_checksum
    FROM p GROUP BY shard ORDER BY shard
    """,
    tags=("sampling", "training", "extended"),
)
def train_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Census of the seeded global shuffle: docs per shard + an
    order-sensitive checksum (Σ pos·doc_id) that pins the EXACT
    permutation cross-engine, not just shard sizes.

    Scale: one hash-bucket exchange + per-shard local sort (see
    :func:`shuffle_assignment`) — the window is partitioned by shard,
    so no global single-partition sort exists in the plan.  Shard
    count scales with corpus size; at 100 TB you'd raise it so each
    shard stays executor-sized, which only widens the exchange.
    """
    docs = load(spark, sf_dir, "documents")
    assigned = shuffle_assignment(docs.select("doc_id"))
    return (
        assigned.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("pos") * F.col("doc_id")).cast("long").alias(
                "order_checksum"
            ),
        )
        .orderBy("shard")
    )


# --- DSIR importance resampling ----------------------------------------------
# Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169): select raw-pool documents whose hashed-n-gram
# distribution looks like a TARGET corpus, by (1) estimating bucket
# distributions p_t / p_r over hashed uni+bigram features, (2) scoring
# each raw doc's log importance weight sum(ln p_t(b) - ln p_r(b)), and
# (3) Gumbel-top-k resampling (sampling w/o replacement proportional
# to the importance weight).  The mixing/selection family (mix_weights,
# p9_weighted_sample, train_shuffle) consumes GIVEN weights; this is
# the operator that DERIVES them (VERDICT r13 #4).
#: feature-hash width: buckets for the hashed n-gram features.  The
#: SCALE lever (SCALE.md §dsir-buckets): smaller widths collide more
#: grams per bucket, washing out the likelihood ratio; the bucket
#: tables and the broadcast stay B-row-sized at any corpus scale.
DSIR_BUCKETS = 8192
DSIR_SAMPLE_K = 50
#: the "target" corpus the resample steers toward: documents with this
#: lang play the role of DSIR's small high-quality corpus; the raw
#: pool is the whole table.
DSIR_TARGET_LANG = "en"

# gram -> bucket: first 8 md5 hex digits mod B (md5 is the one
# cross-engine hash — see p7_hash_split; xxhash64 has no DuckDB twin)
_DSIR_BUCKET_SQL = (
    f"({hex_to_int_sql('md5(g)', 8)}) % {DSIR_BUCKETS}"
)
# Gumbel noise from a namespaced deterministic uniform (p9's seeded-
# sampler idiom; the 'dsir-' prefix keeps this draw independent of
# p8/p7's md5(doc_id) streams)
_DSIR_SEED_MD5 = "md5('dsir-' || CAST(doc_id AS VARCHAR))"
_DSIR_U_SQL = (
    f"(({hex_to_int_sql(_DSIR_SEED_MD5, 8)})" " + 0.5) / 4294967296.0"
)

_DSIR_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, lang, {_TOKENS_SQL} AS arr
      FROM documents
    ),
    b AS (SELECT doc_id, lang, arr FROM base WHERE len(arr) > 0),
    uni AS (SELECT doc_id, lang, unnest(arr) AS g FROM b),
    big AS (SELECT doc_id, lang, unnest({_ngrams_sql(2, "arr")}) AS g FROM b),
    grams AS (
      SELECT doc_id, lang, {_DSIR_BUCKET_SQL} AS bucket
      FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)
    ),
    stats AS (
      SELECT bucket, COUNT(*) AS c_r,
             COUNT(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 END) AS c_t
      FROM grams GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(SUM(c_r) AS DOUBLE) AS t_r, CAST(SUM(c_t) AS DOUBLE) AS t_t
      FROM stats
    ),
    sc AS (
      SELECT g.doc_id, MIN(g.lang) AS lang, COUNT(*) AS n_grams,
             SUM(ln((s.c_t + 1.0) / (s.c_r + 1.0))) AS s1
      FROM grams g JOIN stats s USING (bucket)
      GROUP BY g.doc_id
    ),
    keyed AS (
      SELECT doc_id, lang, n_grams,
             s1 + n_grams * ln((tot.t_r + {DSIR_BUCKETS}.0)
                               / (tot.t_t + {DSIR_BUCKETS}.0)) AS lw,
             -ln(-ln({_DSIR_U_SQL})) AS gum
      FROM sc CROSS JOIN tot
    )
    SELECT doc_id, lang, n_grams,
           ROUND(lw, 6) + 0.0 AS logw,
           ROUND(lw + gum, 6) + 0.0 AS sample_key
    FROM keyed
    ORDER BY sample_key DESC, doc_id LIMIT {DSIR_SAMPLE_K}
"""


@query(
    "dsir_resample",
    oracle=_DSIR_ORACLE,
    tags=("sampling", "training-prep", "text", "extended"),
)
def dsir_resample(
    spark: SparkSession,
    sf_dir: str,
    buckets: int = DSIR_BUCKETS,
    k: int = DSIR_SAMPLE_K,
    target_lang: str = DSIR_TARGET_LANG,
) -> DataFrame:
    """DSIR: top-{k} raw documents by Gumbel-perturbed hashed-n-gram
    importance weight against the ``target_lang`` corpus.

    Per document, ``logw = sum over grams of ln p_t(bucket(gram)) -
    ln p_r(bucket(gram))`` with Laplace-smoothed bucket distributions
    (p(b) = (c(b)+1)/(T+B)); grams are whitespace unigrams + bigrams
    (the paper's n=2 hashed features), bucketed by the cross-engine
    md5-prefix hash.  Rearranged so the constant smoothing-mass term
    factors out: ``logw = sum ln((c_t+1)/(c_r+1)) + n_grams *
    ln((T_r+B)/(T_t+B))`` — per-gram work is one broadcast-join lookup
    plus a ln().  The Gumbel-top-k trick (key = logw + Gumbel(u),
    u seeded from md5('dsir-'||doc_id)) makes the output an EXACT
    sample-without-replacement proportional to the importance weights,
    reproducible across engines, cluster sizes, and retries (the p9
    seeded-sampler idiom).  Keys round to 6 decimals before ranking
    (doc_id tiebreak): logw is a sum of hundreds of ln() terms whose
    cross-engine last-ulp and fold-order differences accumulate to
    ~1e-13 — four orders under the grain.  Empty documents carry no
    grams and are excluded (they have no distribution to score).

    Scale: ONE gram derivation (scan + tokenize + per-gram md5, the
    dominant CPU) collapses to a lazily-checkpointed per-(doc, bucket)
    count frame; the B-row bucket-stats artifact (c_r and c_t in the
    same partial-agg rollup) and the per-doc score rollup both read
    that one materialization, with the stats broadcast back onto it —
    the only wide exchanges are the (doc, bucket) collapse and the
    doc_id rollup, and the final top-k is TakeOrderedAndProject
    (per-partition partial top-k, k-row driver merge).  ``buckets``
    is the measured lever (SCALE.md §dsir-buckets): width trades
    collision noise in the ratio against artifact/broadcast size.
    """
    docs = load(spark, sf_dir, "documents", spread=True)
    arr = _tokens_spark(F.col("text"))
    base = docs.select("doc_id", "lang", arr.alias("arr")).filter(
        F.size("arr") > 0
    )
    bigrams = ngrams_spark(F.col("arr"), 2)
    grams = base.select(
        "doc_id",
        "lang",
        F.explode(F.concat(F.col("arr"), bigrams)).alias("g"),
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("long")
            % buckets
        ).alias("bucket"),
    )
    # ONE gram derivation (r14): the former shape derived the gram
    # stream twice — once for the bucket stats, once for the per-doc
    # score join — paying the scan + tokenize + per-gram md5 (the
    # dominant CPU) twice.  Collapsing to per-(doc, bucket) counts
    # first and lazily checkpointing that narrow-int frame lets BOTH
    # consumers (the B-row stats rollup and the score rollup) read one
    # materialization; per-gram work now runs exactly once.  The score
    # is unchanged: Σ_grams ln r(b) == Σ_buckets cnt·ln r(b) exactly in
    # ℝ, and the float fold-order difference (~1e-13) sits four orders
    # under the 6-decimal output grain — the same argument the oracle
    # already relies on cross-engine (docstring above).
    per_doc = (
        grams.groupBy("doc_id", "lang", "bucket")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    stats = per_doc.groupBy("bucket").agg(
        F.sum("cnt").alias("c_r"),
        F.sum(
            F.when(F.col("lang") == target_lang, F.col("cnt")).otherwise(
                F.lit(0)
            )
        ).alias("c_t"),
    )
    # Corpus totals ride the B-row stats frame as an unpartitioned
    # window (the unigram_logprob idiom) — a separate totals frame
    # would re-derive the whole gram aggregation from the scan
    # (measured: 6 parquet scans vs 2 in this shape)
    wall = Window.partitionBy()
    stats = stats.select(
        "bucket",
        "c_r",
        "c_t",
        F.sum("c_r").over(wall).cast("double").alias("t_r"),
        F.sum("c_t").over(wall).cast("double").alias("t_t"),
    )
    sc = (
        per_doc.join(F.broadcast(stats), "bucket")
        .groupBy("doc_id")
        .agg(
            F.min("lang").alias("lang"),
            F.sum("cnt").alias("n_grams"),
            F.sum(
                F.col("cnt")
                * F.log((F.col("c_t") + 1.0) / (F.col("c_r") + 1.0))
            ).alias("s1"),
            F.min("t_r").alias("t_r"),
            F.min("t_t").alias("t_t"),
        )
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("dsir-"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / F.lit(4294967296.0)
    lw = F.col("s1") + F.col("n_grams") * F.log(
        (F.col("t_r") + F.lit(float(buckets)))
        / (F.col("t_t") + F.lit(float(buckets)))
    )
    gum = -F.log(-F.log(u))
    return (
        sc.select(
            "doc_id",
            "lang",
            "n_grams",
            (F.round(lw, 6) + F.lit(0.0)).alias("logw"),
            (F.round(lw + gum, 6) + F.lit(0.0)).alias("sample_key"),
        )
        .orderBy(F.desc("sample_key"), "doc_id")
        .limit(k)
    )
