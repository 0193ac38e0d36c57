"""Deduplication operator family over ``documents`` / ``embeddings``
(extended surface; SURVEY §7.2 step 9).

Five dedup strategies, each shuffle-aware for 100 TB:

- exact: hash-groupBy on a normalized fingerprint — one shuffle on the
  16-byte digest, never on the raw text;
- n-gram Jaccard: inverted shingle->doc index self-joined on the shingle
  (candidate generation is O(matching pairs), not O(n²));
- MinHash + LSH banding: constant-size signature per doc, pairs only
  within equal band buckets;
- SimHash: 32-bit signature via word-hash bit voting — hamming-distance
  dedup on a fixed-width key;
- embedding cosine: blocked (per-label) pair generation + exact cosine.

Cross-engine determinism trick: all hashing is md5 (identical in Spark
and DuckDB), minhash = lexicographic MIN over hex digests — no engine-
specific hash functions anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from acled_spark.queries.text import (
    FINGERPRINT_SQL,
    _WORDS_SQL,
    _ngrams_sql,
    _words_spark,
    fingerprint_spark,
    ngrams_spark,
)
from acled_spark.registry import query
from acled_spark.tables import load
from acled_spark.vector import as_double, cosine, cosine_sql, l2_norm, l2_norm_sql

# ---------------------------------------------------------------------------
# shared shingling (word 3-grams over normalized tokens)
# ---------------------------------------------------------------------------
NGRAM = 3

# embedding width contract for the cosine query (ONE source of truth
# with the similarity module; plain import — similarity never imports
# dedup, so no cycle)
from acled_spark.queries.similarity import DIM as _EMB_DIM  # noqa: E402

_SHINGLES_SQL = f"list_distinct({_ngrams_sql(NGRAM)})"


def shingles_spark(text: Column) -> Column:
    """Distinct word 3-gram shingles of a document (JVM-side HOFs only)."""
    return F.array_distinct(ngrams_spark(_words_spark(text), NGRAM))


# --- exact dedup ------------------------------------------------------------
@query(
    "dedup_exact",
    oracle=f"""
    WITH fp AS (SELECT doc_id, {FINGERPRINT_SQL} AS fingerprint FROM documents),
    g AS (SELECT fingerprint, COUNT(*) AS cnt, MIN(doc_id) AS canonical_doc
          FROM fp GROUP BY fingerprint)
    SELECT COUNT(*) AS unique_docs,
           CAST(SUM(cnt) AS BIGINT) AS total_docs,
           CAST(SUM(cnt) - COUNT(*) AS BIGINT) AS duplicate_docs,
           COUNT(CASE WHEN cnt > 1 THEN 1 END) AS dup_groups
    FROM g
    """,
    tags=("dedup", "extended"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via normalized-fingerprint hash-groupBy.

    Scale: the shuffle key is the 32-hex digest, not the document text —
    at 100 TB the exchange carries ~50 bytes/doc.  Canonical row = min
    doc_id per group (deterministic survivor policy).
    """
    docs = load(spark, sf_dir, "documents")
    g = (
        docs.select("doc_id", fingerprint_spark(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("cnt"), F.min("doc_id").alias("canonical_doc"))
    )
    return g.agg(
        F.count("*").alias("unique_docs"),
        F.sum("cnt").cast("long").alias("total_docs"),
        (F.sum("cnt") - F.count("*")).cast("long").alias("duplicate_docs"),
        F.count(F.when(F.col("cnt") > 1, 1)).alias("dup_groups"),
    )


# --- n-gram Jaccard near-dup (inverted shingle index) -----------------------
@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, lang, unnest({_SHINGLES_SQL}) AS shingle FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS inter
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY doc1, doc2
    )
    SELECT p.doc1, p.doc2,
           ROUND(CAST(p.inter AS DOUBLE) / (s1.n_sh + s2.n_sh - p.inter), 4) AS jaccard
    FROM pairs p
    JOIN sizes s1 ON p.doc1 = s1.doc_id
    JOIN sizes s2 ON p.doc2 = s2.doc_id
    ORDER BY jaccard DESC, doc1, doc2 LIMIT 20
    """,
    tags=("dedup", "extended"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top near-dup pairs by word-3-gram Jaccard, via inverted shingle index.

    Candidate pairs come from a self-join of (shingle, doc) — cost scales
    with actual shingle collisions, not |docs|².  Language is the blocking
    key (near-dups across languages are not meaningful).  The oracle needs
    exact Jaccard, so no frequency cap here; at 100 TB pass
    ``max_doc_freq`` to :func:`ngram_jaccard_pairs` to drop stopword-grams
    and bound the join fan-out.
    """
    docs = load(spark, sf_dir, "documents", spread=True)
    return (
        ngram_jaccard_pairs(docs)
        .orderBy(F.desc("jaccard"), "doc1", "doc2")
        .limit(20)
    )


@query(
    "dedup_ngram_novelty",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, unnest({_SHINGLES_SQL}) AS s FROM documents
    ),
    sh AS (SELECT doc_id, md5(s) AS g FROM raw),
    first AS (SELECT g, MIN(doc_id) AS first_seen FROM sh GROUP BY g)
    SELECT sh.doc_id,
           COUNT(*) AS n_grams,
           ROUND(AVG(CASE WHEN f.first_seen = sh.doc_id
                          THEN 1.0 ELSE 0.0 END), 4) AS novelty
    FROM sh JOIN first f USING (g)
    GROUP BY sh.doc_id
    ORDER BY novelty, doc_id LIMIT 20
    """,
    tags=("dedup", "text", "extended"),
)
def dedup_ngram_novelty(
    spark: SparkSession, sf_dir: str, max_doc_freq: int | None = None
) -> DataFrame:
    """20 most-REDUNDANT documents by n-gram novelty: the fraction of a
    doc's distinct word 3-grams first introduced BY that doc, under the
    corpus's doc_id order (ingest order in this pipeline).

    The census face of Lee et al.'s "deduplicating training data"
    observation: near-duplicate and boilerplate documents contribute
    almost no first-seen n-grams, so novelty ~ 0 ranks them for
    down-weighting or curriculum placement even when no single pair
    crosses a dedup threshold — redundancy against the WHOLE preceding
    corpus, not pairwise similarity.  Same gram definition as the
    jaccard/containment family (:func:`shingles_spark`, distinct
    3-grams, <3-word docs drop out), so its verdicts compose with
    theirs.

    Scale: grams are md5-hashed scan-side, so the two shuffles (the
    first-seen aggregate and the rejoin) move constant-width 32-hex
    digests, never gram text — the dup-spans discipline.  first-seen
    is a partial-aggregated, gram-vocabulary-sized frame, lazily
    checkpointed to PIN the 2-scan plan: its sole consumer is the
    digest rejoin, and the truncation guarantees the aggregate subtree
    cannot be re-expanded into extra corpus scans by a future rewrite
    (test-verified scan count; ADVICE r12 corrected an earlier
    "two consumers" claim here); the rejoin is digest-keyed and left
    to AQE (the vocab side is not constant-sized — no forced
    broadcast).  2 scans, plan-pinned.
    At 100 TB the lever is ``max_doc_freq`` — the same stopword-gram
    cap as :func:`ngram_jaccard_pairs`, with the same DROP semantics:
    a gram in more than ``max_doc_freq`` docs leaves BOTH the
    first-seen table and every doc's denominator, so novelty is then
    measured over discriminative grams only (a universal boilerplate
    gram says nothing about which doc introduced content); a doc whose
    every gram is capped leaves the census.  The df rides the same
    aggregate as first-seen — the cap costs no extra pass.  Measured
    (SCALE.md §novelty-cap): wall-clock flat on both tiers (scan +
    first-seen aggregate dominate and run before the cap can apply);
    the cap bounds the checkpointed first-seen ARTIFACT 4.3x on a
    boilerplate-heavy corpus and is a no-op on a hapax flood (df=1
    grams survive any cap — that side's lever is upstream quality
    gates).  This is a SEMANTIC knob with drop semantics, not an
    approximation: capped verdicts re-rank by design.  Default None
    is the exact, oracle-certified face.
    """
    docs = load(spark, sf_dir, "documents", spread=True)
    sh = docs.select(
        "doc_id", F.explode(shingles_spark(F.col("text"))).alias("s")
    ).select("doc_id", F.md5(F.col("s")).alias("g"))
    first = (
        sh.groupBy("g")
        .agg(F.min("doc_id").alias("first_seen"), F.count("*").alias("df"))
        .localCheckpoint(eager=False)
    )
    if max_doc_freq is not None:
        first = first.filter(F.col("df") <= max_doc_freq)
    return (
        sh.join(first.drop("df"), "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.round(
                F.avg((F.col("first_seen") == F.col("doc_id")).cast("double")),
                4,
            ).alias("novelty"),
        )
        .orderBy("novelty", "doc_id")
        .limit(20)
    )


def ngram_jaccard_pairs(
    docs: DataFrame, max_doc_freq: int | None = None
) -> DataFrame:
    """(doc1, doc2, jaccard) candidate near-dup pairs over an inverted
    shingle index.

    ``max_doc_freq``: drop shingles shared by more than this many docs
    (per language) BEFORE the self-join.  On real corpora a handful of
    boilerplate grams ("all rights reserved …") appear in a large
    fraction of documents; each contributes O(df²) join rows, so one hot
    shingle can go quadratic in corpus size while every informative
    shingle stays tiny.  The cap bounds the fan-out of any single
    shingle at max_doc_freq², at the cost of under-counting the
    intersection for pairs whose overlap was mostly boilerplate — which
    is exactly the overlap a near-dup detector should ignore.  Default
    ``None`` keeps the exact semantics (the oracle contract).

    Measured at the sf1.0 heavy tier (SCALE.md): uncapped 12.9 s /
    28.4 M candidate pairs; ``max_doc_freq=50`` 4.2 s but 0/20 top-pair
    overlap with exact (the tier's ~10× duplicate groups put df > 50 on
    true-duplicate shingles — the cap deleted the signal);
    ``max_doc_freq=100`` keeps the top-20 bit-identical.  Set the cap
    ≳ 10× the expected duplicate-group size, and engage it only when a
    df profile (one cheap aggregate over the exploded shingles) shows a
    boilerplate tail — on a bounded-df corpus the cap is a no-op that
    still pays its df-window shuffle (+25 % here at cap=200).
    :func:`acled_spark.profiling.profile_caps` runs exactly that
    profile and returns the recommendation (None on a bounded tail;
    ``10 × p99.9`` when max ≫ p99.9) — validated against the measured
    tables in tests/test_profiling.py.
    """
    sized = _shingle_pair_counts(docs, max_doc_freq)
    return sized.select(
        "doc1",
        "doc2",
        F.round(
            F.col("inter").cast("double")
            / (F.col("n_sh1") + F.col("n_sh2") - F.col("inter")),
            4,
        ).alias("jaccard"),
    )


def _shingle_pair_counts(
    docs: DataFrame, max_doc_freq: int | None = None
) -> DataFrame:
    """Shared inverted-index core for the set-overlap dedup metrics:
    (doc1, doc2, inter, n_sh1, n_sh2) — candidate-pair intersection
    counts joined with both TRUE shingle-set sizes.  One spelling for
    jaccard AND containment — the candidate-generation plan (index
    self-join shape, cap semantics, no-forced-broadcast rule) must not
    fork per metric.
    """
    sh = docs.select(
        "doc_id",
        "lang",
        F.explode(shingles_spark(F.col("text"))).alias("shingle"),
    )
    if max_doc_freq is not None:
        # Document frequency per (lang, shingle) via a window over the
        # already-exploded stream: one extra shuffle on the same key the
        # self-join uses, no second corpus scan.
        w = Window.partitionBy("lang", "shingle")
        sh = (
            sh.withColumn("_df", F.count("*").over(w))
            .filter(F.col("_df") <= max_doc_freq)
            .drop("_df")
        )
    # Set sizes come straight from the array length — no explode, no
    # aggregate — and broadcast-join onto the pair counts AFTER the heavy
    # shuffle, keeping the giant pairs exchange as narrow as possible
    # (doc1, doc2, partial count only).  Sizes stay UNCAPPED even when
    # the index is capped: the denominator is the true shingle-set size,
    # so a capped run under-estimates the metric (never over-) — dropped
    # boilerplate can only push a pair below threshold, not fake one.
    sizes = docs.select(
        "doc_id", F.size(shingles_spark(F.col("text"))).alias("n_sh")
    )
    a = sh.alias("a")
    # Both sides of the self-join are exploded fact streams — broadcasting
    # either is catastrophic (the optimizer has no stats for Generate
    # output and may try).  Shuffle-hash-join on the shingle key is the
    # strategy that survives 100 TB.
    b = sh.alias("b").hint("shuffle_hash")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .agg(F.count("*").alias("inter"))
    )
    s1 = sizes.alias("s1")
    s2 = sizes.alias("s2")
    # NOT F.broadcast: sizes has one row per corpus doc, so a forced
    # broadcast is a guaranteed driver OOM at the 100 TB design point
    # this function documents.  AQE broadcasts it at bench scale on its
    # runtime size and falls back to a shuffle join when it grows.
    return (
        pairs.join(s1, pairs.doc1 == F.col("s1.doc_id"))
        .join(s2, pairs.doc2 == F.col("s2.doc_id"))
        .select(
            "doc1",
            "doc2",
            "inter",
            F.col("s1.n_sh").alias("n_sh1"),
            F.col("s2.n_sh").alias("n_sh2"),
        )
    )


# --- asymmetric containment (doc-inside-doc detection) -----------------------
@query(
    "dedup_containment",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, lang, unnest({_SHINGLES_SQL}) AS shingle FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS inter
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY doc1, doc2
    )
    SELECT p.doc1, p.doc2,
           ROUND(CAST(p.inter AS DOUBLE) / LEAST(s1.n_sh, s2.n_sh), 4)
             AS containment,
           ROUND(CAST(p.inter AS DOUBLE) / (s1.n_sh + s2.n_sh - p.inter), 4)
             AS jaccard
    FROM pairs p
    JOIN sizes s1 ON p.doc1 = s1.doc_id
    JOIN sizes s2 ON p.doc2 = s2.doc_id
    ORDER BY containment DESC, jaccard, doc1, doc2 LIMIT 20
    """,
    tags=("dedup", "extended"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top pairs by shingle-set CONTAINMENT — max(c(A→B), c(B→A)) =
    |A∩B| / min(|A|, |B|) — the asymmetric near-dup metric symmetric
    Jaccard structurally misses: a short doc quoted whole inside a long
    one has containment 1.0 but Jaccard ≈ |A|/|B| → 0 as the host
    grows, so a Jaccard threshold never fires (Broder's containment,
    "On the resemblance and containment of documents", 1997 — public
    literature).  The standard LLM-corpus case: article + wrapper
    boilerplate, quote-expanded reposts, prefix/suffix-extended
    revisions.

    Jaccard rides along per pair so the asymmetry is visible in the
    hashed output (high containment + low jaccard = the pairs only this
    operator finds).  Same inverted-index core as dedup_ngram_jaccard
    (:func:`_shingle_pair_counts` — one spelling of the candidate
    generation, cap semantics included); at 100 TB pass
    ``max_doc_freq`` through :func:`containment_pairs`.
    """
    docs = load(spark, sf_dir, "documents", spread=True)
    return (
        containment_pairs(docs)
        .orderBy(F.desc("containment"), "jaccard", "doc1", "doc2")
        .limit(20)
    )


def containment_pairs(
    docs: DataFrame, max_doc_freq: int | None = None
) -> DataFrame:
    """(doc1, doc2, containment, jaccard) over the shared inverted
    shingle index — see :func:`dedup_containment` for semantics and
    :func:`ngram_jaccard_pairs` for the cap contract (a capped run
    under-estimates both metrics, never over-estimates).

    Cap sensitivity (measured sf1.0, round 8 — SCALE.md §containment):
    containment is strictly MORE cap-sensitive than jaccard.  The same
    sub-tail cap (df 100 on a max-df-140 tier) left jaccard's top-20
    bit-identical but zeroed containment's: containment's top pairs
    are small docs inside hosts, and a small doc's few shingles are
    exactly the common high-df ones, so the numerator under-count
    lands full-force on the min(|A|,|B|) normalization.  Keep the cap
    ABOVE :func:`acled_spark.profiling.profile_caps`'s max df for
    containment workloads.
    """
    sized = _shingle_pair_counts(docs, max_doc_freq)
    return sized.select(
        "doc1",
        "doc2",
        F.round(
            F.col("inter").cast("double") / F.least("n_sh1", "n_sh2"), 4
        ).alias("containment"),
        F.round(
            F.col("inter").cast("double")
            / (F.col("n_sh1") + F.col("n_sh2") - F.col("inter")),
            4,
        ).alias("jaccard"),
    )


# --- corpus overlap matrix --------------------------------------------------
@query(
    "dedup_source_overlap",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT source, unnest({_SHINGLES_SQL}) AS shingle
      FROM documents
    ),
    sizes AS (SELECT source, COUNT(*) AS n_sh FROM sh GROUP BY source),
    shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS shared_sh
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT s.source_a, s.source_b,
           sa.n_sh AS sh_a, sb.n_sh AS sh_b, s.shared_sh,
           ROUND(s.shared_sh / CAST(sa.n_sh + sb.n_sh - s.shared_sh AS DOUBLE), 6) + 0.0 AS jaccard,
           ROUND(s.shared_sh / CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE), 6) + 0.0 AS containment
    FROM shared s
    JOIN sizes sa ON s.source_a = sa.source
    JOIN sizes sb ON s.source_b = sb.source
    ORDER BY jaccard DESC, source_a, source_b LIMIT 100
    """,
    tags=("dedup", "text", "extended"),
)
def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus overlap matrix: top-100 source pairs by word-{NGRAM}-gram
    set Jaccard, with containment and the raw set sizes.

    The report an LLM data pipeline publishes BEFORE mixing corpora
    (Dolma/RedPajama-style n-gram overlap tables; the pairwise
    corpus-level face of the doc-level :func:`dedup_ngram_jaccard`):
    high Jaccard flags near-redundant sources to downweight in
    mix_weights, high containment with asymmetric sizes flags one
    source embedded inside another (a crawl that swallowed a dump) —
    the between-corpus analog of :func:`dedup_containment`.

    Scale: ONE corpus pass to the distinct (source, shingle) frame
    (shuffle keyed by source+shingle, map-side combinable), which is
    lazily checkpointed — it is the vocab-sized artifact all three
    consumers (sizes, both self-join aliases) read, and without the
    barrier the alias renames defeat subtree/exchange reuse and the
    executed plan re-scans the corpus 8x (measured; the
    dedup_ngram_novelty lesson).  The shingle self-join fans out at
    most |sources| rows per shingle side, so a universal stopword
    shingle costs |sources|^2 pair rows — bounded by the SOURCE
    dimension (a handful of corpora), not the vocab; the matrix
    itself is |sources|^2/2 rows rolled up with partial aggs, and
    the top-100 is TakeOrderedAndProject.  A NULL source never pairs
    (`a.source < b.source` is NULL-false on both engines) — route
    those docs through drift_vocab_js's NULL-source bucket instead.
    """
    docs = load(spark, sf_dir, "documents", spread=True)
    sh = (
        docs.select("source", F.explode(shingles_spark(F.col("text"))).alias("shingle"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = sh.groupBy("source").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("source").alias("source_a"), "shingle")
    b = sh.select(F.col("source").alias("source_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("shared_sh"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n_sh").alias("sh_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n_sh").alias("sh_b"))
    return (
        shared.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "sh_a",
            "sh_b",
            "shared_sh",
            (
                F.round(
                    F.col("shared_sh")
                    / (F.col("sh_a") + F.col("sh_b") - F.col("shared_sh")).cast("double"),
                    6,
                )
                + 0.0
            ).alias("jaccard"),
            (
                F.round(
                    F.col("shared_sh") / F.least("sh_a", "sh_b").cast("double"), 6
                )
                + 0.0
            ).alias("containment"),
        )
        .orderBy(F.desc("jaccard"), "source_a", "source_b")
        .limit(100)
    )


# --- MinHash + LSH banding --------------------------------------------------
N_HASHES = 8
BAND_SIZE = 2  # 4 bands of 2 minhashes


def _minhash_cols_sql() -> list[str]:
    # 8 "permutations" = 8 disjoint 8-hex-char windows of TWO md5s
    # (md5(shingle), md5('x:'||shingle)) instead of 8 salted md5s:
    # 4x less hashing per shingle for the same independent-window
    # minhash semantics; windows compare lexicographically the same in
    # Spark and DuckDB.
    return [
        f"min(substr(md5({'shingle' if i < 4 else chr(39) + 'x:' + chr(39) + ' || shingle'}), {8 * (i % 4) + 1}, 8)) AS mh{i}"
        for i in range(N_HASHES)
    ]


def minhash_bands_spark(docs: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_key) LSH band rows for every document.

    Shared by the bucket-census and cluster-census queries.  Built as
    explode + hash-aggregate, deliberately: computing signatures
    shuffle-free via array_min(transform(...)) was measured 6x SLOWER
    (34.7s vs 6.0s at sf0.1) because higher-order functions are
    interpreted per element while explode + partial min() runs in
    whole-stage codegen; the shuffle carries only partial mins
    (doc_id + 8 digests/doc), which is cheap at any scale.
    """
    sh = docs.select(
        "doc_id", F.explode(shingles_spark(F.col("text"))).alias("shingle")
    ).select(
        "doc_id",
        # two md5s per shingle, split into 8 disjoint 8-hex windows (see
        # _minhash_cols_sql) — staged as real columns so each digest is
        # computed once, not once per substring reference
        F.md5("shingle").alias("h1"),
        F.md5(F.concat(F.lit("x:"), F.col("shingle"))).alias("h2"),
    )
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(
                F.substring(F.col("h1" if i < 4 else "h2"), 8 * (i % 4) + 1, 8)
            ).alias(f"mh{i}")
            for i in range(N_HASHES)
        ]
    )
    # Explode the bands out of one signature row instead of unioning
    # N_BANDS branches — the expensive signature aggregate runs ONCE.
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat(
                        F.col(f"mh{b * BAND_SIZE}"), F.col(f"mh{b * BAND_SIZE + 1}")
                    )
                ).alias("band_key"),
            )
            for b in range(N_HASHES // BAND_SIZE)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("band")).select(
        "doc_id",
        F.col("band.band_id").alias("band_id"),
        F.col("band.band_key").alias("band_key"),
    )


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM documents
    ),
    sig AS (
      SELECT doc_id, {", ".join(_minhash_cols_sql())}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, md5(mh{b * BAND_SIZE} || mh{b * BAND_SIZE + 1}) AS band_key FROM sig"
        for b in range(N_HASHES // BAND_SIZE)
      )}
    ),
    buckets AS (
      SELECT band_id, band_key, COUNT(*) AS bucket_size
      FROM bands GROUP BY band_id, band_key
    )
    SELECT CAST(band_id AS INTEGER) AS band_id,
           COUNT(*) AS n_buckets,
           CAST(SUM(CASE WHEN bucket_size > 1 THEN 1 ELSE 0 END) AS BIGINT) AS colliding_buckets,
           CAST(SUM(CAST(bucket_size AS HUGEINT) * (bucket_size - 1) // 2) AS BIGINT) AS candidate_pairs
    FROM buckets GROUP BY band_id ORDER BY band_id
    """,
    tags=("dedup", "lsh", "extended"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature (8 perms) + LSH banding (4 bands × 2) audit.

    MinHash permutation i = lexicographic MIN of md5 over salted
    shingles — deterministic across engines, no engine hash involved.
    Candidate near-dup pairs live in colliding band buckets; this query
    reports the per-band bucket census (the LSH tuning signal).
    Scale: signatures are fixed-size rows; banding shuffles on the
    16-byte band key only.
    """
    docs = load(spark, sf_dir, "documents", spread=True)
    bands = minhash_bands_spark(docs)
    buckets = bands.groupBy("band_id", "band_key").agg(
        F.count("*").alias("bucket_size")
    )
    return (
        buckets.groupBy(F.col("band_id").cast("int").alias("band_id"))
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum((F.col("bucket_size") > 1).cast("long")).alias("colliding_buckets"),
            # exact integer arithmetic through DECIMAL (oracle: HUGEINT
            # + integer division), r7 review: long*long ANSI-overflows
            # past ~3e9-doc buckets — the single-hot-bucket skew shape
            # this module's cap knob exists for — and the former
            # double `/` lost exactness past 2^53 with per-term-vs-sum
            # rounding diverging between engines
            F.sum(
                (
                    F.col("bucket_size").cast("decimal(20,0)")
                    * (F.col("bucket_size") - 1)
                    / 2
                ).cast("decimal(38,0)")
            )
            .cast("long")
            .alias("candidate_pairs"),
        )
        .orderBy("band_id")
    )


# --- SimHash ----------------------------------------------------------------
SIMHASH_BITS = 32


def _simhash_bit_sql(j: int) -> str:
    """Bit j of md5(word) as ±1 vote: hex digit (j//4), bit (j%4)."""
    pos = j // 4 + 1
    shift = j % 4
    return (
        f"CASE WHEN ((instr('0123456789abcdef', substr(md5(word), {pos}, 1)) - 1) "
        f"// {2 ** shift}) % 2 = 1 THEN 1 ELSE -1 END"
    )


@query(
    "dedup_simhash",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest(list_distinct({_WORDS_SQL})) AS word
      FROM documents
    ),
    votes AS (
      SELECT doc_id,
             {", ".join(f"SUM({_simhash_bit_sql(j)}) AS v{j}" for j in range(SIMHASH_BITS))}
      FROM w GROUP BY doc_id
    )
    SELECT doc_id,
           CAST({" + ".join(f"(CASE WHEN v{j} > 0 THEN {2 ** j} ELSE 0 END)" for j in range(SIMHASH_BITS))} AS BIGINT) AS simhash
    FROM votes ORDER BY doc_id LIMIT 200
    """,
    tags=("dedup", "extended"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document via md5 bit voting.

    Each distinct word votes ±1 on 32 bit positions (bit j of its md5);
    the signature takes the sign.  Near-dup docs differ in few bits —
    dedup then groups by signature or hamming-neighborhood.  Signature
    values themselves are parity-checked against the oracle.
    """
    docs = load(spark, sf_dir, "documents", spread=True)
    words = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(_words_spark(F.col("text")))
        ).alias("word"),
    )
    # One md5 + one hex->long conv per word, then 32 shift-and-mask bit
    # tests — instead of 32 separate md5/substring/instr trees, which
    # both re-hashed per bit and bloated codegen compile 9x (2.5s vs
    # 0.3s cold at sf0.1).  Bit j = hex digit (j//4) of the digest, bit
    # (j%4); digit p of an 8-hex-digit number sits at shift 4*(8-p-1).
    h = F.conv(F.substring(F.md5("word"), 1, 8), 16, 10).cast("long")
    wh = words.select("doc_id", h.alias("h"))

    def bit(j: int) -> Column:
        shift = 4 * (8 - (j // 4 + 1)) + (j % 4)
        return F.shiftright(F.col("h"), shift).bitwiseAND(F.lit(1))

    votes = wh.groupBy("doc_id").agg(
        *[
            F.sum(F.when(bit(j) == 1, 1).otherwise(-1)).alias(f"v{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    simhash = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return (
        votes.select("doc_id", simhash.cast("long").alias("simhash"))
        .orderBy("doc_id")
        .limit(200)
    )


# --- embedding-cosine near-dup ----------------------------------------------
@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
             {l2_norm_sql("embedding")} AS nrm
      FROM embeddings WHERE len(embedding) = {_EMB_DIM}
    )
    SELECT a.vec_id AS vec1, b.vec_id AS vec2, a.label AS label,
           ROUND({cosine_sql("a.e", "b.e", "a.nrm", "b.nrm")}, 4) + 0.0 AS cosine
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    ORDER BY cosine DESC, vec1, vec2 LIMIT 20
    """,
    tags=("dedup", "vector", "extended"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top embedding near-dup pairs by exact cosine, blocked by label.

    Blocking on the cluster label keeps pair generation O(block²) per
    block instead of O(n²) global — at 100 TB the label comes from a
    coarse quantizer (IVF centroid / LSH bucket, see sim_ann_lsh).
    Dot products ride zip_with/aggregate HOFs — JVM-side, no Python.
    The oracle needs exact pairs, so no block cap here; at 100 TB pass
    ``max_block`` to :func:`embedding_cosine_pairs` to bound the
    per-label quadratic term (SCALE.md §max_block).
    """
    e = valid_width_embeddings(spark, sf_dir)
    return (
        embedding_cosine_pairs(e)
        .orderBy(F.desc("cosine"), "vec1", "vec2")
        .limit(20)
    )


def valid_width_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings frame restricted to full-width vectors — the
    population every cosine consumer (pairing AND profiling) must
    share.

    Width filter mirrored in the oracle (r7 review): a ragged vector
    NULL-coses via zip_with padding in Spark but ABORTS DuckDB's
    list_dot_product ('list dimensions must be equal').  Public
    (ADVICE r9): :func:`acled_spark.profiling.profile_blocks` must be
    fed THIS frame, not the raw table — profiling unfiltered rows
    counts vectors that can never pair and skews the cap
    recommendation.
    """
    from acled_spark.queries.similarity import DIM

    return load(spark, sf_dir, "embeddings").filter(F.size("embedding") == DIM)


def embedding_cosine_pairs(
    emb: DataFrame, max_block: int | None = None,
    round_digits: int | None = 4,
) -> DataFrame:
    """(vec1, vec2, label, cosine) exact-cosine candidate pairs over a
    label-blocked self-join.

    ``round_digits``: output grain of the cosine column (default 4 —
    the dedup_embedding_cosine oracle contract).  Pass ``None`` for
    the UNROUNDED cosine: a caller thresholding pairs (the semantic
    census's ``eps``) must compare the raw value, or a true cosine of
    ~0.98995 rounds up to 0.99 and crosses the boundary as a rounding
    artifact (ADVICE r13).

    ``max_block``: drop labels holding more than this many vectors
    BEFORE the quadratic pair join.  The label is a coarse-quantizer
    cell, so block sizes are the pair-join fan-out — one runaway cell
    (a boilerplate/near-constant embedding mass, or a quantizer that
    collapsed) contributes O(block²) pairs and dominates the whole
    stage: SCALE.md §max_block measured one planted 20,000-vector block
    at sf1.0 taking the top-20 stage from 7.0 s / 20.1 M pairs (capped
    at the advisor's recommendation) to 117.5 s / 220.0 M pairs
    uncapped — ~11× pairs, ~16.7× wall-clock, the natural top-20
    entirely displaced by the runaway cell's self-pairs.  A dropped block
    loses ALL its pairs (unlike LSH buckets there is no cross-band
    redundancy here), so the cap is an EXPLICIT, profiled exclusion of
    a block the quantizer should never have produced — the production
    answer for a flagged block is to re-quantize it (split the cell,
    e.g. one more IVF level), not to pair-join it.  Default ``None``
    keeps exact semantics (the oracle contract).

    Sizing: :func:`acled_spark.profiling.profile_blocks` runs the
    one-aggregate label profile and recommends a cap only on a genuine
    tail (max > TAIL_RATIO=10 × the bulk statistic) — on the natural
    sf1.0 tier (10 uniform ~2,000-vector blocks) it recommends None,
    and the planted 20,000-vector cell fires it at ratio 10.05.  The
    threshold gates only the RECOMMENDATION, not the lever: a
    9.5×-bulk runaway stays sub-threshold (rec None) yet still costs
    O(block²) — inspect the profile's ``decades`` histogram and pass
    ``tail_ratio=`` or an explicit ``max_block`` when an isolated
    top-decade key shows (SCALE.md §max_block, tail-sensitivity
    note).  Scale shape: the block
    census is a map-side-combinable groupBy on the label column only
    (never a hot-key window), and the |labels|-sized keep-set
    broadcast-semi-joins onto the vector frame.
    """
    if max_block is not None:
        keep = (
            emb.groupBy("label")
            .agg(F.count("*").alias("_bs"))
            .filter(F.col("_bs") <= max_block)
            .select("label")
        )
        emb = emb.join(F.broadcast(keep), "label", "left_semi")
    v = emb.select(
        "vec_id",
        "label",
        as_double("embedding").alias("e"),
        l2_norm("embedding").alias("nrm"),
    )
    a = v.alias("a")
    b = v.alias("b")
    cos = cosine(F.col("a.e"), F.col("b.e"), F.col("a.nrm"), F.col("b.nrm"))
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    return a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec1"),
        F.col("b.vec_id").alias("vec2"),
        F.col("a.label").alias("label"),
        (cos + 0.0).alias("cosine"),
    )


# --- near-dup cluster census (bounded min-label propagation) ----------------
# The step a dedup pipeline runs AFTER candidate generation: group
# near-dup pairs into connected components and pick one canonical doc
# per component.  Exact connected components is iterate-to-fixpoint;
# for oracle parity both engines run the SAME bounded k=3 synchronous
# min-label propagation (label(v) = min doc_id within graph distance 3,
# self included) — deterministic regardless of convergence.  At scale
# you iterate until a convergence counter hits zero, localCheckpoint()
# every few rounds to truncate lineage, and switch to the
# large-star/small-star algorithm when components can be deep chains.
_PROPAGATION_ROUNDS = 3

_BANDS_SQL = f"""
    sh AS (
      SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM documents
    ),
    sig AS (
      SELECT doc_id, {", ".join(_minhash_cols_sql())}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, md5(mh{b * BAND_SIZE} || mh{b * BAND_SIZE + 1}) AS band_key FROM sig"
        for b in range(N_HASHES // BAND_SIZE)
      )}
    )
"""


def lsh_candidate_edges(
    bands: DataFrame, max_bucket: int | None = None
) -> DataFrame:
    """Distinct (u, v) candidate-pair edges from LSH band buckets.

    Pair generation via per-bucket collect_list + HOF expansion, NOT a
    bands-self-join: a self-join re-evaluates the whole signature
    pipeline (and re-reads the corpus) for each side, while this runs
    it once and shuffles only (band_key -> doc_id).

    ``max_bucket``: drop buckets holding more than this many docs before
    the quadratic pair expansion.  Bucket arrays stay tiny when LSH is
    tuned, but adversarially skewed corpora (near-constant documents,
    template boilerplate) can land a large doc fraction in ONE bucket —
    a 1M-doc bucket is 5·10¹¹ pairs from a single group.  A dropped
    bucket loses only candidates whose similarity evidence was that one
    band; true near-dups still collide in the other bands (that
    redundancy is why banding has >1 band).  Default ``None`` keeps the
    exact semantics (the oracle contract).

    Sizing (measured at sf1.0, SCALE.md §max_bucket): profile bucket
    sizes first (one cheap ``groupBy(band).count()``), then set the cap
    ≳ 10× the expected TRUE near-dup group size.  Above the profile's
    max size the cap is a time-neutral no-op; on a planted 5000-doc
    boilerplate group it cut the stage 34.2 s → 2.3 s (43× fewer pair
    rows) while keeping every natural-document edge (702/702) — an
    identical-text group needs no LSH evidence, the exact-fingerprint
    path already dedups it.
    :func:`acled_spark.profiling.profile_buckets` runs the profile and
    returns the recommendation (it reproduces the natural-tier numbers
    29,695 / max 79 / p99.9 30 → None, and lands inside the measured
    [100, 1000] band on the planted tier — tests/test_profiling.py).
    """
    buckets = (
        bands.groupBy("band_id", "band_key")
        .agg(F.collect_list("doc_id").alias("ds"))
        .filter(F.size("ds") > 1)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ds") <= max_bucket)
    pair_expr = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x: F.transform(
                F.filter(F.col("ds"), lambda y: y > x),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_expr).alias("p"))
        .select(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .distinct()
    )


def min_label_components(ed: DataFrame, rounds: int) -> tuple[DataFrame, DataFrame]:
    """Bounded min-label propagation over undirected edges ``ed(u, v)``.

    Returns ``(labels, chg)``: ``labels`` is one ``(v, lbl)`` row per
    vertex after ``rounds`` propagation rounds (lbl = min vertex id
    within graph distance ``rounds``), and ``chg`` is a ONE-ROW frame
    whose ``chg`` column is 0 iff one further round moves no label —
    the convergence certificate (components of diameter > rounds are
    under-merged, and only this flag can tell).  Each round is one
    shuffle keyed on the vertex id over label-pair rows only.
    """
    verts = ed.select(F.col("u").alias("x")).union(ed.select("v")).distinct()
    adj = (
        ed.select(F.col("u").alias("v"), F.col("v").alias("nbr"))
        .unionByName(ed.select(F.col("v").alias("v"), F.col("u").alias("nbr")))
        .unionByName(verts.select(F.col("x").alias("v"), F.col("x").alias("nbr")))
    )

    def propagate(lbls: DataFrame) -> DataFrame:
        return (
            adj.join(lbls.withColumnRenamed("v", "nv"), F.col("nbr") == F.col("nv"))
            .groupBy("v")
            .agg(F.min("lbl").alias("lbl"))
        )

    labels = adj.groupBy("v").agg(F.min("nbr").alias("lbl"))
    for _ in range(rounds - 1):
        labels = propagate(labels)
    # Materialize the k-round labels once: both the caller and the
    # convergence-cert round read them, and the cert round would
    # otherwise replay the whole k-join chain a second time.  Lazy
    # (r14): the first consumer's action materializes it — an eager
    # checkpoint ran a dedicated build-time job for the same bytes.
    labels = labels.localCheckpoint(eager=False)
    chg = (
        labels.withColumnRenamed("lbl", "lbl0")
        .join(propagate(labels), "v")
        .agg(
            F.coalesce(
                F.max((F.col("lbl") != F.col("lbl0")).cast("int")), F.lit(0)
            ).alias("chg")
        )
    )
    return labels, chg


def star_contraction_components(
    ed: DataFrame, max_rounds: int = 20
) -> tuple[DataFrame, int, bool]:
    """EXACT connected components via alternating large-star/small-star
    contraction — the unbounded-diameter algorithm the bounded-k census
    docstring defers to ("switch to large-star/small-star when
    components can be deep chains"), now real.  ``ed`` must be DISTINCT
    undirected (u, v) pairs (duplicate edges would only perturb the
    first fixpoint signature, but the contract keeps the input
    materialization a plain copy, no re-distinct shuffle).

    Converges in O(log² n) rounds REGARDLESS of component diameter
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014 — public literature), where k-round min-label propagation
    needs k ≥ diameter.  Per round: two window-aggregate passes keyed
    on the vertex id over EDGE rows only (never corpus rows), each new
    edge frame localCheckpointed so no round replays prior lineage.
    Fixpoint detection compares (count, xxhash64-bit_xor) signatures of
    successive edge sets — one tiny aggregate per round.

    Returns ``(labels, rounds, converged)``: ``labels`` has one
    ``(v, lbl)`` row per vertex appearing in ``ed`` with lbl = MIN doc
    id of its true component; ``converged`` is False only if
    ``max_rounds`` was hit first (at the default 20 that means a graph
    beyond 2^20-scale pathology — raise the cap, don't trust labels).

    At 100 TB: the edge frame is the LSH candidate graph (orders of
    magnitude smaller than the corpus, bucket-capped via
    ``lsh_candidate_edges(max_bucket=...)``), and localCheckpoint
    becomes a durable ``checkpoint()``.
    """

    def sym(e: DataFrame) -> DataFrame:
        return e.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
            e.select(F.col("v").alias("a"), F.col("u").alias("b"))
        )

    def large_star(e: DataFrame) -> DataFrame:
        # attach every LARGER neighbor of a to min(N(a) ∪ {a}).
        # NO .distinct() here (r14): its only consumer is small_star,
        # whose window-min is multiplicity-blind and whose own output
        # IS distinct'd — duplicate (u, v) rows (the same b attached to
        # the same m under two different centers a) change nothing
        # downstream, and the dedup was a full extra exchange per
        # round.  Row count stays bounded by |e| either way: each
        # undirected edge contributes exactly one b > a orientation.
        w = Window.partitionBy("a")
        return (
            sym(e)
            .withColumn("m", F.least(F.min("b").over(w), F.col("a")))
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )

    def small_star(e: DataFrame) -> DataFrame:
        # orient edges toward the smaller endpoint, then attach every
        # smaller neighbor of a (and a itself) to min(N(a))
        o = e.select(
            F.greatest("u", "v").alias("a"), F.least("u", "v").alias("b")
        )
        w = Window.partitionBy("a")
        with_m = o.withColumn("m", F.min("b").over(w))  # < a by construction
        child = with_m.filter(F.col("b") != F.col("m")).select(
            F.col("b").alias("u"), F.col("m").alias("v")
        )
        own = with_m.select(F.col("a").alias("u"), F.col("m").alias("v"))
        return child.unionByName(own).distinct()

    def sig(e: DataFrame) -> tuple:
        # bit_xor, not sum: xor of 64-bit hashes can't overflow under
        # ANSI mode (a hash SUM did) and is order-independent; edges are
        # distinct so xor self-cancellation can't collide two rounds
        row = e.agg(
            F.count("*").alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    # materialize the input ONCE and truncate its lineage (the rounds
    # below would otherwise replay the caller's candidate-generation
    # pipeline); edges are treated as given — callers supply distinct
    # (u, v) pairs (lsh_candidate_edges already ends in .distinct(); a
    # re-distinct here was measured as a pure extra shuffle, r7 review).
    # Checkpoints are LAZY (r14): the sig() aggregate is the first
    # action over each round's edge frame, so ONE job both materializes
    # the checkpoint and computes the fixpoint signature — eager
    # checkpoints ran a dedicated materialization job per round (2
    # driver round-trips/round instead of 1, measured ~0.2s/round of
    # pure scheduling at sf0.1).
    cur = ed.select("u", "v").localCheckpoint(eager=False)
    prev = sig(cur)
    rounds = 0
    converged = False
    for _ in range(max_rounds):
        cur = small_star(large_star(cur)).localCheckpoint(eager=False)
        rounds += 1
        now = sig(cur)
        if now == prev:
            converged = True
            break
        prev = now
    # fixpoint edges are (child, root) stars; roots label themselves.
    # groupBy-min is belt-and-braces: at a true fixpoint each child has
    # exactly one root and no root is also a child.
    labels = (
        cur.select(F.col("u").alias("v"), F.col("v").alias("lbl"))
        .unionByName(cur.select(F.col("v").alias("v"), F.col("v").alias("lbl")))
        .groupBy("v")
        .agg(F.min("lbl").alias("lbl"))
    )
    return labels, rounds, converged


@query(
    "dedup_components_exact",
    oracle=f"""
    WITH RECURSIVE {_BANDS_SQL},
    ed AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    adj AS (
      SELECT u AS v, v AS nbr FROM ed
      UNION ALL SELECT v, u FROM ed
      UNION ALL SELECT x, x FROM (SELECT u AS x FROM ed UNION SELECT v FROM ed)
    ),
    reach AS (
      SELECT v AS src, nbr AS dst FROM adj
      UNION
      SELECT r.src, a.nbr FROM reach r JOIN adj a ON r.dst = a.v
    ),
    lbls AS (SELECT src AS v, MIN(dst) AS lbl FROM reach GROUP BY src),
    census AS (SELECT lbl, COUNT(*) AS sz FROM lbls GROUP BY lbl)
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           COUNT(*) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS docs_in_clusters,
           TRUE AS converged
    FROM census GROUP BY sz ORDER BY cluster_size
    """,
    tags=("dedup", "lsh", "graph", "extended"),
)
def dedup_components_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT near-dup component census via star contraction — the
    unbounded twin of ``dedup_cluster_census`` (whose k=3 propagation
    is exact only while the ``converged`` cert holds; this operator
    needs no diameter assumption at all).

    The oracle computes TRUE connected components independently (DuckDB
    recursive-CTE transitive closure over the same LSH candidate
    edges) and pins ``converged = TRUE`` — so a driver hash-match
    certifies both that star contraction reached ITS fixpoint and that
    the fixpoint equals ground truth.  Scale: transitive closure is
    oracle-only (O(Σ component²) blowup); the engine side is
    :func:`star_contraction_components` — O(log² n) rounds of
    vertex-keyed window aggregates over the candidate-edge frame,
    bucket-capped upstream at 100 TB.
    """
    docs = load(spark, sf_dir, "documents", spread=True)
    bands = minhash_bands_spark(docs)
    # no caller-side localCheckpoint: star_contraction_components
    # materializes its input itself (a second checkpoint of the same
    # frame was a redundant full materialization, r7 review)
    ed = lsh_candidate_edges(bands)
    labels, _rounds, converged = star_contraction_components(ed)
    census = labels.groupBy("lbl").agg(F.count("*").alias("sz"))
    return (
        census.groupBy(F.col("sz").cast("long").alias("cluster_size"))
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum("sz").cast("long").alias("docs_in_clusters"),
        )
        .withColumn("converged", F.lit(converged))
        .orderBy("cluster_size")
    )


def _propagation_sql(rounds: int) -> str:
    ctes = ["l1 AS (SELECT v, MIN(nbr) AS lbl FROM adj GROUP BY v)"]
    for k in range(2, rounds + 1):
        ctes.append(
            f"l{k} AS (SELECT a.v AS v, MIN(l.lbl) AS lbl "
            f"FROM adj a JOIN l{k - 1} l ON a.nbr = l.v GROUP BY a.v)"
        )
    return ",\n    ".join(ctes)


@query(
    "dedup_cluster_census",
    oracle=f"""
    WITH {_BANDS_SQL},
    ed AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    adj AS (
      SELECT u AS v, v AS nbr FROM ed
      UNION ALL SELECT v, u FROM ed
      UNION ALL SELECT x, x FROM (SELECT u AS x FROM ed UNION SELECT v FROM ed)
    ),
    {_propagation_sql(_PROPAGATION_ROUNDS + 1)},
    chg AS (
      SELECT COALESCE(MAX(CASE WHEN a.lbl <> b.lbl THEN 1 ELSE 0 END), 0) AS chg
      FROM l{_PROPAGATION_ROUNDS} a
      JOIN l{_PROPAGATION_ROUNDS + 1} b ON a.v = b.v
    ),
    census AS (
      SELECT lbl, COUNT(*) AS sz FROM l{_PROPAGATION_ROUNDS} GROUP BY lbl
    )
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           COUNT(*) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS docs_in_clusters,
           (SELECT chg FROM chg) = 0 AS converged
    FROM census GROUP BY sz ORDER BY cluster_size
    """,
    tags=("dedup", "lsh", "graph", "extended"),
)
def dedup_cluster_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram of the MinHash-LSH near-dup graph.

    Edges = distinct doc pairs sharing any LSH band bucket; components
    via k=3 min-label propagation (see module note); output = how many
    clusters of each size exist and how many docs they absorb — the
    "what would dedup delete" summary.  Scale: the pair self-join is
    bounded by bucket sizes (frequency-cap hot buckets first at 100 TB);
    each propagation round is one small shuffle keyed on the vertex id,
    and the candidate graph is orders of magnitude smaller than the
    corpus.

    Bounded-k under-merges components whose diameter exceeds k, so a
    ``converged`` flag rides every row (VERDICT r5 #4): one EXTRA
    propagation round runs and the flag is true iff no vertex's label
    moved — i.e. k was sufficient for THIS graph, the census is the true
    connected-components census, and the oracle agreement isn't just two
    engines sharing the same truncation.  Both engines derive the flag
    independently (the oracle runs l{{k+1}} and compares), so the driver
    hash-match pins it.  Certification cost: one extra tiny-frame
    shuffle round (labels are (v, lbl) pairs over bucketed vertices
    only, never corpus rows).
    """
    docs = load(spark, sf_dir, "documents", spread=True)
    bands = minhash_bands_spark(docs)
    # localCheckpoint materializes the (tiny) edge set and truncates its
    # lineage — without it every propagation round re-evaluates the whole
    # signature pipeline upstream of the join (measured 6.3s -> ~3.5s at
    # sf0.1).  Every real iterative-graph job does this; at cluster scale
    # it would be checkpoint() to durable storage instead.  No bucket cap
    # here (the oracle keeps it exact); at 100 TB pass max_bucket.
    # Lazy (r14): the label chain's first action materializes it in the
    # same job instead of a dedicated build-time one.
    ed = lsh_candidate_edges(bands).localCheckpoint(eager=False)
    labels, chg = min_label_components(ed, _PROPAGATION_ROUNDS)
    census = labels.groupBy("lbl").agg(F.count("*").alias("sz"))
    return (
        census.groupBy(F.col("sz").cast("long").alias("cluster_size"))
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum("sz").cast("long").alias("docs_in_clusters"),
        )
        .crossJoin(F.broadcast(chg))
        .withColumn("converged", F.col("chg") == 0)
        .drop("chg")
        .orderBy("cluster_size")
    )


# --- canonical survivor selection (the dedup pipeline's KEEP step) ----------
@query(
    "dedup_canonical_pick",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, source, n_chars, {FINGERPRINT_SQL} AS fingerprint
      FROM documents
    ),
    ranked AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY fingerprint
                                ORDER BY n_chars DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY fingerprint) AS csize
      FROM fp
    )
    SELECT source,
           COUNT(*) AS docs,
           COUNT(CASE WHEN rn = 1 THEN 1 END) AS canonical_docs,
           COUNT(CASE WHEN rn > 1 THEN 1 END) AS dropped_dupes,
           CAST(MAX(csize) AS BIGINT) AS largest_cluster,
           CAST(SUM(CASE WHEN rn = 1 THEN n_chars ELSE 0 END) AS BIGINT)
             AS surviving_chars
    FROM ranked GROUP BY source ORDER BY source
    """,
    tags=("dedup", "extended"),
)
def dedup_canonical_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection per exact-dup cluster: the KEEP step every
    dedup pipeline runs after detection (dedup_exact counts clusters;
    this picks which document survives each one).

    Policy: richest document wins (greatest n_chars, doc_id tiebreak) —
    deterministic, data-dependent, layout-independent.  Scale: one
    corpus scan; the window shuffles (fingerprint digest, n_chars,
    doc_id, source) — never text; the per-source rollup then shuffles
    only source keys.  Same digest-only-exchange argument as
    dedup_exact (SCALE.md).
    """
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("fingerprint").orderBy(F.desc("n_chars"), "doc_id")
    cw = Window.partitionBy("fingerprint")
    ranked = docs.select(
        "doc_id",
        "source",
        "n_chars",
        fingerprint_spark(F.col("text")).alias("fingerprint"),
    ).select(
        "source",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(cw).alias("csize"),
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").alias("docs"),
            F.count(F.when(F.col("rn") == 1, 1)).alias("canonical_docs"),
            F.count(F.when(F.col("rn") > 1, 1)).alias("dropped_dupes"),
            F.max("csize").cast("long").alias("largest_cluster"),
            F.sum(F.when(F.col("rn") == 1, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("surviving_chars"),
        )
        .orderBy("source")
    )


# --- incremental dedup (batch vs signature store) ---------------------------
def incremental_classify(
    batch_exact: DataFrame,
    batch_bands: DataFrame,
    store_exact: DataFrame,
    store_bands: DataFrame,
) -> DataFrame:
    """Verdict rows for a batch checked against store signatures.

    One row per batch doc: ``is_exact_dup``/``dup_of`` (fingerprint hit
    in the store under a DIFFERENT doc_id, smallest such store doc_id),
    ``is_batch_dup`` (duplicated WITHIN the batch and not its
    min-doc_id canonical), and ``n_band_collisions`` (LSH band keys
    shared with the store — the near-dup *candidate* signal, same
    banding as ``dedup_minhash_lsh``).

    Two deliberate edge rules (round-7 review fixes, mirrored in the
    ``dedup_incremental_check`` oracle):

    - **NULL text** (NULL fingerprint) classifies as a non-dup
      survivor with its verdict row intact — the joins are null-unsafe
      so an inner canon join would silently DROP the doc from the
      verdicts frame, and a release built on those verdicts would lose
      the document from both store and export.
    - **Self-matches are not dups**: a store row holding this doc's
      OWN id (a replay of the same (id, text), or a fingerprint
      re-keyed to this doc by ``retire_ids(corpus=)``) yields
      ``is_exact_dup=false, dup_of=NULL`` — a document cannot
      duplicate itself, and flagging it would drop a live canonical
      doc from a release export.
    - **A store match whose holder IS this batch's canonical is a
      batch-dup, not a store-dup** (r8 lens review, narrowed r9): after
      a post-append crash, the replayed epoch sees its own survivor in
      the store, and without this rule the within-batch dup's verdict
      FLIPS shape across the replay (original: ``is_batch_dup=true,
      dup_of=NULL``; replay: ``is_exact_dup=true, dup_of=survivor``) —
      an epoch-keyed verdict sink would record nondeterministic rows
      under at-least-once delivery.  With it, the verdict depends only
      on the batch + the store-before-this-batch, so replays converge.
      The exemption applies ONLY when ``store_min == batch_canonical``
      (the replay shape — the store's holder is exactly the doc the
      batch would pick as survivor).  A store holder that rides the
      batch at a NON-minimal id is cross-epoch redelivery, not replay:
      there the batch-min doc IS a real store-dup, and exempting it
      (the pre-r9 behavior) classified it as neither exact- nor
      batch-dup, appending a SECOND store holder for the fingerprint
      and breaking the one-canonical-row invariant (ADVICE r8).

    Shared by :mod:`acled_spark.dedup_store` (parquet-backed store) and
    the ``dedup_incremental_check`` oracle query (in-memory halves).
    Scale: joins key on digests only; text never enters any exchange.
    """
    canon = batch_exact.groupBy("fingerprint").agg(
        F.min("doc_id").alias("batch_canonical")
    )
    flagged = (
        batch_exact.join(
            store_exact.groupBy("fingerprint").agg(
                F.min("doc_id").alias("store_min")
            ),
            "fingerprint",
            "left",
        )
        .join(canon, "fingerprint", "left")
        .select(
            "doc_id",
            # the store holds ONE canonical row per fingerprint
            # (init_store dedups, appends are survivor-only), so "min
            # store holder == this doc" means the only holder is this
            # doc itself.  store_min == batch_canonical is the replay
            # exemption (docstring); NULL store_min (no store hit) and
            # NULL fingerprint both propagate NULL through the
            # comparisons and land on dup_of=NULL, the survivor shape.
            F.when(
                (F.col("store_min") != F.col("doc_id"))
                & (F.col("store_min") != F.col("batch_canonical")),
                F.col("store_min"),
            ).alias("dup_of"),
            "batch_canonical",
        )
        .select(
            "doc_id",
            F.col("dup_of").isNotNull().alias("is_exact_dup"),
            "dup_of",
            F.coalesce(
                F.col("doc_id") != F.col("batch_canonical"), F.lit(False)
            ).alias("is_batch_dup"),
        )
    )
    # left_semi returns each batch band row at most once no matter how
    # many store rows share the key, so NO .distinct() on the store
    # side — at the design point (a ~20 GB bands store per 100 TB
    # corpus) a distinct would hash-aggregate and re-shuffle the whole
    # store on every ingest batch and destroy its bucketed layout.
    # (The DuckDB oracle needs DISTINCT only because it counts via an
    # inner join.)  Duplicate store band rows are also why a crashed
    # append replay is harmless — see dedup_store.append_batch.
    # Self-exemption (third edge rule, like the exact path's): a store
    # band row under ANY id riding THIS batch — its own id (r7: a
    # replayed epoch re-checking an already-appended doc) or a batch
    # peer's (r8: the replayed epoch's own SURVIVOR, appended before
    # the crash) — is not a collision, or the replay would route docs
    # to the near-dup quarantine the original run never saw
    # (verdict-stream replay idempotency).  The exemption set is
    # batch-sized, so it broadcasts: the store bands stay un-shuffled
    # (their bucketed layout is the design-point join asset).
    bb = batch_bands.alias("bb")
    sb = store_bands.join(
        F.broadcast(batch_exact.select("doc_id").distinct()),
        "doc_id",
        "left_anti",
    ).alias("sb")
    collisions = (
        bb.join(
            sb,
            (F.col("bb.band_id") == F.col("sb.band_id"))
            & (F.col("bb.band_key") == F.col("sb.band_key"))
            & (F.col("bb.doc_id") != F.col("sb.doc_id")),
            "left_semi",
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_band_collisions"))
    )
    return (
        flagged.join(collisions, "doc_id", "left")
        .withColumn("n_band_collisions", F.coalesce("n_band_collisions", F.lit(0)))
        .select(
            "doc_id", "is_exact_dup", "dup_of", "is_batch_dup", "n_band_collisions"
        )
    )


def _half_bands_sql(side: str) -> str:
    """Shingle->signature->band SQL for one doc_id-parity half."""
    return f"""
    {side}sh AS (
      SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle
      FROM documents WHERE doc_id % 2 = {0 if side == 's' else 1}
    ),
    {side}sig AS (
      SELECT doc_id, {", ".join(_minhash_cols_sql())}
      FROM {side}sh GROUP BY doc_id
    ),
    {side}bands AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, md5(mh{b * BAND_SIZE} || mh{b * BAND_SIZE + 1}) AS band_key FROM {side}sig"
        for b in range(N_HASHES // BAND_SIZE)
      )}
    )"""


@query(
    "dedup_incremental_check",
    oracle=f"""
    WITH bfp AS (
      SELECT doc_id, {FINGERPRINT_SQL} AS fingerprint
      FROM documents WHERE doc_id % 2 = 1
    ),
    sfp AS (
      SELECT {FINGERPRINT_SQL} AS fingerprint, MIN(doc_id) AS dup_of
      FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
    ),
    canon AS (
      SELECT fingerprint, MIN(doc_id) AS batch_canonical FROM bfp GROUP BY 1
    ),
    {_half_bands_sql('s')},
    {_half_bands_sql('b')},
    coll AS (
      -- EXISTS = the engine's left_semi exactly (each batch band row
      -- counts at most once), including the self-exemption rule (a
      -- store band row under ANY id riding this batch — own id r7,
      -- batch peer r8 — is not a collision; both clauses are no-ops
      -- on these disjoint odd/even halves, kept so the contract reads
      -- 1:1)
      SELECT b.doc_id, COUNT(*) AS n_band_collisions
      FROM bbands b
      WHERE EXISTS (SELECT 1 FROM sbands s
                    WHERE s.band_id = b.band_id AND s.band_key = b.band_key
                      AND s.doc_id <> b.doc_id
                      AND s.doc_id NOT IN (SELECT doc_id FROM bfp))
      GROUP BY b.doc_id
    ),
    verdict AS (
      -- mirrors incremental_classify's edge rules: NULL fingerprints
      -- survive as verdict rows (LEFT canon join + COALESCE), a store
      -- match under the doc's OWN id is not a dup, and a store match
      -- whose holder IS the batch canonical is a batch-dup, not a
      -- store-dup (replay convergence, r8; narrowed to the exact
      -- replay shape r9 per ADVICE — a no-op on these disjoint
      -- odd/even halves, kept so the contract reads 1:1)
      SELECT bfp.doc_id,
             COALESCE(sfp.dup_of <> bfp.doc_id, FALSE)
               AND COALESCE(sfp.dup_of <> canon.batch_canonical, TRUE)
               AS is_exact_dup,
             COALESCE(bfp.doc_id <> canon.batch_canonical, FALSE) AS is_batch_dup,
             COALESCE(coll.n_band_collisions, 0) AS n_band_collisions
      FROM bfp
      LEFT JOIN sfp USING (fingerprint)
      LEFT JOIN canon USING (fingerprint)
      LEFT JOIN coll USING (doc_id)
    )
    SELECT COUNT(*) AS batch_docs,
           CAST(SUM(CASE WHEN is_exact_dup THEN 1 ELSE 0 END) AS BIGINT) AS exact_dups,
           CAST(SUM(CASE WHEN is_batch_dup THEN 1 ELSE 0 END) AS BIGINT) AS batch_dups,
           CAST(SUM(CASE WHEN n_band_collisions > 0 THEN 1 ELSE 0 END) AS BIGINT) AS near_candidates,
           CAST(SUM(CASE WHEN NOT is_exact_dup AND NOT is_batch_dup THEN 1 ELSE 0 END) AS BIGINT) AS new_docs
    FROM verdict
    """,
    tags=("dedup", "incremental", "extended"),
)
def dedup_incremental_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-dedup verdict census: even doc_ids play the existing
    corpus (the signature store), odd doc_ids the ingest batch, and the
    batch is classified WITHOUT rescanning store text — the production
    per-batch shape at 100 TB (see acled_spark/dedup_store.py for the
    parquet-backed store lifecycle; this query oracle-pins the check
    semantics shared via incremental_classify)."""
    docs = load(spark, sf_dir, "documents")
    # Per-half pipelines, deliberately NOT a shared materialized
    # signature frame: each half shingles only its own rows, so total
    # explode/aggregate work equals one full-corpus pass either way,
    # and a localCheckpoint barrier only adds materialization cost
    # (measured ~0.5s slower at sf0.1).  The parity filter pushes into
    # both parquet scans.
    store = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    fp = lambda d: d.select(
        "doc_id", fingerprint_spark(F.col("text")).alias("fingerprint")
    )
    v = incremental_classify(
        fp(batch), minhash_bands_spark(batch), fp(store), minhash_bands_spark(store)
    )
    return v.agg(
        F.count("*").alias("batch_docs"),
        F.sum(F.col("is_exact_dup").cast("long")).alias("exact_dups"),
        F.sum(F.col("is_batch_dup").cast("long")).alias("batch_dups"),
        F.sum((F.col("n_band_collisions") > 0).cast("long")).alias("near_candidates"),
        F.sum(
            (~F.col("is_exact_dup") & ~F.col("is_batch_dup")).cast("long")
        ).alias("new_docs"),
    )


# --- semantic dedup census (SemDeDup) ----------------------------------------
#: within-cell cosine at/above this flags a SEMANTIC duplicate pair
#: (Abbas et al. 2023, "SemDeDup", use 0.95-0.99+ on web embeddings;
#: the census's eps parameter is the lever — 0.99 keeps only
#: near-identical meanings flagged)
SEMANTIC_EPS = 0.99
#: target vectors per quantizer cell for dedup_semantic's nlist sizing
#: (see the in-function comment: linear total pair work, explicit
#: cross-cell recall tradeoff)
CELL_TARGET = 64


def _census_parts(
    vectors: DataFrame,
    centroids: DataFrame,
    eps: float,
    max_block: int | None,
) -> tuple[DataFrame, DataFrame]:
    """The two frames every SemDeDup face is built from: ``scored``
    (vec_id, cell, cent_cos, rnk — the keep-priority order) and
    ``dom`` (dropped, dominator, dom_rnk, cosine — one row per
    within-eps pair, oriented so ``dominator`` is the higher-priority
    side).  The eps threshold is applied to the UNROUNDED cosine
    (ADVICE r13: thresholding a 4-decimal-rounded value let
    ~0.98995 round up across eps=0.99); consumers round for output
    only.  Shared by :func:`semantic_dedup_census` (full rollup) and
    :func:`semantic_classify_batch` (which must filter the PAIR frame
    against store-absorbed dominators before any rollup)."""
    vectors = vectors.localCheckpoint(eager=False)
    c = centroids.select(
        "cell",
        as_double("centroid").alias("__ce"),
        l2_norm("centroid").alias("__cnrm"),
    )
    v = vectors.select(
        "vec_id",
        "cell",
        as_double("embedding").alias("__e"),
        l2_norm("embedding").alias("__nrm"),
    )
    cent_cos = cosine(F.col("__e"), F.col("__ce"), F.col("__nrm"), F.col("__cnrm"))
    w = Window.partitionBy("cell").orderBy(
        F.asc_nulls_last("cent_cos"), "vec_id"
    )
    scored = (
        v.join(F.broadcast(c), "cell")
        .select("vec_id", "cell", F.round(cent_cos, 6).alias("cent_cos"))
        .withColumn("rnk", F.row_number().over(w))
    )
    # The checkpoint between pair generation and the eps filter is a
    # PUSHDOWN BARRIER (r14): Catalyst pushes the filter through the
    # projection by substituting the cosine alias, and the HOF dot is
    # CodegenFallback — no codegen subexpression elimination recovers
    # it — so every pair paid the interpreted O(d) dot TWICE (measured:
    # 0.78s unfiltered vs 1.26s filtered for the same 76k pairs at
    # sf0.1).  Materializing the pair frame once (narrow: two ids +
    # cell + cosine) keeps one dot per pair and the filter reads the
    # stored column.
    pairs = embedding_cosine_pairs(
        vectors.select("vec_id", F.col("cell").alias("label"), "embedding"),
        max_block=max_block,
        round_digits=None,
    ).localCheckpoint(eager=False)
    pairs = pairs.filter(F.col("cosine") >= eps)
    r1 = scored.select(F.col("vec_id").alias("vec1"), F.col("rnk").alias("rnk1"))
    r2 = scored.select(F.col("vec_id").alias("vec2"), F.col("rnk").alias("rnk2"))
    ranked = pairs.join(r1, "vec1").join(r2, "vec2")
    dom = ranked.select(
        F.when(F.col("rnk1") < F.col("rnk2"), F.col("vec2"))
        .otherwise(F.col("vec1"))
        .alias("dropped"),
        F.when(F.col("rnk1") < F.col("rnk2"), F.col("vec1"))
        .otherwise(F.col("vec2"))
        .alias("dominator"),
        F.least("rnk1", "rnk2").alias("dom_rnk"),
        "cosine",
    )
    return scored, dom


def _resolve_survivor_map(dup: DataFrame, max_rounds: int = 20) -> DataFrame:
    """(dropped, parent) -> (dropped, root) where ``root`` is never
    itself a dropped id — pointer-jumping (parent <- parent's parent),
    so a chain of depth 2**k resolves in k rounds (ADVICE r13: on
    transitive near-dup chains A~B, B~C, A!~C the direct dominator of
    C is the dropped B, and a survivor remap through it dangles).
    Parent links always point to a strictly higher keep-priority
    vector in the same cell, so chains are finite and acyclic;
    ``max_rounds=20`` covers depth ~1M, far past any real cell.
    ``dup`` must be materialized (the caller localCheckpoints the
    rollup) — each round self-joins it plus one small convergence
    probe, never re-running the upstream pair stage."""
    m = dup.select("dropped", "parent")
    for _ in range(max_rounds):
        par = m.select(
            F.col("dropped").alias("__pd"), F.col("parent").alias("__pp")
        )
        j = m.join(par, m["parent"] == par["__pd"], "left")
        if j.filter(F.col("__pp").isNotNull()).isEmpty():
            break  # no parent is itself dropped: fully resolved
        m = j.select(
            "dropped", F.coalesce("__pp", "parent").alias("parent")
        ).localCheckpoint(eager=True)
    return m.select("dropped", F.col("parent").alias("root"))


def semantic_dedup_census(
    vectors: DataFrame,
    centroids: DataFrame,
    eps: float = SEMANTIC_EPS,
    max_block: int | None = None,
) -> DataFrame:
    """SemDeDup keep/drop census over pre-clustered vectors.

    ``vectors``: (vec_id, embedding, cell); ``centroids``: (cell,
    centroid).  Within each cell, pairs with cosine >= ``eps`` are
    semantic duplicates; of a duplicate group, the census KEEPS the
    vector LEAST similar to its cell centroid (SemDeDup's keep rule:
    the cluster-edge example carries the most marginal information)
    and DROPS the rest.

    Drop semantics are DOMINATION, not sequential-greedy: a vector is
    dropped iff SOME higher-keep-priority vector in its cell (priority
    = ascending centroid-cosine, vec_id tiebreak) sits within ``eps``
    of it.  Greedy SemDeDup removes dropped vectors from the witness
    set as it walks the priority order — a sequential dependence with
    no bounded-round set formulation; domination is one join, fully
    parallel, and strictly more conservative (it can only drop MORE
    than greedy, never keep a greedy-dropped vector).  The variant is
    pinned by a hand-computed known answer
    (tests/test_dedup_semantic.py).

    Output per input vector: ``cell``, ``cent_cos`` (cosine to own
    centroid, NULL for a zero vector), ``rnk`` (keep priority within
    the cell, 1 = kept first), ``action`` ('keep'/'drop'), and for
    dropped rows:

    - ``dup_of`` — the KEPT vector this row remaps to.  On transitive
      chains (A~B, B~C, A!~C) the direct dominator is itself dropped,
      so ``dup_of`` is resolved through the witness chain to a kept
      root (:func:`_resolve_survivor_map`, ADVICE r13); every
      ``dup_of`` target is guaranteed ``action='keep'`` and rows
      compose directly with :func:`dedup_canonical_pick`-style
      survivor joins.
    - ``dup_witness`` — the highest-priority DIRECT dominator (the
      within-eps witness for the drop; equals ``dup_of`` when no
      chain intervenes).
    - ``dup_cos`` — the exact cosine to ``dup_witness`` (eps applies
      to the unrounded value; output rounded to 6 decimals), >= eps
      by construction and externally recomputable from the raw
      vectors (the M14 self-certification rule: the pytest recomputes
      all three with numpy, trusting nothing).  The resolved
      ``dup_of`` root is NOT guaranteed within eps of the dropped row
      — that is inherent to transitive chains, and the witness column
      carries the actual evidence.

    Scale: centroids are an nlist-row broadcast; the per-cell
    quadratic pair join reuses :func:`embedding_cosine_pairs` and its
    profiled ``max_block`` cap (SCALE.md §max_block — the same
    runaway-cell lever, same drop semantics); priorities are one
    window over the vectors frame partitioned by cell (cell-sized
    partitions by construction of the quantizer); the domination
    rollup groups the PAIR frame (pairs above eps only) and is
    eagerly checkpointed — the chain resolution's convergence probe
    and the final output join both reuse the one materialization, so
    the pair stage still runs exactly once per census.
    """
    scored, dom = _census_parts(vectors, centroids, eps, max_block)
    # one dominator per dropped vector: the highest-priority one
    # (row_number is unique within a cell, so min_by is deterministic).
    # Lazy checkpoint (r14): the chain resolver's first convergence
    # probe is the first action over this frame and materializes it in
    # the same job — eager ran a dedicated build-time job for the same
    # bytes.  The materialize-once guarantee _resolve_survivor_map
    # documents is unchanged.
    dup = dom.groupBy("dropped").agg(
        F.min_by("dominator", "dom_rnk").alias("parent"),
        F.min_by("cosine", "dom_rnk").alias("dup_cos"),
    ).localCheckpoint(eager=False)
    roots = _resolve_survivor_map(dup)
    dup = (
        dup.join(roots, "dropped")
        .select(
            "dropped",
            F.col("root").alias("dup_of"),
            F.col("parent").alias("dup_witness"),
            F.round("dup_cos", 6).alias("dup_cos"),
        )
    )
    return (
        scored.join(dup, scored.vec_id == dup.dropped, "left")
        .select(
            "vec_id",
            "cell",
            "cent_cos",
            "rnk",
            F.when(F.col("dup_of").isNotNull(), "drop")
            .otherwise("keep")
            .alias("action"),
            "dup_of",
            "dup_witness",
            "dup_cos",
        )
    )


@query(
    "dedup_semantic",
    oracle=None,  # the KMeans coarse quantizer is not DuckDB-expressible
    # (same trajectory argument as sim_ann_ivf); the census instead
    # carries externally-recomputable columns — dup_cos is the exact
    # cosine between two raw vectors and dup_of/rnk encode the keep
    # rule — and tests/test_dedup_semantic.py recomputes ALL of them
    # with numpy (full per-cell cosine matrices) plus a hand-computed
    # known answer for the keep-rule direction, trusting no output
    # column (the M14 self-certification rule).
    tags=("dedup", "vector", "scale", "extended"),
)
def dedup_semantic(
    spark: SparkSession, sf_dir: str, eps: float = SEMANTIC_EPS,
    max_block: int | None = None, cell_target: int = CELL_TARGET,
) -> DataFrame:
    """SemDeDup-style semantic duplicate census over the embeddings
    table: quantize to cells (the certified IVF core, seeded KMeans),
    then within-cell cosine pairs at/above ``eps`` mark semantic
    duplicates and the cluster-edge member of each group is kept.

    The published gap this fills (VERDICT r12 #5): the dedup family
    covers lexical duplicates (exact/shingle/MinHash/SimHash) and
    metric near-dups under a GIVEN blocking label
    (dedup_embedding_cosine); SemDeDup (Abbas et al. 2023) dedups by
    MEANING — two documents phrased differently but embedded together
    — which needs the quantizer to CREATE the blocking.  Rides two
    certified cores: build_ivf_index (normalization, validity
    filtering, k clamp, determinism all inherited) and
    embedding_cosine_pairs (exact cosine, zero-norm guard, max_block
    cap).

    Scale: one seeded KMeans fit (sample the fit at 100 TB; assignment
    stays full-corpus and is a narrow map), nlist-row centroid
    broadcast, per-cell quadratic pair join bounded by ``max_block``
    (SCALE.md §max_block), pair-sized domination rollup.  Both levers
    are MEASURED against known ground truth at the heavy tier
    (SCALE.md §semdedup, tools/measure_semdedup.py): ``eps`` is the
    sharp artifact lever (0.95 flags 99.9% of planted near-dup copies,
    0.99 the tightest 47%), ``cell_target`` trades pair wall against
    cross-cell recall in the predicted directions.  Invalid
    vectors (NULL/ragged/empty) are excluded by the index's validity
    contract — they cannot be semantically deduped; route them to the
    validity checks instead.
    """
    from acled_spark.ann import build_ivf_index, centroid_frame

    emb = load(spark, sf_dir, "embeddings")
    # cell_target sizes cells to ~CELL_TARGET vectors via
    # ann.adaptive_nlist: within-cell pairing is quadratic PER CELL,
    # so with even cells the total pair count is ~n*cell/2 — LINEAR in
    # n once nlist scales with the corpus (measured at sf0.1: nlist=8
    # -> 260k pairs / 3.7 s pair stage, nlist=32 -> 76k pairs /
    # ~1.1 s; cells from the seeded quantizer stay near-uniform).  The
    # SemDeDup tradeoff is explicit: a duplicate pair SPLIT by a cell
    # boundary is missed — smaller cells trade recall for the linear
    # bound, exactly as in the paper (their k is chosen the same way).
    # The sizing count rides the build's own count job (VERDICT r13
    # #5a — no dedicated pass here).
    index = build_ivf_index(
        emb, max_iter=5, persist=False, cell_target=cell_target
    )
    census = semantic_dedup_census(
        index.assigned,
        centroid_frame(spark, index.model),
        eps=eps,
        max_block=max_block,
    )
    return census.orderBy("vec_id")


def semantic_classify_batch(
    index,
    batch: DataFrame,
    kept: DataFrame,
    eps: float = SEMANTIC_EPS,
    max_block: int | None = None,
) -> DataFrame:
    """Incremental SemDeDup: verdicts for a NEW batch against the
    current canonical (kept) set — the semantic twin of
    :func:`incremental_classify`, so a streaming/batch ingest can
    semantic-dedup each delta without re-pairing the corpus.

    ``index`` is the frozen :class:`acled_spark.ann.IvfIndex` (cells
    must mean the same thing for both sides); ``batch`` is
    (vec_id, embedding); ``kept`` is (vec_id, embedding, cell) — the
    keepers from a prior :func:`semantic_dedup_census` run and/or
    prior batches.  One verdict row per VALID batch vector (the
    index's width/validity contract, as in ``_assign_cells``):

    - ``is_semantic_dup`` / ``dup_of`` / ``dup_cos`` — within ``eps``
      of a kept vector in the same cell; dup_of is the MOST-similar
      kept vector (cosine desc, vec_id tiebreak) — kept always beats
      batch, mirroring the lexical store's precedence.  A kept row
      holding the batch vector's OWN id (a replay) is NOT a dup —
      the self-rule shared with the lexical face.
    - ``is_batch_dup`` / ``batch_dup_of`` — dominated within the
      batch under census priority (centroid-cosine ascending, the
      SemDeDup keep rule) by ANY dominator that is not itself
      store-absorbed: the full dominator PAIR frame is filtered
      against the store verdicts BEFORE any rollup (ADVICE r13 —
      checking only the single highest-priority dominator let a
      vector survive when that one was store-absorbed but a
      lower-priority surviving dominator was still within eps,
      accumulating duplicates across batches).  A batch vector ALL of
      whose dominators were absorbed by the store is conservatively
      KEPT (within eps of a store-dup does not prove within eps of
      the keeper — the same strictly-conservative posture as the
      census's domination variant).  ``batch_dup_of`` is resolved
      through surviving-dominator chains to a TRUE batch survivor
      (neither store-dup nor batch-dropped), so survivors plus the
      two remap columns compose as a survivor map exactly like the
      census (:func:`_resolve_survivor_map`);
      ``batch_dup_witness``/``batch_dup_cos`` carry the direct
      within-eps evidence.

    Survivors (neither flag) are the rows to append to ``kept`` —
    exactly :func:`acled_spark.dedup_store.process_batch`'s shape.
    Scale: batch-vs-kept is an equi-join on the cell (batch-sized ×
    cell-local kept rows; ``max_block`` drops runaway cells on the
    KEPT side before pairing, same lever as §max_block); the batch
    face reuses :func:`semantic_dedup_census` on the batch alone.
    The frozen quantizer drifts as the corpus grows — watch
    ``ivf_staleness`` and refit on its threshold, exactly as the ANN
    maintenance story prescribes.
    """
    from acled_spark.ann import _assign_cells, centroid_frame

    spark = batch.sparkSession
    assigned = _assign_cells(index, batch, "embedding", "vec_id").select(
        "vec_id", "embedding", "cell"
    ).localCheckpoint(eager=False)

    keep_side = kept
    if max_block is not None:
        big = (
            kept.groupBy("cell")
            .agg(F.count("*").alias("_bs"))
            .filter(F.col("_bs") <= max_block)
            .select("cell")
        )
        keep_side = kept.join(F.broadcast(big), "cell", "left_semi")
    b = assigned.select(
        F.col("vec_id").alias("b_id"),
        "cell",
        as_double("embedding").alias("b_e"),
        l2_norm("embedding").alias("b_nrm"),
    )
    k = keep_side.select(
        F.col("vec_id").alias("k_id"),
        "cell",
        as_double("embedding").alias("k_e"),
        l2_norm("embedding").alias("k_nrm"),
    )
    cos = cosine(F.col("b_e"), F.col("k_e"), F.col("b_nrm"), F.col("k_nrm"))
    store_hits = (
        b.join(k, ["cell"])
        .filter(F.col("b_id") != F.col("k_id"))  # self-rule: replays
        # eps applies to the UNROUNDED cosine (ADVICE r13); round for
        # output only, at the census's 6-decimal grain
        .select("b_id", "k_id", cos.alias("cos"))
        .filter(F.col("cos") >= eps)
    )
    best = store_hits.groupBy("b_id").agg(
        F.max_by(
            F.struct(F.col("cos"), (-F.col("k_id")).alias("nk"), "k_id"),
            F.struct(F.col("cos"), (-F.col("k_id")).alias("nk")),
        ).alias("w")
    ).select(
        "b_id",
        F.col("w.k_id").alias("dup_of"),
        F.round(F.col("w.cos"), 6).alias("dup_cos"),
    ).localCheckpoint(eager=True)
    # (materialized once: the store verdicts feed the output join AND
    # the batch-face dominator filter below)

    # batch face: census PAIR semantics over the batch alone, with the
    # dominator pair frame filtered against store-absorbed ids BEFORE
    # the rollup — a vector drops iff ANY store-surviving dominator is
    # within eps (ADVICE r13; see the docstring)
    scored_b, dom_b = _census_parts(
        assigned, centroid_frame(spark, index.model), eps, None
    )
    store_dup_ids = best.select(F.col("b_id").alias("dominator"))
    surviving_dom = dom_b.join(store_dup_ids, "dominator", "left_anti")
    b_dup = surviving_dom.groupBy("dropped").agg(
        F.min_by("dominator", "dom_rnk").alias("parent"),
        F.min_by("cosine", "dom_rnk").alias("b_dom_cos"),
    ).localCheckpoint(eager=True)
    # parent links point to store-surviving vectors only, so chain
    # roots are TRUE survivors: not store-dups (filtered above) and
    # not batch-dropped (a root has no surviving dominator)
    b_roots = _resolve_survivor_map(
        b_dup.select("dropped", "parent")
    )
    b_dup = b_dup.join(b_roots, "dropped").select(
        F.col("dropped").alias("vec_id"),
        F.col("root").alias("b_dom"),
        F.col("parent").alias("b_dom_witness"),
        F.round("b_dom_cos", 6).alias("b_dom_cos"),
    )
    verdicts = (
        scored_b.select("vec_id", "cell", "cent_cos")
        .join(b_dup, "vec_id", "left")
        .join(best, scored_b.vec_id == best.b_id, "left")
        .drop("b_id")
        .withColumn("is_semantic_dup", F.col("dup_of").isNotNull())
        .select(
            "vec_id",
            "cell",
            "cent_cos",
            "is_semantic_dup",
            "dup_of",
            "dup_cos",
            (
                F.col("b_dom").isNotNull() & ~F.col("is_semantic_dup")
            ).alias("is_batch_dup"),
            F.when(
                F.col("b_dom").isNotNull() & ~F.col("is_semantic_dup"),
                F.col("b_dom"),
            ).alias("batch_dup_of"),
            F.when(
                F.col("b_dom").isNotNull() & ~F.col("is_semantic_dup"),
                F.col("b_dom_witness"),
            ).alias("batch_dup_witness"),
            F.when(
                F.col("b_dom").isNotNull() & ~F.col("is_semantic_dup"),
                F.col("b_dom_cos"),
            ).alias("batch_dup_cos"),
        )
    )
    return verdicts
