"""Text-analysis operators over the ``documents`` table (extended surface).

Language-ID (marker-word heuristic), quality scoring, token counting,
and document fingerprinting — the text side of a training-data pipeline,
all as native Column expressions (JVM-side, whole-stage codegen; no
Python in the hot path).

Scale note: everything here is embarrassingly parallel per-document —
no shuffle except the final small aggregation.  At 100 TB the scan
dominates; these expressions ride the parquet reader's vectorized batches.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from acled_spark.queries.filters_q import SPLIT_TRAIN_MAX, hex_to_int_sql
from acled_spark.registry import query
from acled_spark.session import arrow_frame
from acled_spark.tables import load

# Stopword-ish markers (shared constant for Spark + oracle generation).
_STOPWORDS = ("the", "a", "of", "and", "to", "in")

# marker word -> language guess, checked in order (deterministic heuristic).
_LANG_MARKERS = (
    ("der", "de"),
    ("el", "es"),
    ("le", "fr"),
    ("the", "en"),
)


# THE whitespace class, shared verbatim by Spark (Java regex) and the
# DuckDB oracles (RE2).  Java's \s includes \x0B (vertical tab) while
# RE2's does NOT — a scraped-web corpus with one \x0B diverged 9 of 17
# text queries cross-engine.  Spelling the class out makes both engines
# tokenize identically; it equals Java's \s exactly.  trim() is just as
# treacherous (strips 0x20 ONLY, so a doc of tabs passed the blank
# guard and minted phantom '' tokens in BOTH engines): all edge
# trimming goes through this class too.
WS = r"[ \t\n\x0B\f\r]"


def _ws_trim_sql(col: str) -> str:
    """DuckDB twin of :func:`ws_trim` over the SQL expression ``col``."""
    return f"regexp_replace({col}, '^{WS}+|{WS}+$', '', 'g')"


WS_TRIM_TEXT_SQL = _ws_trim_sql("text")


def ws_trim(text: Column) -> Column:
    """Strip leading/trailing whitespace (the FULL class, not trim's
    space-only subset)."""
    return F.regexp_replace(text, f"^{WS}+|{WS}+$", "")


# KNOWN ORACLE-HARNESS LIMIT — Unicode case folding (r7 review): Spark's
# lower() applies Java's full Unicode casing while DuckDB's applies
# simple 1:1 mapping, so SPECIAL-casing codepoints diverge — e.g.
# Turkish U+0130 'İ' lowers to 'i'+U+0307 in Spark but bare 'i' in
# DuckDB, shifting every md5/token derived from it.  Spark's behavior is
# the CORRECT production semantics; the divergence is a limitation of
# the DuckDB test oracle, NOT of the engine, and affects only corpora
# containing the special-casing set (ASCII and simple-mapping codepoints
# are identical — tests/test_ws_parity.py pins both the ASCII agreement
# and the U+0130 divergence so a change in either engine surfaces).
# Do not "fix" this by degrading lower() to an ASCII fold.


def _tokens_spark(text: Column) -> Column:
    """Whitespace tokenization; empty/blank text -> empty array."""
    return F.when(F.length(ws_trim(text)) == 0, F.array().cast("array<string>")).otherwise(
        F.split(ws_trim(text), f"{WS}+")
    )


def _words_spark(text: Column) -> Column:
    """Lowered whitespace split, with no blank guard: a blank text
    yields ``[""]`` (each caller handles that its own way)."""
    return F.split(F.lower(ws_trim(text)), f"{WS}+")


def _tokens_sql(col: str = "text") -> str:
    """DuckDB tokens expression over ``col`` — the oracle twin of
    :func:`_tokens_spark`, parameterized so case-folded variants (e.g.
    ``lower(text)``) reuse the canonical spelling instead of a string
    ``.replace`` that silently no-ops when this spelling changes."""
    trimmed = _ws_trim_sql(col)
    return (
        f"CASE WHEN length({trimmed}) = 0 THEN [] "
        f"ELSE string_split_regex({trimmed}, '{WS}+') END"
    )


def _words_sql(col: str = "text") -> str:
    """DuckDB twin of :func:`_words_spark`: lowered split, no blank guard."""
    return f"string_split_regex(lower({_ws_trim_sql(col)}), '{WS}+')"


_TOKENS_SQL = _tokens_sql()
_WORDS_SQL = _words_sql()


def ngrams_spark(words: Column, n: int) -> Column:
    """Ordered word n-grams of a word array, duplicates kept, in
    O(log n) ``zip_with`` passes.

    HOF lambdas run interpreted, so pass count rules the cost: a string
    concat per element beats an array slice per element (measured 6x),
    and doubling the block size each pass beats chaining n-1
    single-word concats — 2-grams from words, 4-grams from 2-grams, ...
    grams_2L[i] = grams_L[i] + ' ' + grams_L[i+L].  A remainder block
    (largest power of two <= what's left) finishes non-power-of-two n;
    for n=3 that is exactly the two-pass chain, for n=8 3 passes vs 7
    (measured ~2x faster end-to-end at sf0.1).  ``zip_with`` null-pads
    the shifted side and concat null-propagates, so the trailing n-1
    incomplete grams fall out of the filter; fewer than n words yield
    [] and a NULL array yields NULL.  Callers add ``array_distinct`` or
    a hash on top.
    """
    size = F.size(words)
    blocks = {1: words}  # block length -> grams of that length at each start
    grams, length = words, 1
    while length * 2 <= n:
        shifted = F.slice(grams, length + 1, size)
        grams = F.zip_with(grams, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
        length *= 2
        blocks[length] = grams
    while length < n:
        p = max(b for b in blocks if b <= n - length)
        shifted = F.slice(blocks[p], length + 1, size)
        grams = F.zip_with(grams, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
        length += p
    return F.filter(grams, lambda x: x.isNotNull())


def _ngrams_sql(n: int, words: str = _WORDS_SQL) -> str:
    """DuckDB twin of :func:`ngrams_spark` over the list expression
    ``words`` (1-based, end-inclusive slices; NULL stays NULL)."""
    return f"""list_transform(range(0, len({words}) - {n - 1}),
        i -> array_to_string({words}[i+1:i+{n}], ' '))"""


# --- token counting ---------------------------------------------------------
@query(
    "text_token_stats",
    oracle=f"""
    WITH t AS (SELECT lang, len({_TOKENS_SQL}) AS n_tokens FROM documents)
    SELECT lang,
           COUNT(*) AS docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(n_tokens), 4) AS avg_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
    FROM t GROUP BY lang ORDER BY lang
    """,
    tags=("text", "extended"),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counts per language (training-data token budget)."""
    docs = load(spark, sf_dir, "documents", spread=True)
    n_tokens = F.size(_tokens_spark(F.col("text")))
    return (
        docs.select("lang", n_tokens.alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.max("n_tokens").cast("long").alias("max_tokens"),
        )
        .orderBy("lang")
    )


# --- quality scoring --------------------------------------------------------
# Length / punctuation / stopword-ratio heuristics; the score formula is a
# weighted blend — deterministic, shared between engines.
def _stopword_filter_sql() -> str:
    ors = " OR ".join(f"t = '{w}'" for w in _STOPWORDS)
    return f"len(list_filter({_TOKENS_SQL}, t -> {ors}))"


@query(
    "text_quality_scores",
    oracle=f"""
    WITH q AS (
      SELECT source,
             len({_TOKENS_SQL}) AS n_tokens,
             length(text) AS n_chars,
             {_stopword_filter_sql()} AS n_stop,
             length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct
      FROM documents
    ),
    s AS (
      SELECT source, n_tokens, n_chars,
             CASE WHEN n_tokens  > 0 THEN CAST(n_stop  AS DOUBLE) / n_tokens ELSE 0 END AS stop_ratio,
             CASE WHEN n_chars   > 0 THEN CAST(n_punct AS DOUBLE) / n_chars  ELSE 0 END AS punct_ratio
      FROM q
    )
    SELECT source,
           COUNT(*) AS docs,
           ROUND(AVG(n_tokens), 4) AS avg_tokens,
           ROUND(AVG(stop_ratio), 4) AS avg_stop_ratio,
           ROUND(AVG(punct_ratio), 4) AS avg_punct_ratio,
           ROUND(AVG(CASE WHEN n_tokens IS NULL THEN 0.0
                     ELSE 0.5 * LEAST(n_tokens / 100.0, 1.0)
                        + 0.3 * (1.0 - stop_ratio)
                        + 0.2 * (1.0 - punct_ratio) END), 4) AS avg_quality
    FROM s GROUP BY source ORDER BY source
    """,
    tags=("text", "quality", "extended"),
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality heuristics: length/stopword/punct blend."""
    docs = load(spark, sf_dir, "documents", spread=True)
    toks = _tokens_spark(F.col("text"))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS)))
    n_tokens = F.size(toks)
    n_chars = F.length("text")
    n_punct = F.length(F.regexp_replace("text", r"[^.,!?;:]", ""))
    stop_ratio = F.when(
        n_tokens > 0, n_stop.cast("double") / n_tokens
    ).otherwise(0.0)
    punct_ratio = F.when(
        n_chars > 0, n_punct.cast("double") / n_chars
    ).otherwise(0.0)
    # NULL text scores 0.0 (an absent doc is the WORST quality, not the
    # best: least() skips NULL in both engines, so without the guard a
    # NULL-text doc's length term maxed out and it scored 1.0)
    quality = F.when(
        n_tokens.isNull(), F.lit(0.0)
    ).otherwise(
        0.5 * F.least(n_tokens / 100.0, F.lit(1.0))
        + 0.3 * (1.0 - stop_ratio)
        + 0.2 * (1.0 - punct_ratio)
    )
    return (
        docs.select(
            "source",
            n_tokens.alias("n_tokens"),
            stop_ratio.alias("stop_ratio"),
            punct_ratio.alias("punct_ratio"),
            quality.alias("quality"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("docs"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.round(F.avg("stop_ratio"), 4).alias("avg_stop_ratio"),
            F.round(F.avg("punct_ratio"), 4).alias("avg_punct_ratio"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
        )
        .orderBy("source")
    )


# --- language identification (marker-word heuristic) ------------------------
@query(
    "text_langid_confusion",
    oracle=f"""
    WITH toks AS (SELECT lang, {_TOKENS_SQL} AS t FROM documents),
    pred AS (
      SELECT lang,
             CASE
               {" ".join(f"WHEN len(list_filter(t, x -> x = '{m}')) > 0 THEN '{lg}'" for m, lg in _LANG_MARKERS)}
               ELSE 'unknown' END AS predicted
      FROM toks
    )
    SELECT lang, predicted, COUNT(*) AS cnt
    FROM pred GROUP BY lang, predicted ORDER BY lang, predicted
    """,
    tags=("text", "extended"),
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic -> confusion counts vs labels."""
    docs = load(spark, sf_dir, "documents")
    toks = _tokens_spark(F.col("text"))
    def has_marker(marker: str) -> Column:
        # array_contains, not a filter-HOF scan: native, short-circuit,
        # codegen-friendly; same semantics incl. NULL array -> NULL
        return F.array_contains(toks, marker)

    pred = None
    for marker, lg in _LANG_MARKERS:
        has = has_marker(marker)
        pred = F.when(has, lg) if pred is None else pred.when(has, lg)
    pred = pred.otherwise("unknown")
    return (
        docs.select("lang", pred.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("cnt"))
        .orderBy("lang", "predicted")
    )


# --- document fingerprinting ------------------------------------------------
# Normalized md5 fingerprint — the exact-dedup key and provenance id.
FINGERPRINT_SQL = f"md5(lower(trim(regexp_replace(text, '{WS}+', ' ', 'g'))))"


def fingerprint_spark(text: Column) -> Column:
    """Whitespace-normalized lowercase md5 fingerprint of a document."""
    return F.md5(F.lower(F.trim(F.regexp_replace(text, f"{WS}+", " "))))


@query(
    "text_fingerprints",
    oracle=f"""
    SELECT doc_id, {FINGERPRINT_SQL} AS fingerprint
    FROM documents ORDER BY doc_id LIMIT 100
    """,
    tags=("text", "dedup", "extended"),
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document normalized fingerprint (dedup key), value-parity checked."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", fingerprint_spark(F.col("text")).alias("fingerprint"))
        .orderBy("doc_id")
        .limit(100)
    )


# --- rolling-hash winnowing fingerprints ------------------------------------
# MOSS-style winnowing (Schleimer et al., SIGMOD 2003): hash every token
# k-gram, slide a window of W consecutive gram hashes, keep each window's
# minimum.  Guarantees any shared run of >= W+k-1 tokens yields a shared
# fingerprint, while shrinking the inverted index ~2/W vs indexing every
# gram — the scale lever that makes pairwise candidate generation cheap
# at 100 TB.  Hashes are md5 hex strings compared lexicographically
# (identical in Spark and DuckDB; no engine-specific hash).
WINNOW_K = 4  # tokens per gram
WINNOW_W = 5  # grams per winnow window

def winnow_mins_spark(hashes: Column) -> Column:
    """Distinct window-of-W minima over an ordered gram-hash column.

    The chained least() over W shifted copies is only valid while every
    copy is defined (least() skips zip_with's null padding rather than
    propagating it), so the result is truncated to the n-W+1 complete
    windows before dedup.

    IMPORTANT: pass a plain column reference, not the gram-hash
    expression itself — ``hashes`` is referenced W+1 times here, and an
    inline expression would be re-evaluated per reference (measured 10s
    vs 1s at sf0.1 for text_winnow_pairs).
    """
    mins = hashes
    for k in range(1, WINNOW_W):
        mins = F.zip_with(
            mins,
            F.slice(hashes, k + 1, F.size(hashes)),
            lambda a, b: F.least(a, b),  # HOF lambdas need fixed arity
        )
    complete = F.greatest(F.size(hashes) - (WINNOW_W - 1), F.lit(0))
    return F.array_distinct(F.slice(mins, 1, complete))


@query(
    "text_winnow_pairs",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, list_transform({_ngrams_sql(WINNOW_K)}, g -> md5(g)) AS h
      FROM documents
    ),
    fp AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(0, greatest(len(h) - {WINNOW_W - 1}, 0)),
               i -> list_aggregate(h[i+1:i+{WINNOW_W}], 'min')))) AS fp
      FROM h
    )
    SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS shared_fps
    FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY doc1, doc2
    ORDER BY shared_fps DESC, doc1, doc2 LIMIT 20
    """,
    tags=("text", "dedup", "extended"),
)
def text_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top near-dup candidate pairs by shared winnowing fingerprints.

    The rolling-hash analog of dedup_ngram_jaccard: same inverted-index
    self-join shape, but over the winnowed ~2/W fingerprint subset, so
    the pair exchange is a fraction of the full shingle index while
    still catching every shared run of >= W+K-1 tokens.
    """
    docs = load(spark, sf_dir, "documents", spread=True)
    fp = (
        docs.select(
            "doc_id",
            F.transform(ngrams_spark(_words_spark(F.col("text")), WINNOW_K), F.md5)
            .alias("h"),
        )
        .select("doc_id", F.explode(winnow_mins_spark(F.col("h"))).alias("fp"))
    )
    a = fp.alias("a")
    b = fp.alias("b").hint("shuffle_hash")  # both sides are exploded streams
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .agg(F.count("*").alias("shared_fps"))
        .orderBy(F.desc("shared_fps"), "doc1", "doc2")
        .limit(20)
    )


# --- repetition ratios (Gopher-style quality rules) -------------------------
@query(
    "text_repetition",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest({_tokens_sql("lower(text)")}) AS word
      FROM documents
    ),
    tc AS (SELECT doc_id, word, COUNT(*) AS cnt FROM w GROUP BY doc_id, word),
    s AS (
      SELECT doc_id, SUM(cnt) AS total, COUNT(*) AS n_distinct, MAX(cnt) AS maxcnt
      FROM tc GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(total AS BIGINT) AS n_tokens,
           ROUND(CAST(n_distinct AS DOUBLE) / total, 4) AS distinct_ratio,
           ROUND(CAST(maxcnt AS DOUBLE) / total, 4) AS top_token_frac
    FROM s ORDER BY top_token_frac DESC, doc_id LIMIT 20
    """,
    tags=("text", "quality", "extended"),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-repetitive documents by single-token domination (Gopher-rule
    style repetition filter: low distinct-token ratio / high top-token
    fraction marks boilerplate and degenerate generations).

    Both ratios are single integer divisions — bit-exact across engines,
    no sum-order sensitivity.  Shuffles on (doc_id, word) then doc_id;
    partial aggregation keeps both exchanges narrow.
    """
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(_tokens_spark(F.lower(F.col("text")))).alias("word"),
    )
    tc = words.groupBy("doc_id", "word").agg(F.count("*").alias("cnt"))
    s = tc.groupBy("doc_id").agg(
        F.sum("cnt").alias("total"),
        F.count("*").alias("n_distinct"),
        F.max("cnt").alias("maxcnt"),
    )
    return (
        s.select(
            "doc_id",
            F.col("total").cast("long").alias("n_tokens"),
            F.round(F.col("n_distinct").cast("double") / F.col("total"), 4).alias(
                "distinct_ratio"
            ),
            F.round(F.col("maxcnt").cast("double") / F.col("total"), 4).alias(
                "top_token_frac"
            ),
        )
        .orderBy(F.desc("top_token_frac"), "doc_id")
        .limit(20)
    )


# --- cross-split n-gram contamination ---------------------------------------
# Decontamination is a core training-data pipeline step: an eval document
# sharing a long verbatim n-gram with any train document leaks test data
# into training.  The split reuses the deterministic md5 prefix from
# p7_hash_split (train = first 2 hex digits < SPLIT_TRAIN_MAX, ~80% —
# imported, ONE source of truth with the split), so the audit
# is reproducible across engines and cluster sizes.
N_CONTAM = 8


@query(
    "text_contamination",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{SPLIT_TRAIN_MAX}' AS is_train,
             list_distinct({_ngrams_sql(N_CONTAM)}) AS grams
      FROM documents
    ),
    tg AS (SELECT DISTINCT unnest(grams) AS g FROM d WHERE is_train),
    eg AS (SELECT doc_id, unnest(grams) AS g FROM d WHERE NOT is_train),
    hit AS (
      SELECT eg.doc_id, COUNT(tg.g) AS n_hit
      FROM eg LEFT JOIN tg ON eg.g = tg.g GROUP BY eg.doc_id
    ),
    ev AS (
      SELECT d.lang, len(d.grams) AS n_grams, COALESCE(hit.n_hit, 0) AS n_hit
      FROM d LEFT JOIN hit ON d.doc_id = hit.doc_id WHERE NOT is_train
    )
    SELECT lang,
           COUNT(*) AS eval_docs,
           COUNT(CASE WHEN n_hit > 0 THEN 1 END) AS contaminated_docs,
           ROUND(AVG(CASE WHEN n_grams > 0
                          THEN CAST(n_hit AS DOUBLE) / n_grams ELSE 0.0 END), 4)
             AS avg_overlap
    FROM ev GROUP BY lang ORDER BY lang
    """,
    tags=("text", "contamination", "extended"),
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-vs-train 8-gram contamination census per language.

    Single-scan, single-wide-exchange, join-free plan: explode every
    doc's grams ONCE, and compute the per-gram "does any train doc
    contain it" flag as max(is_train) OVER (PARTITION BY gram) — the
    window's exchange is the only wide shuffle, and there is no probe
    join at all.  (A train-set/eval-set join formulation reads the
    corpus twice — Catalyst pushes the eval filter below the second
    exchange, so ReuseExchange can't dedupe them — and at 100 TB the
    second scan costs more than every downstream stage combined.  The
    eval filter here CANNOT sink below the window because is_train is
    not a partitioning column.)  explode_outer keeps zero-gram docs in
    the stream; each salts to a PER-DOC window key ('e:' + doc_id — a
    real 8-word gram always contains spaces, so no collision) instead
    of one shared '' key, and the has_g flag excludes salted rows from
    both counts — same straggler fix as dup_span_census.  At scale the
    real gram keys would be md5-hashed to
    16 bytes and frequency-capped (drop grams shared by >X docs) to
    bound hot keys; here both engines use the raw gram so the oracle
    stays exact.
    """
    docs = load(spark, sf_dir, "documents", spread=True)
    ex = docs.select(
        "doc_id",
        "lang",
        (
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
            < SPLIT_TRAIN_MAX
        ).alias(
            "is_train"
        ),
        F.explode_outer(
            F.array_distinct(ngrams_spark(_words_spark(F.col("text")), N_CONTAM))
        ).alias("g"),
    ).withColumn(
        # zero-gram docs salt to a PER-DOC window key ('e:' + doc_id —
        # a real 8-word gram always contains spaces, so no collision)
        # instead of all coalescing onto one '' key: millions of short
        # docs on a single window partition is the same straggler
        # dup_span_census salts away.  Salted rows are excluded from
        # both counts via has_g, exactly as '' was.
        "has_g", F.col("g").isNotNull()
    ).withColumn(
        "g",
        F.coalesce("g", F.concat(F.lit("e:"), F.col("doc_id").cast("string"))),
    )
    real = F.col("has_g")
    ev = (
        ex.withColumn("in_train", F.max("is_train").over(Window.partitionBy("g")))
        .filter(~F.col("is_train"))
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.when(real, 1)).alias("n_grams"),
            F.count(F.when(real & F.col("in_train"), 1)).alias("n_hit"),
        )
    )
    return (
        ev.groupBy("lang")
        .agg(
            F.count("*").alias("eval_docs"),
            F.count(F.when(F.col("n_hit") > 0, 1)).alias("contaminated_docs"),
            F.round(
                F.avg(
                    F.when(
                        F.col("n_grams") > 0,
                        F.col("n_hit").cast("double") / F.col("n_grams"),
                    ).otherwise(0.0)
                ),
                4,
            ).alias("avg_overlap"),
        )
        .orderBy("lang")
    )


# --- sliding-window chunking -------------------------------------------------
# Context-window chunking: split each document into CHUNK_TOKENS-word
# windows advancing by CHUNK_STRIDE (overlap = CHUNK-STRIDE words), the
# standard prep step for fixed-context training and retrieval indexing.
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def chunk_stream(docs: DataFrame) -> DataFrame:
    """Exploded chunk stream: one row per (doc_id, lang, chunk).

    Chunk i covers words [i*STRIDE+1, i*STRIDE+CHUNK]; a doc with n
    words yields 1 + ceil(max(n - CHUNK, 0) / STRIDE) chunks, so every
    word lands in >= 1 chunk and consecutive chunks overlap by
    CHUNK - STRIDE words (tests/test_trainprep.py proves the coverage
    invariants).  Exposed as an operator so pipelines can chunk and
    the census query is just an aggregation over it.
    """
    words = _tokens_spark(F.lower(F.col("text")))
    # Exact integer ceil-div (floor over a small-int double is exact;
    # mirrors DuckDB's `//` floor-division).
    n_chunks = F.when(F.size(words) == 0, F.lit(0)).otherwise(
        1
        + F.floor(
            (F.greatest(F.size(words) - CHUNK_TOKENS, F.lit(0)) + CHUNK_STRIDE - 1)
            / F.lit(CHUNK_STRIDE)
        )
    )
    staged = docs.select(
        "doc_id",
        "lang",
        words.alias("words"),
        F.explode(
            F.when(F.size(words) > 0, F.sequence(F.lit(0), n_chunks.cast("int") - 1))
        ).alias("i"),
    )
    chunk = F.slice(F.col("words"), F.col("i") * CHUNK_STRIDE + 1, CHUNK_TOKENS)
    return staged.select(
        "doc_id",
        "lang",
        F.col("i").alias("chunk_idx"),
        chunk.alias("chunk"),
        F.size(chunk).alias("chunk_len"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )



@query(
    "text_chunking",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             {_tokens_sql("lower(text)")} AS words
      FROM documents
    ),
    n AS (
      -- NULL text -> words NULL -> coalesce to 0 chunks, mirroring the
      -- builder's size(words) > 0 guard (DuckDB greatest() IGNORES
      -- NULL, so without the coalesce a NULL-text doc would emit one
      -- phantom chunk row the Spark side never produces)
      SELECT doc_id, lang, words,
             CASE WHEN coalesce(len(words), 0) = 0 THEN 0
                  ELSE 1 + (greatest(len(words) - {CHUNK_TOKENS}, 0)
                            + {CHUNK_STRIDE} - 1) // {CHUNK_STRIDE} END AS n_chunks
      FROM t
    ),
    c AS (
      SELECT doc_id, lang,
             len(words[i*{CHUNK_STRIDE}+1 : i*{CHUNK_STRIDE}+{CHUNK_TOKENS}]) AS chunk_len,
             md5(array_to_string(
                 words[i*{CHUNK_STRIDE}+1 : i*{CHUNK_STRIDE}+{CHUNK_TOKENS}], ' ')) AS chunk_hash
      FROM (SELECT doc_id, lang, words, unnest(range(0, n_chunks)) AS i FROM n)
    )
    SELECT lang,
           COUNT(DISTINCT doc_id) AS docs,
           COUNT(*) AS chunks,
           COUNT(CASE WHEN chunk_len = {CHUNK_TOKENS} THEN 1 END) AS full_chunks,
           COUNT(DISTINCT chunk_hash) AS distinct_chunks,
           ROUND(AVG(chunk_len), 4) AS avg_chunk_len
    FROM c GROUP BY lang ORDER BY lang
    """,
    tags=("text", "chunking", "extended"),
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunk census per language.

    Each doc yields 1 + ceil(max(n_tok - CHUNK, 0) / STRIDE) chunks of up
    to CHUNK_TOKENS words starting every CHUNK_STRIDE words; the chunk
    hash doubles as a chunk-level dedup key (distinct_chunks vs chunks
    measures cross-doc boilerplate at chunk granularity).  Chunk counts
    use exact integer ceil-division on both engines — no float rounding
    at the boundary.  Scale: single scan, one explode with fan-out
    ~n_tok/STRIDE, then a lang-sized rollup; per-chunk work is O(CHUNK)
    and rides whole-stage codegen.
    """
    c = chunk_stream(load(spark, sf_dir, "documents", spread=True))
    return (
        c.groupBy("lang")
        .agg(
            F.count_distinct("doc_id").alias("docs"),
            F.count("*").alias("chunks"),
            F.count(F.when(F.col("chunk_len") == CHUNK_TOKENS, 1)).alias("full_chunks"),
            F.count_distinct("chunk_hash").alias("distinct_chunks"),
            F.round(F.avg("chunk_len"), 4).alias("avg_chunk_len"),
        )
        .orderBy("lang")
    )


# --- TF-IDF top terms per language ------------------------------------------
@query(
    "text_tfidf_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({_WORDS_SQL}) AS w
      FROM documents WHERE length({WS_TRIM_TEXT_SQL}) > 0
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY w),
    tf AS (SELECT lang, w, COUNT(*) AS tf FROM tok GROUP BY lang, w),
    scored AS (
      SELECT tf.lang, tf.w AS term,
             CAST(tf.tf AS BIGINT) AS tf, CAST(df.df AS BIGINT) AS df,
             ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS tfidf
      FROM tf JOIN df ON tf.w = df.w CROSS JOIN n
    ),
    r AS (SELECT *, ROW_NUMBER() OVER
            (PARTITION BY lang ORDER BY tfidf DESC, term) AS rnk
          FROM scored)
    SELECT lang, term, tf, df, tfidf, rnk
    FROM r WHERE rnk <= 5 ORDER BY lang, rnk
    """,
    tags=("text", "extended"),
)
def text_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per language by corpus-level TF-IDF.

    tf = occurrences per (lang, term); df = docs containing the term
    globally; idf = ln(N/df).  The rank window orders by the ROUNDED
    score in BOTH engines, so last-ulp ln() differences can't flip ranks.
    Scale: df is vocabulary-sized (tiny) and broadcast into the score
    join; the only wide shuffle is the (lang, term) partial-agg count.
    """
    docs = load(spark, sf_dir, "documents")
    tok = docs.filter(F.length(ws_trim(F.col("text"))) > 0).select(
        "doc_id",
        "lang",
        F.explode(_words_spark(F.col("text"))).alias("w"),
    )
    # n_docs reads only doc_id (column-pruned scan); the corpus TEXT is
    # scanned exactly once: tf and per-lang df come from ONE (lang, w)
    # aggregation, and the global df is a window sum over it — a doc has
    # exactly one lang, so per-lang distinct doc counts add up exactly.
    n = docs.agg(F.count("*").alias("n_docs"))
    g = tok.groupBy("lang", "w").agg(
        F.count("*").alias("tf"), F.count_distinct("doc_id").alias("df_lang")
    )
    scored = (
        g.withColumn("df", F.sum("df_lang").over(Window.partitionBy("w")))
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            F.col("w").alias("term"),
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .orderBy("lang", "rnk")
    )


# --- quality-filter funnel ---------------------------------------------------
# The pre-training data funnel: how many docs survive each successive
# quality gate, per language.  Thresholds are corpus-calibrated (token
# count min 25, distinct-token ratio min 0.35) and the last gate keeps
# only the canonical doc of each exact-dup group.
MIN_TOKENS = 25
MIN_DISTINCT_RATIO = 0.35

# Gate-expression twins, spelled ONCE for both consumers: the standalone
# funnel below and the prep_corpus_stats capstone (pipeline.py).  A
# respelled copy in either file could silently desynchronize the
# capstone's "kept" set from the funnel (same hazard packing._NTOK_SQL
# documents for token counts).  GATE_DR_SQL references the n_tok/toks
# aliases GATE_NTOK_SQL/GATE_TOKS_SQL mint in the enclosing CTE.
GATE_NTOK_SQL = f"len({_tokens_sql()})"
GATE_TOKS_SQL = _tokens_sql("lower(text)")
GATE_DR_SQL = (
    "CASE WHEN n_tok = 0 THEN 0.0 "
    "ELSE len(list_distinct(toks)) / CAST(n_tok AS DOUBLE) END"
)


def gate_exprs(text: Column) -> tuple[Column, Column]:
    """(n_tok, dr) quality-gate expressions — the Spark twins of
    GATE_NTOK_SQL / GATE_DR_SQL.  The ratio is a quotient of two ints,
    bit-identical across engines, so threshold comparisons can't flake."""
    toks = _words_spark(text)
    n_tok = F.when(F.length(ws_trim(text)) == 0, 0).otherwise(
        F.size(F.split(ws_trim(text), f"{WS}+"))
    )
    dr = F.when(F.length(ws_trim(text)) == 0, 0.0).otherwise(
        F.size(F.array_distinct(toks)) / n_tok.cast("double")
    )
    return n_tok, dr


@query(
    "doc_filter_funnel",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             {GATE_NTOK_SQL} AS n_tok,
             {GATE_TOKS_SQL} AS toks,
             {FINGERPRINT_SQL} AS fp
      FROM documents
    ),
    d AS (
      SELECT doc_id, lang, n_tok,
             {GATE_DR_SQL} AS dr,
             doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS canon
      FROM t
    ),
    s AS (
      SELECT lang,
             n_tok > 0 AS s1,
             n_tok > 0 AND n_tok >= {MIN_TOKENS} AS s2,
             n_tok > 0 AND n_tok >= {MIN_TOKENS} AND dr >= {MIN_DISTINCT_RATIO} AS s3,
             n_tok > 0 AND n_tok >= {MIN_TOKENS} AND dr >= {MIN_DISTINCT_RATIO} AND canon AS s4
      FROM d
    )
    SELECT lang, COUNT(*) AS total,
           COUNT(CASE WHEN s1 THEN 1 END) AS non_empty,
           COUNT(CASE WHEN s2 THEN 1 END) AS long_enough,
           COUNT(CASE WHEN s3 THEN 1 END) AS diverse,
           COUNT(CASE WHEN s4 THEN 1 END) AS kept
    FROM s GROUP BY lang ORDER BY lang
    """,
    tags=("text", "filter-funnel", "extended"),
)
def doc_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language survival counts through the quality-gate cascade.

    Gates: non-empty -> >= MIN_TOKENS tokens -> distinct-token ratio >=
    MIN_DISTINCT_RATIO -> exact-dup canonical (min doc_id per
    fingerprint, the same survivor policy as dedup_exact).  The ratio
    is a quotient of two ints, bit-identical across engines, so the
    threshold comparisons can't flake.  Scale: one scan; the only wide
    shuffle is the fingerprint window for canonicality (16-byte key),
    then a lang-sized rollup.
    """
    docs = load(spark, sf_dir, "documents", spread=True)
    n_tok, dr = gate_exprs(F.col("text"))
    d = docs.select(
        "doc_id",
        "lang",
        n_tok.alias("n_tok"),
        dr.alias("dr"),
        fingerprint_spark(F.col("text")).alias("fp"),
    ).select(
        "lang",
        "n_tok",
        "dr",
        (F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("fp"))).alias(
            "canon"
        ),
    )
    s1 = F.col("n_tok") > 0
    s2 = s1 & (F.col("n_tok") >= MIN_TOKENS)
    s3 = s2 & (F.col("dr") >= MIN_DISTINCT_RATIO)
    s4 = s3 & F.col("canon")
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("total"),
            F.count(F.when(s1, 1)).alias("non_empty"),
            F.count(F.when(s2, 1)).alias("long_enough"),
            F.count(F.when(s3, 1)).alias("diverse"),
            F.count(F.when(s4, 1)).alias("kept"),
        )
        .orderBy("lang")
    )


# --- corpus-LM surprisal scoring ---------------------------------------------
# Unigram language-model quality scoring (the KenLM-perplexity analog a
# pre-training pipeline runs to rank documents): pass 1 builds the corpus
# unigram LM, pass 2 scores every document's mean token surprisal
# -ln p(w) against it.  Two passes over the corpus is the *correct*
# shape at scale — the LM is a vocabulary-sized artifact you materialize
# once (optionally frequency-floored to cap its size) and broadcast into
# the scoring scan; no formulation can score tokens against global
# statistics in a single pass without a global shuffle of the token
# stream.
@query(
    "text_unigram_logprob",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({_WORDS_SQL}) AS w
      FROM documents WHERE length({WS_TRIM_TEXT_SQL}) > 0
    ),
    v AS (SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w),
    v2 AS (SELECT w, cnt, CAST(SUM(cnt) OVER () AS DOUBLE) AS total FROM v)
    SELECT tok.doc_id, tok.lang,
           COUNT(*) AS n_tokens,
           ROUND(AVG(-ln(v2.cnt / v2.total)), 4) AS avg_nll
    FROM tok JOIN v2 ON tok.w = v2.w
    GROUP BY tok.doc_id, tok.lang
    ORDER BY avg_nll DESC, doc_id LIMIT 20
    """,
    tags=("text", "quality", "extended"),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-surprising documents by mean unigram -ln p(w).

    p(w) = corpus_count(w) / corpus_tokens; the score averages over token
    OCCURRENCES (repeats count), so repetitive low-frequency junk ranks
    high and stopword soup ranks low.  The rank orders by the ROUNDED
    score on both engines so last-ulp ln() differences can't flip the
    top-k.  Scale: the LM (pass 1) is one partial-agg shuffle to
    vocab-sized output; scoring (pass 2) broadcast-joins the LM into the
    token stream and aggregates per doc — the only wide exchange is the
    doc_id rollup.
    """
    docs = load(spark, sf_dir, "documents")
    tok = docs.filter(F.length(ws_trim(F.col("text"))) > 0).select(
        "doc_id",
        "lang",
        F.explode(_words_spark(F.col("text"))).alias("w"),
    )
    v = tok.groupBy("w").agg(F.count("*").alias("cnt"))
    # Global token total as a window over the VOCAB aggregate (tiny), not
    # a third corpus scan; the single-partition window sees only |vocab|
    # rows, so it is cheap at any corpus size.
    v2 = v.withColumn(
        "total", F.sum("cnt").over(Window.partitionBy()).cast("double")
    )
    return (
        tok.join(F.broadcast(v2), "w")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(-F.log(F.col("cnt") / F.col("total"))), 4).alias("avg_nll"),
        )
        .orderBy(F.desc("avg_nll"), "doc_id")
        .limit(20)
    )


@query(
    "text_bigram_logprob",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, lang,
             {_WORDS_SQL} AS arr
      FROM documents
      WHERE length({WS_TRIM_TEXT_SQL}) > 0
    ),
    b2 AS (SELECT doc_id, lang, arr FROM base WHERE len(arr) >= 2),
    bg AS (
      SELECT doc_id, lang, arr[i] AS w1, arr[i + 1] AS w2
      FROM b2, unnest(range(1, len(arr))) AS t(i)
    ),
    lm AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
    pfx AS (SELECT w1, SUM(c12) AS c1 FROM lm GROUP BY w1),
    v AS (
      SELECT COUNT(DISTINCT w) AS vsz
      FROM (SELECT unnest(arr) AS w FROM base)
    )
    SELECT bg.doc_id, bg.lang,
           COUNT(*) AS n_bigrams,
           ROUND(AVG(-ln((lm.c12 + 1.0) / (pfx.c1 + v.vsz))), 4) AS avg_nll,
           ROUND(EXP(AVG(-ln((lm.c12 + 1.0) / (pfx.c1 + v.vsz)))), 2) AS ppl
    FROM bg
    JOIN lm USING (w1, w2) JOIN pfx USING (w1) CROSS JOIN v
    GROUP BY bg.doc_id, bg.lang
    ORDER BY avg_nll DESC, doc_id LIMIT 20
    """,
    tags=("text", "quality", "extended"),
)
def text_bigram_logprob(
    spark: SparkSession,
    sf_dir: str,
    min_count: int = 1,
    hash_grams: bool = False,
) -> DataFrame:
    """Top-20 most-surprising documents by bigram-LM perplexity — the
    CCNet-style quality filter (Wenzek et al. 2020 rank documents by
    LM perplexity; the reference's quality gates are heuristic, this
    is the statistical rung above :func:`text_unigram_logprob`).

    p(w2|w1) = (c(w1,w2) + 1) / (c(w1,·) + V) — Laplace smoothing over
    the corpus's own bigram table, V = unigram vocabulary size.  All
    counts are exact ints and the score rounds to 4 decimals (ppl to
    2) on both engines before the top-k ordering, so ln()/exp() last-
    ulp differences can't flip ranks.  Docs with fewer than 2 tokens
    have no bigrams and drop out (they are the length gate's job, not
    the LM's).

    Scale: the bigram stream is formed SCAN-SIDE by zipping the token
    array against its own tail (slice+arrays_zip in codegen) — zero
    shuffle until the LM aggregate, unlike a lag-window formulation
    that would shuffle the whole token stream by doc_id first.  The LM
    is a bigram-vocabulary-sized artifact built with partial aggs; at
    100 TB the MEASURED lever is ``min_count`` — the KenLM-style
    frequency floor: bigrams with ``c12 < min_count`` are dropped from
    the LM table BEFORE the scoring join and score as unseen
    (p = 1/(c1 + V); the +1 numerator is the Laplace mass every unseen
    bigram already gets), while the prefix totals ``c1`` stay
    unfloored so the conditional distribution still normalizes over
    the real counts (KenLM likewise prunes n-grams without touching
    lower-order stats).  Measured (SCALE.md §bigram-floor): on a
    planted hapax-majority corpus — the real-crawl shape — the floor
    cuts the LM artifact 1,250x (1.45M -> 1,210 rows) with the top-20
    set and top-1 doc IDENTICAL; the only score movement is the
    floored docs' own bigrams shifting hapax->unseen, a uniform
    +ln 2 that preserves order.  It is an ARTIFACT-size lever, not a
    wall-clock one, at bench scale (the full bigram aggregate still
    runs before the floor can apply); what it bounds at 100 TB is the
    table that checkpoints, ships to the scoring join, and persists
    as the model.  The second lever is ``hash_grams=True`` — scan-side
    xxhash64 gram keys, so every exchange/join moves fixed 8-byte
    longs instead of variable gram text: measured 1.4x wall-clock on
    both heavy tiers with results identical to the string face
    (SCALE.md §bigram-floor; non-oracled — xxhash64 has no DuckDB
    twin, default False stays certified).  The scoring
    joins are left to Catalyst/AQE (no forced broadcast: the LM side
    is vocab-scaled, not constant).  Default ``min_count=1`` floors
    nothing — bit-identical to the unpruned model, which is what the
    DuckDB oracle certifies.
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    docs = load(spark, sf_dir, "documents")
    arr = _words_spark(F.col("text"))
    # ONE tokenize pass (r14): the plan has three consumers of the
    # token arrays (the LM aggregate, the vocabulary count, and the
    # scoring join's bigram re-derivation), and without a barrier each
    # re-ran scan + ws_trim + lower + regex-split over the full text.
    # Materializing (doc_id, lang, arr) lazily lets all three read the
    # tokenized frame; the raw-text scan and the regex tokenizer now
    # run exactly once — the same trade dup_span_census documents for
    # the 100 TB case, where the RAW-TEXT scan dominates.
    base = (
        docs.filter(F.length(ws_trim(F.col("text"))) > 0)
        .select("doc_id", "lang", arr.alias("arr"))
        .localCheckpoint(eager=False)
    )
    b2 = base.filter(F.size("arr") >= 2)
    bg = b2.select(
        "doc_id",
        "lang",
        F.explode(
            F.arrays_zip(
                F.expr("slice(arr, 1, size(arr) - 1)").alias("w1"),
                F.expr("slice(arr, 2, size(arr) - 1)").alias("w2"),
            )
        ).alias("b"),
    ).select("doc_id", "lang", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    if hash_grams:
        # 64-bit gram keys (xxhash64, scan-side): every downstream
        # shuffle/join key is a fixed 8-byte long instead of variable
        # gram text.  Results are identical to the string face modulo
        # 64-bit collisions (~n²/2⁶⁵ expected colliding pairs —
        # negligible below ~10¹² distinct grams; identity pinned in
        # tests/test_floor_levers.py).  xxhash64 has no DuckDB twin, so
        # this face is the SCALE path, not the oracled default.
        bg = bg.select(
            "doc_id",
            "lang",
            F.xxhash64("w1", "w2").alias("w1w2"),
            F.xxhash64("w1").alias("w1"),
        ).withColumnRenamed("w1w2", "w2")  # (w1, w2) now = (h(w1), h(w1,w2))
    # lazy checkpoint (materializes once, at the first action): the LM
    # feeds BOTH the prefix rollup and the scoring join — without it
    # each consumer re-runs the bigram aggregation from the parquet
    # scan (4 corpus scans total; checkpointed: 3, plan-pinned)
    lm_full = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12")).localCheckpoint(
        eager=False
    )
    # prefix totals from the UNFLOORED counts — pruning the LM must not
    # re-normalize the conditionals it keeps
    pfx = lm_full.groupBy("w1").agg(F.sum("c12").alias("c1"))
    lm = lm_full.filter(F.col("c12") >= min_count) if min_count > 1 else lm_full
    vsz = base.select(F.explode("arr").alias("w")).agg(
        F.countDistinct("w").alias("vsz")
    )
    # left join + coalesce(c12, 0): a floored-out bigram scores as
    # unseen, (0 + 1)/(c1 + V).  At min_count=1 nothing is floored and
    # the left join is row-identical to the old inner join.
    nll = -F.log(
        (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(1.0))
        / (F.col("c1") + F.col("vsz"))
    )
    return (
        bg.join(lm, ["w1", "w2"], "left")
        .join(pfx, "w1")
        .crossJoin(F.broadcast(vsz))  # 1 row — the only forced broadcast
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(nll), 4).alias("avg_nll"),
            F.round(F.exp(F.avg(nll)), 2).alias("ppl"),
        )
        .orderBy(F.desc("avg_nll"), "doc_id")
        .limit(20)
    )


_JS_FLOOR = 5  # support = terms with corpus count >= this (the size lever)
# NULL-source sentinel (ADVICE r11): folds NULL into a plain-equi key so
# the per-source join needs no eqNullSafe; \x00 cannot occur in a real tag
_NULL_SOURCE = "\x00<null-source>"


@query(
    "drift_vocab_js",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({_WORDS_SQL}) AS w
      FROM documents
      WHERE length({WS_TRIM_TEXT_SQL}) > 0
    ),
    support AS (
      SELECT w, COUNT(*) AS c FROM tok GROUP BY w HAVING COUNT(*) >= {_JS_FLOOR}
    ),
    sup2 AS (
      SELECT w, c, CAST(SUM(c) OVER () AS DOUBLE) AS t FROM support
    ),
    sc AS (
      SELECT tok.source, tok.w, COUNT(*) AS cs
      FROM tok JOIN support ON tok.w = support.w
      GROUP BY tok.source, tok.w
    ),
    grid AS (
      SELECT s.source, sup2.w, sup2.c, sup2.t, COALESCE(sc.cs, 0) AS cs
      FROM (SELECT DISTINCT source FROM tok) s
      CROSS JOIN sup2
      LEFT JOIN sc ON sc.source IS NOT DISTINCT FROM s.source AND sc.w = sup2.w
    ),
    probs AS (
      SELECT source, w,
             CAST(SUM(cs) OVER (PARTITION BY source) AS DOUBLE) AS ts,
             cs, c, t
      FROM grid
    ),
    terms AS (
      SELECT source, ts,
             CASE WHEN ts > 0 THEN cs / ts ELSE 0.0 END AS p,
             c / t AS q
      FROM probs
    ),
    contrib AS (
      SELECT source, ts,
             0.5 * CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2)) ELSE 0.0 END
             + 0.5 * q * ln(q / ((p + q) / 2)) AS term
      FROM terms
    )
    SELECT source,
           CAST(MAX(ts) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_support_terms,
           ROUND(SUM(term), 4) AS jsd,
           ROUND(SUM(term), 4) >= 0.05 AS drifted
    FROM contrib GROUP BY source ORDER BY source NULLS FIRST
    """,
    tags=("text", "quality", "drift", "extended"),
)
def drift_vocab_js(
    spark: SparkSession, sf_dir: str, support_floor: int = _JS_FLOOR
) -> DataFrame:
    """Per-source Jensen-Shannon divergence between the source's token
    distribution and the corpus-wide one — the TEXT face of dataset
    drift, next to the numeric `drift_psi`: a new crawl whose
    vocabulary usage diverges from the rest of the mix surfaces here
    before any quality score moves.

    Distributions are restricted to the shared SUPPORT (terms with
    corpus count >= ``support_floor``, default {_JS_FLOOR}) and
    renormalized within it — the floor bounds every downstream frame
    by the floored vocabulary, the MEASURED size lever (SCALE.md
    §bigram-floor, second table): on a planted hapax-flood corpus
    floor=1 admits 1.5M hapax terms into a 16.5M-row
    (sources x support) grid (30.8 s) while floor=5 bounds it by the
    repeated vocabulary (1.9 s — 16x).  The floor also LOCALIZES
    drift: with a flooding source in-corpus at floor=1 every OTHER
    source reads drifted (the flood owns the corpus mixture), while
    at floor>=5 the flood's vocabulary leaves the shared support, the
    flooding source alone stays flagged (all-absent bound 0.5 ln 2),
    and natural sources read ~0 again — the per-source verdict a
    drift monitor needs when some source is always flooding.  JSD is symmetric
    and bounded (<= ln 2), absent terms contribute only through the
    corpus side (0*ln0 := 0), and the score rounds to 4 decimals on
    both engines before the drift threshold so ln() last-ulp
    differences can't flip the flag.

    Scale: one token-stream shuffle to vocab counts (partial agg), one
    (source, w) shuffle for per-source counts; everything after is
    vocab-bounded — the (sources x support) grid, the per-source
    totals window, the rollup.  No forced broadcasts: the support
    side is vocab-scaled, left to AQE.
    """
    if support_floor < 1:
        raise ValueError(f"support_floor must be >= 1, got {support_floor}")
    docs = load(spark, sf_dir, "documents")
    # NULL source is a legitimate per-source bucket (a crawl that lost
    # its provenance tag; ADVICE r11) — but a null-unsafe equi-join
    # downstream would zero its counts and report the all-absent
    # divergence (wrong drift flag), and an eqNullSafe join condition
    # measured ~1.3x slower than plain string keys here.  So NULL is
    # folded to a sentinel ONCE at the token stage, every downstream
    # group/join stays plain-equi (the oracle's IS NOT DISTINCT FROM
    # is then equivalent), and the sentinel maps back to NULL in the
    # final projection.  The non-collision assumption is about the
    # PROVENANCE TAG (the source column), not tokenized text: no real
    # ingest writes NUL bytes into a provenance label (parquet string
    # columns from any sane crawler/loader are NUL-free), so a tag
    # literally equal to the sentinel cannot occur (ADVICE r12
    # corrected the earlier "whitespace-delimited" mis-description).
    # NOT checkpointed (r14, measured): materializing the tokenized
    # frame here read 1.3-2.5s vs 0.8s for the re-derived shape in the
    # same A/B session — the checkpoint's unknown size estimate demotes
    # the vocab-side joins from broadcast, costing more than the saved
    # tokenize passes at every benched tier.  The support artifact
    # below is the one worth pinning (vocab-sized, 3 consumers).
    base = docs.filter(F.length(ws_trim(F.col("text"))) > 0).select(
        F.coalesce(F.col("source"), F.lit(_NULL_SOURCE)).alias("source"),
        _words_spark(F.col("text")).alias("arr"),
    )
    tok = base.select("source", F.explode("arr").alias("w"))
    # lazy checkpoint: the vocab-sized support feeds the corpus-prob
    # projection, the per-source count join, AND the grid — without it
    # each consumer re-runs the token aggregation from parquet (4
    # corpus scans; checkpointed: 3, plan-pinned like the bigram LM)
    support = (
        tok.groupBy("w")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= support_floor)
        .localCheckpoint(eager=False)
    )
    sup2 = support.withColumn(
        "t", F.sum("c").over(Window.partitionBy()).cast("double")
    )
    sc = (
        tok.join(support.select("w"), "w")
        .groupBy("source", "w")
        .agg(F.count("*").alias("cs"))
    )
    # every doc surviving the non-empty filter yields >= 1 token, so
    # the doc-level source set equals the token-level one — no need to
    # distinct over the exploded stream
    sources = base.select("source").distinct()
    grid = (
        sup2.crossJoin(F.broadcast(sources))  # |sources| rows — tiny
        .join(sc, ["source", "w"], "left")
        .withColumn("cs", F.coalesce("cs", F.lit(0)))
    )
    probs = grid.withColumn(
        "ts", F.sum("cs").over(Window.partitionBy("source")).cast("double")
    )
    p = F.when(F.col("ts") > 0, F.col("cs") / F.col("ts")).otherwise(F.lit(0.0))
    q = F.col("c") / F.col("t")
    m = (p + q) / F.lit(2.0)
    term = (
        F.lit(0.5) * F.when(p > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
        + F.lit(0.5) * q * F.log(q / m)
    )
    return (
        probs.select("source", F.col("ts"), term.alias("term"))
        .groupBy("source")
        .agg(
            F.max("ts").cast("long").alias("n_tokens"),
            F.count("*").alias("n_support_terms"),
            F.round(F.sum("term"), 4).alias("jsd"),
            (F.round(F.sum("term"), 4) >= 0.05).alias("drifted"),
        )
        # sentinel back to NULL; \x00... sorts before every real tag so
        # asc ordering matches the oracle's ORDER BY source NULLS FIRST
        .withColumn("source", F.nullif(F.col("source"), F.lit(_NULL_SOURCE)))
        .orderBy("source")
    )


# --- BPE-ish regex tokenization ----------------------------------------------
# Letter runs / digit runs / single non-space punctuation — the
# pre-tokenizer split (GPT-2-style without unicode classes, identical
# semantics in Java regex and RE2) whose counts approximate BPE token
# budgets far better than whitespace words.
BPE_REGEX = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\x0B\f\r]"


@query(
    "text_bpe_token_stats",
    oracle=f"""
    WITH t AS (
      SELECT source,
             len({_TOKENS_SQL}) AS n_ws,
             len(regexp_extract_all(text, '{BPE_REGEX}')) AS n_bpe
      FROM documents
    )
    SELECT source,
           COUNT(*) AS docs,
           CAST(SUM(n_ws) AS BIGINT) AS ws_tokens,
           CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens,
           ROUND(AVG(n_bpe), 4) AS avg_bpe_tokens,
           ROUND(CASE WHEN SUM(n_ws) > 0
                      THEN CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_ws) END, 4)
             AS bpe_per_word
    FROM t GROUP BY source ORDER BY source
    """,
    tags=("text", "extended"),
)
def text_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-tokenizer (BPE-ish regex) vs whitespace token budgets per source.

    bpe_per_word is the fertility estimate a token-budget planner uses
    to convert word counts into model-token counts.  The regex uses
    only ASCII classes so Java regex (Spark) and RE2 (DuckDB) agree
    exactly; both sums are exact ints, one division at the end.  Scale:
    narrow map over the scan + source-sized rollup, nothing shuffles
    but partial counts.
    """
    docs = load(spark, sf_dir, "documents")
    n_ws = F.when(F.length(ws_trim(F.col("text"))) == 0, 0).otherwise(
        F.size(F.split(ws_trim(F.col("text")), f"{WS}+"))
    )
    n_bpe = F.size(F.regexp_extract_all("text", F.lit(BPE_REGEX), F.lit(0)))
    return (
        docs.select("source", n_ws.alias("n_ws"), n_bpe.alias("n_bpe"))
        .groupBy("source")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_ws").cast("long").alias("ws_tokens"),
            F.sum("n_bpe").cast("long").alias("bpe_tokens"),
            F.round(F.avg("n_bpe"), 4).alias("avg_bpe_tokens"),
            # try_divide: an all-blank source has sum(n_ws)=0 — NULL,
            # not an ANSI DIVIDE_BY_ZERO crash, matching the oracle
            F.round(
                F.try_divide(F.sum("n_bpe").cast("double"), F.sum("n_ws")), 4
            ).alias("bpe_per_word"),
        )
        .orderBy("source")
    )


# --- vocabulary growth (Heaps' law audit) ------------------------------------
# How fast does the vocabulary grow as the corpus grows?  Deciles come
# from the md5 of doc_id (deterministic, engine-independent corpus
# ordering); a word's first decile is the earliest corpus slice that
# contains it, so cumulative new-word counts ARE the vocab-vs-tokens
# growth curve a corpus planner extrapolates from.
_DECILE_SQL = hex_to_int_sql("md5(CAST(doc_id AS VARCHAR))", 2)


@query(
    "text_vocab_growth",
    oracle=f"""
    WITH tok AS (
      SELECT ({_DECILE_SQL}) * 10 // 256 AS decile,
             unnest({_WORDS_SQL}) AS w
      FROM documents WHERE length({WS_TRIM_TEXT_SQL}) > 0
    ),
    g AS (SELECT decile, w, COUNT(*) AS cnt FROM tok GROUP BY decile, w),
    s AS (SELECT decile, cnt,
                 decile = MIN(decile) OVER (PARTITION BY w) AS is_first
          FROM g),
    d AS (SELECT decile, SUM(cnt) AS n_tokens,
                 COUNT(CASE WHEN is_first THEN 1 END) AS new_words
          FROM s GROUP BY decile)
    SELECT decile,
           CAST(SUM(n_tokens) OVER win AS BIGINT) AS cum_tokens,
           CAST(SUM(new_words) OVER win AS BIGINT) AS cum_vocab
    FROM d
    WINDOW win AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
    ORDER BY decile
    """,
    tags=("text", "corpus-stats", "extended"),
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative vocabulary vs cumulative tokens across md5-ordered
    corpus deciles (the Heaps'-law curve).

    Single corpus scan: both the per-decile token totals and each
    word's first-seen decile derive from ONE (decile, word) partial-agg
    — the only wide shuffle; everything after is <= 10 x vocab rows and
    the final windows run over 10 rows.  Decile assignment hashes
    doc_id, so the "growth order" is reproducible on any engine or
    cluster size.
    """
    docs = load(spark, sf_dir, "documents")
    h1 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("int")
    decile = F.floor(h1 * 10 / 256).cast("int")
    tok = docs.filter(F.length(ws_trim(F.col("text"))) > 0).select(
        decile.alias("decile"),
        F.explode(_words_spark(F.col("text"))).alias("w"),
    )
    # g is DISTINCT on (decile, w), so each word has exactly one row
    # where decile == its min decile — first-seen detection is a
    # vocab-keyed window over g, NOT a second aggregation of the token
    # stream (which would re-scan the corpus: measured scans=2 with a
    # two-branch formulation, no ReuseExchange).
    g = tok.groupBy("decile", "w").agg(F.count("*").alias("cnt"))
    s = g.select(
        "decile",
        "cnt",
        (F.col("decile") == F.min("decile").over(Window.partitionBy("w"))).alias(
            "is_first"
        ),
    )
    d = s.groupBy("decile").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.when(F.col("is_first"), 1)).alias("new_words"),
    )
    win = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return d.select(
        "decile",
        F.sum("n_tokens").over(win).cast("long").alias("cum_tokens"),
        F.sum("new_words").over(win).cast("long").alias("cum_vocab"),
    ).orderBy("decile")


# --- Zipf rank-frequency slope -----------------------------------------------
ZIPF_TOP = 500


@query(
    "text_zipf_slope",
    oracle=f"""
    WITH f AS (
      SELECT w, COUNT(*) AS freq
      FROM (SELECT unnest({_WORDS_SQL}) AS w
            FROM documents WHERE length({WS_TRIM_TEXT_SQL}) > 0)
      GROUP BY w
    ),
    r AS (
      SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, w) AS rnk
      FROM f QUALIFY rnk <= {ZIPF_TOP}
    ),
    l AS (SELECT ln(rnk) AS lr, ln(freq) AS lf FROM r)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
           ROUND(covar_pop(lr, lf) / NULLIF(var_pop(lr), 0), 4) + 0.0 AS zipf_slope,
           ROUND(covar_pop(lr, lf)
                 / NULLIF(stddev_pop(lr) * stddev_pop(lf), 0), 4) + 0.0
             AS log_log_corr
    FROM l
    """,
    tags=("text", "corpus-stats", "extended"),
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS slope of ln(freq) vs ln(rank) over the top-500 (ZIPF_TOP) words —
    natural corpora sit near -1 (Zipf's law); word-soup or templated
    text drifts toward 0, making the slope a corpus-naturalness probe.

    Ranks are exact integers (row_number over freq DESC with word
    tiebreak, identical both engines), so the only floating math is the
    final covariance quotient, rounded once.  Scale: one (word) partial
    agg; the top-ZIPF_TOP cut is a rank window over vocab-sized data;
    the regression runs over ZIPF_TOP rows.
    """
    docs = load(spark, sf_dir, "documents")
    f = (
        docs.filter(F.length(ws_trim(F.col("text"))) > 0)
        .select(F.explode(_words_spark(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    r = (
        f.withColumn(
            "rnk", F.row_number().over(Window.orderBy(F.desc("freq"), "w"))
        )
        .filter(F.col("rnk") <= ZIPF_TOP)
    )
    l = r.select(F.log("rnk").alias("lr"), F.log("freq").alias("lf"))
    # try_divide: a flat-frequency corpus has zero variance — ANSI mode
    # would throw DIVIDE_BY_ZERO where the oracle's NULLIF yields NULL
    # (and corr() is written out explicitly for the same reason).
    # `+ 0.0` collapses IEEE -0.0 on near-zero negative slopes.
    return l.agg(
        F.count("*").cast("long").alias("n_terms"),
        (
            F.round(F.try_divide(F.covar_pop("lr", "lf"), F.var_pop("lr")), 4) + 0.0
        ).alias("zipf_slope"),
        (
            F.round(
                F.try_divide(
                    F.covar_pop("lr", "lf"),
                    F.stddev_pop("lr") * F.stddev_pop("lf"),
                ),
                4,
            )
            + 0.0
        ).alias("log_log_corr"),
    )


# --- PII scrub report -------------------------------------------------------
from acled_spark.pii import counts_sql as _pii_counts_sql
from acled_spark.pii import pii_counts as _pii_counts
from acled_spark.pii import scrub_pii as _scrub_pii
from acled_spark.pii import scrub_sql as _pii_scrub_sql

_PII_COUNT_COLS = ", ".join(
    f"CAST(SUM({expr}) AS BIGINT) AS pii_{name}"
    for name, expr in _pii_counts_sql("text").items()
)


@query(
    "text_pii_scrub",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS docs,
           {_PII_COUNT_COLS},
           CAST(SUM(CASE WHEN text <> {_pii_scrub_sql('text')}
                         THEN 1 ELSE 0 END) AS BIGINT) AS docs_redacted,
           CAST(SUM(length(text) - length({_pii_scrub_sql('text')})) AS BIGINT)
             AS chars_delta
    FROM documents GROUP BY lang ORDER BY lang
    """,
    tags=("text", "pii", "extended"),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus PII audit: per-language match counts for every pattern in
    :data:`acled_spark.pii.PII_PATTERNS` plus the redaction footprint
    (docs touched, character delta) of the full scrub chain.

    The patterns live in the Java-regex/RE2 common subset, so the SAME
    strings drive this builder and the oracle — the parity check is a
    cross-engine regex-semantics test, and tests/test_pii.py covers the
    match-positive half on planted PII (this synthetic corpus is
    digit-free, so counts here are honest zeros).  Scale: per-document
    codegen expressions riding the scan; one small (lang) rollup.
    """
    docs = load(spark, sf_dir, "documents", spread=True)
    text = F.col("text")
    scrubbed = _scrub_pii(text)
    aggs = [F.count("*").alias("docs")]
    aggs += [
        F.sum(c).cast("long").alias(f"pii_{name}")
        for name, c in _pii_counts(text).items()
    ]
    # string inequality, not length inequality: a replacement token can
    # be exactly as long as the match it covered (e.g. a 7-char email
    # -> '[EMAIL]'), and the audit row must not contradict its own
    # pii_* counts
    aggs.append(
        # when/otherwise(0), not a bare boolean cast: a lang whose only
        # docs have NULL text must report 0 like the oracle's ELSE 0,
        # not NULL (sum of all-NULL)
        F.sum(F.when(text != scrubbed, 1).otherwise(0))
        .cast("long")
        .alias("docs_redacted")
    )
    aggs.append(
        F.sum(F.length(text) - F.length(scrubbed)).cast("long").alias("chars_delta")
    )
    return docs.groupBy("lang").agg(*aggs).orderBy("lang")


# --- hashed linear quality classifier ----------------------------------------
# fastText-style corpus filtering (the CCNet/RefinedWeb "quality model"
# step): hash every token into a fixed bucket space, look the bucket up
# in a linear weight vector, squash the mean weight into a keep score.
# In production the weights come from a trained model and ship as a
# broadcast literal array (vocab-free, so the model is O(buckets) bytes
# no matter the corpus); here they derive from a fixed integer formula
# so the builder and the DuckDB oracle share them exactly.
QC_BUCKETS = 64
QC_WEIGHTS: tuple[int, ...] = tuple(
    (b * 2654435761) % 1001 - 500 for b in range(QC_BUCKETS)
)
_QC_WEIGHTS_SQL = "[" + ", ".join(str(w) for w in QC_WEIGHTS) + "]"
_QC_BUCKET_SQL = f"({hex_to_int_sql('substr(md5(w), 1, 4)', 4)}) % {QC_BUCKETS}"


def _qc_weight(token: Column) -> Column:
    """Weight of one token: md5-bucket into the literal weight array."""
    bucket = (
        F.conv(F.substring(F.md5(token), 1, 4), 16, 10).cast("long") % QC_BUCKETS
    )
    arr = F.array(*[F.lit(w) for w in QC_WEIGHTS])
    return F.element_at(arr, (bucket + 1).cast("int")).cast("long")


@query(
    "text_quality_classifier",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang,
             unnest(string_split_regex({WS_TRIM_TEXT_SQL}, '{WS}+')) AS w
      FROM documents WHERE length({WS_TRIM_TEXT_SQL}) > 0
    ),
    tw AS (
      SELECT doc_id, lang, COUNT(*) AS n_tokens,
             SUM(list_extract({_QC_WEIGHTS_SQL}, {_QC_BUCKET_SQL} + 1)) AS wsum
      FROM tok GROUP BY doc_id, lang
    ),
    sc AS (
      SELECT lang,
             CAST(FLOOR((0.5 + (wsum / (1000.0 * n_tokens))
                         / (2 * (1 + abs(wsum / (1000.0 * n_tokens)))))
                        * 10000) AS BIGINT) AS score_m
      FROM tw
    )
    SELECT lang, COUNT(*) AS docs,
           CAST(SUM(CASE WHEN score_m >= 5000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_keep,
           ROUND(CAST(SUM(CASE WHEN score_m >= 5000 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 4) AS keep_share,
           ROUND(SUM(score_m) / 10000.0 / COUNT(*), 4) AS avg_score
    FROM sc GROUP BY lang ORDER BY lang
    """,
    tags=("text", "quality", "ml", "extended"),
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language keep/drop census from a hashed linear quality model.

    Every token hashes (md5 -> 4 hex digits -> mod ``QC_BUCKETS``) into
    a 64-weight linear model; a document's score is the mean bucket
    weight squashed by the *rational* sigmoid ``0.5 + x/(2(1+|x|))`` —
    deliberately not ``exp``-based, because +, *, /, abs are
    correctly-rounded IEEE ops that agree bit-for-bit across engines
    while libm ``exp`` may differ in the last ulp.  Integer weights keep
    the per-doc sum exact (no float accumulation-order drift), and the
    score is floored into basis points before any cross-doc aggregate.

    Scale: the model is a 64-literal array baked into the codegen'd
    expression — zero joins, zero broadcast traffic, one (lang) rollup;
    swapping in a trained fastText model is replacing ``QC_WEIGHTS``
    with the trained vector (or a ``F.broadcast`` lookup for
    vocab-sized models).  Ref parity target: the reference has no
    quality classifier; this extends the LLM-pipeline surface
    (SURVEY.md extended ops).
    """
    docs = load(spark, sf_dir, "documents", spread=True).filter(F.length(ws_trim(F.col("text"))) > 0)
    toks = _tokens_spark(F.col("text"))
    d = docs.select(
        "lang",
        F.size(toks).alias("n_tokens"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, t: acc + _qc_weight(t)
        ).alias("wsum"),
    )
    x = F.col("wsum") / (1000.0 * F.col("n_tokens"))
    score = 0.5 + x / (2 * (1 + F.abs(x)))
    sc = d.select("lang", F.floor(score * 10000).cast("long").alias("score_m"))
    keep = (F.col("score_m") >= 5000).cast("long")
    return (
        sc.groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.sum(keep).alias("n_keep"),
            F.round(F.sum(keep).cast("double") / F.count("*"), 4).alias("keep_share"),
            F.round(F.sum("score_m") / 10000.0 / F.count("*"), 4).alias("avg_score"),
        )
        .orderBy("lang")
    )


# --- intra-corpus duplicated-span census -------------------------------------
# Exact-substring duplication signal (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better", arXiv:2107.06499): a doc
# whose word n-gram spans largely recur elsewhere in the corpus is
# boilerplate/mirror content that document-level dedup (exact digests,
# MinHash) misses — the spans duplicate even when the documents don't.
# Production granularity is ~50 tokens; N_SPAN=8 keeps the synthetic
# short-doc corpus signal-bearing (the knob is the only difference).
N_SPAN = 8
HEAVY_DUP_SHARE = 0.5  # docs above this span-dup fraction get dropped


@query(
    "text_dup_spans",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, list_distinct({_ngrams_sql(N_SPAN)}) AS grams
      FROM documents
    ),
    e AS (
      SELECT doc_id, lang, substr(md5(unnest(grams)), 1, 16) AS h FROM d
    ),
    w AS (
      SELECT doc_id, lang,
             COUNT(*) OVER (PARTITION BY h) > 1 AS is_dup
      FROM e
    ),
    per_doc AS (
      SELECT doc_id, lang,
             COUNT(*) AS n_grams,
             COUNT(CASE WHEN is_dup THEN 1 END) AS n_dup
      FROM w GROUP BY doc_id, lang
    ),
    all_docs AS (
      SELECT d.lang,
             COALESCE(p.n_grams, 0) AS n_grams,
             COALESCE(p.n_dup, 0) AS n_dup
      FROM d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    )
    SELECT lang,
           COUNT(*) AS docs,
           COUNT(CASE WHEN n_dup > 0 THEN 1 END) AS docs_with_dup,
           COUNT(CASE WHEN n_grams > 0
                       AND CAST(n_dup AS DOUBLE) / n_grams >= {HEAVY_DUP_SHARE}
                 THEN 1 END) AS heavy_dup_docs,
           CAST(SUM(n_dup) AS BIGINT) AS dup_spans,
           ROUND(AVG(CASE WHEN n_grams > 0
                          THEN CAST(n_dup AS DOUBLE) / n_grams
                          ELSE 0.0 END), 4) AS avg_dup_share
    FROM all_docs GROUP BY lang ORDER BY lang
    """,
    tags=("text", "dedup", "extended"),
)
def text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language census of duplicated word-n-gram spans: how much of
    each doc recurs verbatim elsewhere in the corpus, and how many docs
    cross the drop threshold.

    Scale: ONE corpus scan; grams are md5'd BEFORE the exchange, so the
    span-frequency shuffle carries 32-byte digests, never text (the
    dedup.py discipline).  Span doc-frequency comes from a count window
    over the digest — per-doc grams are distinct, so the window count IS
    the doc frequency — and the per-doc fold is a second small exchange
    on doc_id.  explode_outer keeps gram-less docs in the same stream
    (their window key salts to a per-doc value, so no empty-doc skew
    partition forms).  For adversarially-hot boilerplate digests use
    :func:`dup_span_census` with ``skew_safe=True`` — same result via
    partial-aggregated frequencies + AQE-splittable join instead of the
    per-digest window partition.
    """
    return dup_span_census(load(spark, sf_dir, "documents", spread=True))


def dup_span_census(
    docs: DataFrame, skew_safe: bool = False, materialize: bool = False
) -> DataFrame:
    """The ``text_dup_spans`` plan over any documents frame.

    Two equivalent formulations (equivalence pytest-pinned):

    - default: doc-frequency via ``count() over (partition by digest)``
      — one exchange + local sort, ~2× faster at the benched tiers
      (2.6 vs 5.1 s at sf1.0), but a digest shared by X docs places X
      rows on ONE window partition, so a corpus-scale boilerplate span
      (site chrome in 1% of 100B docs) makes a straggler;
    - ``skew_safe=True``: frequency via ``groupBy(digest).count()``
      (partial aggregation collapses hot digests map-side) joined back
      to the gram stream — a one-row-per-key build side AQE splits
      under skew; no partition ever exceeds the planner's split size.
      Flip it when span duplication is heavy or unknown.  The digest
      stream feeds two consumers and Catalyst does NOT reuse the
      exchange, so the plan either rebuilds the grams per consumer
      (default — measured cheaper where the build is CPU-bound: 5.1 vs
      9.3 s at sf1.0) or, with ``materialize=True``, localCheckpoints
      the ~40 B/gram digest stream once — the right trade when the
      RAW-TEXT scan dominates, i.e. exactly the 100 TB case.
    """
    e = docs.select(
        "doc_id",
        "lang",
        F.explode_outer(
            F.array_distinct(ngrams_spark(_words_spark(F.col("text")), N_SPAN))
        ).alias("g"),
    ).select(
        "doc_id",
        "lang",
        # gram text is DROPPED before the exchange: the window carries
        # only (doc_id, lang, flag, 16-hex digest) — 64 digest bits is
        # far past birthday range for any real corpus, and the oracle
        # truncates identically so a collision (which would merely
        # overcount one span) stays cross-engine exact
        F.col("g").isNotNull().alias("has_g"),
        F.when(
            F.col("g").isNotNull(), F.substring(F.md5("g"), 1, 16)
        ).otherwise(F.concat(F.lit("e:"), F.col("doc_id").cast("string"))).alias("h"),
    )
    if materialize and not skew_safe:
        # the default formulation has a single gram consumer (the
        # window) — there is no double build to save, and silently
        # ignoring the flag would let a caller believe the digest
        # stream was materialized when it wasn't
        raise ValueError(
            "materialize=True only applies to the skew_safe formulation "
            "(the default single-window plan builds the grams once)"
        )
    if skew_safe:
        if materialize:
            # one gram build feeding both consumers, at the price of
            # writing/reading the ~40 B/gram digest stream (same
            # lineage-cut pattern as dedup_cluster_census)
            e = e.localCheckpoint()
        freq = e.groupBy("h").agg(F.count("*").alias("df"))
        w = e.join(freq, "h").withColumn(
            "is_dup", F.col("has_g") & (F.col("df") > 1)
        )
    else:
        w = e.withColumn(
            "is_dup",
            F.col("has_g") & (F.count("*").over(Window.partitionBy("h")) > 1),
        )
    per_doc = w.groupBy("doc_id", "lang").agg(
        F.count(F.when(F.col("has_g"), 1)).alias("n_grams"),
        F.count(F.when(F.col("is_dup"), 1)).alias("n_dup"),
    )
    share = F.col("n_dup").cast("double") / F.col("n_grams")
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.count(F.when(F.col("n_dup") > 0, 1)).alias("docs_with_dup"),
            F.count(
                F.when((F.col("n_grams") > 0) & (share >= HEAVY_DUP_SHARE), 1)
            ).alias("heavy_dup_docs"),
            F.sum("n_dup").cast("long").alias("dup_spans"),
            F.round(
                F.avg(
                    F.when(F.col("n_grams") > 0, share).otherwise(F.lit(0.0))
                ),
                4,
            ).alias("avg_dup_share"),
        )
        .orderBy("lang")
    )


# --- BM25 top-k retrieval ------------------------------------------------------
# The IR primitive a training-data pipeline uses for targeted corpus
# queries (contamination probes, topic pulls, eval-set mining): Okapi
# BM25 (Robertson & Zaragoza 2009, public literature) over the
# whitespace-token index, scored for a pinned query set.  k1/b are the
# textbook defaults.
BM25_K1, BM25_B = 1.2, 0.75
BM25_QUERIES: tuple[tuple[int, str], ...] = (
    (0, "window merge sort stream"),
    (1, "vector hash join"),
    (2, "slow query scan filter"),
)
# ONE derivation of the query terms, emitted as literals into BOTH
# engines (the queries are spec, not data — unlike a13's histogram
# buckets there is no independent semantics for the oracle to re-derive)
_BM25_TERMS: tuple[tuple[int, str], ...] = tuple(
    (qid, t)
    for qid, qtext in BM25_QUERIES
    for t in dict.fromkeys(qtext.lower().split())
)

_BM25_ORACLE = f"""
    WITH q(query_id, term) AS (VALUES {", ".join(f"({i}, '{t}')" for i, t in _BM25_TERMS)}),
    d AS (
      SELECT doc_id, {_tokens_sql("lower(text)")} AS toks
      FROM documents
      WHERE length({WS_TRIM_TEXT_SQL}) > 0
    ),
    dlen AS (SELECT doc_id, len(toks) AS dl FROM d),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dlen),
    tok AS (SELECT doc_id, unnest(toks) AS w FROM d),
    tf AS (
      SELECT doc_id, w, COUNT(*) AS tf
      FROM tok
      WHERE w IN (SELECT DISTINCT term FROM q)
      GROUP BY doc_id, w
    ),
    df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
    term_scores AS (
      SELECT q.query_id, tf.doc_id, tf.w,
             ln(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * ({BM25_K1} + 1)
               / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                  + {BM25_B} * dlen.dl / stats.avgdl)) AS s
      FROM tf
      JOIN df USING (w)
      JOIN dlen USING (doc_id)
      JOIN q ON q.term = tf.w
      CROSS JOIN stats
    ),
    agg AS (
      -- canonical-order fold: list(s ORDER BY w) then sequential sum,
      -- mirroring Spark's sort_array+aggregate — a bare SUM() leaves
      -- the addition order (and so the last ulp at ROUND boundaries)
      -- engine-dependent
      SELECT query_id, doc_id,
             ROUND(list_aggregate(list(s ORDER BY w), 'sum'), 4) AS score,
             COUNT(*) AS n_terms
      FROM term_scores GROUP BY query_id, doc_id
    ),
    r AS (
      SELECT query_id, doc_id, score, CAST(n_terms AS BIGINT) AS n_terms,
             ROW_NUMBER() OVER
               (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
      FROM agg
    )
    SELECT query_id, doc_id, score, n_terms, rnk
    FROM r WHERE rnk <= 10 ORDER BY query_id, rnk
"""


@query("text_bm25_topk", oracle=_BM25_ORACLE, tags=("text", "extended", "topk"))
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 documents per pinned query.

    Scale shape (100 TB): exactly ONE corpus-text scan — the tokenized
    frame (doc_id, toks) is lazily checkpointed and feeds every
    consumer: the dlen/avgdl rollup and the exploded token stream
    (filtered against the BROADCAST query vocabulary BEFORE any
    aggregation, so the tf shuffle carries only query-term hits, never
    the corpus vocabulary).  The r13 shape checkpointed only the dlen
    projection and re-tokenized the corpus for tf (two scans); df is
    derived from the already-tiny tf frame.  Per-(query, doc) scores fold term
    contributions in CANONICAL term order (sort_array + sequential
    aggregate — the vector-kernel discipline), so the rounded score is
    bit-identical across engines and partitionings; rank ties break on
    doc_id.
    """
    docs = load(spark, sf_dir, "documents").filter(
        F.length(ws_trim(F.col("text"))) > 0
    )
    toks_col = _tokens_spark(F.lower(F.col("text")))
    # ONE tokenize pass (r14): the token arrays have two derivation
    # sites (the dlen projection and the tf explode), so checkpointing
    # only dlen still re-ran scan + tokenize for tf.  Materializing the
    # tokenized frame itself (lazily — explain()/plan gates must not
    # run a scan, same contract as the old dlen checkpoint) lets dlen,
    # stats and tf all read it; the corpus text is scanned and
    # tokenized exactly once.
    d = docs.select("doc_id", toks_col.alias("toks")).localCheckpoint(
        eager=False
    )
    dlen = d.select("doc_id", F.size("toks").alias("dl"))
    stats = dlen.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    qterms = arrow_frame(spark, _BM25_TERMS, "query_id int, term string")
    vocab = qterms.select(F.col("term").alias("w")).distinct()
    tf = (
        d.select("doc_id", F.explode("toks").alias("w"))
        .join(F.broadcast(vocab), "w")
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("w").agg(F.count("*").alias("df"))
    sat = (
        F.col("tf") * (BM25_K1 + 1)
        / (
            F.col("tf")
            + BM25_K1
            * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    term_scores = (
        tf.join(F.broadcast(df), "w")
        .join(dlen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(qterms), F.col("w") == F.col("term"))
        .select("query_id", "doc_id", "w", (idf * sat).alias("s"))
    )
    agg = term_scores.groupBy("query_id", "doc_id").agg(
        F.round(
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("w", "s"))),
                F.lit(0.0),
                lambda acc, x: acc + x["s"],
            ),
            4,
        ).alias("score"),
        F.count("*").cast("long").alias("n_terms"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "doc_id")
    return (
        agg.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 10)
        .orderBy("query_id", "rnk")
    )
