"""Unit tests for the training-prep helpers added on top of the parity
suite: n-gram construction equivalence, as-of join semantics, and
packing invariants.  Parity (test_parity.py) proves oracle agreement;
these pin the algebraic properties the oracles can't express.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from acled_spark.queries.text import (
    _ngrams_sql,
    _words_spark,
    _words_sql,
    ngrams_spark,
)
from acled_spark.tables import load
from tests.conftest import SF_DIR
from tests.test_ws_parity import ROWS, SCHEMA


def _naive_ngrams(words, n):
    """Reference construction: linear chain of single-word concats over
    the kernel's own word split, so only the gram construction is
    under test."""
    grams = words
    for k in range(1, n):
        shifted = F.slice(words, k + 1, F.size(words))
        grams = F.zip_with(grams, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.filter(grams, lambda x: x.isNotNull())


@pytest.mark.parametrize("n", [2, 3, 4, 5, 7, 8, 9])
def test_ngram_doubling_equals_naive_chain(spark, n):
    """The O(log n) doubling construction must equal the linear chain,
    in order and with duplicates kept (winnowing depends on both), over
    the corpus and the planted whitespace-edge rows."""
    planted = spark.createDataFrame(ROWS, SCHEMA).select("text")
    for docs in (load(spark, SF_DIR, "documents").select("text"), planted):
        words = _words_spark(F.col("text"))
        bad = (
            docs.select(
                ngrams_spark(words, n).alias("fast"),
                _naive_ngrams(words, n).alias("ref"),
            )
            .filter(~F.col("fast").eqNullSafe(F.col("ref")))
            .count()
        )
        assert bad == 0


def test_ngram_short_doc_yields_empty(spark):
    df = spark.createDataFrame([("a b c",), ("",), ("  ",)], ["text"])
    grams = ngrams_spark(_words_spark(F.col("text")), 5)
    out = df.select(F.size(grams).alias("n")).collect()
    assert [r.n for r in out] == [0, 0, 0]


@pytest.mark.parametrize("n", [2, 3, 4, 8])
def test_text_kernel_twins_agree_across_engines(spark, n):
    """Each Spark tokenizer step equals its DuckDB twin element by
    element and in order on the planted rows (vertical tab, tab edges,
    whitespace-only, empty, NULL, mixed case)."""
    words = _words_spark(F.col("text"))
    got = [
        (r.doc_id, r.words, r.grams)
        for r in spark.createDataFrame(ROWS, SCHEMA)
        .select("doc_id", words.alias("words"), ngrams_spark(words, n).alias("grams"))
        .orderBy("doc_id")
        .collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", [r[:2] for r in ROWS])
    want = con.execute(
        f"SELECT doc_id, {_words_sql()}, {_ngrams_sql(n)} FROM documents ORDER BY doc_id"
    ).fetchall()
    con.close()
    assert got == want


def test_asof_join_semantics(spark):
    """Every matched gap is non-negative; unmatched purchases keep nulls
    and appear exactly once per purchase event."""
    from acled_spark.queries.joins import j7_asof_join

    out = j7_asof_join(spark, SF_DIR)
    rows = out.collect()
    ev = load(spark, SF_DIR, "events")
    n_purchases = ev.filter(F.col("event_type") == "purchase").count()
    assert len(rows) == n_purchases
    for r in rows:
        if r.gap_us is None:
            assert r.click_value is None
        else:
            assert r.gap_us >= 0


def test_pack_sequences_conserves_tokens(spark, duck):
    """Packing must neither drop nor duplicate docs or tokens."""
    from acled_spark.queries.packing import pack_sequences

    out = {r.lang: r for r in pack_sequences(spark, SF_DIR).collect()}
    truth = duck.execute(
        """
        SELECT lang, COUNT(*) AS docs,
               CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(string_split_regex(trim(text), '\\s+')) END) AS BIGINT) AS toks
        FROM documents GROUP BY lang
        """
    ).fetchall()
    for lang, docs, toks in truth:
        assert out[lang].docs == docs
        assert out[lang].tokens == toks


@pytest.mark.parametrize(
    "n_words", [1, 2, 47, 48, 49, 63, 64, 65, 112, 113, 130, 200]
)
def test_chunk_stream_coverage_invariants(spark, n_words):
    """Every word is covered, chunks start every STRIDE words, overlap is
    CHUNK-STRIDE, and the chunk count matches the ceil formula."""
    from acled_spark.queries.text import CHUNK_STRIDE, CHUNK_TOKENS, chunk_stream

    words = [f"w{i}" for i in range(n_words)]
    docs = spark.createDataFrame(
        [(0, " ".join(words), "en")], "doc_id long, text string, lang string"
    )
    rows = sorted(
        chunk_stream(docs).select("chunk_idx", "chunk").collect(),
        key=lambda r: r["chunk_idx"],
    )
    expected = 1 + max(0, -(-(max(n_words - CHUNK_TOKENS, 0)) // CHUNK_STRIDE))
    assert len(rows) == expected
    covered = []
    for r in rows:
        start = r["chunk_idx"] * CHUNK_STRIDE
        assert r["chunk"] == words[start : start + CHUNK_TOKENS]
        covered.extend(r["chunk"])
    assert set(covered) == set(words)
    # all chunks except possibly the last are full
    for r in rows[:-1]:
        assert len(r["chunk"]) == CHUNK_TOKENS


def test_chunk_stream_empty_doc_yields_no_chunks(spark):
    from acled_spark.queries.text import chunk_stream

    docs = spark.createDataFrame(
        [(0, "   ", "en"), (1, "", "en")], "doc_id long, text string, lang string"
    )
    assert chunk_stream(docs).count() == 0


def test_shuffle_assignment_is_deterministic_permutation(spark):
    """Seeded global shuffle: a valid permutation (every doc exactly one
    (shard, pos); positions contiguous per shard), byte-stable across
    re-runs, actually order-randomizing, and seed-sensitive."""
    from acled_spark.queries.packing import N_SHUFFLE_SHARDS, shuffle_assignment

    docs = load(spark, SF_DIR, "documents").select("doc_id")
    a1 = sorted(shuffle_assignment(docs).collect())
    a2 = sorted(shuffle_assignment(docs).collect())
    assert a1 == a2  # same seed -> identical permutation

    n = docs.count()
    assert len(a1) == n
    by_shard = {}
    for r in a1:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) <= set(range(N_SHUFFLE_SHARDS))
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    # no shard degenerates (hash-prefix bucketing is near-uniform)
    sizes = [len(v) for v in by_shard.values()]
    assert min(sizes) * 4 > max(sizes)

    # the shuffle breaks input order: within a shard, doc_ids in pos
    # order must not be sorted (probability ~1/k! otherwise)
    shard0 = [r["doc_id"] for r in sorted(a1, key=lambda r: (r["shard"], r["pos"]))
              if r["shard"] == a1[0]["shard"]]
    assert shard0 != sorted(shard0)

    # a different seed yields a different permutation
    b = sorted(shuffle_assignment(docs, seed="43").collect())
    assert b != a1


def test_dup_span_census_skew_safe_equivalence(spark):
    """The skew_safe (groupBy+AQE-join) formulation must produce
    exactly the window formulation's census — including on a corpus
    with a planted hot span (1000 docs sharing one boilerplate gram)."""
    from acled_spark.queries.text import dup_span_census

    docs = load(spark, SF_DIR, "documents")
    base = [tuple(r) for r in dup_span_census(docs).collect()]
    safe = [tuple(r) for r in dup_span_census(docs, skew_safe=True).collect()]
    assert sorted(base) == sorted(safe)
    mat = [tuple(r) for r in
           dup_span_census(docs, skew_safe=True, materialize=True).collect()]
    assert sorted(base) == sorted(mat)

    hot = spark.range(1000).select(
        (F.col("id") + 10_000_000).alias("doc_id"),
        F.concat(
            F.lit("the same boilerplate footer appears on every single page "),
            F.col("id").cast("string"),
        ).alias("text"),
        F.lit("xx").alias("lang"),
    )
    planted = docs.select("doc_id", "text", "lang").unionByName(hot)
    b2 = sorted(tuple(r) for r in dup_span_census(planted).collect())
    s2 = sorted(tuple(r) for r in dup_span_census(planted, skew_safe=True).collect())
    assert b2 == s2
    xx = dict((r[0], r) for r in b2)["xx"]
    assert xx[2] == 1000  # every planted doc carries the duplicated span


def test_dup_span_census_rejects_materialize_without_skew_safe(spark):
    """materialize=True is meaningless in the default single-window
    formulation — silently ignoring it (pre-r5 behavior) let callers
    believe the digest stream was checkpointed when it wasn't."""
    import pytest as _pytest

    from acled_spark.queries.text import dup_span_census

    docs = load(spark, SF_DIR, "documents").limit(5)
    with _pytest.raises(ValueError, match="skew_safe"):
        dup_span_census(docs, skew_safe=False, materialize=True)


def test_packing_excludes_zero_token_docs(spark, tmp_path):
    """r8 scale lens: blank docs never advance the running token sum,
    so an unbounded run of them used to pile into ONE (lang, bin)
    collect_list group — the per-group bound the docstring claims held
    only without them.  Both packing queries now exclude n_tok == 0."""
    from acled_spark.registry import all_specs

    rows = [(i, "", "en", "t", 0) for i in range(500)]          # blanks
    rows += [(1000 + i, "   \t  ", "en", "t", 5) for i in range(500)]
    rows += [
        (2000 + i, " ".join(f"tok{j}" for j in range(100)), "en", "t", 600)
        for i in range(40)
    ]
    d = str(tmp_path / "blanks")
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")

    seq = all_specs()["pack_sequences"].builder(spark, d).collect()
    assert len(seq) == 1
    r = seq[0]
    assert r["docs"] == 40                      # 1000 blanks excluded
    assert r["tokens"] == 40 * 100
    # 2048-token budget -> ~20 docs/bin; the old behavior put all 1000
    # blanks in bin 0 (max_docs_per_bin >= 1000)
    assert r["max_docs_per_bin"] <= 21

    mat = all_specs()["pack_materialize"].builder(spark, d).collect()
    assert sum(m["n_docs"] for m in mat) == 40
    assert all(m["n_docs"] <= 21 for m in mat)


def test_dsir_enriches_target_like_docs(spark, tmp_path):
    """DSIR ground truth (VERDICT r13 #4): raw-pool docs written in the
    TARGET corpus's vocabulary must out-weight docs written in a
    disjoint junk vocabulary — the likelihood ratio steers the sample
    toward target-like text.  Planted corpus: 30 'en' target docs over
    vocab A, 15 'xx' raw docs over vocab A (target-like), 15 'xx' raw
    docs over a disjoint vocab B (junk).  Every target-like raw doc's
    logw must exceed every junk doc's logw, and the Gumbel top-k must
    contain no junk doc (weight gaps this wide dominate the noise)."""
    import itertools

    from acled_spark.queries.packing import dsir_resample

    voc_a = [f"alpha{i}" for i in range(12)]
    voc_b = [f"junk{i}" for i in range(12)]

    def doc(i, words, lang):
        text = " ".join(words[j % len(words)] for j in range(i % 7, i % 7 + 40))
        return (i, text, lang, "t", len(text))

    rows = [doc(i, voc_a, "en") for i in range(30)]
    rows += [doc(100 + i, voc_a, "xx") for i in range(15)]   # target-like
    rows += [doc(200 + i, voc_b, "xx") for i in range(15)]   # junk
    d = str(tmp_path / "dsir")
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")

    out = dsir_resample(spark, d, k=20).collect()
    assert len(out) == 20
    by_id = {r["doc_id"]: r for r in out}
    assert not any(200 <= i < 300 for i in by_id), sorted(by_id)
    # weight separation, not just sample membership: score ALL docs
    full = {
        r["doc_id"]: r["logw"]
        for r in dsir_resample(spark, d, k=60).collect()
    }
    worst_target_like = min(v for i, v in full.items() if 100 <= i < 200)
    best_junk = max(v for i, v in full.items() if 200 <= i < 300)
    # wide-margin separation (measured ~-16 vs ~-294: junk grams hit
    # zero-target-count buckets, target-like grams near-parity ones;
    # note logw < 0 even for target-like docs — the raw pool CONTAINS
    # the target mass and B >> corpus grams flattens both
    # distributions, so only the RELATIVE ordering is meaningful)
    assert worst_target_like > best_junk + 100
