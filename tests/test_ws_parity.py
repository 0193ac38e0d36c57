"""Cross-engine whitespace parity on a PLANTED edge corpus.

Java's \\s includes \\x0B (vertical tab); RE2's does not — before round
5 a single \\x0B diverged 9 of 17 text queries between Spark and the
DuckDB oracle, and trim() (space-only) let tab/newline-edged docs mint
phantom '' tokens in both engines.  Every tokenizer now shares the
explicit WS class and a full-class regex trim; this suite runs the
REGISTERED queries' engine-vs-oracle parity over a corpus planted with
exactly those characters.
"""

from __future__ import annotations

import duckdb
import pytest

from acled_spark.registry import all_specs
from tests.conftest import assert_parity

# slow tier (VERDICT r14 #1): whitespace edge-corpus parity replay (~1 min); run with `-m ""`.
pytestmark = pytest.mark.slow


ROWS = [
    (1, "plain words here for a baseline document", "en", "s0", 40),
    (2, "vertical\x0btab inside and der hund lief schnell davon", "de", "s0", 49),
    (3, "\ttab-edged text with words inside\n", "en", "s1", 35),
    (4, "\t", "en", "s1", 1),            # whitespace-only -> ZERO tokens
    (5, "", "en", "s1", 0),              # empty -> zero tokens
    (6, None, "en", "s1", 0),            # NULL text
    (7, "a\x0bb c\td e\nf mixed separators everywhere", "en", "s2", 40),
    (8, "plain words here for a baseline document", "en", "s2", 40),  # dup of 1
    # MIXED CASE: round-7 regression — text_repetition's oracle
    # lowercase was a silent no-op, latent because no planted (or
    # testdata) doc had uppercase text; 'The'/'THE'/'the' must collapse
    # to ONE token in both engines
    (9, "The THE the Repeat repeat REPEAT Tokens tokens", "en", "s2", 47),
    # NULL source with REAL text (ADVICE r11: drift_vocab_js zeroed this
    # bucket through a null-unsafe equi-join — wrong drift flag; the
    # all-NULLs degenerate tier can't catch it because it nulls text
    # along with source).  Tokens chosen so 'the'(6) and 'repeat'(5)
    # clear the _JS_FLOOR=5 support floor and the NULL bucket has
    # non-zero mass; s0/s1 then exercise the zero-mass (p=0) branch.
    (10, "The repeat the repeat the words tokens", "en", None, 38),
]
SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

# every oracle-backed query that tokenizes or fingerprints text
_WS_QUERIES = [
    "text_token_stats", "text_quality_scores", "text_fingerprints",
    "text_tfidf_terms", "text_vocab_growth", "text_zipf_slope",
    "text_unigram_logprob", "text_bpe_token_stats", "text_chunking",
    "text_repetition", "text_winnow_pairs", "text_contamination",
    "text_dup_spans", "dedup_exact", "dedup_ngram_jaccard",
    "dedup_components_exact", "dedup_containment",
    "pack_sequences", "pack_materialize", "mix_weights",
    "prep_corpus_stats", "cdc_snapshot_diff", "release_delta_audit",
    "text_quality_classifier", "doc_filter_funnel",
    "text_bigram_logprob", "drift_vocab_js", "dedup_ngram_novelty",
    # NULL-text row 6 exercises the worker's NULL-payload tolerance
    # against the oracle's mirrored contract (round-7 regression: the
    # oracle hard-coded TRUE cert flags and NULL n_bytes on NULL text)
    "mm_feature_extract",
]


@pytest.fixture(scope="module")
def edge_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("ws_edge")
    spark.createDataFrame(ROWS, SCHEMA).coalesce(1).write.parquet(
        str(d / "documents.parquet")
    )
    return str(d)


@pytest.fixture(scope="module")
def edge_duck(edge_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{edge_dir}/documents.parquet/*.parquet')"
    )
    yield con
    con.close()


@pytest.mark.parametrize("name", _WS_QUERIES)
def test_ws_edge_corpus_parity(spark, edge_duck, edge_dir, name):
    assert_parity(spark, edge_duck, all_specs()[name], sf_dir=edge_dir)


def test_null_source_drift_bucket_pinned(spark, edge_dir):
    """ADVICE r11 regression: the NULL-source doc (row 10) is a real
    per-source bucket — its support-term mass must be counted, not
    zeroed by a null-unsafe join.  With the bug, this bucket reported
    n_tokens=0 and the all-absent divergence (jsd ~= 0.3466,
    drifted=true)."""
    from acled_spark.queries.text import drift_vocab_js

    rows = {r["source"]: r for r in drift_vocab_js(spark, edge_dir).collect()}
    null_row = rows[None]
    # row 10 holds the*3 + repeat*2 of the {the:6, repeat:5} support
    assert null_row["n_tokens"] == 5
    assert not null_row["drifted"]


def test_blank_and_vtab_tokenization_pinned(spark):
    """The semantic pins behind the parity: whitespace-only docs have
    ZERO tokens (no phantom ''), and \\x0B separates tokens on the
    Spark side exactly as the shared class dictates."""
    from pyspark.sql import functions as F

    from acled_spark.queries.text import _tokens_spark

    df = spark.createDataFrame(
        [("\t",), ("a\x0bb",), ("\nx y\n",), ("",)], "text string"
    ).select(_tokens_spark(F.col("text")).alias("toks"))
    got = [r["toks"] for r in df.collect()]
    assert got[0] == []            # tab-only: no phantom '' token
    assert got[1] == ["a", "b"]    # \x0B splits
    assert got[2] == ["x", "y"]    # newline edges trimmed
    assert got[3] == []


def test_token_stream_guard_uses_ws_class(spark, edge_dir):
    """ADVICE r5 #4 regression: the token-stream queries' doc guard is
    the WS-class trim, not space-only trim — an all-tab doc (row 4)
    must contribute ZERO rows to the token stream instead of minting a
    phantom '' term."""
    from acled_spark.queries.text import text_tfidf_terms, text_unigram_logprob

    terms = [r["term"] for r in text_tfidf_terms(spark, edge_dir).collect()]
    assert "" not in terms
    # the tab-only doc (doc_id=4) contributes no unigram row at all
    ids = [r["doc_id"] for r in text_unigram_logprob(spark, edge_dir).collect()]
    assert 4 not in ids


def test_unicode_case_folding_divergence_is_pinned(spark, edge_duck):
    """r7 review: Spark lower() = Java FULL Unicode casing, DuckDB
    lower() = simple mapping.  ASCII (this suite's corpora) agrees;
    the special-casing set (U+0130) diverges — pinned here as a KNOWN
    oracle-harness limit so a behavior change in either engine
    surfaces.  See the note above ws_trim in queries/text.py."""
    import duckdb

    from pyspark.sql import functions as F

    spark_lower = (
        spark.range(1).select(F.lower(F.lit("İstanbul")).alias("x"))
        .collect()[0]["x"]
    )
    duck_lower = duckdb.sql("SELECT lower('İstanbul')").fetchone()[0]
    assert spark_lower == "i̇stanbul"   # full casing: i + combining dot
    assert duck_lower == "istanbul"          # simple mapping
    assert spark_lower != duck_lower         # the documented divergence
    # and the ASCII range agrees exactly
    s = spark.range(1).select(F.lower(F.lit("MiXeD ASCII 123")).alias("x"))
    assert s.collect()[0]["x"] == duckdb.sql(
        "SELECT lower('MiXeD ASCII 123')"
    ).fetchone()[0]


def test_ngram_novelty_semantics_pinned(spark, edge_dir):
    """Row 8 duplicates row 1's text exactly: every one of its grams
    was first seen in doc 1, so its novelty is 0.0 and doc 1's is 1.0
    (its text is unique to the pair and it is the earlier id)."""
    from acled_spark.queries.dedup import dedup_ngram_novelty

    rows = {
        r["doc_id"]: r for r in dedup_ngram_novelty(spark, edge_dir).collect()
    }
    assert rows[8]["novelty"] == 0.0
    assert rows[1]["novelty"] == 1.0
    assert rows[1]["n_grams"] == rows[8]["n_grams"]


def test_ngram_novelty_max_doc_freq_drop_semantics(spark, edge_dir):
    """With the cap at 1, the duplicated baseline text's grams (df=2,
    rows 1 and 8) leave both the first-seen table and the denominators:
    docs 1 and 8 vanish from the census entirely (no surviving grams)
    while single-doc texts keep novelty 1.0 over their own grams."""
    from acled_spark.queries.dedup import dedup_ngram_novelty

    rows = {
        r["doc_id"]: r
        for r in dedup_ngram_novelty(spark, edge_dir, max_doc_freq=1).collect()
    }
    assert 1 not in rows and 8 not in rows
    assert rows[2]["novelty"] == 1.0
    # default face unchanged: both dup docs present, dup scored 0
    base = {
        r["doc_id"]: r for r in dedup_ngram_novelty(spark, edge_dir).collect()
    }
    assert base[8]["novelty"] == 0.0
