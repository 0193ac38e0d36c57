"""Physical-plan shape assertions (SURVEY §4): predicates reach the
parquet scan, small dims broadcast, aggregates run partial+final.
Correctness tests prove the right answer; these prove the right PLAN —
the difference between working at sf0.1 and working at 100 TB."""

from __future__ import annotations

import pytest

from acled_spark.registry import all_specs

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    from tests.conftest import formatted_plan

    return formatted_plan(spark, all_specs()[name].builder(spark, SF_DIR))


def test_filter_dsl_pushes_to_scan(spark):
    plan = _plan(spark, "p2_filter_dsl")
    assert "PushedFilters:" in plan
    # the >= threshold and IN-list must reach the parquet reader
    assert "GreaterThanOrEqual(value,50.0)" in plan
    assert "In(user_id" in plan


def test_eq_filter_pushes_to_scan(spark):
    plan = _plan(spark, "p5_eq_filter")
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_projection_prunes_columns(spark):
    plan = _plan(spark, "j5_multiway_revenue")
    # lineitem scan must read only the 3 needed columns, not all 11
    assert "l_comment" not in plan
    assert "ReadSchema" in plan
    li_read = [
        line for line in plan.splitlines()
        if "ReadSchema" in line and "l_orderkey" in line
    ]
    assert li_read and "l_quantity" not in li_read[0]


def test_dim_joins_broadcast(spark):
    plan = _plan(spark, "j6_snowflake_dims")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_target_stats_broadcast_not_shuffled(spark):
    plan = _plan(spark, "j1_target_stat_lookup")
    assert "BroadcastHashJoin" in plan


def test_aggregates_are_partial_then_final(spark):
    plan = _plan(spark, "a4_daily_rollup")
    # map-side combine: partial_* functions before the exchange
    assert "partial_count" in plan and "partial_sum" in plan
    # and the pipeline compiles to whole-stage-codegen subtrees
    import io
    from contextlib import redirect_stdout

    df = all_specs()["a4_daily_rollup"].builder(spark, SF_DIR)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="codegen")
    assert "WholeStageCodegen subtrees" in buf.getvalue()


def test_topk_uses_take_ordered_not_full_sort(spark):
    plan = _plan(spark, "p6_threshold_topk")
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize(
    "name", ["dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_containment"]
)
def test_dedup_plans_single_shingle_pass(spark, name):
    """The shingle explode/aggregate pipeline must not be duplicated per
    band/size-lookup (the naive union/join shape recomputes it).
    dedup_containment shares jaccard's core (_shingle_pair_counts), so
    it inherits the same pins."""
    import re

    plan = _plan(spark, name)
    # jaccard/containment: 2 exploded join sides + 2 array-length size
    # projections (cheap, no Generate); minhash: one shingle pipeline
    assert _scan_count(plan) <= (1 if name == "dedup_minhash_lsh" else 4), plan[:2000]
    if name != "dedup_minhash_lsh":
        # the heavy self-join must never broadcast an exploded side
        n_gen = len(re.findall(r"^\(\d+\) Generate", plan, re.MULTILINE))
        assert n_gen == 2
        assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan


def _scan_count(plan: str) -> int:
    import re

    final = plan.split("== Physical Plan ==")[-1]
    return len(re.findall(r"^\(\d+\) Scan parquet", final, re.MULTILINE))


def test_chunking_single_scan(spark):
    assert _scan_count(_plan(spark, "text_chunking")) == 1


def test_vocab_growth_single_scan(spark):
    """Regression: the two-branch formulation re-scanned the corpus
    (no ReuseExchange for the shared (decile, word) aggregate)."""
    assert _scan_count(_plan(spark, "text_vocab_growth")) == 1


def test_unigram_lm_exactly_two_passes(spark):
    """LM build + scoring pass — two scans is the design, three was the
    bug (scalar total re-deriving the vocab aggregate)."""
    assert _scan_count(_plan(spark, "text_unigram_logprob")) == 2


def test_capstone_single_scan(spark):
    assert _scan_count(_plan(spark, "prep_corpus_stats")) == 1


def test_interval_join_pushes_type_filters(spark):
    """Each side of the self-join must push its event_type equality into
    its own parquet scan."""
    plan = _plan(spark, "j8_interval_join")
    assert "EqualTo(event_type,view)" in plan
    assert "EqualTo(event_type,purchase)" in plan


def test_weighted_sample_is_topk_not_full_sort(spark):
    plan = _plan(spark, "p9_weighted_sample")
    assert "TakeOrderedAndProject" in plan


def test_canonical_pick_single_scan_no_text_in_shuffle(spark):
    """dedup_canonical_pick: one corpus scan; the query's own exchanges
    carry the digest + scalars, never the document text."""
    plan = _plan(spark, "dedup_canonical_pick")
    assert _scan_count(plan) == 1
    # text is consumed by the fingerprint projection below the exchange:
    # no Exchange's input attribute list may reference raw text
    import re

    exchange_sections = re.findall(
        r"\(\d+\) Exchange\n(.*?)(?:\n\n|\Z)", plan, flags=re.S
    )
    assert exchange_sections, plan
    assert all("text#" not in seg for seg in exchange_sections), exchange_sections


def test_ivf_probe_selection_broadcasts_centroids(spark):
    """sim_ann_ivf: probe selection must be a broadcast of the tiny
    centroid table against the query frame — never a collect (the plan
    proves the query frame stays distributed) — and candidate scoring a
    broadcast join, with no cartesian product over the corpus."""
    from acled_spark.ann import build_ivf_index, ivf_search
    from acled_spark.tables import load
    from tests.conftest import formatted_plan

    emb = load(spark, SF_DIR, "embeddings")
    index = build_ivf_index(emb, nlist=4, max_iter=3)
    probes = emb.limit(10)
    out = ivf_search(index, probes, top_k=5, nprobe=2)
    plan = formatted_plan(spark, out)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_pii_scrub_single_scan_no_python(spark):
    """The PII audit is chained regexp expressions riding ONE corpus
    scan (plus the small lang rollup) — a second scan or a Python
    eval node would break the 100-TB shape."""
    plan = _plan(spark, "text_pii_scrub")
    assert _scan_count(plan) == 1, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quality_classifier_zero_join_single_scan(spark):
    """The hashed linear model is a literal array inside the codegen'd
    aggregate expression: one corpus scan, no join or broadcast for the
    model, no Python eval nodes."""
    plan = _plan(spark, "text_quality_classifier")
    assert _scan_count(plan) == 1, plan[:2000]
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_snapshot_diff_digest_only_full_outer(spark):
    """CDC diff = two snapshot scans reduced to digests, one full-outer
    join on doc_id; document text must never appear in an Exchange."""
    plan = _plan(spark, "cdc_snapshot_diff")
    assert _scan_count(plan) == 2, plan[:2000]
    assert "FullOuter" in plan
    final = plan.split("== Physical Plan ==")[-1]
    for line in final.splitlines():
        if "Exchange" in line and "hashpartitioning" in line:
            assert "text" not in line, line


def test_mm_feature_extract_single_scan_no_join(spark):
    """The certification columns (jvm digest, meta bytes) ride through
    the Arrow batch as passthrough columns: one scan, no second
    media derivation, no payload-wide recombine join."""
    plan = _plan(spark, "mm_feature_extract")
    assert _scan_count(plan) == 1, plan[:2000]
    assert "Join" not in plan


def test_bm25_single_scan_broadcast_vocab(spark):
    """BM25's executed plan, r14 tokenize-once shape: the tokenized
    frame (doc_id, toks) is a lazily-checkpointed artifact feeding
    every consumer (dlen/avgdl rollup, tf explode, and the df
    broadcast side that used to re-tokenize the corpus), so the final
    plan reads ONLY the checkpoint — zero parquet scans; the one
    corpus scan + tokenize materializes it.  The query vocabulary is
    joined by BROADCAST before any aggregation and nothing sort-merge
    joins — the tf shuffle carries query-term hits only."""
    import re

    from acled_spark.registry import all_specs

    df = all_specs()["text_bm25_topk"].builder(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Scan parquet", plan)) == 0, plan[:2000]
    assert len(re.findall(r"Scan ExistingRDD", plan)) >= 3, plan[:2000]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dataframe_build_runs_no_job(spark):
    """ADVICE r8: eager localCheckpoint runs its job at DataFrame-BUILD
    time, so merely constructing the query (explain()/plan gates)
    executes a corpus-scale scan.  Building the checkpoint-bearing
    queries must schedule no DATA job — the only build-time jobs
    allowed are spark.read's 1-task parquet schema-inference footer
    reads (every load() pays one; it never touches row data).
    Iterative queries that must act to converge are exempt by design,
    as is drift_psi: its tiny (|types|·bins) checkpoint is lazy, but
    under AQE even a lazy checkpoint pre-runs the aggregate's map
    stage at toRdd time — a documented cost its two downstream
    consumers repay (plan-pinned zero downstream scans)."""
    from acled_spark.registry import all_specs

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for name in ("text_bm25_topk", "a26_approx_quantiles"):
        group = f"build-probe-{name}"
        sc.setJobGroup(group, "build-time job probe")
        try:
            all_specs()[name].builder(spark, SF_DIR)
        finally:
            sc.setJobGroup("", "")
        for j in tracker.getJobIdsForGroup(group):
            for s in tracker.getJobInfo(j).stageIds:
                si = tracker.getStageInfo(s)
                # The one allowed build-time stage is spark.read's
                # 1-task parquet schema-inference footer read; a
                # corpus-scale DERIVATION stage (the multi-task
                # tokenize/aggregate work) must never run at
                # DataFrame-build time.
                assert si.numTasks == 1, (
                    f"{name} ran a data job at build time: "
                    f"stage {si.name!r} ({si.numTasks} tasks)"
                )


def test_mm_decode_real_single_scan_no_join(spark):
    """The real-codec decode pass is a narrow mapInPandas over one
    documents scan: no join, no shuffle wider than the bounded
    TakeOrderedAndProject feeding the Arrow stage."""
    plan = _plan(spark, "mm_decode_real")
    assert _scan_count(plan) == 1, plan[:2000]
    assert "Join" not in plan


def test_mm_phash_two_scans_no_join_after_arrow(spark):
    """Perceptual-hash dedup plan: two documents scans (the doc list +
    the even-doc source-text side of the pairing join), ONE Arrow
    stage, and — the design point — NO join downstream of it: band
    rows carry the full hash, so Hamming is computed inline in the
    bucket expansion instead of rejoining per-doc hashes (which would
    re-run the Python encode per consumer)."""
    import re

    plan = _plan(spark, "mm_phash_dedup")
    assert _scan_count(plan) == 2, plan[:2000]
    # formatted explain prints every node twice (tree line + detail
    # header) — count tree nodes, not raw substring occurrences
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan[:2000]
    # the tree section prints top-down: everything before the FIRST
    # MapInPandas line is downstream of the Arrow stage
    downstream = plan.split("MapInPandas")[0]
    assert "Join" not in downstream, downstream


def test_mm_decode_png_single_scan_no_join(spark):
    """The PNG-codec certification pass mirrors mm_decode_real's
    shape: one documents scan feeding a single narrow Arrow stage,
    no join anywhere."""
    import re

    plan = _plan(spark, "mm_decode_png")
    assert _scan_count(plan) == 1, plan[:2000]
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan[:2000]


def test_mm_decode_jpeg_single_scan_no_join(spark):
    """The JPEG-codec certification pass mirrors mm_decode_real's
    shape: one documents scan feeding a single narrow Arrow stage,
    no join anywhere."""
    import re

    plan = _plan(spark, "mm_decode_jpeg")
    assert _scan_count(plan) == 1, plan[:2000]
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan[:2000]


def test_bigram_lm_checkpointed_single_scan(spark):
    """Bigram-LM scoring, r14 tokenize-once shape: the tokenized base
    (doc_id, lang, arr) is a lazily-checkpointed artifact feeding all
    three token consumers (LM aggregate, vocabulary count, scoring
    join), and the LM itself is a second checkpointed artifact feeding
    the prefix rollup and the scoring join.  The final plan therefore
    reads ONLY checkpoints — 0 parquet scans, 4 ExistingRDD reads
    (bg-from-base, vsz-from-base, lm, pfx-from-lm); the single corpus
    scan + regex tokenize happens once, materializing base.  The r13
    shape re-ran the tokenizer in 3 subtrees (2 parquet scans in the
    final plan + 1 materializing the LM)."""
    import re

    plan = _plan(spark, "text_bigram_logprob")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan[:2000]
    assert len(re.findall(r"\(\d+\) Scan ExistingRDD", plan)) == 4, plan[:2000]


def test_vocab_js_checkpointed_three_scans(spark):
    """Vocabulary-JSD drift: the floored support vocabulary is a
    lazily-checkpointed artifact consumed by the corpus-prob
    projection, the per-source count join, and the grid — final plan
    = 2 parquet scans + 2 ExistingRDD reads; the third corpus scan
    materializes the checkpoint once."""
    import re

    plan = _plan(spark, "drift_vocab_js")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2, plan[:2000]
    assert len(re.findall(r"\(\d+\) Scan ExistingRDD", plan)) == 2, plan[:2000]


def test_drift_psi_single_scan(spark):
    """PSI = one corpus scan to (type, bin) partials, consumed eagerly
    by the localCheckpoint; the executed plan must contain ZERO parquet
    scans — the grid completion and ln arithmetic read only the
    materialized |types|·bins frame (ExistingRDD)."""
    plan = _plan(spark, "drift_psi")
    assert _scan_count(plan) == 0, plan[:2000]
    assert "ExistingRDD" in plan


def test_train_shuffle_window_is_shard_partitioned(spark):
    """The global shuffle must never sort the corpus on one partition:
    the row_number window is PARTITIONED BY shard (hash-bucket
    exchange + per-shard local sort), and partial aggregation runs
    map-side before the final 16-row exchange."""
    plan = _plan(spark, "train_shuffle")
    assert "windowspecdefinition(shard" in plan
    assert "partial_count" in plan
    # the only SinglePartition/global exchange allowed is the final
    # |shards|-row presentation sort, never under the Window
    window_part = plan.split("windowspecdefinition")[0]
    assert "SinglePartition" not in window_part


def test_dup_spans_single_scan_hashed_exchange(spark):
    """text_dup_spans: exactly one corpus scan (explode_outer keeps
    gram-less docs in-stream, no join-back), and the span-frequency
    window exchanges the md5 digest, never gram text."""
    plan = _plan(spark, "text_dup_spans")
    assert plan.count("Scan parquet  (") == 1
    assert "windowspecdefinition(h#" in plan


def test_dim_stats_topk_and_partial_agg(spark):
    """sim_dim_stats: posexplode rides the scan, the per-dim aggregate
    combines map-side (partial_*), and the top-variance selection is
    TakeOrderedAndProject over |dims| rows — never a global sort of the
    exploded stream."""
    import re

    plan = _plan(spark, "sim_dim_stats")
    assert "partial_avg" in plan or "partial_var_samp" in plan, plan[:2000]
    assert "TakeOrderedAndProject" in plan
    # one embeddings scan only (formatted mode prints each scan once in
    # the tree and once in the detail list -> count the detail entries)
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1


def _shuffle_input_attrs(df) -> list[list[str]]:
    """Attribute names feeding every shuffle exchange in the executed
    plan — the ACTUAL exchange payload.  The old textual pin grepped
    only Exchange header lines (partitioning keys), which cannot see a
    wide column riding the exchange input (r8 scale lens: that blind
    spot hid corpus text under two doc_id shuffles)."""
    out: list[list[str]] = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            # AQE wraps the tree and exposes no children(); walk its
            # pre-execution plan (the shape the first run executes)
            walk(node.initialPlan())
            return
        if "ShuffleExchange" in name:
            # the scan spread's RoundRobinPartitioning exchange
            # (tables.load(spread=True)) is exempt: it moves the payload
            # exactly once, scan-side, before any derivation, and is
            # gated off on any corpus whose scan already parallelizes.
            # Every KEYED exchange is still audited.
            if "RoundRobinPartitioning" not in node.outputPartitioning().toString():
                attrs = node.child().output()
                out.append([attrs.apply(i).name() for i in range(attrs.size())])
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_release_delta_audit_no_text_in_exchanges(spark):
    """release_delta_audit: every shuffle exchange carries doc ids,
    digests, and flags only — raw document text must never shuffle.
    Checked on the exchange INPUT ATTRIBUTES with auto-broadcast OFF
    (simulating a corpus-scale delta where AQE cannot downgrade the
    doc_id joins to broadcast — exactly the case where text used to
    ride the wire before the r8 scan-side fingerprint projection)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = all_specs()["release_delta_audit"].builder(spark, SF_DIR)
        payloads = _shuffle_input_attrs(df)
        assert payloads, "expected shuffle exchanges with broadcast off"
        for attrs in payloads:
            assert "text" not in attrs, attrs
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # and the same invariant under the default planner
    for attrs in _shuffle_input_attrs(
        all_specs()["release_delta_audit"].builder(spark, SF_DIR)
    ):
        assert "text" not in attrs, attrs


def test_band_join_broadcasts_intervals_no_fact_shuffle(spark):
    """j9: the non-equi interval join must be BroadcastNestedLoopJoin
    with the 4-row bands side broadcast — the fact table never shuffles
    for the join — and the half-open bands partition the fact table."""
    plan = _plan(spark, "j9_band_join")
    assert "BroadcastNestedLoopJoin" in plan
    # the only exchange is the band-keyed aggregate, never the raw fact
    df = all_specs()["j9_band_join"].builder(spark, SF_DIR)
    total = sum(r["n_orders"] for r in df.collect())
    from acled_spark.tables import load

    assert total == load(spark, SF_DIR, "orders").count()


def test_components_exact_plan_reads_no_parquet(spark):
    """dedup_components_exact: the returned census derives entirely from
    the localCheckpointed fixpoint edge frame — zero parquet scans in
    the final plan (the corpus was read exactly once, before the loop),
    and every per-round exchange carried edge rows only."""
    import re

    plan = _plan(spark, "dedup_components_exact")
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 0, plan[:2000]


def test_multiprobe_broadcasts_probe_set(spark):
    """sim_ann_multiprobe: the exploded probe set is the broadcast side;
    candidates never shuffle for the join (same shape as sim_ann_lsh)."""
    plan = _plan(spark, "sim_ann_multiprobe")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ngram_novelty_digest_only_two_scans(spark):
    """Novelty census: grams md5-hashed scan-side, first-seen table
    lazily checkpointed — final plan = 1 parquet scan (the rejoin
    side) + 1 ExistingRDD read (the materialized vocab frame); the
    second corpus scan materializes the checkpoint.  No cartesian, no
    gram TEXT in any exchange (the join key is the md5 column)."""
    import re

    plan = _plan(spark, "dedup_ngram_novelty")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:2000]
    assert len(re.findall(r"\(\d+\) Scan ExistingRDD", plan)) == 1, plan[:2000]
    assert "CartesianProduct" not in plan


def test_semantic_census_broadcasts_centroids_no_cartesian(spark):
    """dedup_semantic: the nlist-row centroid table must broadcast onto
    the vector frame (never the reverse), the within-cell pair join is
    an equi-join on the cell with the id inequality as a residual (no
    cartesian product), and the keep-set stays distributed (no collect
    anywhere in the plan)."""
    from acled_spark.queries.dedup import dedup_semantic
    from tests.conftest import formatted_plan

    plan = formatted_plan(spark, dedup_semantic(spark, SF_DIR))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_single_derivation_broadcast_stats_topk(spark):
    """dsir_resample, r14 one-derivation shape: the gram stream (scan +
    tokenize + per-gram md5, the dominant CPU) collapses to a lazily
    checkpointed per-(doc, bucket) count frame consumed by BOTH the
    B-row bucket-stats rollup and the per-doc score join — the final
    plan reads the checkpoint (2 ExistingRDD reads), the corpus
    parquet appears ZERO times (the one scan materializes the
    checkpoint; the r13 shape re-derived the grams per consumer = 2
    scans), stats still broadcast, and the final top-k is
    TakeOrderedAndProject (per-partition partial top-k, k-row driver
    merge); nothing cross-joins."""
    import re

    plan = _plan(spark, "dsir_resample")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan[:2000]
    assert len(re.findall(r"\(\d+\) Scan ExistingRDD", plan)) == 2, plan[:2000]
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # neither scan reads the full row: text/lang (+doc_id probe-side)
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "n_chars" not in line and "source" not in line, line


def test_source_overlap_single_corpus_scan(spark):
    """dedup_source_overlap: the distinct (source, shingle) frame is
    lazily checkpointed, so the final plan reads the materialized
    vocab-sized frame (ExistingRDD) everywhere — the corpus parquet
    appears ZERO times in the final plan (the one scan happens inside
    the checkpoint materialization; without the barrier the alias
    renames defeat exchange reuse and the executed plan re-scanned the
    corpus 8x).  Matrix rollup ends in the top-100
    TakeOrderedAndProject; nothing cross-joins."""
    import re

    plan = _plan(spark, "dedup_source_overlap")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan[:2000]
    assert len(re.findall(r"\(\d+\) Scan ExistingRDD", plan)) >= 3
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


#: registered queries that opt a scan into the round-robin scan spread
#: (``tables.load(..., spread=True)``).  A dropped or accidental opt-in
#: changes a plan but no result, so no parity test would see it.
SPREAD_QUERIES = frozenset({
    "dedup_cluster_census", "dedup_components_exact", "dedup_containment",
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_ngram_novelty",
    "dedup_simhash", "dedup_source_overlap", "doc_filter_funnel",
    "dsir_resample", "f1_try_cast_json", "j5_multiway_revenue",
    "text_chunking", "text_contamination", "text_dup_spans",
    "text_pii_scrub", "text_quality_classifier", "text_quality_scores",
    "text_token_stats", "text_winnow_pairs",
})
#: of those, the ones whose spread sits under a lazy localCheckpoint:
#: the final plan reads the checkpoint, so no exchange shows in it
SPREAD_UNDER_CHECKPOINT = frozenset({
    "dedup_cluster_census", "dedup_components_exact",
    "dedup_source_overlap", "dsir_resample",
})


def test_spread_opt_ins_are_pinned(spark, monkeypatch):
    """Exactly SPREAD_QUERIES request a spread, and each of them not
    hidden by a checkpoint carries the RoundRobinPartitioning exchange."""
    from acled_spark import tables
    from tests.conftest import formatted_plan

    spread_paths: list[str] = []
    real = tables._spread_partitions

    def recording(spark_, path):
        spread_paths.append(path)
        return real(spark_, path)

    monkeypatch.setattr(tables, "_spread_partitions", recording)
    requested, in_plan = set(), set()
    for name, spec in all_specs().items():
        spread_paths.clear()
        plan = formatted_plan(spark, spec.builder(spark, SF_DIR))
        if spread_paths:
            requested.add(name)
        if "RoundRobinPartitioning" in plan:
            in_plan.add(name)
    assert requested == SPREAD_QUERIES
    assert in_plan == SPREAD_QUERIES - SPREAD_UNDER_CHECKPOINT
