"""Reproducible oracle-mutation lens (round 12) — the gate-sensitivity
audit behind MUTATION.md, as a re-runnable tool.

Each spec plants ONE deliberate one-line defect in a source file, runs
the gate that is supposed to own that query (driver sim for oracled
queries, the pinning pytest otherwise), records CAUGHT/SLIPPED, and
ALWAYS reverts the file via ``git checkout`` (run on a clean tree —
uncommitted edits to a mutated file would be lost).

``expect`` records the adjudicated round-12 outcome for the PRIMARY
gate; specs whose primary gate slipped carry a second, fixed gate in
``fixed_gate`` that must now catch them.  Running the tool re-verifies
the whole MUTATION.md table:

    python tools/mutation_lens.py            # all specs, primary gates
    python tools/mutation_lens.py --fixed    # slipped specs vs fixed gates
    python tools/mutation_lens.py --only M8,M29

Adding a round-13 wave = appending specs here and rows to MUTATION.md.
"""

from __future__ import annotations

import argparse
import subprocess
import sys

REPO = "/root/repo"

SIM = ["python", "tools/driver_sim.py", "--only"]
PYT = ["python", "-m", "pytest", "-x", "-q"]


def spec(mid, fam, path, old, new, gate, expect, fixed_gate=None):
    return {
        "id": mid, "family": fam, "path": path, "old": old, "new": new,
        "gate": gate, "expect": expect, "fixed_gate": fixed_gate,
    }


SPECS = [
    # --- wave 1: one per family --------------------------------------------
    spec("M1", "filters", "acled_spark/queries/filters_q.py",
         'F.round(F.sum("value"), 2).alias("total_value")',
         'F.round(F.sum("value"), 1).alias("total_value")',
         SIM + ["p3_date_range"], "caught"),
    spec("M2", "aggregates", "acled_spark/queries/aggregates.py",
         '.orderBy(F.desc("cnt"), "user_id")\n        .limit(10)',
         '.orderBy(F.desc("cnt"), "user_id")\n        .limit(11)',
         SIM + ["a5_topk_groups"], "caught"),
    spec("M3", "windows", "acled_spark/queries/windows.py",
         'rowsBetween(-6, 0)', 'rowsBetween(-7, 0)',
         SIM + ["w1_moving_avg_7d"], "caught"),
    spec("M4", "joins", "acled_spark/queries/joins.py",
         'F.round(F.coalesce(smoothed, F.col("gmean")), 4)',
         'F.round(smoothed, 4)',
         SIM + ["j1_target_stat_lookup"], "slipped",
         PYT + ["tests/test_parity.py::"
                "test_j1_global_mean_fallback_on_orphan_segment"]),
    spec("M5", "scalars", "acled_spark/queries/windows.py",
         'F.date_sub(F.col("end_day"), 7)', 'F.date_sub(F.col("end_day"), 8)',
         SIM + ["f4_date_arithmetic"], "caught"),
    spec("M6", "text-tokenizer", "acled_spark/queries/text.py",
         '.otherwise(\n        F.split(ws_trim(text), f"{WS}+")\n    )',
         '.otherwise(\n        F.split(ws_trim(text), " ")\n    )',
         SIM + ["text_token_stats"], "slipped",
         PYT + ["tests/test_ws_parity.py::"
                "test_ws_edge_corpus_parity[text_token_stats]"]),
    spec("M7", "dedup", "acled_spark/queries/dedup.py",
         # the jaccard and a second family share this denominator string;
         # FIRST occurrence (ngram_jaccard_pairs) is the target
         '/ (F.col("n_sh1") + F.col("n_sh2") - F.col("inter")),',
         '/ (F.col("n_sh1") + F.col("n_sh2")),',
         SIM + ["dedup_ngram_jaccard"], "caught"),
    spec("M8", "png-paeth", "acled_spark/multimodal.py",
         'if pa <= pb and pa <= pc:', 'if pa < pb and pa < pc:',
         SIM + ["mm_decode_png"], "slipped",
         PYT + ["tests/test_multimodal.py", "-k", "paeth"]),
    spec("M9", "ml", "acled_spark/ml/features.py",
         'F.coalesce(F.col("__le_code"), F.lit(-1)).cast("int")',
         'F.coalesce(F.col("__le_code"), F.lit(0)).cast("int")',
         SIM + ["ml_label_encode"], "slipped",
         PYT + ["tests/test_ml.py::test_label_encode_sorted_ids_and_unseen"]),
    spec("M10", "cdc", "acled_spark/queries/cdc.py",
         '.when(F.col("old_fp").eqNullSafe(F.col("new_fp")), "unchanged")',
         '.when(F.col("old_fp") == F.col("new_fp"), "unchanged")',
         SIM + ["cdc_snapshot_diff"], "slipped",
         PYT + ["tests/test_cdc.py"]),
    spec("M11", "stream-cert", "acled_spark/queries/pipeline.py",
         '"stream_matches_batch", F.lit(stream_rows == batch_rows)',
         '"stream_matches_batch", F.lit(len(stream_rows) == len(batch_rows))',
         SIM + ["t3_tumbling_window"], "slipped",
         PYT + ["tests/test_streaming.py::"
                "test_t3_certification_is_sensitive_to_value_diffs"]),
    spec("M12", "rows-only-a19", "acled_spark/queries/olap.py",
         '.withColumn("rel_err_users", rel_err("approx_users", "exact_users"))',
         '.withColumn("rel_err_users", rel_err("approx_users", "approx_users"))',
         PYT + ["tests/test_approx_accuracy.py::"
                "test_a19_self_certifies_within_bound"], "caught"),
    spec("M13", "rows-only-a26", "acled_spark/queries/olap.py",
         '    return F.greatest(\n        _interval_err("p50", 0.5),',
         '    return F.least(\n        _interval_err("p50", 0.5),',
         PYT + ["tests/test_approx_accuracy.py::"
                "test_max_rank_err_rollup_is_the_maximum"], "caught"),
    spec("M14", "rows-only-ivf", "acled_spark/queries/similarity.py",
         '.agg((F.count("*") / F.lit(TOP_K)).alias("recall_at_k"))',
         '.agg((F.count("*") / F.count("*")).alias("recall_at_k"))',
         PYT + ["tests/test_ann.py::test_sim_ann_ivf_registry_recall_floor"],
         "caught"),
    spec("M15", "rows-only-pca", "acled_spark/embedding.py",
         'return num / eigenvalue if eigenvalue > 0 else float("inf")',
         'return num if eigenvalue > 0 else float("inf")',
         PYT + ["tests/test_embedding.py::test_eigen_residual_known_answer"],
         "caught"),
    # --- wave 2: packing / sessions / lsh / checks / w6 ---------------------
    spec("M16", "packing", "acled_spark/queries/packing.py",
         # first occurrence of the shared frame = pack_sequences
         None, None, SIM + ["pack_sequences"], "caught"),
    spec("M17", "sessions", "acled_spark/queries/sessions.py",
         '            > F.expr(f"INTERVAL \'{SESSION_GAP_MIN}\' MINUTE")',
         '            >= F.expr(f"INTERVAL \'{SESSION_GAP_MIN}\' MINUTE")',
         SIM + ["sess_user_sessions"], "slipped",
         PYT + ["tests/test_boundary_pins.py::"
                "test_session_gap_boundary_exactly_30min_stays_one_session"]),
    spec("M18", "lsh-sign", "acled_spark/queries/similarity.py",
         'F.when(dot(e, lit_vector(p)) >= 0, "1").otherwise("0") for p in PLANES',
         'F.when(dot(e, lit_vector(p)) > 0, "1").otherwise("0") for p in PLANES',
         SIM + ["sim_ann_lsh"], "slipped",
         PYT + ["tests/test_boundary_pins.py::"
                "test_lsh_zero_projection_signs_positive_both_engines"]),
    spec("M19", "checks", "acled_spark/checks/engine.py",
         'bad = bad | (cd < lo)', 'bad = bad | (cd <= lo)',
         SIM + ["chk_validation_summary"], "slipped",
         PYT + ["tests/test_boundary_pins.py::"
                "test_value_range_bounds_are_inclusive"]),
    spec("M20", "windows-w6", "acled_spark/queries/sessions.py",
         '"is_first", F.col("day") == F.min("day").over(Window.partitionBy("user_id"))',
         '"is_first", F.col("day") == F.max("day").over(Window.partitionBy("user_id"))',
         SIM + ["w6_cumulative_distinct"], "caught"),
    # --- wave 3: anomaly / drift / funnel / cohort / asof -------------------
    spec("M21", "anomaly-leak", "acled_spark/queries/aggregates.py",
         'w = Window.orderBy("day_num").rangeBetween(-7, -1)',
         'w = Window.orderBy("day_num").rangeBetween(-7, 0)',
         SIM + ["a23_daily_anomaly"], "caught"),
    spec("M22", "drift-psi", "acled_spark/drift.py",
         'p_new = (F.col("n_new_b") + 0.5) / (F.col("n_new_t") + smooth)',
         'p_new = (F.col("n_new_b") + 1.0) / (F.col("n_new_t") + smooth)',
         SIM + ["drift_psi"], "caught"),
    spec("M23", "funnel", "acled_spark/queries/sessions.py",
         's1 = s0 & (F.col("t1") > F.col("t0"))',
         's1 = s0 & (F.col("t1") >= F.col("t0"))',
         SIM + ["funnel_user_journey"], "slipped",
         PYT + ["tests/test_boundary_pins.py::"
                "test_funnel_same_instant_step_is_not_after"]),
    spec("M24", "cohort-EQUIVALENT", "acled_spark/queries/sessions.py",
         'F.floor(F.datediff("week", "cohort_week") / 7).alias("wk_offset")',
         'F.floor((F.datediff("week", "cohort_week") + 1) / 7).alias("wk_offset")',
         SIM + ["cohort_retention"], "equivalent"),
    spec("M25", "asof", "acled_spark/queries/joins.py",
         '.orderBy("ts", "side")', '.orderBy("ts", F.desc("side"))',
         SIM + ["j7_asof_join"], "slipped",
         PYT + ["tests/test_boundary_pins.py::"
                "test_asof_join_same_instant_click_is_included"]),
    # --- wave 4: range frame / sampling / Arrow boundary / shared constants -
    spec("M26", "range-frame", "acled_spark/queries/windows.py",
         '.rangeBetween(-60, 0)', '.rangeBetween(-60, -1)',
         SIM + ["w5_range_frame"], "caught"),
    spec("M27", "weighted-sample", "acled_spark/queries/filters_q.py",
         'key = F.round(F.log(u) / F.col("o_totalprice"), 6) + F.lit(0.0)',
         'key = F.round(F.log(u) * F.col("o_totalprice"), 6) + F.lit(0.0)',
         SIM + ["p9_weighted_sample"], "caught"),
    spec("M28", "arrow-worker", "acled_spark/multimodal.py",
         '"n_bytes": [\n                    len(p) if p is not None else 0 for p in pdf["payload"]',
         '"n_bytes": [\n                    len(p) + 1 if p is not None else 0 for p in pdf["payload"]',
         SIM + ["mm_feature_extract"], "caught"),
    # --- wave 5: streaming shared expression --------------------------------
    # M30 re-adjudicated (ADVICE r12): equivalent on the WINDOW faces
    # only (watermark drops NULLs anyway) — NOT equivalent on
    # dedup_stream's batch face (an all-NULL-ts key would emit a
    # survivor via asc_nulls_last).  The primary sim gate still slips
    # (window-face query, boundary absent); the fixed gate pins the
    # dedup batch face directly.
    spec("M30", "streaming-null-ts", "acled_spark/streaming.py",
         "    events = events.filter(F.col(ts_col).isNotNull())",
         "    events = events  # filter dropped",
         SIM + ["t3_tumbling_window"], "slipped",
         PYT + ["tests/test_streaming.py::"
                "test_dedup_stream_batch_face_drops_null_ts"]),
    spec("M29", "pii-shared-constant", "acled_spark/pii.py",
         r'("ssn", r"\b\d{3}-\d{2}-\d{4}\b")',
         r'("ssn", r"\b\d{3}-\d{2}-\d{3}\b")',
         SIM + ["text_pii_scrub"], "slipped",
         PYT + ["tests/test_pii.py"]),
    # --- wave 6 (r13): export / silver / release / skew ----------------------
    # M31: a self-consistent digest-definition change (hex window shifts
    # by one digit) — the write and verify faces share row_digest_expr,
    # so every write→verify round-trip stays green (the M8 codec class,
    # export edition).  Fixed gate: the hashlib known-answer pin.
    spec("M31", "export-digest-window", "acled_spark/export.py",
         "            1,\n            _DIGEST_HEX_DIGITS,\n        ),"
         "\n        16,\n        10,",
         "            2,\n            _DIGEST_HEX_DIGITS,\n        ),"
         "\n        16,\n        10,",
         PYT + ["tests/test_export.py::"
                "test_manifest_roundtrip_and_corruption_detection"],
         "slipped",
         PYT + ["tests/test_export.py::test_row_digest_known_answer"]),
    # M32: MERGE keep-old-on-match — updates lose to existing rows
    spec("M32", "silver-merge-priority", "acled_spark/silver.py",
         "    order = [F.desc(_SRC_COL)]",
         "    order = [F.asc(_SRC_COL)]",
         SIM + ["s8_upsert_merge"], "caught"),
    # M33: release retire scope — changed docs never retired before
    # their re-append (the harmful half of a retire-after-dedup reorder)
    # NOTE the first spec draft aimed this at the MANUAL five-stage
    # composition test, which slipped — trivially, because that test
    # builds its own retire_set and never executes CorpusRelease.apply's
    # wiring.  The gate that owns apply() is the API test below; the
    # miss is recorded in MUTATION.md as a lesson about gate OWNERSHIP
    # (a unit's test must drive the unit, not a lookalike composition).
    spec("M33", "release-retire-scope", "acled_spark/release.py",
         'retire_set = diff.filter(F.col("status").isin("changed", "removed"))',
         'retire_set = diff.filter(F.col("status").isin("removed"))',
         PYT + ["tests/test_release_e2e.py::"
                "test_corpus_release_api_matches_manual_composition"],
         "caught"),
    # M34: salt dropped from the replicated side — only salt-0 big rows
    # keep their join matches
    spec("M34", "skew-salt-one-side", "acled_spark/skew.py",
         '"__salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))',
         '"__salt", F.explode(F.sequence(F.lit(0), F.lit(0)))',
         PYT + ["tests/test_skew.py::test_salted_join_matches_plain"],
         "caught"),
    # --- round-13 newcomers: every new unit ships with a lens spec ----------
    # M35: dominator pick flipped to the LOWEST-priority dominator
    # (target strings track the r14 refactor: the census rollup aliases
    # the direct dominator as "parent" since chain resolution landed)
    spec("M35", "semantic-dominator-pick", "acled_spark/queries/dedup.py",
         '        F.min_by("dominator", "dom_rnk").alias("parent"),\n'
         '        F.min_by("cosine", "dom_rnk").alias("dup_cos"),',
         '        F.max_by("dominator", "dom_rnk").alias("parent"),\n'
         '        F.max_by("cosine", "dom_rnk").alias("dup_cos"),',
         PYT + ["tests/test_dedup_semantic.py"], "caught"),
    # M36: SemDeDup keep rule flipped (keep the cluster-CENTER member)
    spec("M36", "semantic-keep-rule", "acled_spark/queries/dedup.py",
         '    w = Window.partitionBy("cell").orderBy(\n'
         '        F.asc_nulls_last("cent_cos"), "vec_id"\n    )',
         '    w = Window.partitionBy("cell").orderBy(\n'
         '        F.desc_nulls_last("cent_cos"), "vec_id"\n    )',
         PYT + ["tests/test_dedup_semantic.py"], "caught"),
    # M37: incremental self-rule dropped (a replayed keeper id becomes
    # a store dup of itself — the lexical store's round-7 bug class,
    # planted on the semantic twin)
    spec("M37", "semantic-incremental-self-rule",
         "acled_spark/queries/dedup.py",
         '        .filter(F.col("b_id") != F.col("k_id"))  # self-rule: replays',
         '        .filter(F.lit(True))  # self-rule dropped',
         PYT + ["tests/test_dedup_semantic.py::"
                "test_incremental_classify_batch_faces"], "caught"),
    # --- round-14 newcomers: the ADVICE-r13 fixes each ship with a spec ----
    # M38: the batch face's store-absorption filter inverted — only
    # ABSORBED dominators survive the pair filter, re-creating the r13
    # accumulate-duplicates-across-batches shape from the other side
    spec("M38", "semantic-batch-surviving-dominator",
         "acled_spark/queries/dedup.py",
         '    surviving_dom = dom_b.join(store_dup_ids, "dominator", "left_anti")',
         '    surviving_dom = dom_b.join(store_dup_ids, "dominator", "left_semi")',
         PYT + ["tests/test_dedup_semantic.py::"
                "test_batch_drop_on_any_surviving_dominator"], "caught"),
    # M39: chain resolution skipped — dup_of reverts to the direct
    # witness, dangling on transitive chains (the exact ADVICE-r13
    # defect, re-planted to prove the new gates own it)
    spec("M39", "semantic-chain-resolution",
         "acled_spark/queries/dedup.py",
         '            F.col("root").alias("dup_of"),\n'
         '            F.col("parent").alias("dup_witness"),',
         '            F.col("parent").alias("dup_of"),\n'
         '            F.col("parent").alias("dup_witness"),',
         PYT + ["tests/test_dedup_semantic.py::"
                "test_census_chain_resolves_dup_of_to_kept_root"], "caught"),
    # M40: eps threshold applied to the ROUNDED cosine again (the
    # ADVICE-r13 grain bug: ~0.98995 rounds up across eps=0.99)
    spec("M40", "semantic-eps-grain",
         "acled_spark/queries/dedup.py",
         '        max_block=max_block,\n        round_digits=None,\n'
         '    ).filter(F.col("cosine") >= eps)',
         '        max_block=max_block,\n        round_digits=4,\n'
         '    ).filter(F.col("cosine") >= eps)',
         PYT + ["tests/test_dedup_semantic.py::"
                "test_census_eps_thresholds_unrounded_cosine"], "caught"),
    # M41: DSIR likelihood-ratio DIRECTION inverted — the resample
    # steers AWAY from the target corpus (Spark side only; the oracle
    # keeps the correct ratio, so the driver hash gate must flag it)
    spec("M41", "dsir-ratio-direction",
         "acled_spark/queries/packing.py",
         '                F.log((F.col("c_t") + 1.0) / (F.col("c_r") + 1.0))',
         '                F.log((F.col("c_r") + 1.0) / (F.col("c_t") + 1.0))',
         SIM + ["dsir_resample"], "caught"),
    # M42: DSIR resample seed namespace changed — the Gumbel draw
    # decouples from the oracle's 'dsir-' stream (a silently different
    # sample with identical marginal statistics; only exact
    # cross-engine parity catches it)
    spec("M42", "dsir-resample-seed",
         "acled_spark/queries/packing.py",
         'F.md5(F.concat(F.lit("dsir-"), F.col("doc_id").cast("string")))',
         'F.md5(F.concat(F.lit("dsir2-"), F.col("doc_id").cast("string")))',
         SIM + ["dsir_resample"], "caught"),
    # M43: overlap containment denominator flipped (least -> greatest:
    # a small corpus fully embedded in a big one reads as LOW
    # containment, hiding exactly the swallowed-dump signal the
    # column exists for)
    spec("M43", "source-overlap-containment",
         "acled_spark/queries/dedup.py",
         '                    F.col("shared_sh") / F.least("sh_a", "sh_b").cast("double"), 6',
         '                    F.col("shared_sh") / F.greatest("sh_a", "sh_b").cast("double"), 6',
         SIM + ["dedup_source_overlap"], "caught"),
]

# M16's target is not unique in its file; resolved by first-occurrence
_M16_OLD = (
    '    w = (\n        Window.partitionBy("lang")\n'
    '        .orderBy("doc_id")\n'
    '        .rowsBetween(Window.unboundedPreceding, -1)\n    )'
)
_M16_NEW = _M16_OLD.replace(", -1)", ", 0)")


def _apply(path: str, old: str, new: str, first_only: bool = False) -> None:
    full = f"{REPO}/{path}"
    src = open(full).read()
    n = src.count(old)
    if first_only:
        if n < 1:
            raise LookupError(f"target not found in {path}")
        i = src.index(old)
        src = src[:i] + new + src[i + len(old):]
    else:
        if n != 1:
            raise LookupError(f"target not unique in {path} ({n} occurrences)")
        src = src.replace(old, new)
    open(full, "w").write(src)


def run_spec(s: dict, fixed: bool) -> tuple[str, bool | None]:
    gate = s["fixed_gate"] if fixed else s["gate"]
    if gate is None:
        return "no-fixed-gate", None
    old, new, first_only = s["old"], s["new"], s["id"] in ("M7", "M16")
    if s["id"] == "M16":
        old, new = _M16_OLD, _M16_NEW
    _apply(s["path"], old, new, first_only)
    try:
        p = subprocess.run(gate, cwd=REPO, capture_output=True, text=True,
                           timeout=1200)
        return ("caught" if p.returncode != 0 else "slipped",
                p.returncode != 0)
    finally:
        subprocess.run(["git", "checkout", "--", s["path"]], cwd=REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default=None, help="comma-separated spec ids")
    ap.add_argument("--fixed", action="store_true",
                    help="run slipped specs against their FIXED gates")
    args = ap.parse_args()
    only = set(args.only.split(",")) if args.only else None

    dirty = subprocess.run(
        ["git", "status", "--porcelain", "--untracked-files=no"],
        cwd=REPO, capture_output=True, text=True,
    ).stdout.strip()
    # the driver appends to PROGRESS.jsonl between commits; the lens
    # never touches it, so it must not block a run
    dirty = "\n".join(
        ln for ln in dirty.splitlines() if not ln.endswith("PROGRESS.jsonl")
    ).strip()
    if dirty:
        raise SystemExit(
            "working tree has uncommitted tracked changes — the lens "
            "reverts mutated files with `git checkout` and would lose them"
        )

    bad = []
    for s in SPECS:
        if only and s["id"] not in only:
            continue
        if args.fixed and s["expect"] != "slipped":
            continue
        try:
            outcome, _ = run_spec(s, fixed=args.fixed)
        except LookupError as exc:
            print(f"{s['id']:4s} [{s['family']}] -> SPEC-ERROR: {exc}")
            bad.append(s["id"])
            continue
        want = "caught" if args.fixed else s["expect"]
        # an 'equivalent' mutant is EXPECTED to slip its primary gate
        want = "slipped" if want == "equivalent" else want
        ok = outcome == want
        print(f"{s['id']:4s} [{s['family']}] -> {outcome}"
              f" (expected {want}){'' if ok else '  ** UNEXPECTED **'}",
              flush=True)
        if not ok:
            bad.append(s["id"])
    print(f"\nmutation-lens: {'OK' if not bad else 'UNEXPECTED: ' + str(bad)}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
