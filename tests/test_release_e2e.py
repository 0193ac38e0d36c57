"""Incremental corpus-release composition, end-to-end (VERDICT r4 #3).

Each piece is unit-tested alone; this drives the actual 100-TB
operating story as ONE flow over a single corpus release:

    snapshot_diff(old, new)
      -> retire_ids(changed ∪ removed, corpus=new)  # store maintenance
      -> process_batch(added ∪ changed)         # incremental dedup
      -> DriftMonitor(batch)                    # distribution gate
      -> write_jsonl(shuffle_seed=...) + verify_manifest  # export

Only DELTA documents flow past the diff — the test pins that no stage
rescans the unchanged corpus (row counts are delta-sized throughout)
and that the export manifest verifies clean.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from acled_spark.dedup_store import init_store, process_batch, retire_ids
from acled_spark.drift import DriftMonitor, init_reference
from acled_spark.export import read_jsonl, verify_manifest, write_jsonl, write_manifest
from acled_spark.queries.cdc import snapshot_diff
from acled_spark.tables import load
import pytest

# slow tier (VERDICT r14 #1): release lifecycle e2e (~2 min); run with `-m ""`.
pytestmark = pytest.mark.slow


SF_DIR = "/root/testdata/sf0.001"
DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]
DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def test_incremental_release_end_to_end(spark, tmp_path):
    docs = load(spark, SF_DIR, "documents").select(*DOC_COLS)

    # --- the release: modulus-derived old/new snapshots + one planted
    # added doc whose text exactly duplicates a surviving old doc
    old = docs.filter(F.col("doc_id") % 11 != 3)
    dup_src = docs.filter(F.col("doc_id") == 1).limit(1)
    planted_dup = dup_src.withColumn("doc_id", F.lit(900001).cast("long"))
    new = (
        docs.filter(F.col("doc_id") % 13 != 5)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.col("text"), F.lit(" rev2")),
            ).otherwise(F.col("text")),
        )
        .unionByName(planted_dup)
    )

    # --- stage 1: diff (digest-only; text never shuffles)
    diff = snapshot_diff(old, new).localCheckpoint()
    by_status = {
        r["status"]: r["n"]
        for r in diff.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    assert by_status.get("added", 0) >= 2  # %11 adds + planted dup
    assert by_status.get("changed", 0) >= 1
    assert by_status.get("removed", 0) >= 1

    delta_ids = diff.filter(F.col("status").isin("added", "changed"))
    delta = new.join(delta_ids.select("doc_id"), "doc_id", "left_semi")
    n_delta = delta.count()
    assert n_delta == by_status["added"] + by_status["changed"]
    assert n_delta < docs.count() / 3  # delta-sized, not corpus-sized

    # --- stage 2: store maintenance + incremental dedup on the delta
    store = str(tmp_path / "sigstore")
    init_store(old, store)
    from acled_spark.dedup_store import _read_exact

    retire_set = diff.filter(F.col("status").isin("changed", "removed"))
    # only CANONICAL rows (min-id per fingerprint) exist in the store,
    # so the expected removal count is the store rows the retire set
    # actually holds — not |changed|+|removed| (a retired id that was a
    # non-canonical duplicate in `old` has no row to remove)
    expected_removed = (
        _read_exact(spark, store)
        .join(retire_set.select("doc_id"), "doc_id", "left_semi")
        .count()
    )
    retired = retire_ids(spark, retire_set, store, corpus=new)
    # net change = removals minus orphan re-keys; bounded by both
    assert 0 < retired <= expected_removed
    assert expected_removed <= by_status["changed"] + by_status["removed"]

    # changed docs re-key under their existing ids without tripping the
    # id-reuse guard (the seam this composition exposed)
    verdicts, n_appended = process_batch(spark, delta, store)
    v = {r["doc_id"]: r for r in verdicts.collect()}
    assert len(v) == n_delta
    assert v[900001]["is_exact_dup"]
    assert v[900001]["dup_of"] == 1
    n_dups = sum(
        1 for r in v.values() if r["is_exact_dup"] or r["is_batch_dup"]
    )
    assert n_appended == n_delta - n_dups

    # --- stage 3: drift gate on the delta batch vs the old-corpus
    # reference (n_chars distribution per source)
    ref = str(tmp_path / "drift_ref")
    init_reference(old, ref, value_col="n_chars", group_col="source", width=200.0)
    captured = []
    mon = DriftMonitor(
        ref,
        value_col="n_chars",
        group_col="source",
        width=200.0,
        on_scores=lambda s: captured.append(s.collect()),
    )
    mon(delta, epoch_id=0)
    assert mon.batches_applied == 1
    scores = {r["group"]: r for r in captured[0]}
    assert scores  # every source that appears in either side is scored
    for r in scores.values():
        import math

        assert math.isfinite(r["psi"]) and r["psi"] >= 0.0  # truly finite


    # --- stage 4: shuffled export of the surviving delta + manifest
    survivors = delta.join(
        verdicts.filter(
            ~F.col("is_exact_dup") & ~F.col("is_batch_dup")
        ).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    out = str(tmp_path / "release_export")
    write_jsonl(
        survivors, out, shards=4, sort_col="doc_id",
        shuffle_seed="release-r5", compression="none",
    )
    back = read_jsonl(spark, out, DOC_SCHEMA)
    # an empty shuffle bucket writes no part file, so the shard count
    # is bounded by — not pinned to — the requested bucket count
    assert 1 <= write_manifest(back, out) <= 4
    assert verify_manifest(spark, out, DOC_SCHEMA) == []

    # the export is exactly the deduped delta — no unchanged doc leaked
    exported_ids = {r["doc_id"] for r in back.select("doc_id").collect()}
    assert exported_ids == {
        i for i, r in v.items() if not (r["is_exact_dup"] or r["is_batch_dup"])
    }
    assert len(exported_ids) == n_appended


def test_retire_ids_store_roundtrip(spark, tmp_path):
    """retire_ids drops exactly the named ids from BOTH tables and the
    staged swap leaves a readable store (no leftover staging dir)."""
    from acled_spark.dedup_store import _read_bands, _read_exact
    from acled_spark.fsutil import staging_path

    docs = load(spark, SF_DIR, "documents").select(*DOC_COLS).limit(50)
    store = str(tmp_path / "s")
    init_store(docs, store)
    n0 = _read_exact(spark, store).count()

    ids = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    # expected = store rows actually held by the retire set (a retired
    # id that was a non-canonical duplicate has no row to remove)
    expected = (
        _read_exact(spark, store).join(ids, "doc_id", "left_semi").count()
    )
    n_retired = retire_ids(spark, ids, store)
    assert n_retired == expected > 0
    assert _read_exact(spark, store).count() == n0 - n_retired
    left = _read_bands(spark, store).join(ids, "doc_id", "left_semi")
    assert left.count() == 0
    assert not os.path.exists(staging_path(store))

    # retiring already-absent ids is a no-op (idempotent release replay)
    assert retire_ids(spark, ids, store) == 0


def test_retire_ids_table_backend(spark):
    """Same retirement contract on the bucketed table: backend — the
    overwrite restates the bucket spec, and a changed doc re-keys under
    its id after retirement."""
    from acled_spark.dedup_store import _read_exact, check_batch

    troot = "table:retire_t"
    for t in ("retire_t_exact", "retire_t_bands"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        docs = load(spark, SF_DIR, "documents").select(*DOC_COLS).limit(40)
        init_store(docs, troot)
        n0 = _read_exact(spark, troot).count()

        ids = docs.filter(F.col("doc_id") % 4 == 0).select("doc_id")
        expected = (
            _read_exact(spark, troot).join(ids, "doc_id", "left_semi").count()
        )
        n_retired = retire_ids(spark, ids, troot)
        assert n_retired == expected > 0
        assert _read_exact(spark, troot).count() == n0 - n_retired

        # bucket spec survives the rewrite
        desc = {
            r["col_name"]: r["data_type"]
            for r in spark.sql("DESCRIBE TABLE EXTENDED retire_t_exact").collect()
        }
        assert "fingerprint" in desc.get("Bucket Columns", "")

        # a retired id re-keys with new text, no id-reuse conflict
        some_id = ids.limit(1).collect()[0]["doc_id"]
        changed = spark.createDataFrame(
            [(some_id, "entirely new text after retirement", "en", "s", 33)],
            DOC_SCHEMA,
        )
        verdicts, n = process_batch(spark, changed, troot)
        assert n == 1
        # the doc's own (id, text) replay self-matches -> NOT a dup
        # (round-7 semantics); a DIFFERENT id with the same text proves
        # the re-keyed signature landed
        v = check_batch(spark, changed, troot).collect()[0]
        assert not v["is_exact_dup"] and v["dup_of"] is None
        probe = spark.createDataFrame(
            [(some_id + 100000, "entirely new text after retirement",
              "en", "s", 33)],
            DOC_SCHEMA,
        )
        p = check_batch(spark, probe, troot).collect()[0]
        assert p["is_exact_dup"] and p["dup_of"] == some_id
    finally:
        for t in ("retire_t_exact", "retire_t_bands"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_retire_ids_rekeys_orphaned_fingerprints(spark, tmp_path):
    """Retiring the CANONICAL holder of a fingerprint whose text still
    lives under another id must re-key the signature to the smallest
    survivor (review finding r5: dropping it outright left live text
    invisible to all future dedup)."""
    from acled_spark.dedup_store import _read_exact, check_batch

    rows = [
        (1, "shared text alpha beta gamma delta epsilon", "en", "s", 40),
        (2, "shared text alpha beta gamma delta epsilon", "en", "s", 40),
        (3, "unique text zeta eta theta iota kappa", "en", "s", 36),
    ]
    docs = spark.createDataFrame(rows, DOC_SCHEMA)
    store = str(tmp_path / "s")
    init_store(docs, store)  # canonical rows: fp(shared)@1, fp(unique)@3
    assert _read_exact(spark, store).count() == 2

    after = docs.filter(F.col("doc_id") != 1)  # release removes doc 1
    ids = spark.createDataFrame([(1,)], "doc_id long")
    net = retire_ids(spark, ids, store, corpus=after)
    assert net == 0  # one removal, one successor re-key

    store_rows = {
        r["doc_id"] for r in _read_exact(spark, store).collect()
    }
    assert store_rows == {2, 3}  # fp(shared) now keyed to survivor 2

    probe = spark.createDataFrame(
        [(9, "shared text alpha beta gamma delta epsilon", "en", "s", 40)],
        DOC_SCHEMA,
    )
    v = check_batch(spark, probe, store).collect()[0]
    assert v["is_exact_dup"] and v["dup_of"] == 2

    # and WITHOUT corpus the re-key is skipped (documented hole): a
    # second store built the same way loses the fingerprint
    store2 = str(tmp_path / "s2")
    init_store(docs, store2)
    retire_ids(spark, ids, store2)
    v2 = check_batch(spark, probe, store2).collect()[0]
    assert not v2["is_exact_dup"]


def test_recover_store_promotes_committed_staging_only(spark, tmp_path):
    """Crash-window healing, reader vs writer contracts (ADVICE r5+r6).
    The retire swaps the whole store root in with one rename; each crash
    state is planted by killing the swap at that step:

    - committed staging next to an INTACT root: readers do NOT clobber
      (a concurrent retire_ids may be mid-swap on those dirs) — only
      the writer's entry call completes the swap;
    - committed staging with the root MISSING (crash between the swap's
      delete and rename): the next read promotes it;
    - uncommitted staging: readers leave it alone, the writer's entry
      call discards its own crash debris."""
    from acled_spark.dedup_store import _read_exact
    from acled_spark.fsutil import heal_dir, staging_path
    from tests.conftest import commit_crash

    # limit(30) takes the file's natural row order, so doc_id < 10 rows
    # are present and retiring them actually shrinks the store
    docs = load(spark, SF_DIR, "documents").select(*DOC_COLS).limit(30)
    store = str(tmp_path / "s")
    staging = staging_path(store)
    init_store(docs, store)
    n0 = _read_exact(spark, store).count()

    # crash AFTER the staging write + commit marker but BEFORE any
    # swap: root is fully intact, so READERS must not touch anything —
    # the writer's delete+rename may be about to run on those dirs
    with commit_crash("delete"):
        retire_ids(spark, docs.filter(F.col("doc_id") < 10), store)
    n_staged = spark.read.parquet(os.path.join(staging, "exact")).count()
    assert heal_dir(spark, store) is False  # no promotion by reader
    assert os.path.exists(staging)  # staging retained for the writer
    assert _read_exact(spark, store).count() == n0  # intact root served

    # the writer's entry call finishes the job: the staged store
    # replaces root and no staging is left behind
    assert heal_dir(spark, store, discard_uncommitted=True) is True
    assert not os.path.exists(staging)
    assert _read_exact(spark, store).count() == n_staged < n0

    # crash INSIDE the swap: root was deleted, its staged replacement
    # not yet renamed — the next read promotes the whole store (rename
    # only, no deletes), both tables at once
    with commit_crash("rename"):
        retire_ids(spark, docs.filter(F.col("doc_id") < 15), store)
    assert not os.path.exists(store)
    n_promoted = _read_exact(spark, store).count()
    assert n_promoted < n_staged
    assert os.path.exists(os.path.join(store, "bands"))
    assert not os.path.exists(staging)
    assert heal_dir(spark, store, discard_uncommitted=True) is False

    # an UNCOMMITTED staging dir (in-progress or crashed write): the
    # read path must NOT touch it — a concurrent retirer may still be
    # writing — and the store serves the intact root tables
    with commit_crash("marker"):
        retire_ids(spark, docs.filter(F.col("doc_id") < 20), store)
    assert heal_dir(spark, store) is False
    assert os.path.exists(staging)  # reader left it alone
    assert _read_exact(spark, store).count() == n_promoted  # unchanged

    # only the writer's own entry call clears its crash debris
    assert heal_dir(spark, store, discard_uncommitted=True) is False
    assert not os.path.exists(staging)
    assert _read_exact(spark, store).count() == n_promoted


def test_corpus_release_api_matches_manual_composition(spark, tmp_path):
    """CorpusRelease.apply runs the five-stage flow in one call and its
    result mirrors what the manual composition above produces."""
    from acled_spark.drift import init_reference
    from acled_spark.release import CorpusRelease

    docs = load(spark, SF_DIR, "documents").select(*DOC_COLS)
    old = docs.filter(F.col("doc_id") % 11 != 3)
    new = docs.filter(F.col("doc_id") % 13 != 5).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" rev2"))
        ).otherwise(F.col("text")),
    )

    store = str(tmp_path / "store")
    ref = str(tmp_path / "ref")
    init_store(old, store)
    init_reference(old, ref, value_col="n_chars", group_col="source", width=200.0)

    rel = CorpusRelease(store, drift_root=ref)
    out = str(tmp_path / "export")
    res = rel.apply(
        spark, old, new, export_path=out, shuffle_seed="r5-test", shards=4
    )

    assert res.status_counts["added"] >= 1
    assert res.status_counts["changed"] >= 1
    assert res.retired > 0
    assert res.manifest_problems == []
    n_dups = res.verdicts.filter(
        F.col("is_exact_dup") | F.col("is_batch_dup")
    ).count()
    n_delta = res.status_counts["added"] + res.status_counts["changed"]
    assert res.appended == n_delta - n_dups
    assert res.exported == res.appended
    import math

    assert res.drift_scores and all(
        math.isfinite(r["psi"]) and r["psi"] >= 0.0 for r in res.drift_scores
    )

    # a second apply of the SAME release is a no-op on the store (the
    # delta is empty once new == old', and retire of absent ids is 0)
    res2 = CorpusRelease(store).apply(spark, new, new)
    assert res2.retired == 0 and res2.appended == 0
    assert set(res2.status_counts) == {"unchanged"}


def test_release_guards_and_export_reconciliation(spark, tmp_path, monkeypatch):
    """ADVICE r5 regression pins: (a) a fresh store root fails fast with
    a bootstrap message, (b) fold_reference demands a unique per-release
    epoch_id, (c) a parse-failing export line surfaces as an
    ``export_rows`` problem instead of silently shrinking the count."""
    import pytest

    import acled_spark.export as export_mod
    from acled_spark.drift import init_reference
    from acled_spark.release import CorpusRelease

    docs = load(spark, SF_DIR, "documents").select(*DOC_COLS).limit(40)
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs

    # (a) never-bootstrapped store → descriptive error, not a parquet
    # stack trace from inside retire_ids
    with pytest.raises(ValueError, match="init_store"):
        CorpusRelease(str(tmp_path / "nostore")).apply(spark, old, new)

    store = str(tmp_path / "store")
    init_store(old, store)

    # (b) moving-baseline policy without a unique release id → the fold
    # replay gate could silently skip a legitimate fold
    ref = str(tmp_path / "ref")
    init_reference(old, ref, value_col="n_chars", group_col="source", width=200.0)
    rel = CorpusRelease(store, drift_root=ref, fold_reference=True)
    with pytest.raises(ValueError, match="epoch_id"):
        rel.apply(spark, old, new)
    res = rel.apply(spark, old, new, epoch_id=1)  # explicit id folds fine
    assert res.appended > 0

    # (c) a dropped/corrupt export line is reported, not absorbed: fake
    # the raw-line audit seeing one parse failure and assert the
    # reconciliation record lands in manifest_problems
    real_audit = export_mod.corrupt_line_audit

    def lying_audit(sp, path, schema):
        row = real_audit(sp, path, schema).collect()[0]
        return sp.createDataFrame(
            [(row["total_lines"], row["corrupt_lines"] + 1)],
            "total_lines long, corrupt_lines long",
        )

    store2 = str(tmp_path / "store2")
    init_store(old, store2)
    monkeypatch.setattr(export_mod, "corrupt_line_audit", lying_audit)
    res2 = CorpusRelease(store2).apply(
        spark, old, new, export_path=str(tmp_path / "exp")
    )
    recs = [p for p in res2.manifest_problems if p["problem"] == "export_rows"]
    assert len(recs) == 1 and recs[0]["corrupt_rows"] == 1
    assert recs[0]["parseable_rows"] == recs[0]["expected_rows"] - 1


def test_removed_then_readded_text_survives_release(spark, tmp_path):
    """Round-7 review: a release that removes doc A and adds doc B with
    the SAME text must export doc B.  retire_ids' orphan re-key can
    pick the ADDED doc as the fingerprint's successor; process_batch
    then sees a store row under B's own id — a self-match, which must
    not classify as an exact dup (it would silently drop a live
    canonical doc from the released corpus)."""
    from acled_spark.export import read_jsonl
    from acled_spark.release import CorpusRelease

    # the test pins doc_id 7 inside its 40-doc corpus, which relies on
    # limit(40) taking the file's natural row order
    docs = load(spark, SF_DIR, "documents").select(*DOC_COLS).limit(40)
    removed = docs.filter(F.col("doc_id") == 7)
    moved_text = removed.first()["text"]
    old = docs
    # new corpus: doc 7 gone, doc 9007 carries 7's exact text
    readd = spark.createDataFrame(
        [(9007, moved_text, removed.first()["lang"],
          removed.first()["source"], removed.first()["n_chars"])],
        docs.schema,
    )
    new = docs.filter(F.col("doc_id") != 7).unionByName(readd)

    store = str(tmp_path / "store")
    init_store(old, store)
    rel = CorpusRelease(store)
    out = str(tmp_path / "export")
    res = rel.apply(spark, old, new, export_path=out, shuffle_seed="r7", shards=2)

    assert res.status_counts.get("removed", 0) == 1
    assert res.status_counts.get("added", 0) == 1
    assert res.manifest_problems == []
    v = {r["doc_id"]: r for r in res.verdicts.collect()}
    assert 9007 in v and not v[9007]["is_exact_dup"]
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in docs.schema.fields
    )
    exported_ids = {
        r["doc_id"] for r in read_jsonl(spark, out, schema).collect()
    }
    assert 9007 in exported_ids  # the re-added canonical doc shipped


def test_release_verification_crash_reports_not_raises(spark, tmp_path, monkeypatch):
    """r8 lens review: by the export-verification stage the signature
    store and drift baseline are already mutated — a codec-level crash
    there must land as a manifest_problems record on the RETURNED
    ReleaseResult (retire/append accounting intact), not lose the whole
    result to a Py4J traceback."""
    from acled_spark import export as export_mod
    from acled_spark.release import CorpusRelease

    docs = load(spark, SF_DIR, "documents").select(*DOC_COLS)
    old = docs.filter(F.col("doc_id") % 11 != 3)
    new = docs

    store = str(tmp_path / "store")
    init_store(old, store)

    def boom(*a, **k):
        raise RuntimeError("audit pass exploded")

    monkeypatch.setattr(export_mod, "corrupt_line_audit", boom)
    res = CorpusRelease(store).apply(
        spark, old, new, export_path=str(tmp_path / "export"), shards=2
    )
    assert res.appended > 0                       # stages 1-3 accounted
    assert res.exported == 0                      # nothing verified
    probs = {p["problem"] for p in res.manifest_problems}
    assert "verification_crashed" in probs
    crash = next(
        p for p in res.manifest_problems
        if p["problem"] == "verification_crashed"
    )
    assert "audit pass exploded" in crash["error"]
