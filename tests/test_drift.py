"""DriftMonitor lifecycle: reference init, per-batch PSI scoring,
shifted-distribution alarm, moving-baseline fold.

The PSI arithmetic itself is oracle-checked via the ``drift_psi``
registry query (test_parity); these tests pin the production face
around it.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from acled_spark.drift import DriftMonitor, bin_counts, init_reference, psi_scores
from acled_spark.tables import load

# sf0.01, not the suite default sf0.001: PSI is a statistical measure,
# and ~100 events per (group, half) puts sampling noise at the 0.1-0.3
# level — the "same distribution" assertion needs ~1000 per group
SF_DIR = "/root/testdata/sf0.01"


def _halves(spark):
    ev = load(spark, SF_DIR, "events")
    return ev.filter(F.col("event_id") % 2 == 0), ev.filter(
        F.col("event_id") % 2 == 1
    )


def test_same_distribution_scores_stable(spark, tmp_path):
    ref, batch = _halves(spark)
    root = str(tmp_path / "ref")
    init_reference(ref, root)
    mon_scores = []
    mon = DriftMonitor(root, on_scores=lambda s: mon_scores.append(s.collect()))
    mon(batch, epoch_id=0)
    assert mon.batches_applied == 1
    rows = {r["group"]: r for r in mon_scores[0]}
    assert set(rows) == {"click", "error", "purchase", "signup", "view"}
    assert all(not r["drifted"] for r in rows.values())
    assert all(r["psi"] < 0.05 for r in rows.values())


def test_shifted_distribution_raises_alarm(spark, tmp_path):
    ref, batch = _halves(spark)
    root = str(tmp_path / "ref")
    init_reference(ref, root)
    shifted = batch.withColumn("value", F.col("value") + 200.0)
    scores = {
        r["group"]: r
        for r in psi_scores(bin_counts(ref), bin_counts(shifted)).collect()
    }
    assert all(r["drifted"] for r in scores.values())
    assert all(r["psi"] > 0.25 for r in scores.values())


def test_group_only_in_batch_scores_maximally(spark, tmp_path):
    ref, batch = _halves(spark)
    novel = batch.withColumn("event_type", F.lit("brand-new-type"))
    scores = {
        r["group"]: r
        for r in psi_scores(bin_counts(ref), bin_counts(novel)).collect()
    }
    # reference groups with an empty batch side AND the unseen batch
    # group must all still produce rows (grid over the group union)
    assert "brand-new-type" in scores
    assert scores["brand-new-type"]["n_old"] == 0
    assert scores["brand-new-type"]["drifted"]


def test_moving_baseline_folds_batch_counts(spark, tmp_path):
    ref, batch = _halves(spark)
    root = str(tmp_path / "ref")
    init_reference(ref, root)
    n_ref = ref.count()
    mon = DriftMonitor(root, update_reference=True)
    mon(batch, epoch_id=0)
    folded = spark.read.parquet(root)
    assert folded.agg(F.sum("n")).collect()[0][0] == n_ref + batch.count()
    # a replay of the same batch against the GROWN reference still scores
    mon(batch, epoch_id=1)
    assert mon.batches_applied == 2


def test_null_group_counts_merge_and_score(spark):
    """A NULL group key (upstream regression blanking the dimension)
    must merge across sketches and score — not fall out of the joins
    and read as psi=0/n=0 for exactly the population that changed."""
    old = spark.createDataFrame(
        [(None, 10.0)] * 40 + [("click", 10.0)] * 40,
        "event_type string, value double",
    )
    new = spark.createDataFrame(
        [(None, 10.0)] * 60 + [("click", 10.0)] * 20,
        "event_type string, value double",
    )
    rows = {r["group"]: r for r in psi_scores(bin_counts(old), bin_counts(new)).collect()}
    assert None in rows
    assert rows[None]["n_old"] == 40 and rows[None]["n_new"] == 60
    # identical value distribution within the group -> stable psi
    assert rows[None]["psi"] < 0.05
    assert rows["click"]["n_old"] == 40 and rows["click"]["n_new"] == 20


def test_empty_batch_is_skipped(spark, tmp_path):
    """Zero-row micro-batches (idle trigger intervals) must not score:
    an empty sketch reads every reference group as maximally drifted."""
    ref, _ = _halves(spark)
    root = str(tmp_path / "ref")
    init_reference(ref, root)
    fired = []
    mon = DriftMonitor(root, on_scores=fired.append, update_reference=True)
    mon(ref.filter(F.lit(False)), epoch_id=0)
    assert fired == [] and mon.batches_applied == 0
    # reference untouched by the skipped fold
    assert spark.read.parquet(root).agg(F.sum("n")).collect()[0][0] == ref.count()


def test_staging_recovery_after_crash(spark, tmp_path):
    """A crash between the reference delete and the staging rename must
    be recoverable: the next batch promotes the completed staging fold."""
    import os

    from acled_spark.fsutil import staging_path
    from tests.conftest import commit_crash

    ref, batch = _halves(spark)
    root = str(tmp_path / "ref")
    init_reference(ref, root)
    mon = DriftMonitor(root, update_reference=True)
    # the crash window: reference deleted, committed staging complete
    with commit_crash("rename"):
        mon(batch, epoch_id=0)
    assert not os.path.exists(root)
    total = (
        spark.read.parquet(staging_path(root)).agg(F.sum("n")).collect()[0][0]
    )
    assert total == ref.count() + batch.count()
    fired = []
    mon2 = DriftMonitor(root, on_scores=fired.append, update_reference=True)
    mon2(batch, epoch_id=1)
    assert len(fired) == 1  # scored against the recovered reference
    assert (
        spark.read.parquet(root).agg(F.sum("n")).collect()[0][0]
        == total + batch.count()
    )


def test_drift_monitor_over_real_stream(spark, tmp_path):
    """Production wiring e2e: readStream file source -> foreachBatch
    (DriftMonitor) with availableNow — scores fire, the moving baseline
    folds the streamed counts, and a checkpointed replay with no new
    files scores nothing."""
    import os

    ref, batch = _halves(spark)
    root = str(tmp_path / "ref")
    init_reference(ref, root)
    src = os.path.join(str(tmp_path), "src")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    batch.write.mode("append").parquet(src)

    fired = []
    mon = DriftMonitor(root, on_scores=lambda s: fired.append(s.collect()),
                       update_reference=True)

    def run():
        q = (
            spark.readStream.schema(batch.schema).parquet(src)
            .writeStream.foreachBatch(mon)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert len(fired) == 1
    assert {r["group"] for r in fired[0]} == {
        "click", "error", "purchase", "signup", "view"
    }
    folded = spark.read.parquet(root)
    assert folded.agg(F.sum("n")).collect()[0][0] == ref.count() + batch.count()

    # replay with no new files: the checkpoint yields no batch to score
    run()
    assert len(fired) == 1


def test_fresh_checkpoint_epoch_zero_still_folds(spark, tmp_path):
    """A stream started on a FRESH checkpoint dir numbers its epochs
    from 0 again.  Its epoch 0 is a new query's batch, not a replay of
    the old query's epoch 0, so it scores and folds even when its
    counts equal the first one's: the stamp keys on Spark's query id
    plus the epoch id."""
    base = spark.createDataFrame(
        [("a", float(v)) for v in (10, 60, 110, 160)],
        "event_type string, value double",
    )
    root = str(tmp_path / "ref")
    init_reference(base, root)
    batch = spark.createDataFrame(
        [("a", 10.0), ("a", 60.0)], "event_type string, value double"
    )
    fired = []
    mon = DriftMonitor(root, update_reference=True, on_scores=fired.append)
    for run in ("one", "two"):
        src = str(tmp_path / f"src-{run}")
        batch.write.parquet(src)
        q = (
            spark.readStream.schema(batch.schema).parquet(src)
            .writeStream.foreachBatch(mon)
            .option("checkpointLocation", str(tmp_path / f"ckpt-{run}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    assert len(fired) == 2 and mon.batches_applied == 2
    assert spark.read.parquet(root).agg(F.sum("n")).collect()[0][0] == 8


def test_moving_baseline_fold_is_epoch_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a replayed epoch must NOT fold its
    counts into the reference a second time (double-counted bins would
    bias every future PSI low).  The epoch marker swaps in atomically
    with the staged reference."""
    from acled_spark.drift import DriftMonitor, init_reference

    ref = str(tmp_path / "ref")
    base = spark.createDataFrame(
        [("a", float(v)) for v in (10, 60, 110, 160)],
        "event_type string, value double",
    )
    init_reference(base, ref)
    fired = []
    mon = DriftMonitor(
        ref, update_reference=True, on_scores=lambda s: fired.append(s.collect())
    )
    batch = spark.createDataFrame(
        [("a", 10.0), ("a", 60.0)], "event_type string, value double"
    )
    mon(batch, epoch_id=7)
    n_after_first = (
        spark.read.parquet(ref).agg(F.sum("n").alias("s")).collect()[0]["s"]
    )
    assert n_after_first == 6  # 4 baseline + 2 folded

    # replay of the SAME epoch: neither folded NOR re-scored (r7 review:
    # the post-fold reference already contains the batch, so a replay
    # score compares the batch against itself — a biased-low duplicate
    # reading that an epoch-keyed sink would record over the true one)
    mon(batch, epoch_id=7)
    assert len(fired) == 1
    n_after_replay = (
        spark.read.parquet(ref).agg(F.sum("n").alias("s")).collect()[0]["s"]
    )
    assert n_after_replay == 6

    # the next epoch folds normally
    mon(batch, epoch_id=8)
    assert (
        spark.read.parquet(ref).agg(F.sum("n").alias("s")).collect()[0]["s"]
        == 8
    )


def test_mismatched_binning_config_raises(spark, tmp_path):
    """Round-7 review: a monitor constructed with different
    (n_bins, width) than the persisted reference must fail fast — the
    grid join would silently drop the reference's tail bins from the
    PSI totals."""
    import pytest

    ref, batch = _halves(spark)
    root = str(tmp_path / "ref")
    init_reference(ref, root, n_bins=20)
    mon = DriftMonitor(root, n_bins=10)
    with pytest.raises(ValueError, match="n_bins:width"):
        mon(batch, epoch_id=0)
    # matching config scores fine
    ok = DriftMonitor(root, n_bins=20)
    ok(batch, epoch_id=0)
    assert ok.batches_applied == 1


def test_psi_scores_rejects_out_of_grid_bins(spark):
    """Direct psi_scores misuse (sketches from a wider binning than the
    call's n_bins) raises instead of silently excluding tail bins."""
    import pytest

    a = spark.createDataFrame(
        [("g", 0, 5), ("g", 12, 7)], "group string, bin int, n long"
    )
    b = spark.createDataFrame([("g", 1, 6)], "group string, bin int, n long")
    with pytest.raises(ValueError, match="bin >= n_bins"):
        psi_scores(a, b, n_bins=10)


def test_fold_preserves_binning_config_sidecar(spark, tmp_path):
    """The staged fold replaces the reference dir WHOLESALE — the
    binning-config sidecar must survive the swap or the mismatch check
    dies after the first fold."""
    import os

    ref, batch = _halves(spark)
    root = str(tmp_path / "ref")
    init_reference(ref, root, n_bins=10)
    mon = DriftMonitor(root, n_bins=10, update_reference=True)
    mon(batch, epoch_id=0)
    assert os.path.exists(os.path.join(root, "_BIN_CONFIG"))
    # and the check still fires post-fold
    import pytest

    bad = DriftMonitor(root, n_bins=5, update_reference=True)
    with pytest.raises(ValueError, match="n_bins:width"):
        bad(batch, epoch_id=1)


def test_crash_recovery_heals_even_when_stream_is_idle(spark, tmp_path):
    """Round-7 review: recovery must run BEFORE the empty-batch guard —
    a crash mid-swap followed by a quiet stream otherwise leaves the
    reference missing until data happens to arrive."""
    import os

    from tests.conftest import commit_crash

    ref, batch = _halves(spark)
    root = str(tmp_path / "ref")
    init_reference(ref, root)
    mon = DriftMonitor(root, update_reference=True)
    with commit_crash("rename"):  # crash window: root gone
        mon(batch, epoch_id=0)
    assert not os.path.exists(root)
    mon(ref.filter(F.lit(False)), epoch_id=1)  # idle batch
    assert mon.batches_applied == 0  # still skipped scoring
    assert os.path.exists(root)  # but the reference was healed


def test_bin_counts_survives_huge_values(spark):
    """r7 review (confirmed by execution): the int cast ran BEFORE the
    clamp, so one value past 2^31·width aborted the job under ANSI mode
    (CAST_OVERFLOW) — or, ANSI off, wrapped negative and read a
    right-shifted distribution as mass in bin 0."""
    from acled_spark.drift import bin_counts

    df = spark.createDataFrame(
        [("a", 2.0e11), ("a", 10.0), ("a", None)],
        "event_type string, value double",
    )
    rows = {r["bin"]: r["n"] for r in bin_counts(df).collect()}
    assert rows == {9: 1, 0: 2}  # huge -> TOP bin; NULL still clamps to 0
