"""Distribution-drift monitoring: PSI against a persisted reference.

The batch face lives in the registry (``drift_psi`` — oracle-checked);
this module is the PRODUCTION shape around the same arithmetic:

- :func:`bin_counts` reduces a frame to its ``(group, bin, n)`` sketch —
  the only thing drift monitoring ever needs to persist (|groups|·bins
  rows, regardless of corpus size);
- :func:`psi_scores` computes per-group PSI between two such sketches —
  pure arithmetic on tiny frames, no rescan of either period;
- :class:`DriftMonitor` is the ``foreachBatch`` face (an
  :class:`acled_spark.streaming.EpochSink`, like
  :class:`acled_spark.dedup_store.DedupMaintainer` and
  :class:`acled_spark.ann.IvfMaintainer`): each micro-batch is scored
  against the persisted reference counts, scores go to a policy hook
  (alert, log, trigger retrain), and the reference can optionally
  absorb the batch so the monitor tracks a moving baseline.  A fold
  commits the batch's stamp as the reference's ``_COMMIT`` marker, so
  a replayed epoch is neither scored nor folded twice.

Scale: a batch is scanned once into its bin sketch; the reference
parquet is |groups|·bins rows.  Nothing else moves.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from acled_spark.fsutil import (
    commit_dir, fs_exists, fs_read_text, fs_write_text, heal_dir, read_stamp,
    staging_path,
)
from acled_spark.streaming import EpochSink

DEFAULT_BINS = 10
DEFAULT_WIDTH = 50.0
#: conventional PSI reading: <0.1 stable, 0.1–0.25 moderate, >0.25 act
PSI_ALERT = 0.1


def bin_counts(
    df: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    n_bins: int = DEFAULT_BINS,
    width: float = DEFAULT_WIDTH,
) -> DataFrame:
    """``(group, bin, n)`` sketch of a frame's value distribution.

    Fixed-width bins with edge clamping; NULL values clamp into bin 0
    (Spark's GREATEST skips NULL inputs, so the 0 floor survives),
    matching the ``drift_psi`` oracle.  The int cast runs AFTER the
    clamp: floor() yields a long, and casting it first meant one value
    past 2^31·width either aborted the job (ANSI CAST_OVERFLOW, the
    session default) or wrapped negative and read a right-shifted
    distribution as mass in bin 0 — confirmed by execution, r7 review.
    """
    return (
        df.select(
            F.col(group_col).alias("group"),
            F.least(
                F.lit(n_bins - 1),
                F.greatest(F.lit(0), F.floor(F.col(value_col) / width)),
            )
            .cast("int")
            .alias("bin"),
        )
        .groupBy("group", "bin")
        .agg(F.count("*").alias("n"))
    )


def psi_scores(old_counts: DataFrame, new_counts: DataFrame, n_bins: int = DEFAULT_BINS) -> DataFrame:
    """Per-group PSI between two ``bin_counts`` sketches.

    PSI = Σ_bins (p_new - p_old)·ln(p_new/p_old) with Laplace smoothing
    ((n_b + 0.5)/(n_t + bins/2)), every bin of every group present
    (grid completion over the UNION of groups — a group seen in only
    one sketch still scores, maximally drifted).  Output:
    ``(group, n_old, n_new, psi, drifted)``.
    """
    old = old_counts.select(
        F.col("group").alias("g_old"),
        F.col("bin").alias("b_old"),
        F.col("n").alias("n_old_b"),
    )
    new = new_counts.select(
        F.col("group").alias("g_new"),
        F.col("bin").alias("b_new"),
        F.col("n").alias("n_new_b"),
    )
    merged = (
        # null-safe on group: a NULL group key (upstream regression
        # blanking the dimension) must still merge and score, not fall
        # out of a usingColumns join and report psi=0 for exactly the
        # population that changed
        old.join(
            new,
            F.col("g_old").eqNullSafe(F.col("g_new"))
            & (F.col("b_old") == F.col("b_new")),
            "full_outer",
        )
        .select(
            F.coalesce("g_old", "g_new").alias("group"),
            F.coalesce("b_old", "b_new").alias("bin"),
            F.coalesce("n_old_b", F.lit(0)).alias("n_old_b"),
            F.coalesce("n_new_b", F.lit(0)).alias("n_new_b"),
        )
        # tiny (|groups|·bins); materialized so grid completion derives
        # the group domain without re-running either input's lineage
        .localCheckpoint()
    )
    # Grid-domain guard (round-7 review): a sketch persisted with MORE
    # bins than this call's n_bins would have its tail bins silently
    # excluded by the grid left-join — wrong totals, plausible-looking
    # PSI.  One cheap action on the materialized tiny frame.
    out_of_grid = merged.filter(F.col("bin") >= n_bins).count()
    if out_of_grid:
        raise ValueError(
            f"{out_of_grid} sketch row(s) carry bin >= n_bins ({n_bins}): "
            "the sketches were built with a different binning than this "
            "scoring call — align n_bins/width (see init_reference's "
            "_BIN_CONFIG sidecar)"
        )
    return psi_from_merged(merged, n_bins)


def psi_from_merged(merged: DataFrame, n_bins: int = DEFAULT_BINS) -> DataFrame:
    """PSI from an already-materialized ``(group, bin, n_old_b,
    n_new_b)`` frame — the arithmetic core shared by :func:`psi_scores`
    and the oracle-checked ``drift_psi`` registry query (which derives
    the merged frame in a single corpus scan)."""
    grid = merged.select("group").distinct().select(
        "group", F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias("bin")
    )
    # null-safe on group so a NULL group's counts attach to its grid
    # rows instead of being zero-filled away (bin is never NULL: the
    # binner clamps NULL values into bin 0)
    filled = grid.alias("g").join(
        merged.alias("m"),
        F.col("g.group").eqNullSafe(F.col("m.group"))
        & (F.col("g.bin") == F.col("m.bin")),
        "left",
    ).select(
        F.col("g.group").alias("group"),
        F.col("g.bin").alias("bin"),
        F.coalesce("m.n_old_b", F.lit(0)).alias("n_old_b"),
        F.coalesce("m.n_new_b", F.lit(0)).alias("n_new_b"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("group")
    smooth = float(n_bins) / 2.0
    probs = filled.select(
        "group",
        "n_new_b",
        "n_old_b",
        F.sum("n_old_b").over(w).cast("long").alias("n_old_t"),
        F.sum("n_new_b").over(w).cast("long").alias("n_new_t"),
    )
    p_new = (F.col("n_new_b") + 0.5) / (F.col("n_new_t") + smooth)
    p_old = (F.col("n_old_b") + 0.5) / (F.col("n_old_t") + smooth)
    psi = F.round(F.sum((p_new - p_old) * F.log(p_new / p_old)), 4)
    return (
        probs.groupBy("group")
        .agg(
            F.max("n_old_t").alias("n_old"),
            F.max("n_new_t").alias("n_new"),
            psi.alias("psi"),
            (psi >= PSI_ALERT).alias("drifted"),
        )
        .orderBy("group")
    )


_BIN_CONFIG_MARKER = "_BIN_CONFIG"


def init_reference(
    df: DataFrame,
    root: str,
    value_col: str = "value",
    group_col: str = "event_type",
    n_bins: int = DEFAULT_BINS,
    width: float = DEFAULT_WIDTH,
) -> None:
    """Materialize the reference sketch for a baseline corpus/period.

    The binning config rides along as an underscore sidecar (invisible
    to the parquet reader): a sketch's counts are only comparable under
    the SAME (n_bins, width), and a monitor constructed with different
    values would silently bias PSI (bins past its grid drop out of the
    totals — round-7 review), so :class:`DriftMonitor` validates
    against this record before scoring.
    """
    bin_counts(df, value_col, group_col, n_bins, width).write.mode(
        "overwrite"
    ).parquet(root)
    fs_write_text(
        df.sparkSession,
        posixpath.join(root, _BIN_CONFIG_MARKER),
        f"{n_bins}:{width!r}",
    )


class DriftMonitor(EpochSink):
    """``foreachBatch`` face: score each micro-batch's distribution
    against the persisted reference sketch::

        mon = DriftMonitor(root, on_scores=alert_fn)
        stream.writeStream.foreachBatch(mon).start()

    ``on_scores`` receives the per-group PSI frame each batch (route to
    alerting, metrics, a retrain trigger — the pipeline's policy, not
    the monitor's).  With ``update_reference=True`` the batch's counts
    fold into the reference after scoring, so the baseline tracks the
    stream (drift then means "new batch vs everything seen", the
    moving-baseline policy); default keeps the reference frozen (drift
    means "vs the blessed baseline", the release-gate policy).  An idle
    (empty) batch is skipped: its sketch would read every reference
    group as maximally drifted (n_new_t=0 → uniform p_new).
    """

    def __init__(
        self,
        root: str,
        value_col: str = "value",
        group_col: str = "event_type",
        n_bins: int = DEFAULT_BINS,
        width: float = DEFAULT_WIDTH,
        on_scores=None,
        update_reference: bool = False,
    ):
        self.root = root
        self.value_col = value_col
        self.group_col = group_col
        self.n_bins = n_bins
        self.width = width
        self.on_scores = on_scores
        self.update_reference = update_reference

    def _check_reference_config(self, spark) -> None:
        """Fail fast when the persisted reference was built under a
        DIFFERENT (n_bins, width) than this monitor: the grids would
        disagree and bins past the monitor's grid silently drop out of
        the PSI totals (round-7 review).  References persisted before
        the sidecar existed skip the check (nothing to compare)."""
        marker = posixpath.join(self.root, _BIN_CONFIG_MARKER)
        if not fs_exists(spark, marker):
            return
        recorded = fs_read_text(spark, marker).strip()
        mine = f"{self.n_bins}:{self.width!r}"
        if recorded != mine:
            raise ValueError(
                f"drift reference at {self.root!r} was built with "
                f"(n_bins:width) = {recorded} but this monitor uses "
                f"{mine}; rebuild the reference (init_reference) or "
                "construct the monitor with the recorded binning — "
                "mismatched grids silently bias PSI"
            )

    def heal(self, spark) -> None:
        # The reader form suffices: a stale staging next to an intact
        # root is replaced by the next fold's mode("overwrite") write
        heal_dir(spark, self.root)

    def last_stamp(self, spark) -> str | None:
        # a replayed epoch after a post-fold crash: the reference already
        # ABSORBED the batch, so scoring it again would compare the batch
        # against a baseline containing itself — PSI reads near-zero and
        # an epoch-keyed alert sink would overwrite the original (true)
        # reading with a spurious all-clear (r7 review).  A frozen
        # reference commits nothing, so every delivery scores.
        return read_stamp(spark, self.root) if self.update_reference else None

    def fold(self, batch_df: DataFrame, stamp: str) -> None:
        spark = batch_df.sparkSession
        self._check_reference_config(spark)
        new = bin_counts(
            batch_df, self.value_col, self.group_col, self.n_bins, self.width
        ).localCheckpoint()  # one batch scan, shared by score + fold
        old = spark.read.parquet(self.root)
        scores = psi_scores(old, new, self.n_bins).localCheckpoint()
        if self.on_scores is not None:
            self.on_scores(scores)
        if self.update_reference:
            staging = staging_path(self.root)
            merged = (
                old.unionByName(new)
                .groupBy("group", "bin")
                .agg(F.sum("n").alias("n"))
                # sever the reference-read lineage before replacing it
                .localCheckpoint()
            )
            # stage-then-swap: a crash mid-fold must never destroy the
            # accumulated baseline (an in-place overwrite deletes the
            # old reference before the new one is committed).  The
            # stamp is the staging dir's _COMMIT marker, so it swaps in
            # atomically with the data: foreachBatch is at-least-once,
            # and a replayed epoch folding its counts a SECOND time
            # would permanently double-count those bins and bias every
            # future PSI low.
            merged.write.mode("overwrite").parquet(staging)
            # the binning-config sidecar must ride the swap too — the
            # staging dir replaces root WHOLESALE, and losing the
            # record would disable the grid-mismatch check for every
            # reference that has ever folded a batch
            fs_write_text(
                spark,
                posixpath.join(staging, _BIN_CONFIG_MARKER),
                f"{self.n_bins}:{self.width!r}",
            )
            commit_dir(spark, staging, self.root, stamp)
