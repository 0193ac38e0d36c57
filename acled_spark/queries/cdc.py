"""Corpus snapshot diff (CDC) — what changed between two corpus versions.

An incremental 100-TB pipeline never re-processes the whole corpus per
release; it diffs the new snapshot against the previous one and routes
only the delta (added / changed docs) into dedup, quality scoring, and
packing, while tombstoning removed docs.  The diff itself must not
compare text: both sides reduce to ``(doc_id, source, fingerprint)`` at
the scan, so the full-outer join moves ~50 bytes/doc regardless of
document size — the same digest-only discipline as
:mod:`acled_spark.dedup_store`.

``snapshot_diff`` is the reusable two-frame API; the registered
``cdc_snapshot_diff`` query derives deterministic old/new snapshots from
the static test corpus (modulus-picked deletes, adds, and edits) so the
semantics sit behind the DuckDB oracle gate.

Ref parity: the reference pipeline re-ingests day partitions and
upserts (assets/base_assets.py) but has no snapshot-level diff; this
extends the LLM-pipeline surface (SURVEY.md extended ops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from acled_spark.queries.text import FINGERPRINT_SQL, fingerprint_spark
from acled_spark.registry import query
from acled_spark.tables import load


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Per-document change status between two corpus snapshots.

    Inputs need ``doc_id``, ``source``, ``text``; output is one row per
    doc_id present in either snapshot with ``status`` in
    ``added | removed | changed | unchanged`` (text compared via the
    whitespace/case-normalized fingerprint, so formatting-only edits are
    ``unchanged`` — exactly the docs downstream dedup would not re-key).

    Plan shape: each side is a narrow scan-side projection to
    ``(doc_id, source, fp)``; the only exchange is the full-outer join
    keyed on doc_id.  Text never shuffles.
    """
    # presence is a dedicated flag, NOT fingerprint-null-ness: a NULL
    # text fingerprints to NULL, and testing the fp would misreport a
    # NULL-text doc present in both snapshots (or only the old one) as
    # "added"
    o = old.select(
        "doc_id",
        F.col("source").alias("src_old"),
        fingerprint_spark(F.col("text")).alias("old_fp"),
        F.lit(True).alias("in_old"),
    )
    n = new.select(
        "doc_id",
        F.col("source").alias("src_new"),
        fingerprint_spark(F.col("text")).alias("new_fp"),
        F.lit(True).alias("in_new"),
    )
    return o.join(n, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce("src_new", "src_old").alias("source"),
        F.when(F.col("in_old").isNull(), "added")
        .when(F.col("in_new").isNull(), "removed")
        .when(F.col("old_fp").eqNullSafe(F.col("new_fp")), "unchanged")
        .otherwise("changed")
        .alias("status"),
    )


# Deterministic snapshot simulation over the static corpus: doc_id≡3
# (mod 11) rows are missing from OLD (they read as "added"), doc_id≡5
# (mod 13) rows are missing from NEW ("removed"), and doc_id≡0 (mod 7)
# rows carry an appended revision marker in NEW ("changed" — appended,
# not case-flipped, because the fingerprint normalizes case).
_NEW_TEXT_SQL = "CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END"
_NEW_FP_SQL = FINGERPRINT_SQL.replace("(text,", f"(({_NEW_TEXT_SQL}),")


@query(
    "cdc_snapshot_diff",
    oracle=f"""
    WITH old AS (
      SELECT doc_id, source, {FINGERPRINT_SQL} AS old_fp, TRUE AS in_old
      FROM documents WHERE doc_id % 11 <> 3
    ),
    new AS (
      SELECT doc_id, source, {_NEW_FP_SQL} AS new_fp, TRUE AS in_new
      FROM documents WHERE doc_id % 13 <> 5
    ),
    diff AS (
      -- presence keyed on explicit join-side flags, mirroring the
      -- builder (ADVICE r4 #1): a NULL text fingerprints to NULL, so
      -- fp-NULL-ness would misreport a NULL-text doc as 'added';
      -- old_fp IS NOT DISTINCT FROM new_fp matches eqNullSafe
      SELECT COALESCE(new.source, old.source) AS source,
             CASE WHEN in_old IS NULL THEN 'added'
                  WHEN in_new IS NULL THEN 'removed'
                  WHEN old_fp IS NOT DISTINCT FROM new_fp THEN 'unchanged'
                  ELSE 'changed' END AS status
      FROM old FULL JOIN new USING (doc_id)
    )
    SELECT status, source, COUNT(*) AS n_docs
    FROM diff GROUP BY status, source ORDER BY status, source
    """,
    tags=("cdc", "incremental", "extended"),
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change census between two simulated corpus snapshots: counts per
    (status, source) from :func:`snapshot_diff` over modulus-derived
    old/new versions of the documents table.

    Scale: two scans of the corpus (one per snapshot), each reduced to
    digests scan-side; one doc_id-keyed exchange; the census rollup is
    (status, source)-sized.  At 100 TB the join can be made
    exchange-free entirely by storing snapshots bucketed by doc_id —
    same recipe as the dedup signature store's ``table:`` backend.
    """
    docs = load(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 11 != 3)
    new = docs.filter(F.col("doc_id") % 13 != 5).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" rev2"))
        ).otherwise(F.col("text")),
    )
    return (
        snapshot_diff(old, new)
        .groupBy("status", "source")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("status", "source")
    )


@query(
    "release_delta_audit",
    oracle=f"""
    WITH old AS (
      SELECT doc_id, source, {FINGERPRINT_SQL} AS fp
      FROM documents WHERE doc_id % 11 <> 3
    ),
    new AS (
      SELECT doc_id, source, {_NEW_FP_SQL} AS fp, TRUE AS in_new
      FROM documents WHERE doc_id % 13 <> 5
    ),
    diff AS (
      SELECT doc_id,
             CASE WHEN old.doc_id IS NULL THEN 'added'
                  WHEN new.doc_id IS NULL THEN 'removed'
                  WHEN old.fp IS NOT DISTINCT FROM new.fp THEN 'unchanged'
                  ELSE 'changed' END AS status
      FROM old FULL JOIN new USING (doc_id)
    ),
    delta AS (
      SELECT n.doc_id, n.fp, d.status,
             COALESCE(n.fp, 'null:' || CAST(n.doc_id AS VARCHAR)) AS k
      FROM new n JOIN diff d USING (doc_id)
      WHERE d.status IN ('added', 'changed')
    ),
    keep_fps AS (
      SELECT DISTINCT fp FROM old
      WHERE fp IS NOT NULL
        AND doc_id NOT IN (SELECT doc_id FROM diff
                           WHERE status IN ('changed', 'removed'))
    ),
    canon AS (SELECT k, MIN(doc_id) AS canon_id FROM delta GROUP BY k),
    flagged AS (
      SELECT d.status,
             COALESCE(d.fp IN (SELECT fp FROM keep_fps), FALSE) AS dup_vs_corpus,
             d.doc_id <> c.canon_id AS noncanon
      FROM delta d JOIN canon c USING (k)
    )
    SELECT status,
           COUNT(*) AS n_docs,
           COUNT(CASE WHEN dup_vs_corpus THEN 1 END) AS n_dup_vs_corpus,
           COUNT(CASE WHEN NOT dup_vs_corpus AND noncanon THEN 1 END)
             AS n_batch_dup,
           COUNT(CASE WHEN NOT dup_vs_corpus AND NOT noncanon THEN 1 END)
             AS n_survivors
    FROM flagged GROUP BY status ORDER BY status
    """,
    tags=("cdc", "dedup", "incremental", "extended"),
)
def release_delta_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-release dedup audit as ONE oracle-gated query:
    the added|changed delta classified against the post-retirement
    corpus fingerprint set — the batch-global twin of the store flow
    (``retire_ids(changed ∪ removed, corpus=new)`` →
    ``process_batch(delta)``) that tests/test_release_e2e.py drives
    incrementally.

    Per delta status: docs whose text already exists in the retained
    corpus (``n_dup_vs_corpus``), non-canonical duplicates WITHIN the
    delta (``n_batch_dup``, min-doc_id survivor policy; NULL-text docs
    key per-doc so they can never collapse onto one group), and the
    survivors the release would actually append/export.

    Scale: both snapshots reduce to (doc_id, fp) at the scan; the
    retained-fp set is one distinct digest per unique retained doc —
    CORPUS-scaled, so it is NOT broadcast (a forced broadcast of a
    per-doc frame is the driver-OOM shape dedup.py refuses for sizes);
    the fp join shuffles 32-hex digests and AQE downgrades it to a
    broadcast on its own when the delta run is small.  Every join keys
    on doc_id or a digest — text never shuffles, same discipline as
    ``snapshot_diff``.
    """
    docs = load(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 11 != 3)
    new = docs.filter(F.col("doc_id") % 13 != 5).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" rev2"))
        ).otherwise(F.col("text")),
    )
    # materialized lazily: `delta` and `retire` both consume the diff,
    # and without the checkpoint the full-outer fingerprint join over
    # both snapshot scans would execute twice (ReuseExchange does not
    # dedupe the differently-filtered consumers).  Unchanged rows are
    # FILTERED OUT before the checkpoint (r8 scale lens): neither
    # consumer reads them, and on a routine 1%-delta release they are
    # ~99% of the corpus — materializing them to executor disk bought
    # nothing.
    diff = (
        snapshot_diff(old, new)
        .select("doc_id", "status")
        .filter(F.col("status") != "unchanged")
        .localCheckpoint(eager=False)
    )
    # Fingerprints are projected SCAN-SIDE, before any join (r8 scale
    # lens): joining the raw snapshots on doc_id first put the full
    # TEXT column under the shuffle whenever the delta is too large for
    # AQE to broadcast (first release / major re-crawl — the exact
    # corpus-text-on-the-wire shape this module's docstring forbids);
    # with the projection the joins move 32-hex digests only, same
    # discipline as snapshot_diff itself.
    new_fp = new.select(
        "doc_id", fingerprint_spark(F.col("text")).alias("fp")
    )
    old_fp = old.select(
        "doc_id", fingerprint_spark(F.col("text")).alias("fp")
    )
    delta = new_fp.join(
        diff.filter(F.col("status").isin("added", "changed")),
        "doc_id",
    ).withColumn(
        "k",
        F.coalesce(
            "fp", F.concat(F.lit("null:"), F.col("doc_id").cast("string"))
        ),
    )
    retire = diff.filter(F.col("status").isin("changed", "removed")).select(
        "doc_id"
    )
    keep_fps = (
        old_fp.join(retire, "doc_id", "left_anti")
        .select("fp")
        .filter(F.col("fp").isNotNull())
        .distinct()
        .withColumn("_in_corpus", F.lit(True))
    )
    canon = delta.groupBy("k").agg(F.min("doc_id").alias("canon_id"))
    flagged = (
        delta.join(keep_fps, "fp", "left")
        .join(canon, "k")
        .select(
            "status",
            F.coalesce("_in_corpus", F.lit(False)).alias("dup_vs_corpus"),
            (F.col("doc_id") != F.col("canon_id")).alias("noncanon"),
        )
    )
    return (
        flagged.groupBy("status")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("dup_vs_corpus"), 1)).alias("n_dup_vs_corpus"),
            F.count(
                F.when(~F.col("dup_vs_corpus") & F.col("noncanon"), 1)
            ).alias("n_batch_dup"),
            F.count(
                F.when(~F.col("dup_vs_corpus") & ~F.col("noncanon"), 1)
            ).alias("n_survivors"),
        )
        .orderBy("status")
    )
