"""Incremental corpus release — the composed 100-TB operating story as
ONE product API.

``tests/test_release_e2e.py`` proves the composition; this module is
what a user actually calls per corpus release::

    rel = CorpusRelease(store_root, drift_root)
    result = rel.apply(spark, old_docs, new_docs,
                       export_path="s3a://.../release-42",
                       shuffle_seed="release-42")

One ``apply`` runs the five stages in order, each scale-shaped as its
underlying operator documents:

1. **diff** — :func:`acled_spark.queries.cdc.snapshot_diff` (digest-only
   full-outer join; text never shuffles);
2. **retire** — :func:`acled_spark.dedup_store.retire_ids` for
   changed ∪ removed ids, with ``corpus=new`` so fingerprints whose
   canonical holder left re-key to a surviving doc;
3. **dedup** — :func:`acled_spark.dedup_store.process_batch` classifies
   the added ∪ changed delta against the store and appends survivors'
   signatures (one signature computation);
4. **drift gate** — :class:`acled_spark.drift.DriftMonitor` scores the
   delta's distribution against the persisted reference (optionally
   folding it in);
5. **export** — the deduped delta ships as seeded-shuffled JSONL with a
   content-digest manifest (:func:`acled_spark.export.write_jsonl` +
   ``write_manifest``), verified before the result returns.

Only DELTA documents flow past stage 1 — nothing rescans the unchanged
corpus (the store check joins digests; the drift gate reduces the batch
to a bin sketch; the export writes survivors only).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class ReleaseResult:
    """What one release did, for the run log / downstream triggers.

    ``exported`` counts the rows that PARSE back off disk;
    ``manifest_problems`` additionally carries an ``export_rows``
    record whenever that count disagrees with the survivor set that was
    handed to the writer (or any line fails to parse) — the
    round-trip-completeness gate a manifest alone can't provide, since
    the manifest is derived from the same on-disk bytes it verifies.
    """

    status_counts: dict[str, int]
    retired: int
    appended: int
    exported: int
    drift_scores: list
    manifest_problems: list
    verdicts: DataFrame = field(repr=False)


class CorpusRelease:
    """Reusable release runner bound to a signature store and a drift
    reference (both persisted between releases).

    ``drift_value_col``/``drift_group_col`` choose the monitored
    distribution (defaults: document length per source);
    ``fold_reference=True`` makes the drift baseline track releases
    (moving-baseline policy).  Pass ``drift_root=None`` to skip the
    gate (e.g. first release, before a blessed baseline exists).
    """

    def __init__(
        self,
        store_root: str,
        drift_root: str | None = None,
        drift_value_col: str = "n_chars",
        drift_group_col: str = "source",
        drift_width: float = 200.0,
        fold_reference: bool = False,
    ):
        self.store_root = store_root
        self.drift_root = drift_root
        self.drift_value_col = drift_value_col
        self.drift_group_col = drift_group_col
        self.drift_width = drift_width
        self.fold_reference = fold_reference

    def apply(
        self,
        spark: SparkSession,
        old: DataFrame,
        new: DataFrame,
        export_path: str | None = None,
        shuffle_seed: str | None = None,
        shards: int = 16,
        epoch_id: int | None = None,
    ) -> ReleaseResult:
        """Run one release.  PRECONDITION: the signature store at
        ``store_root`` must already exist (:func:`~acled_spark.
        dedup_store.init_store` on the bootstrap corpus) — checked up
        front so a fresh root fails with a clear message instead of an
        opaque parquet-read error inside stage 2.

        With ``fold_reference=True``, ``epoch_id`` is REQUIRED and must
        be unique per release (a release sequence number / tag hash):
        outside a stream it is the whole batch stamp the drift
        baseline's replay gate compares (see
        :class:`~acled_spark.streaming.EpochSink`), so two releases
        sharing an id would misread the second fold as an at-least-once
        replay and silently skip it.
        """
        from acled_spark.dedup_store import process_batch, retire_ids, store_exists
        from acled_spark.queries.cdc import snapshot_diff

        if self.fold_reference and epoch_id is None:
            raise ValueError(
                "fold_reference=True needs a unique per-release epoch_id "
                "(e.g. a release sequence number): the drift fold's replay "
                "gate keys on it, and a repeated default id can silently "
                "skip a legitimate fold"
            )
        if epoch_id is None:
            epoch_id = 0
        if not store_exists(spark, self.store_root):
            raise ValueError(
                f"no signature store at {self.store_root!r} — run "
                "dedup_store.init_store(bootstrap_corpus, store_root) once "
                "before the first release (CorpusRelease retires/appends "
                "against an existing store; it does not bootstrap one)"
            )

        # 1. diff (materialized once: three consumers below)
        diff = snapshot_diff(old, new).localCheckpoint()
        status_counts = {
            r["status"]: r["n"]
            for r in diff.groupBy("status").agg(F.count("*").alias("n")).collect()
        }

        # 2. retire changed ∪ removed (re-keying orphaned fingerprints
        # against the post-release corpus)
        retire_set = diff.filter(F.col("status").isin("changed", "removed"))
        retired = retire_ids(spark, retire_set, self.store_root, corpus=new)

        # 3. classify + append the delta
        delta_ids = diff.filter(
            F.col("status").isin("added", "changed")
        ).select("doc_id")
        # materialized once: the two signature passes inside
        # process_batch, the drift monitor, and the export survivors
        # join all consume the delta — without this each re-scans the
        # full `new` corpus frame and re-runs the semi-join (~4 corpus
        # projections per release at the 100-TB design point)
        delta = new.join(delta_ids, "doc_id", "left_semi").localCheckpoint()
        verdicts, appended = process_batch(spark, delta, self.store_root)

        # 4. drift gate on the delta
        drift_scores: list = []
        if self.drift_root is not None:
            from acled_spark.drift import DriftMonitor

            mon = DriftMonitor(
                self.drift_root,
                value_col=self.drift_value_col,
                group_col=self.drift_group_col,
                width=self.drift_width,
                on_scores=lambda s: drift_scores.extend(s.collect()),
                update_reference=self.fold_reference,
            )
            mon(delta, epoch_id=epoch_id)

        # 5. export the deduped survivors, shuffled + manifested
        exported = 0
        problems: list = []
        if export_path is not None:
            from acled_spark.export import (
                corrupt_line_audit,
                read_jsonl,
                verify_manifest,
                write_jsonl,
                write_manifest,
            )

            survivors = delta.join(
                verdicts.filter(
                    ~F.col("is_exact_dup") & ~F.col("is_batch_dup")
                ).select("doc_id"),
                "doc_id",
                "left_semi",
            ).localCheckpoint()  # one delta-scale materialization: the
            # shard write and the expected-count below share it
            expected = survivors.count()
            schema = ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in new.schema.fields
            )
            write_jsonl(
                survivors,
                export_path,
                shards=shards,
                sort_col="doc_id",
                shuffle_seed=shuffle_seed,
            )
            # Verification stages are report-don't-raise (r8 lens
            # review): stages 1-4 have already mutated the signature
            # store and folded the drift baseline, so a codec-level
            # crash here (truncated-gzip shard failing write_manifest's
            # collect, or the audit pass) must land as a
            # manifest_problems record on the RETURNED result — raising
            # would discard the retire/append/drift accounting the
            # caller needs, for exactly the corruption class
            # verify_manifest exists to report.  (A failed write_jsonl
            # above still raises: there is no export to verify.)
            try:
                back = read_jsonl(spark, export_path, schema)
                write_manifest(back, export_path)
                problems = verify_manifest(spark, export_path, schema)
            # Round-trip completeness: the manifest is derived from the
            # same on-disk bytes it later verifies, so it cannot catch a
            # row that failed the JSON round-trip (DROPMALFORMED would
            # silently shrink the export and bake the loss into the
            # manifest).  One raw-text pass counts parse failures and
            # reconciles line count against the survivor set.  The
            # consumer-side count is reconciled SEPARATELY (ADVICE r6):
            # corrupt_line_audit parses via from_json/PERMISSIVE while
            # downstream loads go through read_jsonl's DROPMALFORMED
            # datasource — a line the two parsers judge differently
            # would otherwise make exported == expected while the real
            # consumer silently drops it.
                audit = corrupt_line_audit(
                    spark, export_path, schema
                ).collect()[0]
                exported = audit["total_lines"] - audit["corrupt_lines"]
                consumer_rows = back.count()
                if (
                    audit["corrupt_lines"]
                    or exported != expected
                    or consumer_rows != expected
                ):
                    problems.append(
                        {
                            "shard": "*",
                            "problem": "export_rows",
                            "expected_rows": expected,
                            "parseable_rows": exported,
                            "consumer_rows": consumer_rows,
                            "corrupt_rows": audit["corrupt_lines"],
                        }
                    )
            except Exception as exc:
                exported = 0  # unknown — nothing verified round-trip
                problems.append(
                    {
                        "shard": "*",
                        "problem": "verification_crashed",
                        "expected_rows": expected,
                        "error": f"{type(exc).__name__}: {exc}"[:500],
                    }
                )

        return ReleaseResult(
            status_counts=status_counts,
            retired=retired,
            appended=appended,
            exported=exported,
            drift_scores=drift_scores,
            manifest_problems=problems,
            verdicts=verdicts,
        )
