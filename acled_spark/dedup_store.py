"""Incremental dedup: check ingest batches against a persisted
signature store instead of re-deduping the corpus.

At 100 TB nobody re-runs global dedup per ingest batch.  The
production shape is a **signature store** — exact fingerprints plus
MinHash LSH band keys, ~100 bytes/doc — that each new batch joins
against; the corpus text is never rescanned.  This module is the dedup
analog of :func:`acled_spark.ann.ivf_upsert` (fold updates in, no
refit): batch-level signatures are computed once, checked against the
store, and the survivors' signatures appended.

The signature math is byte-identical to the batch-global queries
(:func:`acled_spark.queries.dedup.dedup_exact` /
``minhash_bands_spark``), so "new doc duplicates an old doc" here
agrees exactly with what a full-corpus rerun would say for exact
matches, and shares the same LSH candidate semantics for near-dups.
The check-only semantics (store = half the corpus, batch = the other
half) are oracle-verified by the ``dedup_incremental_check`` registry
query.

Layout under ``root`` (two parquet tables):

- ``exact/``  — ``(doc_id, fingerprint)``
- ``bands/``  — ``(doc_id, band_id, band_key)``

Scale notes: both checks join on a digest, never on text.  On a
cluster, pass ``root="table:<name>"`` to store both tables BUCKETED by
their full join key set (``fingerprint``; ``band_id, band_key``):
every incremental check then reads pre-clustered buckets with no
store-side Exchange, and appends preserve the bucket spec
(plan-asserted for both scans in tests/test_dedup_store.py).  Store
size is
~(32 hex + 4×40) bytes/doc — a 100 TB corpus of 100 B docs carries a
~20 GB store, comfortably a broadcast candidate per band at nlist
partitioning or a bucket-join otherwise.
"""

from __future__ import annotations

import posixpath
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from acled_spark.fsutil import commit_dir, fs_exists, heal_dir, staging_path
from acled_spark.queries.dedup import incremental_classify, minhash_bands_spark
from acled_spark.queries.text import fingerprint_spark
from acled_spark.streaming import EpochSink


#: ``root`` accepts two backends: a filesystem path (two plain parquet
#: dirs) or ``table:<name>`` — metastore tables ``<name>_exact`` /
#: ``<name>_bands`` BUCKETED by their FULL join key set (fingerprint;
#: band_id+band_key), which is the cluster deployment: every check's
#: store-side join reads pre-clustered buckets with no Exchange, so a
#: per-batch check never re-shuffles the corpus-sized signature table
#: (both scans plan-asserted in tests/test_dedup_store.py).
_TABLE_PREFIX = "table:"
_N_BUCKETS = 64

# Store writes are single-writer BY CONTRACT (see append_batch); within
# one driver that contract is now ENFORCED, not assumed: every write
# face (init/append/process/retire) serializes on a per-root lock, so
# the realistic local shape — a streaming DedupMaintainer thread plus
# an ad-hoc batch append or release-time retire on another thread —
# cannot interleave half-written verdicts with a staging swap or
# double-append a replayed batch (r11 VERDICT #6; real-thread pins in
# tests/test_dedup_store.py).  CROSS-driver writers remain the
# deployment's responsibility (one writer job per store root — the
# same single-writer rule Delta/Hudi table maintenance assumes);
# in-process locks cannot span drivers.
_WRITER_LOCKS: dict[str, threading.RLock] = {}
_WRITER_LOCKS_GUARD = threading.Lock()


def _lock_key(root: str) -> str:
    """Canonical lock key so aliased spellings of ONE store root share
    ONE lock (ADVICE r12): ``file://``-scheme URIs fold into plain
    local paths, local paths resolve symlinks via ``os.path.realpath``
    (lexical normalization when the path doesn't exist yet), and
    remote-scheme URIs normalize their path part.  Aliases an
    in-process canonicalizer CANNOT see (bind mounts, hardlinked
    dirs, distinct mounts of one remote bucket) remain the
    deployment's single-writer responsibility, same as cross-driver
    writers."""
    import os
    from urllib.parse import urlparse

    if _is_table(root):
        return root
    if "://" in root:
        scheme, _, rest = root.partition("://")
        if scheme.lower() == "file":
            # RFC 8089 parse, not string surgery (ADVICE r13): the
            # authority is a host, not a path segment — the old
            # '/'-prefix fold keyed file://localhost/tmp/store as
            # realpath('/localhost/tmp/store'), a DIFFERENT lock than
            # the plain-path spelling of the same root.  Empty and
            # 'localhost' authorities are the local machine (realpath
            # key, shared with plain-path spellings); a foreign
            # authority is not a local path at all and keys like the
            # remote schemes below.
            p = urlparse(root)
            if p.netloc.lower() in ("", "localhost"):
                return os.path.realpath(p.path or "/")
            return f"file://{p.netloc.lower()}{posixpath.normpath(p.path or '/')}"
        return f"{scheme.lower()}://{posixpath.normpath(rest)}"
    return os.path.realpath(root)


def _writer_lock(root: str) -> threading.RLock:
    with _WRITER_LOCKS_GUARD:
        return _WRITER_LOCKS.setdefault(_lock_key(root), threading.RLock())


def _single_writer(root_arg: int):
    """Serialize a store-write face on the per-root lock.

    ``root_arg`` is the positional index of ``root`` in the wrapped
    signature (it may also arrive as a keyword).  RLock, so a write
    face may call another write face for the same root if that ever
    becomes useful; distinct roots never contend.
    """
    import functools

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            root = kwargs["root"] if "root" in kwargs else args[root_arg]
            with _writer_lock(root):
                return fn(*args, **kwargs)

        return wrapper

    return deco


def _is_table(root: str) -> bool:
    return root.startswith(_TABLE_PREFIX)


def _table_names(root: str) -> tuple[str, str]:
    base = root[len(_TABLE_PREFIX):]
    return f"{base}_exact", f"{base}_bands"


def _exact_path(root: str) -> str:
    return posixpath.join(root, "exact")


def _bands_path(root: str) -> str:
    return posixpath.join(root, "bands")


def _heal(spark: SparkSession, root: str, writer: bool = False) -> None:
    """Heal a :func:`retire_ids` that crashed inside its staged swap
    (:func:`acled_spark.fsutil.heal_dir`).  Reads take the reader form,
    which only fills a missing root; the write faces, serialized on the
    per-root lock, take the writer form (``writer=True``), which
    finishes a committed swap and discards uncommitted debris — an
    append must land on the post-retire store, or the next retire's
    heal would swap the stale staged snapshot over it.  The ``table:``
    backend's overwrite is metastore-txn'd and needs no heal."""
    if not _is_table(root):
        heal_dir(spark, root, discard_uncommitted=writer)


def store_exists(spark: SparkSession, root: str) -> bool:
    """True when a signature store is present (either backend).

    A path backend counts as present when ``exact/`` exists after the
    reader heal (a retire that crashed inside its swap leaves the store
    in committed staging only); a ``table:`` backend when the exact
    table is in the catalog.  Used by callers (e.g.
    :class:`acled_spark.release.CorpusRelease`) to fail fast with a
    clear bootstrap message instead of an opaque parquet/table read
    error mid-pipeline.
    """
    if _is_table(root):
        return spark.catalog.tableExists(_table_names(root)[0])
    _heal(spark, root)
    return fs_exists(spark, _exact_path(root))


def _read_exact(spark: SparkSession, root: str) -> DataFrame:
    if _is_table(root):
        return spark.table(_table_names(root)[0])
    _heal(spark, root)
    return spark.read.parquet(_exact_path(root))


def _read_bands(spark: SparkSession, root: str) -> DataFrame:
    if _is_table(root):
        return spark.table(_table_names(root)[1])
    _heal(spark, root)
    return spark.read.parquet(_bands_path(root))


def _write(exact: DataFrame, bands: DataFrame, root: str, mode: str) -> None:
    """bands/ first, exact/ second — the crash-ordering contract of
    :func:`append_batch` (the replay gate keys on exact)."""
    if _is_table(root):
        e_name, b_name = _table_names(root)
        # the bucket spec must be restated on every append or Spark
        # refuses the write against the existing bucketed table.
        # bands bucket on BOTH join keys: the collision check joins on
        # (band_id, band_key), and a band_key-only bucketing cannot
        # co-partition that join — the planner then disables the
        # bucketed scan and re-shuffles the whole store (observed:
        # "Bucketed: false (disabled by query planner)" + Exchange).
        (
            bands.write.bucketBy(_N_BUCKETS, "band_id", "band_key")
            .sortBy("band_id", "band_key")
            .mode(mode).format("parquet").saveAsTable(b_name)
        )
        (
            exact.write.bucketBy(_N_BUCKETS, "fingerprint").sortBy("fingerprint")
            .mode(mode).format("parquet").saveAsTable(e_name)
        )
    else:
        bands.write.mode(mode).parquet(_bands_path(root))
        exact.write.mode(mode).parquet(_exact_path(root))


def signatures(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(exact, bands) signature frames for a document frame."""
    exact = docs.select(
        "doc_id", fingerprint_spark(F.col("text")).alias("fingerprint")
    )
    return exact, minhash_bands_spark(docs)


@_single_writer(1)
def init_store(docs: DataFrame, root: str) -> None:
    """Materialize the signature store for an initial corpus.

    The bootstrap corpus is deduped to its canonical rows first (min
    doc_id per fingerprint — the same survivor the ``dup_of`` pointer
    names), so the one-signature-per-distinct-text invariant holds
    from day one, not just for appended batches.  NULL-text docs all
    survive (each is its own canonical): ``groupBy`` coalesces NULL
    keys into ONE group, so the min-id pick would silently drop every
    NULL-text doc but one — they are carried through separately.

    As a store WRITE, this first heals any crashed retire staging
    (writer form of :func:`_heal`): bootstrapping root while a
    committed staging dir sits beside it would be clobbered by the next
    ``retire_ids`` entry heal.
    """
    _heal(docs.sparkSession, root, writer=True)
    exact, _ = signatures(docs)
    canon_ids = (
        exact.filter(F.col("fingerprint").isNotNull())
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .unionByName(
            exact.filter(F.col("fingerprint").isNull()).select("doc_id")
        )
    )
    canon_docs = docs.join(canon_ids, "doc_id", "left_semi")
    exact_c, bands_c = signatures(canon_docs)
    _write(exact_c, bands_c, root, mode="overwrite")


def _checkpointed_signatures(batch: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Batch signature frames, materialized ONCE.

    Every consumer (verdict joins, conflict check, append writes) reads
    the checkpointed frames, so the dominant per-batch cost — the
    shingle explode + minhash aggregate — runs a single time, and the
    later store appends carry no store-read lineage.
    """
    exact, bands = signatures(batch)
    return exact.localCheckpoint(), bands.localCheckpoint()


def _classify(
    spark: SparkSession, exact: DataFrame, bands: DataFrame, root: str
) -> DataFrame:
    return incremental_classify(
        exact, bands, _read_exact(spark, root), _read_bands(spark, root)
    )


def check_batch(spark: SparkSession, batch: DataFrame, root: str) -> DataFrame:
    """Classify each batch document against the store (and the batch).

    Returns one row per batch doc:

    - ``is_exact_dup`` — fingerprint already in the store;
      ``dup_of`` carries the smallest matching store doc_id (NULL
      otherwise) — the deterministic survivor pointer.
    - ``is_batch_dup`` — fingerprint duplicated WITHIN the batch and
      this row is not its min-doc_id canonical (two new copies of one
      unseen text: one survives, one is a dup).
    - ``n_band_collisions`` — LSH band keys shared with store docs
      (0-4): the near-dup candidate signal, same banding as
      ``dedup_minhash_lsh`` (>0 means "verify-worthy", not "dup" —
      candidate semantics, exactly as in the batch-global query).

    Plan shape: batch signatures are computed once and joined against
    the two store tables on digests; aggregation keys are doc_id.  The
    corpus text is never read.  (When a check is immediately followed
    by an append, use :func:`process_batch`, which shares one signature
    computation across both.)
    """
    exact, bands = signatures(batch)
    return _classify(spark, exact, bands, root)


def _append_signatures(
    spark: SparkSession,
    exact_all: DataFrame,
    bands_all: DataFrame,
    verdicts: DataFrame,
    root: str,
    survivors_only: bool,
) -> int:
    """Append the keepable subset of precomputed batch signatures."""
    store_exact = _read_exact(spark, root)
    # ONE store scan serves both the id-reuse guard and the replay gate
    # (r7 review: they were two independent store jobs per micro-batch):
    # join the store against the batch ids once, keep the batch-sized
    # overlap with a per-id conflict flag.
    #
    # Id-reuse guard on the FULL batch, not just survivors: a batch doc
    # reusing a doc_id already in the store with DIFFERENT text is an
    # upstream identity bug even when its new text happens to duplicate
    # some other doc (it would be silently dropped and the id mapping
    # left ambiguous), so the check must see dup rows too.  The
    # comparison is null-SAFE: a doc whose text changes to or from NULL
    # (NULL fingerprint) is the same identity bug — a null-unsafe `!=`
    # evaluated it to NULL, filtered it out, and the new signatures were
    # silently dropped forever (r7 review).
    overlap = (
        store_exact.join(
            F.broadcast(exact_all.withColumnRenamed("fingerprint", "batch_fp")),
            "doc_id",
        )
        .select(
            "doc_id",
            (~F.col("fingerprint").eqNullSafe(F.col("batch_fp"))).alias(
                "conflict"
            ),
        )
        # batch-sized; severs the store-read lineage.  eager=False
        # (r15, the r14 components-loop recipe): the conflict count on
        # the next line is the frame's first action and materializes
        # the blocks BEFORE any store write — eager ran a dedicated
        # materialization job per batch for nothing.
        .localCheckpoint(eager=False)
    )
    conflicts = overlap.filter(F.col("conflict")).count()
    if conflicts:
        raise ValueError(
            f"{conflicts} batch doc_id(s) already exist in the store with "
            "different text — re-key the batch or retire the old ids; "
            "appending would silently shadow the new content"
        )
    keep_ids = verdicts
    if survivors_only:
        keep_ids = verdicts.filter(~F.col("is_exact_dup") & ~F.col("is_batch_dup"))
    # idempotency: a replayed batch's (id, text) rows are already there —
    # anti-join against the (tiny) overlap frame, not the store again
    keep_ids = (
        keep_ids.select("doc_id")
        .join(overlap.select("doc_id"), "doc_id", "left_anti")
        # eager=False: the count below is the first action; its inputs
        # (verdicts, overlap) are themselves checkpoints, so the
        # materialized blocks carry no store-read lineage either way
        .localCheckpoint(eager=False)
    )
    n = keep_ids.count()
    if n:
        _write(
            exact_all.join(keep_ids, "doc_id", "left_semi"),
            bands_all.join(keep_ids, "doc_id", "left_semi"),
            root,
            mode="append",
        )
    return n


@_single_writer(2)
def append_batch(
    spark: SparkSession,
    batch: DataFrame,
    root: str,
    survivors_only: bool = True,
    verdicts: DataFrame | None = None,
) -> int:
    """Fold a batch's signatures into the store; returns docs appended.

    ``survivors_only`` appends only docs that are neither exact dups of
    the store nor within-batch dups — the store stays one-signature-
    per-distinct-text and replays are no-ops.  Pass ``verdicts`` (a
    prior :func:`check_batch` result for the SAME batch) to skip
    re-deriving them — or use :func:`process_batch` to get check +
    append off one signature computation.

    A batch doc reusing a doc_id already in the store with DIFFERENT
    text is an upstream identity bug and raises — silently dropping it
    (the old anti-join behavior) would leave the new text's signatures
    out of the store forever, a permanent dedup false negative.  The
    guard covers the whole batch, dup rows included.  Replays of the
    same (id, text) are skipped as before.

    Crash safety: bands/ is written BEFORE exact/, and the replay gate
    keys on exact/ — a crash between the two writes leaves orphan band
    rows that the replay simply re-appends next to (then writes
    exact/), and duplicate store band rows are semantically inert
    because the collision check is a left_semi join.  A crash before
    bands/ commits is a plain full replay.  That is what makes store
    growth exactly-once under at-least-once foreachBatch delivery.

    As a store WRITE this heals any crashed retire staging FIRST
    (writer form of :func:`_heal`, like :func:`retire_ids`): appending
    to root while a committed staging sits beside it would be silently
    undone when the next retire entry heal renames the stale staged
    store over root — every signature appended since the crash would
    vanish (round-7 review).
    """
    _heal(spark, root, writer=True)
    exact_all, bands_all = _checkpointed_signatures(batch)
    if verdicts is None:
        verdicts = _classify(spark, exact_all, bands_all, root)
    return _append_signatures(
        spark, exact_all, bands_all, verdicts, root, survivors_only
    )


@_single_writer(2)
def retire_ids(
    spark: SparkSession,
    ids: DataFrame,
    root: str,
    corpus: DataFrame | None = None,
) -> int:
    """Remove retired doc_ids' signatures from the store.

    The corpus-release path (``snapshot_diff``) produces ``changed``
    and ``removed`` docs whose OLD signatures no longer describe the
    corpus; a changed doc would also trip ``process_batch``'s id-reuse
    guard (same doc_id, different text).  Retiring first, then
    processing the added|changed delta, composes the incremental
    release: retire(changed ∪ removed, corpus=new) →
    process_batch(added ∪ changed).

    The store holds one CANONICAL signature per distinct text (min
    doc_id), so a retired id may be the only holder of a fingerprint
    whose text is still live under OTHER (unchanged) ids — dropping it
    outright would leave that text invisible to future dedup.  Pass
    ``corpus`` (the post-release document frame: doc_id, text) and the
    retirement RE-KEYS each such fingerprint to its smallest surviving
    holder: one fingerprint scan of the corpus (digest-only exchange,
    same cost class as ``snapshot_diff``'s scan of the same frame),
    then full signatures for just the successor docs.  Without
    ``corpus`` the orphan re-key is skipped — correct only when no
    retired id can share text with a surviving doc.

    ``ids`` needs a ``doc_id`` column.  Returns the net change in
    exact-store rows (retired minus re-keyed successors).  This is a
    RELEASE-level maintenance op, not a per-micro-batch one: it
    rewrites the store minus the retired ids (signatures are ~100
    bytes/doc, so even a 100-TB corpus's store is tens of GB — one
    bounded rewrite per release).  The path backend stages the whole
    store (both tables) beside root and swaps it in with ONE rename
    (:func:`acled_spark.fsutil.commit_dir`), so readers see either the
    old store or the new one; a crash in the swap heals on the next
    store op.  The table backend rewrites via a lineage-severed
    overwrite that restates the bucket spec; its two ``saveAsTable``
    overwrites are metastore-txn'd per table but have NO cross-table
    transaction, so a crash between them leaves new-bands/old-exact
    until a retire re-run (replays are idempotent) — at production
    scale put that store on a transactional table format
    (Delta/Iceberg).
    """
    # As the store's single writer, a leftover marker-less staging dir
    # is this function's own prior crash debris — safe to clear here
    # (and ONLY in the write faces; the read path never discards).
    _heal(spark, root, writer=True)
    keys = ids.select("doc_id").distinct().localCheckpoint()
    if keys.count() == 0:
        # no-change release (steady state): skip the full store rewrite
        # AND the staged-swap crash window entirely — the entry heal
        # above still ran, which is all an empty retire can owe (r7
        # review: this path paid a corpus-store rewrite for nothing)
        return 0
    exact = _read_exact(spark, root)
    before = exact.count()
    kept_exact = exact.join(keys, "doc_id", "left_anti").localCheckpoint()
    kept_bands = (
        _read_bands(spark, root).join(keys, "doc_id", "left_anti").localCheckpoint()
    )
    if corpus is not None:
        # Orphan re-key: fingerprints whose ONLY store row was retired
        # but whose text survives in the corpus under another id get a
        # successor row (min surviving doc_id) — the canonical-survivor
        # invariant holds across releases, not just within one store.
        retired_fps = (
            exact.join(keys, "doc_id", "left_semi")
            .select("fingerprint").distinct()
        )
        orphan_fps = retired_fps.join(
            kept_exact.select("fingerprint"), "fingerprint", "left_anti"
        )
        survivors = corpus.join(keys, "doc_id", "left_anti")
        surv_fp = survivors.select(
            "doc_id", fingerprint_spark(F.col("text")).alias("fingerprint")
        )
        successor_ids = (
            surv_fp.join(F.broadcast(orphan_fps), "fingerprint")
            .groupBy("fingerprint")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
            .localCheckpoint()
        )
        if successor_ids.count():
            succ_docs = corpus.join(successor_ids, "doc_id", "left_semi")
            succ_exact, succ_bands = signatures(succ_docs)
            kept_exact = kept_exact.unionByName(succ_exact).localCheckpoint()
            kept_bands = kept_bands.unionByName(succ_bands).localCheckpoint()
    if _is_table(root):
        _write(kept_exact, kept_bands, root, mode="overwrite")
    else:
        staging = staging_path(root)
        _write(kept_exact, kept_bands, staging, mode="overwrite")
        commit_dir(spark, staging, root)
    return before - kept_exact.count()


@_single_writer(2)
def process_batch(
    spark: SparkSession,
    batch: DataFrame,
    root: str,
    survivors_only: bool = True,
) -> tuple[DataFrame, int]:
    """Classify AND append one ingest batch off a single signature pass.

    Returns ``(verdicts, n_appended)``; the verdicts frame is
    materialized (safe to hand to a policy sink after the append).
    This is the per-batch hot path — :class:`DedupMaintainer` calls it —
    and it computes the batch shingle/minhash signatures exactly once,
    where a ``check_batch`` + ``append_batch`` pair would run them twice.

    As a store WRITE this heals any crashed retire staging first (see
    :func:`append_batch` — an append onto a root shadowed by committed
    staging would be undone by the next retire's entry heal), and the
    heal runs BEFORE classification so the verdicts are computed
    against the post-retire store, not the stale pre-swap one.
    """
    _heal(spark, root, writer=True)
    exact_all, bands_all = _checkpointed_signatures(batch)
    # eager=False (r15): _append_signatures' keep_ids count is the
    # frame's first action and it runs BEFORE the store append, so the
    # verdict blocks (whose lineage reads the pre-append store) are
    # frozen exactly as early as the eager checkpoint froze them — one
    # job per batch cheaper.  The returned frame is materialized by
    # construction (the count always runs), so the policy sink still
    # reads pre-append verdicts.
    verdicts = _classify(spark, exact_all, bands_all, root).localCheckpoint(
        eager=False
    )
    n = _append_signatures(
        spark, exact_all, bands_all, verdicts, root, survivors_only
    )
    return verdicts, n


class DedupMaintainer(EpochSink):
    """``foreachBatch`` face for streaming ingest dedup — the dedup
    analog of :class:`acled_spark.ann.IvfMaintainer`.

    Each micro-batch is classified against the store, the verdicts are
    handed to ``on_verdicts`` (route dups to a quarantine sink, count
    them, attach them to the batch — the pipeline's policy, not the
    store's), and the survivors' signatures are appended so the NEXT
    batch sees them::

        maint = DedupMaintainer(root, on_verdicts=sink_fn)
        stream.writeStream.foreachBatch(maint).start()

    Appends are id-idempotent (check_batch/append_batch contract), so
    a replayed epoch after a crash re-appends nothing — exactly-once
    store growth on top of at-least-once foreachBatch delivery.  The
    VERDICT stream converges too (r8): a store match whose canonical
    holder rides the same batch classifies as a batch-dup
    (``incremental_classify``'s third edge rule), so a replay after a
    post-append crash — where the batch's own survivor is now in the
    store — reports byte-identical verdict rows to the original
    delivery, and an epoch-keyed ``on_verdicts`` sink can overwrite
    idempotently, so the face keeps no stamp.
    """

    def __init__(self, root: str, on_verdicts=None):
        self.root = root
        self.on_verdicts = on_verdicts
        self.docs_appended = 0

    def fold(self, batch_df: DataFrame, stamp: str) -> None:
        # process_batch computes the batch signatures ONCE and shares
        # them across the verdict joins, the conflict check, and the
        # append — the policy hook sees the same materialized verdicts
        verdicts, n = process_batch(batch_df.sparkSession, batch_df, self.root)
        if self.on_verdicts is not None:
            self.on_verdicts(verdicts)
        self.docs_appended += n
