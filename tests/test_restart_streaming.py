"""Kill/resume-mid-batch lens (VERDICT r8 #4b / r10 #2): every
foreachBatch face is driven through a REAL checkpointed stream, killed
in the worst at-least-once window — external effect fully applied, the
epoch NOT yet committed to the checkpoint — and restarted with a FRESH
face instance (process death: only durable state survives).  Spark
then redelivers the SAME epoch id with the SAME data; the assertions
pin exactly-once EXTERNAL effects across the restart:

- DriftMonitor: reference bin counts fold once, the replayed epoch
  emits no second (biased-low) PSI reading;
- DedupMaintainer: store row counts grow once, replayed verdicts are
  byte-identical to the original delivery (replay-convergent);
- IvfMaintainer: one index row per vec_id, updates applied once,
  resume() serves the crashed fold without manual promotion.

The reference's idempotency contract is the PK upsert
(ref base_assets.py:207-212 — each Dagster run MERGEs on event_id_cnty
so re-runs converge); these faces are where this engine carries that
contract into streaming, and a double-applied batch is silent data
corruption.  Unit-level replay tests exist in test_drift.py /
test_dedup_store.py / test_ann.py; this file is the adversarial
version through the actual Structured Streaming restart machinery
(offsets WAL written before the batch, commit log after — the crash
lands between them).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from acled_spark.tables import load
import pytest

# slow tier (VERDICT r14 #1): crash-restart stream replays (~30 s); run with `-m ""`.
pytestmark = pytest.mark.slow


SF_DIR = "/root/testdata/sf0.001"


class CrashAfterFace:
    """foreachBatch wrapper: apply the real face, then die.

    Raising AFTER the face returns puts the crash in the worst
    at-least-once window: the side effect (store append / reference
    fold / index fold) is fully applied, but the epoch never reaches
    the checkpoint's commit log — on restart Spark re-runs the same
    epoch id over the same file list.
    """

    def __init__(self, face, crash_on_epoch: int | None = 0):
        self.face = face
        self.crash_on_epoch = crash_on_epoch

    def __call__(self, batch_df, epoch_id):
        self.face(batch_df, epoch_id)
        if self.crash_on_epoch is not None and epoch_id == self.crash_on_epoch:
            raise RuntimeError("injected crash after side-effect")


def _run_stream(spark, schema, src, ckpt, face, timeout=180):
    """One availableNow pass of the parquet file source through
    ``face``; returns the failure exception (injected crash) or None
    on clean drain."""
    q = (
        spark.readStream.schema(schema)
        .parquet(src)
        .writeStream.foreachBatch(face)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout)
    except Exception as e:  # StreamingQueryException wraps the injection
        return e
    finally:
        if q.isActive:
            q.stop()
    return None


# --- DriftMonitor ------------------------------------------------------------


def test_drift_monitor_exactly_once_across_crash_restart(spark, tmp_path):
    """Crash after score+fold, before the epoch commits; a FRESH
    monitor on the same durable root must recognize the replayed epoch
    (fold stamp), fold nothing, emit nothing — then score the next
    batch normally."""
    from acled_spark.drift import DriftMonitor, init_reference

    root = str(tmp_path / "ref")
    base = spark.createDataFrame(
        [("a", float(v)) for v in (10, 60, 110, 160)] * 3,
        "event_type string, value double",
    )
    init_reference(base, root)
    n_base = base.count()

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    batch_a = spark.createDataFrame(
        [("a", 10.0), ("a", 60.0), ("a", 110.0)],
        "event_type string, value double",
    )
    batch_a.write.mode("append").parquet(src)

    fired1 = []
    mon1 = DriftMonitor(
        root, update_reference=True, on_scores=lambda s: fired1.append(s.collect())
    )
    err = _run_stream(spark, batch_a.schema, src, ckpt, CrashAfterFace(mon1))
    assert err is not None and "injected crash" in str(err)
    # the crashed delivery DID apply its effects: scored once, folded once
    assert len(fired1) == 1
    folded = spark.read.parquet(root).agg(F.sum("n")).collect()[0][0]
    assert folded == n_base + batch_a.count()

    # process death: new monitor instance, same root, same checkpoint.
    # A new file arrives while we were down.
    batch_b = spark.createDataFrame(
        [("a", 160.0), ("a", 10.0)], "event_type string, value double"
    )
    batch_b.write.mode("append").parquet(src)
    fired2 = []
    mon2 = DriftMonitor(
        root, update_reference=True, on_scores=lambda s: fired2.append(s.collect())
    )
    err = _run_stream(
        spark, batch_a.schema, src, ckpt, CrashAfterFace(mon2, crash_on_epoch=None)
    )
    assert err is None
    # replayed epoch 0 (batch A, same epoch id, same file list): the
    # fold stamp says the reference already absorbed it -> no second
    # fold, no second PSI emission (a replay score would compare the
    # batch against a baseline containing itself — a spurious
    # all-clear an epoch-keyed sink would record over the true one).
    # Only batch B's fresh epoch scored.
    assert len(fired2) == 1
    folded = spark.read.parquet(root).agg(F.sum("n")).collect()[0][0]
    assert folded == n_base + batch_a.count() + batch_b.count()
    assert mon2.batches_applied == 1


# --- DedupMaintainer ---------------------------------------------------------


def _doc_rows(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_dedup_maintainer_exactly_once_across_crash_restart(spark, tmp_path):
    """Crash after verdicts+append, before the epoch commits; a FRESH
    maintainer on the same store must re-emit byte-identical verdicts
    for the replayed epoch (replay-convergent contract) while the
    store's row count grows exactly once."""
    from acled_spark.dedup_store import DedupMaintainer, init_store

    root = str(tmp_path / "sigstore")
    corpus = load(spark, SF_DIR, "documents").filter(F.col("doc_id") < 40)
    init_store(corpus, root)
    n0 = spark.read.parquet(f"{root}/exact").count()

    t1 = "restart lens batch one carries words the store has never seen"
    t2 = "restart lens batch two is its own fresh text entirely again"
    batch_a = _doc_rows(
        spark,
        [
            (7001, t1, "en", "s", len(t1)),
            (7002, t1, "en", "s", len(t1)),  # in-batch dup of 7001
        ],
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    batch_a.write.mode("append").parquet(src)

    seen1 = []
    maint1 = DedupMaintainer(
        root,
        on_verdicts=lambda v: seen1.append(
            sorted(map(tuple, v.select(sorted(v.columns)).collect()))
        ),
    )
    err = _run_stream(spark, batch_a.schema, src, ckpt, CrashAfterFace(maint1))
    assert err is not None and "injected crash" in str(err)
    assert len(seen1) == 1
    n_after_a = spark.read.parquet(f"{root}/exact").count()
    assert n_after_a == n0 + 1  # one survivor appended (7002 is a batch dup)

    # process death; a new batch arrived while we were down — it dups
    # batch A's survivor, so its verdict depends on the store state the
    # crashed delivery left behind.
    batch_b = _doc_rows(
        spark, [(7003, t2, "en", "s", len(t2)), (7004, t1, "en", "s", len(t1))]
    )
    batch_b.write.mode("append").parquet(src)
    seen2 = []
    maint2 = DedupMaintainer(
        root,
        on_verdicts=lambda v: seen2.append(
            sorted(map(tuple, v.select(sorted(v.columns)).collect()))
        ),
    )
    err = _run_stream(
        spark, batch_a.schema, src, ckpt, CrashAfterFace(maint2, crash_on_epoch=None)
    )
    assert err is None
    # replayed epoch 0 re-emitted (at-least-once emission is the
    # contract — an epoch-keyed sink overwrites idempotently), and the
    # rows are BYTE-IDENTICAL to the original delivery even though the
    # store now holds the batch's own survivor (the batch-dup rule).
    assert len(seen2) == 2
    assert seen2[0] == seen1[0]
    # store growth exactly once per batch: replay appended nothing,
    # batch B appended its one novel doc (7004 is an exact dup of 7001)
    assert spark.read.parquet(f"{root}/exact").count() == n_after_a + 1


def test_dedup_maintainer_replay_verdict_dup_of_points_at_store(spark, tmp_path):
    """The post-restart batch's dup verdict must point at the doc the
    CRASHED delivery appended — proving the replayed epoch saw the
    already-applied store rather than double-appending a second
    canonical under a different id."""
    from acled_spark.dedup_store import DedupMaintainer, init_store

    root = str(tmp_path / "sigstore")
    corpus = load(spark, SF_DIR, "documents").filter(F.col("doc_id") < 40)
    init_store(corpus, root)

    t1 = "crash window canonical text that must survive exactly once here"
    batch_a = _doc_rows(spark, [(7101, t1, "en", "s", len(t1))])
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    batch_a.write.mode("append").parquet(src)
    err = _run_stream(
        spark, batch_a.schema, src, ckpt, CrashAfterFace(DedupMaintainer(root))
    )
    assert err is not None

    batch_b = _doc_rows(spark, [(7102, t1, "en", "s", len(t1))])
    batch_b.write.mode("append").parquet(src)
    verdicts = []
    maint2 = DedupMaintainer(
        root, on_verdicts=lambda v: verdicts.append({r["doc_id"]: r for r in v.collect()})
    )
    err = _run_stream(
        spark, batch_a.schema, src, ckpt, CrashAfterFace(maint2, crash_on_epoch=None)
    )
    assert err is None
    assert len(verdicts) == 2  # replayed epoch 0 + fresh epoch 1
    # exactly one store row for t1's signature — under 7101
    assert verdicts[1][7102]["is_exact_dup"]
    assert verdicts[1][7102]["dup_of"] == 7101
    ex = spark.read.parquet(f"{root}/exact")
    assert ex.filter(F.col("doc_id").isin(7101, 7102)).count() == 1


# --- IvfMaintainer -----------------------------------------------------------


def test_ivf_maintainer_exactly_once_across_crash_restart(spark, tmp_path):
    """Crash after the durable fold committed, before the epoch
    commits; resume() must serve the crashed fold, and the replayed
    epoch's re-upsert must converge — one index row per vec_id, the
    update applied once, searches seeing each vector exactly once."""
    from acled_spark.ann import IvfMaintainer, build_ivf_index, ivf_search

    emb = load(spark, SF_DIR, "embeddings").filter(F.size("embedding") == 64)
    dim = 64
    index = build_ivf_index(emb, nlist=4)
    n0 = index.assigned.count()
    existing_id = emb.orderBy("vec_id").limit(1).collect()[0]["vec_id"]

    durable = str(tmp_path / "ivf_root")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    # one-hot directions: mutually orthogonal, so cosine separates them
    # (constant vectors would all be colinear — cosine 1.0 everywhere)
    def one_hot(i):
        v = [0.0] * dim
        v[i] = 1.0
        return v

    # batch A: one brand-new vector + one UPDATE of an existing id
    batch_a = spark.createDataFrame(
        [
            (940001, one_hot(3)),
            (existing_id, one_hot(5)),
        ],
        "vec_id long, embedding array<float>",
    )
    batch_a.write.mode("append").parquet(src)
    maint1 = IvfMaintainer(index, durable_path=durable)
    err = _run_stream(spark, batch_a.schema, src, ckpt, CrashAfterFace(maint1))
    assert err is not None and "injected crash" in str(err)

    # process death: rebuild from durable state alone (the documented
    # restart API), with a new batch waiting
    batch_b = spark.createDataFrame(
        [(940002, one_hot(7))], "vec_id long, embedding array<float>"
    )
    batch_b.write.mode("append").parquet(src)
    maint2 = IvfMaintainer.resume(
        spark, index.model, durable, base_cost=index.base_cost
    )
    # resume serves the crashed delivery's fold: batch A already in
    assert maint2.index.assigned.count() == n0 + 1
    err = _run_stream(
        spark, batch_a.schema, src, ckpt, CrashAfterFace(maint2, crash_on_epoch=None)
    )
    assert err is None

    assigned = maint2.index.assigned
    # exactly-once membership: one row per vec_id, no duplicate from
    # the replayed epoch's re-upsert (anti-join convergence)
    dup_ids = (
        assigned.groupBy("vec_id").count().filter(F.col("count") > 1).count()
    )
    assert dup_ids == 0
    assert assigned.count() == n0 + 2  # A's novel + B's novel; update replaced

    def probe(vec):
        # fresh id: search excludes self-matches by id, so a probe id
        # colliding with a corpus id would hide its own nearest hit
        return spark.createDataFrame(
            [(999_999_999, vec)], "vec_id long, embedding array<float>"
        )

    # the update landed (once): the existing id serves A's new vector,
    # and each streamed vector is searchable exactly once
    for vec, vid in (
        (one_hot(5), existing_id),
        (one_hot(3), 940001),
        (one_hot(7), 940002),
    ):
        top = ivf_search(maint2.index, probe(vec), top_k=1, nprobe=4).collect()
        assert top[0]["neighbor_id"] == vid
    maint2.index.unpersist()
    index.unpersist()
