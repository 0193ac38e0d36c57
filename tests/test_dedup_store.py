"""Incremental dedup signature store: batch-vs-store verdicts and the
append lifecycle, never rescanning corpus text (the per-batch shape a
100 TB pipeline actually runs; check semantics oracle-pinned by the
dedup_incremental_check registry query)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from acled_spark.dedup_store import append_batch, check_batch, init_store
from acled_spark.tables import load

# slow tier (VERDICT r14 #1): store lifecycle replays (~2 min); run with `-m ""`.
pytestmark = pytest.mark.slow


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def store(spark, tmp_path):
    root = str(tmp_path / "sigstore")
    corpus = load(spark, SF_DIR, "documents").filter(F.col("doc_id") < 60)
    init_store(corpus, root)
    return root, corpus


def _mk_batch(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_check_classifies_exact_near_and_new(spark, store):
    root, corpus = store
    donor = corpus.filter(F.col("doc_id") == 7).first()
    words = donor["text"].split()
    near_text = " ".join(words[:-1] + ["changedword"])
    batch = _mk_batch(spark, [
        # new id, text identical to a store doc -> exact dup of 7's group
        (1007, donor["text"], donor["lang"], donor["source"], donor["n_chars"]),
        # one word swapped -> not exact; shares shingles -> band collisions
        (1008, near_text, donor["lang"], donor["source"], len(near_text)),
        # genuinely novel text
        (1009, "completely novel words never seen in this corpus at all",
         "en", "srcx", 55),
    ])
    v = {r["doc_id"]: r for r in check_batch(spark, batch, root).collect()}
    assert v[1007]["is_exact_dup"] and not v[1007]["is_batch_dup"]
    # dup_of points at the store's canonical (min doc_id) for that text
    assert v[1007]["dup_of"] is not None and v[1007]["dup_of"] < 60
    assert not v[1008]["is_exact_dup"]
    assert v[1008]["n_band_collisions"] > 0
    assert not v[1009]["is_exact_dup"] and not v[1009]["is_batch_dup"]
    assert v[1009]["n_band_collisions"] == 0


def test_within_batch_dups_one_survivor(spark, store):
    root, _ = store
    novel = "words the store has never seen before in any combination"
    batch = _mk_batch(spark, [
        (2001, novel, "en", "srcx", len(novel)),
        (2002, novel, "en", "srcx", len(novel)),
    ])
    v = {r["doc_id"]: r for r in check_batch(spark, batch, root).collect()}
    assert not v[2001]["is_exact_dup"] and not v[2002]["is_exact_dup"]
    assert not v[2001]["is_batch_dup"]      # min doc_id is canonical
    assert v[2002]["is_batch_dup"]


def test_replayed_epoch_reports_identical_verdicts_for_batch_dups(spark, store):
    """r8 lens review: a replay after a post-append crash sees its own
    survivor in the store — the within-batch dup's verdict used to
    FLIP from (is_batch_dup, dup_of=NULL) to (is_exact_dup,
    dup_of=survivor).  The canonical-in-batch rule makes the replayed
    verdict rows byte-identical to the original delivery's, so an
    epoch-keyed verdict sink overwrites idempotently."""
    from acled_spark.dedup_store import process_batch

    root, _ = store
    novel = "entirely fresh sentence no prior batch or store ever held"
    batch = _mk_batch(spark, [
        (3001, novel, "en", "srcx", len(novel)),
        (3002, novel, "en", "srcx", len(novel)),   # within-batch dup
    ])
    original, _ = process_batch(spark, batch, root)   # appends 3001
    orig_rows = sorted(map(tuple, original.collect()))
    replay, n2 = process_batch(spark, batch, root)    # the replayed epoch
    assert n2 == 0                                    # exactly-once growth
    assert sorted(map(tuple, replay.collect())) == orig_rows
    v = {r["doc_id"]: r for r in replay.collect()}
    assert v[3002]["is_batch_dup"] and not v[3002]["is_exact_dup"]
    assert v[3002]["dup_of"] is None


def test_redelivered_nonminimal_holder_keeps_one_store_canonical(spark, store):
    """ADVICE r8: the replay exemption must apply ONLY when the store's
    holder is the batch canonical (store_min == batch_canonical).  A
    holder redelivered at a NON-minimal batch id (cross-epoch duplicate
    delivery, not same-epoch replay) must leave the batch-min doc a
    real store-dup — the pre-r9 blanket exemption classified it as
    neither exact- nor batch-dup, appended it, and created a SECOND
    store holder for the fingerprint."""
    from acled_spark.dedup_store import process_batch

    root, _ = store
    novel = "cross epoch redelivery sentence never present in the seed corpus"
    # epoch 1: 5001 becomes the store's holder for this fingerprint
    _, n1 = process_batch(
        spark, _mk_batch(spark, [(5001, novel, "en", "srcx", len(novel))]), root
    )
    assert n1 == 1
    # epoch 2: the holder is REDELIVERED alongside a smaller new id
    batch2 = _mk_batch(spark, [
        (4001, novel, "en", "srcx", len(novel)),   # batch min, new doc
        (5001, novel, "en", "srcx", len(novel)),   # redelivered holder
    ])
    verdicts, n2 = process_batch(spark, batch2, root)
    v = {r["doc_id"]: r for r in verdicts.collect()}
    # batch-min doc is a real store-dup of the existing holder
    assert v[4001]["is_exact_dup"] and v[4001]["dup_of"] == 5001
    # the redelivered holder self-matches (not exact dup) and is a
    # batch dup (not the batch min) -> nothing appends
    assert not v[5001]["is_exact_dup"] and v[5001]["is_batch_dup"]
    assert n2 == 0
    # one-canonical-row-per-fingerprint invariant holds in the store
    holders = (
        spark.read.parquet(f"{root}/exact")
        .groupBy("fingerprint").count().agg(F.max("count")).first()[0]
    )
    assert holders == 1


def test_append_grows_store_by_survivors_and_is_idempotent(spark, store):
    root, corpus = store
    n0 = spark.read.parquet(f"{root}/exact").count()
    donor = corpus.filter(F.col("doc_id") == 3).first()
    novel = "fresh append text with enough distinct words to shingle fully"
    batch = _mk_batch(spark, [
        (3001, donor["text"], donor["lang"], donor["source"], donor["n_chars"]),
        (3002, novel, "en", "srcy", len(novel)),
        (3003, novel, "en", "srcy", len(novel)),  # within-batch dup
    ])
    appended = append_batch(spark, batch, root)
    # only the within-batch canonical of the novel text survives
    assert appended == 1
    assert spark.read.parquet(f"{root}/exact").count() == n0 + 1
    assert spark.read.parquet(f"{root}/bands").filter(
        F.col("doc_id") == 3002
    ).count() == 4

    # the appended doc is now an exact dup for future batches
    again = _mk_batch(spark, [(4001, novel, "en", "srcy", len(novel))])
    v = check_batch(spark, again, root).collect()[0]
    assert v["is_exact_dup"] and v["dup_of"] == 3002

    # replaying the same batch appends nothing (idempotent)
    assert append_batch(spark, batch, root) == 0
    assert spark.read.parquet(f"{root}/exact").count() == n0 + 1


def test_incremental_agrees_with_global_exact_dedup(spark, store):
    """Store(half) + check(other half) must reproduce the global
    exact-dedup verdict: a batch doc is exact-dup iff its fingerprint
    group in the FULL corpus contains a store doc."""
    root, corpus = store
    batch = load(spark, SF_DIR, "documents").filter(
        (F.col("doc_id") >= 60) & (F.col("doc_id") < 120)
    )
    v = check_batch(spark, batch, root)
    from acled_spark.queries.text import fingerprint_spark

    full = load(spark, SF_DIR, "documents").select(
        "doc_id", fingerprint_spark(F.col("text")).alias("fp")
    )
    store_fps = {
        r["fp"] for r in full.filter(F.col("doc_id") < 60).select("fp").collect()
    }
    batch_fp = {
        r["doc_id"]: r["fp"]
        for r in full.filter(
            (F.col("doc_id") >= 60) & (F.col("doc_id") < 120)
        ).collect()
    }
    for r in v.collect():
        assert r["is_exact_dup"] == (batch_fp[r["doc_id"]] in store_fps)


def test_dedup_maintainer_foreach_batch_face(spark, store):
    """Streaming face: batches fold in sequentially, verdicts surface
    per epoch, replayed epochs append nothing (exactly-once growth)."""
    from acled_spark.dedup_store import DedupMaintainer

    root, _ = store
    n0 = spark.read.parquet(f"{root}/exact").count()
    seen = []
    maint = DedupMaintainer(root, on_verdicts=lambda v: seen.append(v.collect()))

    t1 = "streaming batch one brings words unseen by the store before now"
    t2 = "streaming batch two also carries its own completely fresh text"
    b1 = _mk_batch(spark, [(5001, t1, "en", "s", len(t1))])
    b2 = _mk_batch(spark, [
        (5002, t2, "en", "s", len(t2)),
        (5003, t1, "en", "s", len(t1)),   # dup of batch 1's doc
    ])
    maint(b1, epoch_id=0)
    maint(b2, epoch_id=1)
    assert maint.batches_applied == 2
    # 5003 duplicates 5001, which epoch 0 appended -> exact dup
    v2 = {r["doc_id"]: r for r in seen[1]}
    assert v2[5003]["is_exact_dup"] and v2[5003]["dup_of"] == 5001
    assert not v2[5002]["is_exact_dup"]
    assert maint.docs_appended == 2
    assert spark.read.parquet(f"{root}/exact").count() == n0 + 2

    # crash-replay of epoch 1: verdicts re-emitted, nothing re-appended
    maint(b2, epoch_id=1)
    assert maint.docs_appended == 2
    assert spark.read.parquet(f"{root}/exact").count() == n0 + 2


def test_dedup_maintainer_idle_batch_runs_one_job(spark, store):
    """An idle trigger interval's zero-row batch costs the emptiness
    probe alone: no verdicts reach the policy hook, no signature pass
    or store read runs (one Spark job in all)."""
    from acled_spark.dedup_store import DedupMaintainer

    root, corpus = store
    seen = []
    maint = DedupMaintainer(root, on_verdicts=seen.append)
    sc = spark.sparkContext
    group = "dedup-idle-batch"
    sc.setJobGroup(group, "idle batch probe")
    try:
        maint(corpus.filter(F.col("doc_id") < 0), epoch_id=0)
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert seen == [] and maint.batches_applied == 0
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_append_raises_on_id_reuse_with_different_text(spark, store):
    """A batch doc_id already in the store with DIFFERENT text is an
    upstream identity bug: silently dropping it would leave the new
    text's signatures out of the store forever."""
    root, corpus = store
    assert corpus.filter(F.col("doc_id") == 7).count() == 1
    batch = _mk_batch(spark, [
        (7, "totally different replacement text for an existing id",
         "en", "s", 52),
    ])
    with pytest.raises(ValueError, match="different text"):
        append_batch(spark, batch, root)
    # replaying the ORIGINAL (id, text) is still a clean no-op
    donor = corpus.filter(F.col("doc_id") == 7).first()
    replay = _mk_batch(
        spark,
        [(7, donor["text"], donor["lang"], donor["source"], donor["n_chars"])],
    )
    assert append_batch(spark, replay, root, survivors_only=False) == 0


def test_append_raises_on_id_reuse_even_when_new_text_is_a_dup(spark, store):
    """The id-reuse guard must cover dup rows too: a batch doc reusing
    store id 7 with OTHER-doc text is still an identity bug — filtering
    it as an exact dup before the check would let it pass silently."""
    root, corpus = store
    donor = corpus.filter(F.col("doc_id") != 7).first()
    assert donor is not None
    batch = _mk_batch(
        spark,
        [(7, donor["text"], donor["lang"], donor["source"], donor["n_chars"])],
    )
    # sanity: this batch row IS an exact dup of the donor's store row
    v = check_batch(spark, batch, root).collect()[0]
    assert v["is_exact_dup"]
    with pytest.raises(ValueError, match="different text"):
        append_batch(spark, batch, root)


def test_crash_between_band_and_exact_writes_self_heals(spark, store):
    """Crash-ordering contract: bands/ commits before exact/, the
    replay gate keys on exact/ — so a crash between the two writes is
    healed by the replay (exact lands, duplicate band rows are inert
    for the left_semi collision check)."""
    root, _ = store
    novel = "crash window text with plenty of fresh never stored words"
    batch = _mk_batch(spark, [(6001, novel, "en", "s", len(novel))])
    # simulate the crash: append only the bands half manually
    from acled_spark.dedup_store import signatures

    _, bands = signatures(batch)
    bands.write.mode("append").parquet(f"{root}/bands")
    # replay the epoch through the normal path
    assert append_batch(spark, batch, root) == 1
    # store is consistent: doc present in exact/, and a future copy is
    # flagged with full band collisions despite the duplicated band rows
    again = _mk_batch(spark, [(6002, novel, "en", "s", len(novel))])
    v = check_batch(spark, again, root).collect()[0]
    assert v["is_exact_dup"] and v["dup_of"] == 6001
    assert v["n_band_collisions"] == 4


def test_init_store_bootstraps_one_signature_per_distinct_text(spark, tmp_path):
    root = str(tmp_path / "dupstore")
    text = "the same document text repeated under several doc ids here"
    docs = _mk_batch(spark, [
        (1, text, "en", "s", len(text)),
        (2, text, "en", "s", len(text)),
        (3, "another distinct text with its own words entirely", "en", "s", 49),
    ])
    init_store(docs, root)
    exact = spark.read.parquet(f"{root}/exact")
    assert exact.count() == 2          # one per distinct text
    assert exact.filter(F.col("doc_id") == 1).count() == 1  # min id survives
    assert spark.read.parquet(f"{root}/bands").select(
        "doc_id"
    ).distinct().count() == 2


def test_bucketed_table_store_matches_path_store_and_avoids_store_shuffle(
    spark, store, tmp_path
):
    """table: backend — bucketed metastore tables keyed on the FULL
    join key set.  Verdicts must be identical to the path backend,
    appends must preserve the bucket spec, and BOTH store scans (exact
    and bands) must read pre-clustered buckets — no 'Bucketed: false
    (disabled by query planner)' anywhere — the 'bucket at scale'
    claim as code."""
    from tests.conftest import formatted_plan

    root_path, corpus = store
    troot = "table:sig_t"
    for t in ("sig_t_exact", "sig_t_bands"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        init_store(corpus, troot)
        batch = load(spark, SF_DIR, "documents").filter(
            (F.col("doc_id") >= 60) & (F.col("doc_id") < 120)
        )
        key = lambda rows: sorted(tuple(r) for r in rows)
        v_table = check_batch(spark, batch, troot)
        assert key(v_table.collect()) == key(
            check_batch(spark, batch, root_path).collect()
        )

        # plan: BOTH bucketed store scans feed their joins without the
        # planner falling back to an unbucketed scan + Exchange (a
        # band_key-only bucketing regressed exactly that way: the
        # (band_id, band_key) join couldn't be co-partitioned)
        plan = formatted_plan(
            spark, check_batch(spark, batch, troot), disable_broadcast=True
        )
        assert plan.count("Bucketed: true") == 2, plan[:3000]
        assert "disabled by query planner" not in plan, plan[:3000]

        # append keeps the bucket spec and future checks see the doc
        novel = "bucketed append text never before present in any store"
        nb = _mk_batch(spark, [(8001, novel, "en", "s", len(novel))])
        assert append_batch(spark, nb, troot) == 1
        desc = {
            r["col_name"]: r["data_type"]
            for r in spark.sql("DESCRIBE TABLE EXTENDED sig_t_exact").collect()
        }
        assert "fingerprint" in desc.get("Bucket Columns", "")
        assert desc.get("Num Buckets") is not None
        v = check_batch(
            spark, _mk_batch(spark, [(8002, novel, "en", "s", len(novel))]), troot
        ).collect()[0]
        assert v["is_exact_dup"] and v["dup_of"] == 8001
    finally:
        for t in ("sig_t_exact", "sig_t_bands"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_null_text_docs_keep_verdict_rows_and_survive(spark, store):
    """Round-7 review: a NULL-text doc must come back with a verdict
    row (classified non-dup survivor), not silently vanish from the
    verdicts frame via the null-unsafe canon join — a release built on
    the verdicts would drop the doc from store and export alike."""
    root, _ = store
    batch = _mk_batch(spark, [
        (2001, None, "en", "web", 0),
        (2002, None, "en", "web", 0),  # two NULLs: neither dups the other
    ])
    v = {r["doc_id"]: r for r in check_batch(spark, batch, root).collect()}
    assert set(v) == {2001, 2002}  # one row per batch doc, none dropped
    for r in v.values():
        assert not r["is_exact_dup"]
        assert not r["is_batch_dup"]
        assert r["dup_of"] is None


def test_replay_of_own_id_is_not_exact_dup(spark, store):
    """Round-7 review: a store row under the doc's OWN id (replay of
    the same (id, text), or a retire_ids re-key landing on this doc)
    is not a duplicate — flagging it would drop a live canonical doc
    from a release export."""
    root, corpus = store
    donor = corpus.filter(F.col("doc_id") == 7).first()
    replay = _mk_batch(spark, [
        (7, donor["text"], donor["lang"], donor["source"], donor["n_chars"]),
    ])
    v = check_batch(spark, replay, root).collect()[0]
    assert not v["is_exact_dup"]
    assert v["dup_of"] is None
    # and a DIFFERENT id with the same text still classifies as a dup
    other = _mk_batch(spark, [
        (3007, donor["text"], donor["lang"], donor["source"], donor["n_chars"]),
    ])
    v2 = check_batch(spark, other, root).collect()[0]
    assert v2["is_exact_dup"] and v2["dup_of"] == 7


def test_append_heals_committed_staging_before_writing(spark, store, tmp_path):
    """Round-7 review: an append onto a root shadowed by a COMMITTED
    retire staging must heal the swap FIRST — otherwise the appended
    signatures land on the doomed pre-retire root and the next
    retire_ids entry heal silently destroys them."""
    import os

    from acled_spark.dedup_store import process_batch, retire_ids
    from acled_spark.fsutil import heal_dir, staging_path
    from tests.conftest import commit_crash

    root, corpus = store
    # a retire that staged + committed but crashed pre-swap: the staged
    # store drops docs >= 30
    staging = staging_path(root)
    with commit_crash("delete"):
        retire_ids(spark, corpus.filter(F.col("doc_id") >= 30), root)
    assert os.path.exists(staging) and os.path.exists(root)

    batch = _mk_batch(spark, [(5001, "entirely fresh append text payload",
                               "en", "web", 33)])
    verdicts, n = process_batch(spark, batch, root)
    assert n == 1
    assert not os.path.exists(staging)  # writer healed on entry
    # a later writer-entry heal (what the next retire_ids runs first)
    # must NOT undo the append
    heal_dir(spark, root, discard_uncommitted=True)
    # the doc's own replay self-matches -> not a dup (see
    # test_replay_of_own_id_is_not_exact_dup)
    v = check_batch(spark, batch, root).collect()[0]
    assert not v["is_exact_dup"] and v["dup_of"] is None
    # the appended signature is still present: a DIFFERENT id with the
    # same text now classifies as an exact dup of 5001
    probe = _mk_batch(spark, [(5002, "entirely fresh append text payload",
                               "en", "web", 33)])
    p = check_batch(spark, probe, root).collect()[0]
    assert p["is_exact_dup"] and p["dup_of"] == 5001


def test_init_store_keeps_every_null_text_doc(spark, tmp_path):
    """Round-7 review: groupBy coalesces NULL fingerprints into ONE
    group, so the canonical pick would drop all NULL-text docs but one
    from the bootstrap store — each must survive as its own canonical."""
    from acled_spark.dedup_store import _read_exact

    docs = _mk_batch(spark, [
        (1, "real text one", "en", "web", 13),
        (2, None, "en", "web", 0),
        (3, None, "en", "web", 0),
    ])
    root = str(tmp_path / "nullstore")
    init_store(docs, root)
    ids = {r["doc_id"] for r in _read_exact(spark, root).collect()}
    assert ids == {1, 2, 3}


def test_id_reuse_guard_is_null_safe_both_directions(spark, tmp_path):
    """r7 review: the conflict guard compared fingerprints with a
    null-UNSAFE `!=`, so text changing to or from NULL slipped through
    and the new signatures were silently dropped forever."""
    root = str(tmp_path / "nullstore")
    init_store(
        _mk_batch(spark, [
            (1, None, "en", "s", 0),                       # NULL-text doc
            (2, "stored real text for id two", "en", "s", 27),
        ]),
        root,
    )
    # NULL -> real text under the same id: identity bug, must raise
    with pytest.raises(ValueError, match="different text"):
        append_batch(
            spark,
            _mk_batch(spark, [(1, "now it has text", "en", "s", 15)]),
            root,
        )
    # real text -> NULL under the same id: symmetric, must raise
    with pytest.raises(ValueError, match="different text"):
        append_batch(spark, _mk_batch(spark, [(2, None, "en", "s", 0)]), root)
    # replaying the ORIGINAL NULL-text row stays a clean no-op
    assert append_batch(
        spark,
        _mk_batch(spark, [(1, None, "en", "s", 0)]),
        root,
        survivors_only=False,
    ) == 0


def test_replay_reports_zero_band_collisions_for_own_rows(spark, store):
    """r7 review: a replayed epoch re-checking an already-appended doc
    joined the doc's OWN store band rows as collisions, routing it to
    near-dup quarantine on replay only — verdicts must be
    replay-idempotent, not just store growth."""
    root, corpus = store
    donor = corpus.filter(F.col("doc_id") == 11).first()
    replay = _mk_batch(
        spark,
        [(11, donor["text"], donor["lang"], donor["source"], donor["n_chars"])],
    )
    v = check_batch(spark, replay, root).collect()[0]
    assert not v["is_exact_dup"]          # own-id store row is not a dup
    assert v["n_band_collisions"] == 0    # ...nor a near-dup candidate


def test_retire_empty_id_set_is_a_cheap_noop(spark, store, tmp_path):
    """r7 review: a no-change release paid a full store rewrite plus the
    staged-swap crash window for an EMPTY retire set."""
    import os

    from acled_spark.dedup_store import retire_ids
    from acled_spark.fsutil import staging_path

    root, corpus = store
    empty = spark.createDataFrame([], "doc_id long")
    before = check_batch(spark, corpus.limit(5), root).count()
    assert retire_ids(spark, empty, root) == 0
    assert not os.path.exists(staging_path(root))  # no swap walked
    assert check_batch(spark, corpus.limit(5), root).count() == before


# --- single-writer enforcement under real threads (VERDICT r11 #6) ----------
# The r11 restart lens proved SERIAL exactly-once; these pin the remaining
# untested production shape: two concurrent writers against ONE store in
# one driver (streaming DedupMaintainer thread + ad-hoc batch/retire on
# another).  The write faces serialize on a per-root lock, so the store's
# invariants (one signature per distinct text, exactly-once growth, no
# lost update across append/retire) must hold under either thread order.


def _run_threads(fns, timeout=300):
    import threading

    errs, results = [], [None] * len(fns)
    barrier = threading.Barrier(len(fns))

    def call(i, fn):
        try:
            barrier.wait(timeout=60)
            results[i] = fn()
        except Exception as exc:  # noqa: BLE001 — surfaced via assert
            errs.append(exc)

    ts = [
        threading.Thread(target=call, args=(i, f), daemon=True)
        for i, f in enumerate(fns)
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=timeout)
    assert not any(t.is_alive() for t in ts), "writer thread hung"
    return results, errs


def _guard_mutual_exclusion(monkeypatch):
    """Wrap the append critical section with an in-flight probe: two
    writers inside it at once fails the test even if the final state
    happens to come out right."""
    import threading

    import acled_spark.dedup_store as ds

    orig = ds._append_signatures
    active = threading.Semaphore(1)
    violations = []

    def guarded(*args, **kwargs):
        if not active.acquire(blocking=False):
            violations.append("concurrent entry into _append_signatures")
            return orig(*args, **kwargs)
        try:
            return orig(*args, **kwargs)
        finally:
            active.release()

    monkeypatch.setattr(ds, "_append_signatures", guarded)
    return violations


def test_concurrent_disjoint_writers_on_bucketed_table_store(
    spark, monkeypatch
):
    """Two threads process_batch disjoint batches — sharing ONE text
    across batches — against one table: store.  Exactly one of the two
    shared-text docs survives (whichever writer ran second saw it in
    the store), every other doc appends exactly once, and the writers
    never overlap inside the critical section."""
    from acled_spark.dedup_store import _read_exact, process_batch

    troot = "table:sig_conc"
    for t in ("sig_conc_exact", "sig_conc_bands"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    violations = _guard_mutual_exclusion(monkeypatch)
    try:
        init_store(
            _mk_batch(spark, [(1, "seed text one", "en", "s0", 13)]), troot
        )
        shared = "both batches carry this exact text payload"
        batch_a = _mk_batch(
            spark,
            [(200 + i, f"alpha unique text {i}", "en", "s0", 20) for i in range(4)]
            + [(204, shared, "en", "s0", len(shared))],
        )
        batch_b = _mk_batch(
            spark,
            [(210 + i, f"beta unique text {i}", "en", "s1", 19) for i in range(4)]
            + [(214, shared, "en", "s1", len(shared))],
        )
        results, errs = _run_threads(
            [
                lambda: process_batch(spark, batch_a, troot),
                lambda: process_batch(spark, batch_b, troot),
            ]
        )
        assert errs == [], errs
        assert not violations, violations
        # 8 unique texts + ONE survivor of the shared text
        assert sum(n for _, n in results) == 9
        exact = _read_exact(spark, troot)
        assert exact.count() == 1 + 9
        # one signature per distinct text — the invariant concurrency
        # would have broken without the writer lock
        assert (
            exact.groupBy("fingerprint").count().filter("count > 1").count()
            == 0
        )
        # exactly one of the two shared-text ids made it in
        holders = {
            r["doc_id"]
            for r in exact.filter(F.col("doc_id").isin(204, 214)).collect()
        }
        assert len(holders) == 1, holders
    finally:
        for t in ("sig_conc_exact", "sig_conc_bands"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_concurrent_replay_of_same_batch_appends_once(
    spark, store, monkeypatch
):
    """At-least-once delivery can hand the SAME micro-batch to two
    workers at once; the store must grow exactly once (the loser's
    append replays as a no-op through the overlap anti-join)."""
    from acled_spark.dedup_store import _read_exact, process_batch

    root, _ = store
    violations = _guard_mutual_exclusion(monkeypatch)
    before = _read_exact(spark, root).count()
    batch = _mk_batch(
        spark,
        [(900 + i, f"replayed fresh text {i}", "en", "s9", 21) for i in range(6)],
    )
    results, errs = _run_threads(
        [
            lambda: process_batch(spark, batch, root),
            lambda: process_batch(spark, batch, root),
        ]
    )
    assert errs == [], errs
    assert not violations, violations
    assert sum(n for _, n in results) == 6  # one appends 6, one appends 0
    assert _read_exact(spark, root).count() == before + 6


def test_concurrent_append_and_retire_commute(spark, store, monkeypatch):
    """A release-time retire_ids and an ingest process_batch on DISJOINT
    ids race one store; serialized writes make the two orders
    equivalent, so the final id set must be (initial - retired + new)
    either way — no lost append, no resurrected retiree."""
    from acled_spark.dedup_store import _read_exact, process_batch, retire_ids

    root, corpus = store
    _guard_mutual_exclusion(monkeypatch)
    initial_ids = {r["doc_id"] for r in _read_exact(spark, root).collect()}
    retire = sorted(initial_ids)[:5]
    post = corpus.filter(~F.col("doc_id").isin(*retire))
    batch = _mk_batch(
        spark,
        [(950 + i, f"raced ingest text {i}", "en", "s9", 19) for i in range(4)],
    )
    _, errs = _run_threads(
        [
            lambda: retire_ids(
                spark, spark.createDataFrame([(i,) for i in retire], "doc_id long"),
                root, corpus=post,
            ),
            lambda: process_batch(spark, batch, root),
        ]
    )
    assert errs == [], errs
    final_ids = {r["doc_id"] for r in _read_exact(spark, root).collect()}
    assert final_ids == (initial_ids - set(retire)) | {950, 951, 952, 953}


def test_writer_lock_key_canonicalizes_aliased_roots(tmp_path):
    """ADVICE r12: aliased spellings of ONE store root must share ONE
    writer lock — file:// URIs fold into plain paths, symlinks resolve
    via realpath, trailing slashes normalize — or the in-process
    single-writer enforcement is silently void for mixed call sites."""
    import os

    from acled_spark.dedup_store import _lock_key, _writer_lock

    root = tmp_path / "store"
    root.mkdir()
    link = tmp_path / "alias"
    os.symlink(root, link)

    spellings = [
        str(root),
        str(root) + "/",
        f"file://{root}",
        # non-empty authority spelling of the SAME local root (ADVICE
        # r13: the old scheme-prefix fold keyed this as
        # /localhost/<path>, silently voiding the shared lock)
        f"file://localhost{root}",
        str(link),
        f"{tmp_path}/./store",
    ]
    keys = {_lock_key(s) for s in spellings}
    assert keys == {os.path.realpath(str(root))}
    locks = {id(_writer_lock(s)) for s in spellings}
    assert len(locks) == 1

    # distinct roots never contend; table: roots key on the name
    assert _lock_key("table:census") == "table:census"
    assert _writer_lock("table:census") is not _writer_lock(str(root))
    # remote schemes normalize their path part, case-folding the scheme
    assert _lock_key("s3a://bucket/a/../b/") == _lock_key("S3A://bucket/b")
    # a file URI with a FOREIGN authority is not a local path: it must
    # not collide with a local root that happens to share the suffix
    assert _lock_key("file://nas01/exports/store") == "file://nas01/exports/store"
    assert _lock_key("file://nas01/exports/store") != _lock_key("/exports/store")
