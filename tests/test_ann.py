"""IVF ANN: recall against the exact brute-force baseline."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from acled_spark.ann import build_ivf_index, ivf_search, with_normalized
from acled_spark.queries.similarity import sim_topk_bruteforce
from acled_spark.tables import load

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def index(spark):
    # nlist ~ sqrt(N)/3 for the 500-vector test corpus; production uses
    # the default 16+ with proportionally larger corpora
    return build_ivf_index(load(spark, SF_DIR, "embeddings"), nlist=8)


def test_ivf_assigns_every_vector(spark, index):
    emb = load(spark, SF_DIR, "embeddings")
    assert index.assigned.count() == emb.count()
    cells = index.assigned.select("cell").distinct().count()
    assert 2 <= cells <= 8


def test_ivf_recall_vs_bruteforce(spark, index):
    exact = sim_topk_bruteforce(spark, SF_DIR)
    exact_sets = {}
    for r in exact.collect():
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    queries = load(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 5)
    approx = ivf_search(index, queries, top_k=10, nprobe=3)
    approx_sets = {}
    for r in approx.collect():
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    assert set(approx_sets) == set(exact_sets)
    recalls = [
        len(approx_sets[q] & exact_sets[q]) / len(exact_sets[q])
        for q in exact_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    # measured sweep: (nlist=8, nprobe=3) -> 0.84 mean recall scanning
    # ~37% of cells; assert with headroom against KMeans seed drift
    assert mean_recall >= 0.7, recalls

    # every approx hit must carry the same rounded cosine as exact would
    exact_cos = {
        (r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact.collect()
    }
    for r in approx.collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_cos:
            assert r["cosine"] == exact_cos[key]


def test_sim_ann_ivf_registry_recall_floor(spark):
    """The registry query (driver-visible, rows-only check) keeps
    recall@10 >= 0.8 against the exact brute-force oracle query."""
    from acled_spark.queries.similarity import sim_ann_ivf, sim_topk_bruteforce

    sf = "/root/testdata/sf0.001"
    approx = sim_ann_ivf(spark, sf).collect()
    exact = sim_topk_bruteforce(spark, sf).collect()
    by_q_approx, by_q_exact = {}, {}
    for r in approx:
        by_q_approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in exact:
        by_q_exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(by_q_approx) == set(by_q_exact)
    recalls = {
        q: len(by_q_approx[q] & by_q_exact[q]) / len(by_q_exact[q])
        for q in by_q_exact
    }
    assert sum(recalls.values()) / len(recalls) >= 0.8, recalls
    # the recall_at_k COLUMN must equal this externally computed recall
    # per query — the r12 mutation lens planted a wrong-base recall
    # (count/count == 1.0) and every read-back-only assertion passed;
    # the invariant column is only an invariant if something that does
    # not trust it recomputes it.
    col = {r["query_id"]: r["recall_at_k"] for r in approx}
    for q, ext in recalls.items():
        assert col[q] == pytest.approx(ext, abs=1e-9), (q, col[q], ext)


def test_ivf_salted_join_identical_results(spark, index):
    """salt_buckets widens the scoring join's key for parallelism;
    results must be identical for any S."""
    from acled_spark.ann import ivf_search
    from acled_spark.tables import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    probes = emb.limit(7)
    plain = ivf_search(index, probes, top_k=5, nprobe=2).collect()
    salted = ivf_search(
        index, probes, top_k=5, nprobe=2, salt_buckets=4
    ).collect()
    assert [tuple(r) for r in plain] == [tuple(r) for r in salted]


def test_sim_ann_ivf_emits_recall_column(spark):
    """The query output itself carries recall@k vs the exact baseline
    (constant per query group, >= the tested floor) — driver-visible
    self-certification."""
    from acled_spark.queries.similarity import TOP_K, sim_ann_ivf

    rows = sim_ann_ivf(spark, "/root/testdata/sf0.001").collect()
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], set()).add(r["recall_at_k"])
    # one recall value per query, and the mean holds the floor
    assert all(len(v) == 1 for v in by_q.values())
    mean = sum(next(iter(v)) for v in by_q.values()) / len(by_q)
    assert mean >= 0.8, by_q
    assert all(0.0 <= next(iter(v)) <= 1.0 for v in by_q.values())


# --- incremental maintenance (VERDICT r3 #7) --------------------------------


def _emb_dim(spark):
    row = load(spark, SF_DIR, "embeddings").select("embedding").first()
    return len(row["embedding"])


def test_ivf_upsert_new_vectors_searchable(spark, index):
    """Upserted vectors join the index without a refit and come back
    from search: a near-copy of an existing vector must surface as its
    own top neighbor."""
    from acled_spark.ann import ivf_search, ivf_upsert

    emb = load(spark, SF_DIR, "embeddings")
    donor = emb.filter(F.col("vec_id") == 7).first()
    clone = spark.createDataFrame(
        [(900001, [float(x) + 1e-4 for x in donor["embedding"]], donor["label"])],
        "vec_id long, embedding array<float>, label string",
    )
    idx2 = ivf_upsert(index, clone, persist=False)
    assert idx2.assigned.count() == emb.count() + 1
    # the frozen model put the clone in the donor's cell
    cells = {
        r["vec_id"]: r["cell"]
        for r in idx2.assigned.filter(
            F.col("vec_id").isin(7, 900001)
        ).collect()
    }
    assert cells[900001] == cells[7]
    # search from the donor: the clone is its nearest neighbor
    probe = emb.filter(F.col("vec_id") == 7)
    top = ivf_search(idx2, probe, top_k=5, nprobe=3).collect()
    assert top[0]["neighbor_id"] == 900001
    assert top[0]["cosine"] >= 0.999


def test_ivf_upsert_replaces_existing_ids(spark, index):
    """Re-sending an existing id updates its embedding/cell in place —
    keyed-upsert semantics, no duplicate rows."""
    from acled_spark.ann import ivf_upsert

    emb = load(spark, SF_DIR, "embeddings")
    n = emb.count()
    moved = emb.filter(F.col("vec_id") == 3).select(
        "vec_id",
        F.transform("embedding", lambda x: -x).alias("embedding"),
        "label",
    )
    idx2 = ivf_upsert(index, moved, persist=False)
    assert idx2.assigned.count() == n
    assert idx2.assigned.filter(F.col("vec_id") == 3).count() == 1


def test_ivf_recall_holds_after_upsert(spark, index):
    """Recall vs brute force on the ORIGINAL corpus is unchanged by
    upserting far-away noise vectors (they land in their own cells and
    don't displace true neighbors beyond the approximation floor)."""
    import random

    from acled_spark.ann import ivf_search, ivf_upsert
    from acled_spark.queries.similarity import TOP_K

    rng = random.Random(7)
    dim = _emb_dim(spark)
    noise = spark.createDataFrame(
        [
            (910000 + i, [rng.gauss(0, 1) for _ in range(dim)], "noise")
            for i in range(20)
        ],
        "vec_id long, embedding array<float>, label string",
    )
    idx2 = ivf_upsert(index, noise, persist=False)
    emb = load(spark, SF_DIR, "embeddings")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim_topk_bruteforce(spark, SF_DIR).collect()
    }
    approx = ivf_search(
        idx2, emb.filter(F.col("vec_id") < 5), top_k=TOP_K, nprobe=5
    ).collect()
    # noise ids may enter the candidate set but cosine ~0 keeps them out
    # of the top ranks; original-corpus recall holds the floor
    hits = sum((r["query_id"], r["neighbor_id"]) in exact for r in approx)
    assert hits / len(exact) >= 0.8


def test_ivf_staleness_signals_drift(spark, index):
    """drift_ratio ~1 on the fit corpus; off-distribution upserts push
    it up — the refit signal.  A tightly-clustered synthetic corpus
    (small base_cost) makes the signal's dynamic range visible; on the
    loose random test embeddings the ratio still must sit at 1.0 on the
    unchanged corpus (second half)."""
    import random

    from acled_spark.ann import build_ivf_index, ivf_staleness, ivf_upsert

    rng = random.Random(11)
    dim = 16

    def around(center, n, start_id, spread=0.01):
        return [
            (
                start_id + i,
                [c + rng.gauss(0, spread) for c in center],
                "c",
            )
            for i in range(n)
        ]

    centers = [
        [1.0 if j == k else 0.0 for j in range(dim)] for k in range(3)
    ]
    rows = []
    for k, c in enumerate(centers):
        rows += around(c, 60, 1000 * (k + 1))
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    tight = build_ivf_index(corpus, nlist=3, persist=False)
    base = ivf_staleness(tight)
    assert base["n_vectors"] == 180
    assert 0 < base["base_cost"] < 0.01  # tight cells
    assert base["drift_ratio"] == pytest.approx(1.0, abs=0.05)

    # upsert vectors nowhere near any centroid -> drift explodes
    far = spark.createDataFrame(
        around([-1.0 / (dim**0.5)] * dim, 60, 5000, spread=0.01),
        "vec_id long, embedding array<float>, label string",
    )
    drifted = ivf_staleness(ivf_upsert(tight, far, persist=False))
    assert drifted["drift_ratio"] > 10 * base["drift_ratio"]

    # and on the real (loose) corpus the unchanged-index ratio is 1.0
    assert ivf_staleness(index)["drift_ratio"] == pytest.approx(1.0, abs=0.05)


def test_ivf_maintainer_foreach_batch_face(spark, index):
    """The foreachBatch callable folds batches in and exposes the
    refit signal; batches compose like one big upsert."""
    from acled_spark.ann import IvfMaintainer, ivf_upsert

    emb = load(spark, SF_DIR, "embeddings")
    n = emb.count()
    maint = IvfMaintainer(index)
    b1 = spark.createDataFrame(
        [(930000, [0.1] * _emb_dim(spark), "x")],
        "vec_id long, embedding array<float>, label string",
    )
    b2 = spark.createDataFrame(
        [(930001, [0.2] * _emb_dim(spark), "x")],
        "vec_id long, embedding array<float>, label string",
    )
    maint(b1, epoch_id=0)
    maint(b2, epoch_id=1)
    assert maint.batches_applied == 2
    assert maint.index.assigned.count() == n + 2
    assert isinstance(maint.needs_refit(), bool)
    one_shot = ivf_upsert(index, b1.unionByName(b2), persist=False)
    assert one_shot.assigned.count() == maint.index.assigned.count()
    maint.index.unpersist()


def test_ivf_upsert_dedupes_duplicate_ids_within_batch(spark, index):
    """A micro-batch carrying two updates for one vec_id must leave ONE
    row for it in the index (the silver survivor contract) — duplicate
    rows would double-count searches and drift stats."""
    from acled_spark.ann import ivf_upsert

    emb = load(spark, SF_DIR, "embeddings")
    n = emb.count()
    donor = emb.filter(F.col("vec_id") == 5).first()
    twice = spark.createDataFrame(
        [
            (5, [float(x) for x in donor["embedding"]], "a"),
            (5, [float(x) + 1e-3 for x in donor["embedding"]], "b"),
        ],
        "vec_id long, embedding array<float>, label string",
    )
    idx2 = ivf_upsert(index, twice, persist=False)
    assert idx2.assigned.count() == n
    assert idx2.assigned.filter(F.col("vec_id") == 5).count() == 1
    # a brand-new id duplicated in the batch lands exactly once too
    fresh_dup = twice.withColumn("vec_id", F.lit(990007).cast("long"))
    idx3 = ivf_upsert(index, fresh_dup, persist=False)
    assert idx3.assigned.filter(F.col("vec_id") == 990007).count() == 1
    assert idx3.assigned.count() == n + 1


def test_ivf_staleness_without_usable_base_cost_never_nan(spark, index):
    """base_cost None (externally built index) or 0.0 (degenerate fit)
    must yield a refit-worthy drift_ratio, not NaN — NaN > threshold is
    silently False and kills the refit signal forever."""
    import math

    from acled_spark.ann import IvfIndex, IvfMaintainer, ivf_staleness

    for broken_base in (None, 0.0):
        idx = IvfIndex(
            model=index.model, assigned=index.assigned, base_cost=broken_base
        )
        st = ivf_staleness(idx)
        assert not math.isnan(st["drift_ratio"])
        # real corpus has nonzero spread around the centroids
        assert st["mean_sq_dist"] > 0
        assert st["drift_ratio"] == float("inf")
        assert IvfMaintainer(idx).needs_refit()


@pytest.mark.slow  # ~35 s refit loop (VERDICT r14 #1)
def test_ivf_refit_policy_closed_loop(spark):
    """The documented refit-at-1.5 policy end-to-end (VERDICT r4 #7):
    off-distribution upserts push drift_ratio past the threshold ->
    needs_refit() flips -> a batch refit (build_ivf_index over the
    merged corpus) recovers both the drift ratio (~1.0) and the recall
    that the stale centroids lost.

    The upserted cluster sits at the MIDPOINT of two fit-time centroid
    directions, so its members split across two stale cells; an
    nprobe=1 search for a new-cluster query probes one cell and misses
    the members assigned to the other — a real recall drop, not just a
    drift number.  After refit the cluster owns a cell and recall
    recovers.
    """
    import math
    import random

    from acled_spark.ann import IvfMaintainer, build_ivf_index, ivf_search

    rng = random.Random(23)
    dim = 16

    def around(center, n, start_id, spread):
        return [
            (start_id + i, [c + rng.gauss(0, spread) for c in center], "c")
            for i in range(n)
        ]

    axes = [[1.0 if j == k else 0.0 for j in range(dim)] for k in range(3)]
    base_rows = []
    for k, c in enumerate(axes):
        base_rows += around(c, 60, 1000 * (k + 1), spread=0.01)
    schema = "vec_id long, embedding array<float>, label string"
    corpus = spark.createDataFrame(base_rows, schema)

    maint = IvfMaintainer(build_ivf_index(corpus, nlist=3, persist=False))
    assert not maint.needs_refit(threshold=1.5)

    # new cluster equidistant between axis-0 and axis-1 centroids, with
    # enough spread that assignment splits across the two stale cells
    mid = [x / math.sqrt(2.0) for x in
           [a + b for a, b in zip(axes[0], axes[1])]]
    new_rows = around(mid, 60, 5000, spread=0.08)
    maint(spark.createDataFrame(new_rows, schema), epoch_id=0)

    stale = maint.staleness()
    assert stale["drift_ratio"] > 1.5
    assert maint.needs_refit(threshold=1.5)

    # exact top-10 (cosine, self excluded) for 5 new-cluster queries,
    # computed in-test over the 240-row corpus
    def _norm(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    all_rows = base_rows + new_rows
    normed = {i: _norm(v) for i, v, _ in all_rows}
    q_ids = [5000 + i for i in range(5)]
    exact = {}
    for q in q_ids:
        cos = sorted(
            (
                (sum(a * b for a, b in zip(normed[q], normed[i])), i)
                for i in normed
                if i != q
            ),
            reverse=True,
        )[:10]
        exact[q] = {i for _, i in cos}

    queries = spark.createDataFrame(
        [r for r in new_rows if r[0] in q_ids], schema
    )

    def recall(index):
        got = {}
        for r in ivf_search(index, queries, top_k=10, nprobe=1).collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(
            len(got.get(q, set()) & exact[q]) / len(exact[q]) for q in q_ids
        ) / len(q_ids)

    stale_recall = recall(maint.index)

    # the refit itself: rebuild over the merged corpus, swap, re-check
    merged = maint.index.assigned.select("vec_id", "embedding")
    maint.index = build_ivf_index(merged, nlist=4, persist=False)
    after = maint.staleness()
    assert after["drift_ratio"] == pytest.approx(1.0, abs=0.05)
    assert not maint.needs_refit(threshold=1.5)

    refit_recall = recall(maint.index)
    assert refit_recall >= 0.9, (stale_recall, refit_recall)
    assert refit_recall > stale_recall, (stale_recall, refit_recall)


def test_maintainer_skips_empty_batches(spark, index):
    """Round-7 review: idle trigger intervals hand the maintainer
    zero-row batches; each must be a true no-op (no index
    rematerialization, same index object)."""
    from acled_spark.ann import IvfMaintainer

    maint = IvfMaintainer(index)
    before = maint.index
    empty = load(spark, SF_DIR, "embeddings").filter(F.lit(False))
    maint(empty, epoch_id=0)
    assert maint.batches_applied == 0
    assert maint.index is before


def test_old_index_still_searchable_after_upsert(spark, index):
    """Round-7 review: ivf_upsert must not eagerly unpersist the old
    assignment (a localCheckpoint has no recompute path) — a search
    against the PREVIOUS index issued after an upsert must still run."""
    from acled_spark.ann import ivf_upsert

    emb = load(spark, SF_DIR, "embeddings")
    # build a checkpoint-backed index state the way the maintainer does
    idx1 = ivf_upsert(index, emb.limit(5).withColumn(
        "vec_id", F.col("vec_id") + 100000))
    q = emb.limit(1)
    idx2 = ivf_upsert(idx1, emb.limit(5).withColumn(
        "vec_id", F.col("vec_id") + 200000))
    # idx1 (superseded) still serves searches without missing-block errors
    old_hits = ivf_search(idx1, q, top_k=3, nprobe=4)
    assert old_hits.count() > 0
    assert ivf_search(idx2, q, top_k=3, nprobe=4).count() > 0


def test_multiprobe_recall_dominates_single_probe(spark):
    """Multi-probe LSH must score a superset of the single-bucket
    candidates per query (its Hamming-1 probes include the own bucket),
    so recall@k vs brute-force ground truth can only rise — on this
    corpus it rises strictly."""
    from acled_spark.registry import all_specs

    SF = "/root/testdata/sf0.001"

    def topk(name):
        out = {}
        for r in all_specs()[name].builder(spark, SF).collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    truth = topk("sim_topk_bruteforce")
    single = topk("sim_ann_lsh")
    multi = topk("sim_ann_multiprobe")
    hits = lambda cand: sum(  # noqa: E731
        len(cand.get(q, set()) & truth[q]) for q in truth
    )
    assert hits(multi) >= hits(single)
    assert hits(multi) > 0  # and it actually finds true neighbors


def test_multiprobe_probe_set_is_hamming_ball(spark):
    from pyspark.sql import functions as F

    from acled_spark.queries.similarity import N_PLANES, _probe_buckets_spark

    df = spark.range(1).select(
        _probe_buckets_spark(F.lit("010011")).alias("p")
    )
    probes = df.collect()[0]["p"]
    assert len(probes) == N_PLANES + 1 == len(set(probes))
    assert probes[0] == "010011"
    for p in probes[1:]:
        assert sum(a != b for a, b in zip(p, "010011")) == 1


def test_ivf_search_keeps_null_id_corpus_rows(spark, index):
    """r7 review: the self-exclusion filter used a null-unsafe !=, so a
    corpus row with a NULL id silently vanished from every query's
    results."""
    from pyspark.sql import functions as F

    from acled_spark.ann import IvfIndex, ivf_search

    donor = index.assigned.orderBy("vec_id").limit(1).withColumn(
        "vec_id", F.lit(None).cast("long")
    )
    dirty = IvfIndex(
        model=index.model,
        assigned=index.assigned.unionByName(donor),
        base_cost=index.base_cost,
    )
    queries = (
        index.assigned.orderBy("vec_id").limit(1)
        .withColumn("vec_id", F.lit(999_999).cast("long"))
        .select("vec_id", "embedding")
    )
    out = ivf_search(dirty, queries, top_k=200)
    # the NULL-id row is the donor's clone -> cosine 1.0 with the query;
    # it must appear in the results, not silently vanish
    assert any(r["neighbor_id"] is None for r in out.collect())


def test_ivf_maintainer_durable_path_survives_block_loss(spark, index, tmp_path):
    """r7 review: localCheckpoint blocks die with their executor, so a
    long-running maintainer's ONLY index copy was non-fault-tolerant.
    With durable_path the assignment is served from parquet: dropping
    every cached/checkpointed block leaves the index fully readable."""
    from pyspark.sql import functions as F

    from acled_spark.ann import IvfMaintainer, ivf_search

    durable = str(tmp_path / "ivf_assign")
    maint = IvfMaintainer(index, durable_path=durable)
    batch = (
        index.assigned.orderBy("vec_id").limit(5)
        .select(
            (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
        )
    )
    maint(batch, epoch_id=0)
    # served frame holds corpus + fold (a real count, not a toothless
    # partition probe — r7 test review)
    assert maint.index.assigned.count() == index.assigned.count() + 5
    # simulate total executor-state loss: clear every cached block
    spark.catalog.clearCache()
    spark.sparkContext._jsc.sc().cleaner().get()  # cleaner exists; no-op touch
    # the index still answers from parquet
    q = index.assigned.orderBy("vec_id").limit(1).select(
        (F.col("vec_id") + 555_555).alias("vec_id"), "embedding"
    )
    got = ivf_search(maint.index, q, top_k=5).collect()
    assert len(got) == 5
    # second fold reads the previous parquet and swaps cleanly
    maint(batch, epoch_id=1)
    assert maint.index.assigned.filter(F.col("vec_id") >= 100_000).count() == 5


def test_ivf_durable_fold_keeps_previous_fold_readable(spark, index, tmp_path):
    """ADVICE r7 (medium): the old delete-then-rename replaced the exact
    directory the currently-served index read, so a search against the
    superseded IvfIndex could FileNotFound mid-fold.  Epoch-versioned
    folds keep the previous fold on disk through the commit: the
    superseded index must still answer AFTER the next fold lands, and
    the retain window must GC folds older than current+previous."""
    from pyspark.sql import functions as F

    from acled_spark.ann import (
        _committed_epochs, IvfMaintainer, ivf_search,
    )

    durable = str(tmp_path / "ivf_root")
    maint = IvfMaintainer(index, durable_path=durable)

    def batch(offset):
        return index.assigned.orderBy("vec_id").limit(3).select(
            (F.col("vec_id") + offset).alias("vec_id"), "embedding"
        )

    maint(batch(100_000), epoch_id=0)
    superseded = maint.index  # serves from _epoch-000000000
    maint(batch(200_000), epoch_id=1)  # commits _epoch-000000001
    # the superseded index's files survived the second fold
    q = index.assigned.orderBy("vec_id").limit(1).select(
        (F.col("vec_id") + 555_555).alias("vec_id"), "embedding"
    )
    assert len(ivf_search(superseded, q, top_k=3).collect()) == 3
    assert _committed_epochs(spark, durable) == [0, 1]
    # third fold GCs epoch 0 (retain = current + previous)
    maint(batch(300_000), epoch_id=2)
    assert _committed_epochs(spark, durable) == [1, 2]


def test_ivf_maintainer_resume_from_durable(spark, index, tmp_path):
    """ADVICE r7: a restarted maintainer must come back from the durable
    root without by-hand promotion — latest committed fold wins, and an
    uncommitted partial (no _SUCCESS) is ignored then overwritten."""
    from pyspark.sql import functions as F

    from acled_spark.ann import _epoch_dir, IvfMaintainer

    durable = str(tmp_path / "ivf_root")
    maint = IvfMaintainer(index, durable_path=durable)
    batch = index.assigned.orderBy("vec_id").limit(4).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    maint(batch, epoch_id=0)
    n = maint.index.assigned.count()

    # simulate a crash mid-fold: an UNCOMMITTED epoch-1 partial
    import os
    partial = _epoch_dir(durable, 1)
    os.makedirs(partial, exist_ok=True)
    with open(os.path.join(partial, "part-corrupt.parquet"), "w") as f:
        f.write("half-written")

    revived = IvfMaintainer.resume(
        spark, index.model, durable, base_cost=index.base_cost
    )
    assert revived.index.assigned.count() == n  # epoch 0, not the partial
    # the next fold overwrites the partial at epoch 1 and commits it
    revived(batch.withColumn("vec_id", F.col("vec_id") + 100), epoch_id=1)
    assert revived.index.assigned.count() == n + 4


def test_load_ivf_index_without_committed_fold_raises(spark, index, tmp_path):
    """No committed epoch fold -> the documented FileNotFoundError the
    rebuild-from-scratch path catches, also when the root holds only an
    uncommitted epoch partial (crash mid-FIRST-fold), which must not
    leak Spark's unable-to-infer-schema AnalysisException (r8 review)."""
    import os

    from acled_spark.ann import _epoch_dir, load_ivf_index

    with pytest.raises(FileNotFoundError, match="no committed IVF fold"):
        load_ivf_index(spark, str(tmp_path / "absent"), index.model)
    partial_root = str(tmp_path / "partial_only")
    os.makedirs(_epoch_dir(partial_root, 0))
    with pytest.raises(FileNotFoundError, match="no committed IVF fold"):
        load_ivf_index(spark, partial_root, index.model)


def test_ivf_maintainer_replayed_epoch_adds_no_fold(spark, index):
    """foreachBatch is at-least-once: a replay of the epoch the
    in-memory maintainer just folded is a no-op (the same index object,
    not a refold of the same rows); the next epoch folds."""
    from acled_spark.ann import IvfMaintainer

    maint = IvfMaintainer(index)
    batch = index.assigned.orderBy("vec_id").limit(2).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    maint(batch, epoch_id=4)
    folded = maint.index
    maint(batch, epoch_id=4)
    assert maint.index is folded and maint.batches_applied == 1
    maint(batch, epoch_id=5)
    assert maint.index is not folded and maint.batches_applied == 2


def test_ivf_durable_replay_adds_no_epoch_across_resume(spark, index, tmp_path):
    """The durable stamp rides in the serving fold, so a replay is a
    no-op in the folding process AND after resume(): no new _epoch-N."""
    from acled_spark.ann import _committed_epochs, IvfMaintainer

    durable = str(tmp_path / "ivf_root")
    maint = IvfMaintainer(index, durable_path=durable)
    batch = index.assigned.orderBy("vec_id").limit(2).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    maint(batch, epoch_id=0)
    folded = maint.index
    maint(batch, epoch_id=0)
    assert maint.index is folded
    assert _committed_epochs(spark, durable) == [0]

    revived = IvfMaintainer.resume(
        spark, index.model, durable, base_cost=index.base_cost
    )
    served = revived.index
    revived(batch, epoch_id=0)
    assert revived.index is served and revived.batches_applied == 0
    assert _committed_epochs(spark, durable) == [0]
    revived(batch, epoch_id=1)
    assert _committed_epochs(spark, durable) == [0, 1]


def test_ivf_gc_never_deletes_the_serving_epoch(spark, index, tmp_path):
    """r8 lens review: a crash between a fold's _SUCCESS and the index
    swap leaves an orphan committed epoch; the replayed fold's GC used
    to count the retain window from the ORPHAN and delete the epoch
    the maintainer is still serving.  The clamp: nothing at or above
    index.epoch is ever GC'd."""
    from pyspark.sql import functions as F

    from acled_spark.ann import (
        _commit_durable_fold, _committed_epochs, IvfMaintainer,
    )

    durable = str(tmp_path / "ivf_root")
    maint = IvfMaintainer(index, durable_path=durable)
    batch = index.assigned.orderBy("vec_id").limit(2).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    maint(batch, epoch_id=0)                    # serving _epoch-0
    assert maint.index.epoch == 0
    # simulate the crash window: a fold COMMITS epoch 1 but the swap
    # never happens (maint.index still serves epoch 0)
    _commit_durable_fold(
        spark, maint.index.assigned.limit(1), durable, serving_epoch=0
    )
    assert _committed_epochs(spark, durable) == [0, 1]
    # the replayed fold (epoch 2) must NOT GC epoch 0 — the serving fold
    maint(batch.withColumn("vec_id", F.col("vec_id") + 7), epoch_id=1)
    assert maint.index.epoch == 2
    assert 0 in _committed_epochs(spark, durable)
    # and the index served before the replay still answers
    n = maint.index.assigned.count()
    assert n > 0
    # once the maintainer has moved on (serving epoch 2), the next fold
    # GCs the old window normally
    maint(batch.withColumn("vec_id", F.col("vec_id") + 9), epoch_id=2)
    assert _committed_epochs(spark, durable) == [2, 3]


def test_ivf_maintainer_releases_initial_build_cache(spark, tmp_path):
    """r8 lens review: the build-time .cache() is a SQL CacheManager
    entry (strong JVM reference) — superseding the index must uncache
    it or a long stream pins the corpus-sized cache forever.  Safe to
    do eagerly: a cache keeps lineage, so in-flight searches recompute
    rather than fail."""
    from pyspark.sql import functions as F

    from acled_spark.ann import build_ivf_index, IvfMaintainer
    from acled_spark.tables import load

    idx = build_ivf_index(load(spark, SF_DIR, "embeddings"), nlist=4)
    assert idx.assigned.storageLevel.useMemory  # cached at build
    maint = IvfMaintainer(idx)
    batch = idx.assigned.orderBy("vec_id").limit(2).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    maint(batch, epoch_id=0)
    assert not idx.assigned.storageLevel.useMemory  # released on fold 1
    # the superseded index still ANSWERS (recompute, not failure)
    assert idx.assigned.count() > 0


def test_ivf_retain_window_is_a_knob(spark, index, tmp_path):
    """r8 review: the GC window must scale to the consumer's slowest
    search (a reader superseded `retain` times loses its fold) —
    retain=3 keeps three folds where the default keeps two."""
    from pyspark.sql import functions as F

    from acled_spark.ann import _committed_epochs, IvfMaintainer

    durable = str(tmp_path / "ivf_root")
    maint = IvfMaintainer(index, durable_path=durable, retain=3)
    batch = index.assigned.orderBy("vec_id").limit(2).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    for e in range(4):
        maint(batch.withColumn("vec_id", F.col("vec_id") + e), epoch_id=e)
    assert _committed_epochs(spark, durable) == [1, 2, 3]

    with pytest.raises(ValueError, match="retain must be >= 1"):
        from acled_spark.ann import ivf_upsert

        ivf_upsert(maint.index, batch, durable_path=durable, retain=0)


def test_adaptive_nlist_sizing_and_cell_target_fold(spark):
    """VERDICT r13 #5a: dedup_semantic's nlist sizing rides the index
    build's own count instead of a dedicated corpus pass.  Pin the
    shared formula (clamp(n // cell_target, 8, 4096)) and that
    ``build_ivf_index(cell_target=...)`` actually applies it to ITS
    counted n (ignoring the nlist param)."""
    from acled_spark.ann import adaptive_nlist

    assert adaptive_nlist(100, 64) == 8            # floor
    assert adaptive_nlist(100_000, 64) == 1562
    assert adaptive_nlist(10**9, 64) == 4096       # broadcast cap
    assert adaptive_nlist(640, 64) == 10

    emb = load(spark, SF_DIR, "embeddings")        # 500 valid vectors
    n = emb.filter(F.col("embedding").isNotNull()).count()
    want = adaptive_nlist(n, 32)
    idx = build_ivf_index(emb, nlist=2, cell_target=32, persist=False)
    assert len(idx.model.clusterCenters()) == want  # nlist=2 ignored


def test_with_normalized_divides_by_the_float_product_norm(spark):
    """with_normalized's norm is sqrt(dot(raw, raw)): each product is a
    float product, widened before the sum (vector.py's float-product
    rule).  The vector is one where the widen-first l2_norm differs, so
    respelling the norm as l2_norm, which would move every KMeans input
    and IVF centroid, fails here."""
    x = np.array([0.1, 0.2, 0.3, 1.7, -2.9], dtype=np.float32)
    float_nrm = math.sqrt(sum(float(p) for p in x * x))  # sequential fold
    double_nrm = math.sqrt(sum(float(v) * float(v) for v in x))
    assert float_nrm != double_nrm

    df = spark.createDataFrame([([float(v) for v in x],)], "v array<float>")
    got = with_normalized(df, "v").first()["__n"]
    assert got == [float(v) / float_nrm for v in x]
