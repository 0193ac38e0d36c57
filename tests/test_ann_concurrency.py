"""IVF epoch-layout concurrency IT (VERDICT r8 #5 / r10 #3): searches
against epoch N run on a REAL reader thread while the maintainer folds
to N+1 and the GC pass collects expired folds.  The epoch-versioned
layout's whole purpose is that an in-flight search never loses its
files (the old delete-then-rename swap could FileNotFound a
reader of the superseded index mid-scan) — this file pins that under
actual thread-level concurrency, plus the GC clamp: nothing at or
above the SERVING epoch is ever collected, even when crash-orphan
epochs ahead of it would move the retain cutoff past it.

Unit-level coverage of the layout (commit markers, legacy healing,
retain windows) lives in test_ann.py; this is the adversarial
reader-vs-writer version.
"""

from __future__ import annotations

import threading
import time

import pytest
from pyspark.sql import functions as F

from acled_spark.ann import (
    IvfMaintainer,
    _committed_epochs,
    _epoch_dir,
    build_ivf_index,
    ivf_search,
)
from acled_spark.tables import load

# slow tier (VERDICT r14 #1): concurrent fold/GC stress (~1 min); run with `-m ""`.
pytestmark = pytest.mark.slow


SF_DIR = "/root/testdata/sf0.001"
DIM = 64


def _one_hot(i):
    v = [0.0] * DIM
    v[i % DIM] = 1.0
    return v


def _batch(spark, i):
    return spark.createDataFrame(
        [(950_000 + i, _one_hot(i))], "vec_id long, embedding array<float>"
    )


def _probes(spark):
    return spark.createDataFrame(
        [(999_999_900 + i, _one_hot(i)) for i in range(3)],
        "vec_id long, embedding array<float>",
    )


class _Reader:
    """Search loop over a PINNED index on its own thread — the
    consumer shape the retain window exists for."""

    def __init__(self, spark, index):
        self.index = index
        self.probes = _probes(spark)
        self.errors: list[Exception] = []
        self.searches = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            try:
                rows = ivf_search(
                    self.index, self.probes, top_k=2, nprobe=4
                ).collect()
                assert rows  # every search returns candidates
                self.searches += 1
            except Exception as e:  # FileNotFound shape lands here
                self.errors.append(e)
                return

    def start(self):
        self._thread.start()
        return self

    def wait_for(self, n, timeout=60):
        t0 = time.time()
        while self.searches < n and not self.errors:
            if time.time() - t0 > timeout:
                raise AssertionError(
                    f"reader made only {self.searches} searches in {timeout}s"
                )
            time.sleep(0.05)

    def stop(self):
        self._stop.set()
        self._thread.join(60)
        return self


@pytest.fixture()
def durable_maint(spark, tmp_path):
    emb = load(spark, SF_DIR, "embeddings").filter(F.size("embedding") == DIM)
    index = build_ivf_index(emb, nlist=4)
    maint = IvfMaintainer(index, durable_path=str(tmp_path / "ivf"), retain=2)
    maint(_batch(spark, 0), epoch_id=0)  # epoch 0 committed & serving
    yield maint, str(tmp_path / "ivf")
    index.unpersist()


def test_search_survives_concurrent_fold_and_gc(spark, durable_maint):
    """A reader pinned to epoch N searches continuously while the
    maintainer folds to N+1 (whose GC pass runs): zero failures, and
    the reader's epoch stays on disk (immediately superseded = inside
    the retain window)."""
    maint, root = durable_maint
    reader = _Reader(spark, maint.index).start()  # pins epoch 0
    try:
        reader.wait_for(2)  # searches genuinely in flight
        before = reader.searches
        maint(_batch(spark, 1), epoch_id=1)  # fold + GC while reads run
        assert _committed_epochs(spark, root) == [0, 1]
        # the reader keeps completing searches AFTER the fold+GC
        reader.wait_for(before + 3)
    finally:
        reader.stop()
    assert reader.errors == []

    # phase 2: a reader pinned to epoch 1 while the fold to epoch 2
    # GC-collects epoch 0 (now outside the retain window) — the
    # collected fold is NOT the reader's, so still zero failures
    reader2 = _Reader(spark, maint.index).start()  # pins epoch 1
    try:
        reader2.wait_for(2)
        before = reader2.searches
        maint(_batch(spark, 2), epoch_id=2)
        assert _committed_epochs(spark, root) == [1, 2]  # epoch 0 GC'd
        reader2.wait_for(before + 3)
    finally:
        reader2.stop()
    assert reader2.errors == []
    # the search results stay correct across the folds: every streamed
    # vector is retrievable from the final index
    got = {
        r["neighbor_id"]
        for r in ivf_search(
            maint.index, _probes(spark), top_k=1, nprobe=4
        ).collect()
    }
    assert got == {950_000, 950_001, 950_002}


def test_gc_never_touches_serving_epoch_despite_orphans(spark, durable_maint):
    """Crash-orphan clamp under concurrency: committed epochs AHEAD of
    the serving one (a fold that committed but never swapped before a
    crash) must not drag the GC cutoff past the epoch a live reader is
    scanning.  Plant an orphan at epoch 7, fold while a reader is
    pinned to the serving epoch, and assert the serving fold survives
    even though the orphan-relative cutoff (7 + 1 - 1 = 7) would have
    collected it."""
    maint, root = durable_maint
    serving = maint.index.epoch
    assert serving == 0

    # simulate the crash window: a fold committed at epoch 7 that the
    # maintainer never served (no swap happened)
    orphan = maint.index.assigned.limit(5)
    orphan.write.mode("overwrite").parquet(_epoch_dir(root, 7))
    assert 7 in _committed_epochs(spark, root)

    reader = _Reader(spark, maint.index).start()  # pins serving epoch 0
    try:
        reader.wait_for(2)
        before = reader.searches
        # replayed fold: next epoch = 8, naive cutoff = 8 - 1 = 7, but
        # the serving_epoch clamp holds it at 0 — nothing the reader
        # (or the maintainer itself) scans is collected
        maint(_batch(spark, 1), epoch_id=1)
        committed = _committed_epochs(spark, root)
        assert 0 in committed  # the reader's serving fold survived
        assert committed[-1] == 8
        reader.wait_for(before + 3)
    finally:
        reader.stop()
    assert reader.errors == []
    assert maint.index.epoch == 8


def test_fold_never_unpersists_superseded_index_blocks(spark, durable_maint):
    """The durable maintainer serves FROM parquet; the superseded
    index object must stay searchable after the swap (no eager
    unpersist / delete of what it reads) — the single-threaded
    guarantee the concurrent tests above rely on, pinned explicitly."""
    maint, root = durable_maint
    superseded = maint.index
    maint(_batch(spark, 1), epoch_id=1)
    # the OLD index still answers searches after being superseded
    rows = ivf_search(superseded, _probes(spark), top_k=1, nprobe=4).collect()
    assert rows
