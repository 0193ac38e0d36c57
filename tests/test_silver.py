"""Silver upsert: replay idempotency + partition-scoped rewrite
(SURVEY §5.3 — the ON CONFLICT contract of base_assets.py:207-212)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from acled_spark.silver import merge_updates, upsert_partitioned
from acled_spark.tables import load

SF_DIR = "/root/testdata/sf0.001"


def _events_with_day(spark):
    return load(spark, SF_DIR, "events").withColumn("day", F.to_date("ts"))


def _snapshot(spark, path):
    df = spark.read.parquet(path)
    rows = df.count()
    chk = df.agg(
        F.round(F.sum("value"), 2).alias("v"),
        F.sum(F.col("event_id")).alias("k"),
    ).collect()[0]
    return rows, chk["v"], chk["k"]


def test_replay_idempotent(spark, tmp_path):
    """Applying the same partition twice leaves the table bit-identical."""
    target = os.path.join(str(tmp_path), "silver")
    ev = _events_with_day(spark)
    batch = ev.filter(F.col("day") == "2024-01-05")

    upsert_partitioned(spark, batch, target, key="event_id", partition_col="day")
    first = _snapshot(spark, target)
    upsert_partitioned(spark, batch, target, key="event_id", partition_col="day")
    assert _snapshot(spark, target) == first


def test_corrections_overwrite_and_other_partitions_untouched(spark, tmp_path):
    target = os.path.join(str(tmp_path), "silver")
    ev = _events_with_day(spark)
    d5 = ev.filter(F.col("day") == "2024-01-05")
    d6 = ev.filter(F.col("day") == "2024-01-06")
    upsert_partitioned(spark, d5, target, key="event_id", partition_col="day")
    upsert_partitioned(spark, d6, target, key="event_id", partition_col="day")
    base_rows = spark.read.parquet(target).count()
    assert base_rows == d5.count() + d6.count()

    # replay day 5 with corrected values -> same row count, shifted sum
    corrected = d5.withColumn("value", F.col("value") + 1000.0)
    upsert_partitioned(spark, corrected, target, key="event_id", partition_col="day")
    out = spark.read.parquet(target)
    assert out.count() == base_rows
    d5_sum = (
        out.filter(F.col("day") == "2024-01-05")
        .agg(F.round(F.sum("value"), 2))
        .collect()[0][0]
    )
    want = (
        corrected.agg(F.round(F.sum("value"), 2)).collect()[0][0]
    )
    assert d5_sum == want
    # day 6 untouched
    d6_rows = out.filter(F.col("day") == "2024-01-06").count()
    assert d6_rows == d6.count()


def test_merge_updates_prefers_updates_and_dedups(spark):
    existing = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k int, s string, v double"
    )
    updates = spark.createDataFrame(
        [(2, "b2", 20.0), (3, "c", 3.0), (3, "c_dup", 3.5)],
        "k int, s string, v double",
    )
    out = merge_updates(existing, updates, key="k", order_col="v")
    got = {r["k"]: (r["s"], r["v"]) for r in out.collect()}
    assert got == {1: ("a", 1.0), 2: ("b2", 20.0), 3: ("c_dup", 3.5)}


def test_merge_updates_schema_mismatch_raises(spark):
    a = spark.createDataFrame([(1, "x")], "k int, s string")
    b = spark.createDataFrame([(1,)], "k int")
    with pytest.raises(ValueError, match="schema mismatch"):
        merge_updates(a, b, key="k")


def test_delete_keys_partition_scoped(spark, tmp_path):
    """Tombstoned keys disappear; untouched partitions keep their files."""
    from acled_spark.silver import delete_keys

    target = os.path.join(str(tmp_path), "silver_del")
    ev = _events_with_day(spark)
    d5 = ev.filter(F.col("day") == "2024-01-05")
    d6 = ev.filter(F.col("day") == "2024-01-06")
    upsert_partitioned(spark, d5, target, key="event_id", partition_col="day")
    upsert_partitioned(spark, d6, target, key="event_id", partition_col="day")

    d6_dir = os.path.join(target, "day=2024-01-06")
    before_files = sorted(os.listdir(d6_dir))

    victims = d5.select("event_id", "day").orderBy("event_id").limit(7)
    n_victims = victims.count()
    deleted = delete_keys(
        spark, target, victims, key="event_id", partition_col="day"
    )
    assert deleted == n_victims

    after = spark.read.parquet(target)
    gone = after.join(victims.select("event_id"), "event_id", "inner").count()
    assert gone == 0
    assert after.count() == d5.count() + d6.count() - n_victims
    # untouched partition was not rewritten
    assert sorted(os.listdir(d6_dir)) == before_files


def test_delete_keys_removes_emptied_partition(spark, tmp_path):
    from acled_spark.silver import delete_keys

    target = os.path.join(str(tmp_path), "silver_del2")
    ev = _events_with_day(spark)
    d5 = ev.filter(F.col("day") == "2024-01-05")
    d6 = ev.filter(F.col("day") == "2024-01-06")
    upsert_partitioned(spark, d5, target, key="event_id", partition_col="day")
    upsert_partitioned(spark, d6, target, key="event_id", partition_col="day")

    # tombstone EVERY row of day 5
    deleted = delete_keys(
        spark, target, d5.select("event_id", "day"), key="event_id",
        partition_col="day",
    )
    assert deleted == d5.count()
    assert not os.path.exists(os.path.join(target, "day=2024-01-05"))
    remaining = spark.read.parquet(target)
    assert remaining.count() == d6.count()


def test_delete_keys_unbounded_full_rewrite(spark, tmp_path):
    """Without partition info in the tombstones, the delete still lands."""
    from acled_spark.silver import delete_keys

    target = os.path.join(str(tmp_path), "silver_del3")
    ev = _events_with_day(spark)
    d5 = ev.filter(F.col("day") == "2024-01-05")
    upsert_partitioned(spark, d5, target, key="event_id", partition_col="day")
    victims = d5.select("event_id").orderBy("event_id").limit(5)
    deleted = delete_keys(spark, target, victims, key="event_id", partition_col="day")
    assert deleted == 5
    assert spark.read.parquet(target).count() == d5.count() - 5


def test_delete_keys_escaped_partition_value(spark, tmp_path):
    """Fully-emptied partitions whose value needs path escaping (':' ->
    '%3A' in partition dirs) must still be physically removed."""
    from acled_spark.silver import delete_keys

    target = os.path.join(str(tmp_path), "silver_esc")
    df = spark.createDataFrame(
        [(1, "a:b"), (2, "a:b"), (3, "plain")], "id long, grp string"
    )
    df.write.partitionBy("grp").parquet(target)
    assert os.path.exists(os.path.join(target, "grp=a%3Ab"))

    tombs = spark.createDataFrame([(1, "a:b"), (2, "a:b")], "id long, grp string")
    assert delete_keys(spark, target, tombs, key="id", partition_col="grp") == 2
    assert not os.path.exists(os.path.join(target, "grp=a%3Ab"))
    left = spark.read.parquet(target)
    assert [(r["id"], r["grp"]) for r in left.collect()] == [(3, "plain")]


def test_upsert_null_partition_rows_survive_merge(spark, tmp_path):
    """NULL partition values (try_cast'ed malformed dates) must merge, not
    vanish: isin() alone would exclude __HIVE_DEFAULT_PARTITION__ rows
    while dynamic overwrite still rewrites that directory (ADVICE r1)."""
    target = os.path.join(str(tmp_path), "silver")
    base = spark.createDataFrame(
        [(1, None, 10.0), (2, None, 20.0), (3, "2024-01-05", 30.0)],
        "event_id INT, day STRING, value DOUBLE",
    ).withColumn("day", F.to_date("day"))
    upsert_partitioned(spark, base, target, key="event_id", partition_col="day")

    # update touches the NULL partition: row 1 corrected, row 2 must survive
    upd = spark.createDataFrame(
        [(1, None, 11.0)], "event_id INT, day STRING, value DOUBLE"
    ).withColumn("day", F.to_date("day"))
    upsert_partitioned(spark, upd, target, key="event_id", partition_col="day")

    out = {
        r["event_id"]: r["value"] for r in spark.read.parquet(target).collect()
    }
    assert out == {1: 11.0, 2: 20.0, 3: 30.0}


def test_table_exists_filesystem_agnostic(spark, tmp_path):
    """_table_exists must answer through the Hadoop FS API, so scheme-
    qualified URIs (here file:) behave like plain paths (ADVICE r1)."""
    from acled_spark.silver import _table_exists

    plain = os.path.join(str(tmp_path), "t1")
    assert not _table_exists(spark, plain)
    assert not _table_exists(spark, f"file://{plain}")

    df = spark.createDataFrame([(1, "a")], "id INT, day STRING")
    df.write.partitionBy("day").parquet(plain)
    assert _table_exists(spark, plain)
    assert _table_exists(spark, f"file://{plain}")

    # a dir holding only metadata (_SUCCESS-style) is not a table yet
    meta_only = os.path.join(str(tmp_path), "t2")
    os.makedirs(meta_only)
    open(os.path.join(meta_only, "_SUCCESS"), "w").close()
    assert not _table_exists(spark, meta_only)


def test_upsert_restores_overwrite_mode_conf(spark, tmp_path):
    """The dynamic-overwrite conf is scoped to the write, not leaked into
    the session (ADVICE r1: later overwrite writes would silently change
    semantics)."""
    key = "spark.sql.sources.partitionOverwriteMode"
    target = os.path.join(str(tmp_path), "silver")
    batch = _events_with_day(spark).filter(F.col("day") == "2024-01-05")

    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "static")
        upsert_partitioned(spark, batch, target, key="event_id", partition_col="day")
        assert spark.conf.get(key) == "static"

        spark.conf.unset(key)
        upsert_partitioned(spark, batch, target, key="event_id", partition_col="day")
        assert spark.conf.get(key, None) in (None, "static")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


# --- Delta MERGE dispatch gate (VERDICT r2 #5) ------------------------------
# delta-spark is not installed in this container, so these tests cover
# the gate itself: forced-delta errors clearly, auto falls back to the
# parquet path, and a faked DeltaTable proves the dispatch wiring
# reaches MERGE with a pre-deduped source.


def test_forced_delta_raises_clear_import_error(spark, tmp_path):
    ev = _events_with_day(spark).limit(5)
    with pytest.raises(ImportError, match="delta-spark"):
        upsert_partitioned(
            spark, ev, os.path.join(str(tmp_path), "t"),
            key="event_id", partition_col="day", table_format="delta",
        )


def test_unknown_format_rejected(spark, tmp_path):
    ev = _events_with_day(spark).limit(5)
    with pytest.raises(ValueError, match="table_format"):
        upsert_partitioned(
            spark, ev, os.path.join(str(tmp_path), "t"),
            key="event_id", partition_col="day", table_format="iceberg",
        )


def test_auto_without_delta_uses_parquet_path(spark, tmp_path):
    """With delta-spark absent, auto == the dynamic-overwrite fallback."""
    target = os.path.join(str(tmp_path), "silver_auto")
    ev = _events_with_day(spark)
    batch = ev.filter(F.col("day") == "2024-01-05")
    upsert_partitioned(
        spark, batch, target, key="event_id", partition_col="day",
        table_format="auto",
    )
    assert spark.read.parquet(target).count() == batch.count()


def test_delta_dispatch_reaches_merge(spark, tmp_path, monkeypatch):
    """Fake DeltaTable: auto-dispatch on an (allegedly) Delta target
    must route through merge -> whenMatched/whenNotMatched -> execute
    with a source holding exactly one row per key."""
    import acled_spark.silver as silver_mod

    calls = {}
    seq = []

    class FakeMergeBuilder:
        def whenMatchedUpdateAll(self):
            seq.append("whenMatchedUpdateAll")
            calls["matched"] = True
            return self

        def whenNotMatchedInsertAll(self):
            seq.append("whenNotMatchedInsertAll")
            calls["not_matched"] = True
            return self

        def execute(self):
            seq.append("execute")
            calls["executed"] = True

    class FakeDeltaHandle:
        def alias(self, name):
            calls["target_alias"] = name
            return self

        def merge(self, source, condition):
            calls["source_rows"] = source.count()
            calls["source_keys"] = source.select("event_id").distinct().count()
            calls["condition"] = str(condition)
            return FakeMergeBuilder()

    class FakeDeltaTable:
        @staticmethod
        def isDeltaTable(_spark, _path):
            return True

        @staticmethod
        def forPath(_spark, _path):
            return FakeDeltaHandle()

    monkeypatch.setattr(silver_mod, "_delta_table_cls", lambda: FakeDeltaTable)
    ev = _events_with_day(spark)
    batch = ev.filter(F.col("day") == "2024-01-05")
    # duplicate the batch: MERGE requires one source row per key, so the
    # dispatch must pre-dedupe through merge_updates
    doubled = batch.unionByName(batch)
    upsert_partitioned(
        spark, doubled, str(tmp_path / "delta_t"),
        key="event_id", partition_col="day", table_format="auto",
    )
    assert calls["executed"] and calls["matched"] and calls["not_matched"]
    assert seq == ["whenMatchedUpdateAll", "whenNotMatchedInsertAll", "execute"]
    assert calls["source_rows"] == calls["source_keys"] == batch.count()
    # merge condition carries the key equality and the partition pruning
    assert "event_id" in calls["condition"] and "day" in calls["condition"]


def test_forced_delta_refuses_to_clobber_existing_parquet(spark, tmp_path, monkeypatch):
    """A parquet table + table_format='delta' must error, not bootstrap
    a Delta table holding only the current batch."""
    import acled_spark.silver as silver_mod

    class FakeDeltaTable:
        @staticmethod
        def isDeltaTable(_spark, _path):
            return False

    monkeypatch.setattr(silver_mod, "_delta_table_cls", lambda: FakeDeltaTable)
    target = os.path.join(str(tmp_path), "silver_pq")
    ev = _events_with_day(spark)
    batch = ev.filter(F.col("day") == "2024-01-05")
    upsert_partitioned(
        spark, batch, target, key="event_id", partition_col="day",
        table_format="parquet",
    )
    with pytest.raises(ValueError, match="not a Delta table"):
        upsert_partitioned(
            spark, batch, target, key="event_id", partition_col="day",
            table_format="delta",
        )


def test_auto_never_creates_new_tables_as_delta(spark, tmp_path, monkeypatch):
    """auto + delta importable + NEW target -> parquet bootstrap (every
    repo reader is spark.read.parquet; Delta is explicit opt-in)."""
    import acled_spark.silver as silver_mod

    class FakeDeltaTable:
        @staticmethod
        def isDeltaTable(_spark, _path):
            return False

    monkeypatch.setattr(silver_mod, "_delta_table_cls", lambda: FakeDeltaTable)
    target = os.path.join(str(tmp_path), "silver_new")
    ev = _events_with_day(spark)
    batch = ev.filter(F.col("day") == "2024-01-05")
    upsert_partitioned(
        spark, batch, target, key="event_id", partition_col="day",
        table_format="auto",
    )
    assert spark.read.parquet(target).count() == batch.count()


def test_delete_keys_null_safe_tombstones(spark, tmp_path):
    """A tombstone carrying a NULL key value must delete NULL-keyed
    target rows (right-to-be-forgotten path) — a plain equi-join
    silently no-ops on them."""
    from acled_spark.silver import delete_keys

    path = str(tmp_path / "t")
    rows = [(1, "a", "2024-01-01"), (None, "b", "2024-01-01"),
            (3, "c", "2024-01-02")]
    spark.createDataFrame(
        rows, "event_id long, v string, day string"
    ).write.partitionBy("day").parquet(path)

    tombs = spark.createDataFrame(
        [(None, "2024-01-01")], "event_id long, day string"
    )
    n = delete_keys(spark, path, tombs, "event_id", partition_col="day")
    assert n == 1
    left = {
        (r["event_id"], str(r["day"]))
        for r in spark.read.parquet(path).collect()
    }
    assert left == {(1, "2024-01-01"), (3, "2024-01-02")}


def test_partition_move_contract_tombstone_then_upsert(spark, tmp_path):
    """The documented recipe for a key MOVING partitions: tombstone the
    old partition, then upsert the new row — exactly one row per key
    survives.  (A bare upsert cannot see untouched partitions — that
    bounded-rewrite shape is the point of the path — so the duplicate
    is the documented behavior without the tombstone.)"""
    from acled_spark.silver import delete_keys

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, 10.0, "2024-01-01"), (2, 20.0, "2024-01-01")],
        "event_id long, value double, day string",
    ).write.partitionBy("day").parquet(path)

    # correction: event 1 moves to day 2024-01-02 with a new value
    moved = spark.createDataFrame(
        [(1, 99.0, "2024-01-02")], "event_id long, value double, day string"
    )
    # 1) without the tombstone, the old row survives (documented)
    upsert_partitioned(
        spark, moved, path, key="event_id", partition_col="day",
        table_format="parquet",
    )
    n_dupe = (
        spark.read.parquet(path).filter(F.col("event_id") == 1).count()
    )
    assert n_dupe == 2  # the contract the docstring states

    # 2) the recipe: tombstone the OLD partition's row, leaving the new
    tombs = spark.createDataFrame(
        [(1, "2024-01-01")], "event_id long, day string"
    )
    assert delete_keys(spark, path, tombs, "event_id", partition_col="day") == 1
    rows = {
        (r["event_id"], r["value"], str(r["day"]))
        for r in spark.read.parquet(path).collect()
    }
    assert rows == {(1, 99.0, "2024-01-02"), (2, 20.0, "2024-01-01")}


def test_upsert_schema_mismatch_raises_before_column_loss(spark, tmp_path):
    """r7 review: the pre-merge projection to the batch's columns
    defeated merge_updates' schema guard, silently dropping target
    columns absent from the batch from every rewritten partition."""
    target = os.path.join(str(tmp_path), "tbl")
    full = spark.createDataFrame(
        [(1, "2024-01-05", 1.0, "keep me")],
        "event_id long, day string, value double, notes string",
    )
    upsert_partitioned(spark, full, target, key="event_id", partition_col="day")
    narrow = spark.createDataFrame(
        [(1, "2024-01-05", 2.0)], "event_id long, day string, value double"
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        upsert_partitioned(
            spark, narrow, target, key="event_id", partition_col="day"
        )
    # the notes column survived untouched
    assert spark.read.parquet(target).select("notes").first()[0] == "keep me"


def test_dynamic_mode_is_per_write_not_session_state(spark, tmp_path):
    """r7 review: the old set/restore of the session-global
    partitionOverwriteMode conf raced concurrent writers; the mode now
    travels as a per-write option and never touches session state."""
    target = os.path.join(str(tmp_path), "tbl")
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(conf_key, None)
    d5 = spark.createDataFrame(
        [(1, "2024-01-05", 1.0)], "event_id long, day string, value double"
    )
    d6 = spark.createDataFrame(
        [(2, "2024-01-06", 2.0)], "event_id long, day string, value double"
    )
    upsert_partitioned(spark, d5, target, key="event_id", partition_col="day")
    upsert_partitioned(spark, d6, target, key="event_id", partition_col="day")
    assert spark.conf.get(conf_key, None) == before  # no session leak
    # and the option really was dynamic: day=05 survived the 06 write
    assert spark.read.parquet(target).count() == 2


def test_table_exists_ignores_crash_debris(spark, tmp_path):
    """r8 lens review: a died dynamic overwrite leaves only
    '.spark-staging-*' under the target — counting dot-entries as data
    made the retry take the MERGE branch against a dataless directory
    and fail on schema inference forever instead of re-bootstrapping."""
    import os

    from acled_spark.silver import _table_exists, upsert_partitioned
    from acled_spark.tables import load

    target = str(tmp_path / "silver_debris")
    os.makedirs(os.path.join(target, ".spark-staging-deadjob"))
    assert not _table_exists(spark, target)

    # and the retry actually re-bootstraps through the debris
    ev = load(spark, "/root/testdata/sf0.001", "events").withColumn(
        "day", F.to_date("ts")
    ).limit(50).localCheckpoint()
    upsert_partitioned(spark, ev, target, key="event_id", partition_col="day")
    assert spark.read.parquet(target).count() == 50


def test_whole_table_delete_crash_heals_before_the_next_write(spark, tmp_path):
    """A crash inside delete_keys' whole-table swap (table deleted, its
    committed staging not yet renamed) must not cost the table: the next
    upsert_partitioned heals first and keeps every pre-delete partition
    outside its batch, where it used to bootstrap the table from the
    batch alone.  delete_keys on the healed table works."""
    from acled_spark.fsutil import staging_path
    from acled_spark.silver import delete_keys
    from tests.conftest import commit_crash

    target = os.path.join(str(tmp_path), "silver")
    ev = _events_with_day(spark)
    days = ["2024-01-05", "2024-01-06", "2024-01-07"]
    for d in days[:2]:
        upsert_partitioned(
            spark, ev.filter(F.col("day") == d), target, key="event_id",
            partition_col="day",
        )
    want = {d: ev.filter(F.col("day") == d).count() for d in days}
    victims = (
        ev.filter(F.col("day") == days[0]).select("event_id")
        .orderBy("event_id").limit(3)
    )
    with commit_crash("rename"):
        delete_keys(spark, target, victims, key="event_id")
    assert not os.path.exists(target)
    assert os.path.exists(staging_path(target))
    want[days[0]] -= 3

    upsert_partitioned(
        spark, ev.filter(F.col("day") == days[2]), target, key="event_id",
        partition_col="day",
    )
    out = spark.read.parquet(target)
    got = {str(r["day"]): r["count"] for r in out.groupBy("day").count().collect()}
    assert got == want
    assert out.join(victims, "event_id", "left_semi").count() == 0
    assert not os.path.exists(staging_path(target))

    more = (
        ev.filter(F.col("day") == days[1]).select("event_id")
        .orderBy("event_id").limit(2)
    )
    assert delete_keys(spark, target, more, key="event_id") == 2
    assert spark.read.parquet(target).count() == sum(want.values()) - 2


@pytest.mark.parametrize("reader_at", ["before_delete", "after_delete"])
def test_commit_dir_and_a_healing_reader_commute(
    spark, tmp_path, monkeypatch, reader_at
):
    """Silver has no writer lock, so upsert_partitioned's entry heal can
    land anywhere inside a whole-table delete's swap.  A reader healing
    before the delete leaves the live table alone; one healing between
    the delete and the rename promotes the committed staging itself, and
    the writer takes that as its own rename.  Either order ends with the
    staged copy in place and no error on either thread."""
    import threading

    from acled_spark import fsutil

    dest = str(tmp_path / "t")
    staging = fsutil.staging_path(dest)
    spark.range(3).write.parquet(dest)
    spark.range(5).write.parquet(staging)
    reader_go, reader_done = threading.Event(), threading.Event()
    real_delete = fsutil.fs_delete

    def delete_around_reader(spark_, path):
        if reader_at == "after_delete":
            real_delete(spark_, path)
        reader_go.set()
        assert reader_done.wait(120), "reader hung"
        if reader_at == "before_delete":
            real_delete(spark_, path)

    monkeypatch.setattr(fsutil, "fs_delete", delete_around_reader)
    healed, errs = [], []

    def reader():
        try:
            assert reader_go.wait(120), "writer never reached the delete"
            healed.append(fsutil.heal_dir(spark, dest))
        except Exception as exc:  # noqa: BLE001 — surfaced via assert
            errs.append(exc)
        finally:
            reader_done.set()

    def writer():
        try:
            fsutil.commit_dir(spark, staging, dest)
        except Exception as exc:  # noqa: BLE001 — surfaced via assert
            errs.append(exc)
            reader_go.set()

    threads = [threading.Thread(target=f, daemon=True) for f in (reader, writer)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads), "thread hung"
    assert errs == [], errs
    assert healed == [reader_at == "after_delete"]
    assert spark.read.parquet(dest).count() == 5
    assert not os.path.exists(staging)
