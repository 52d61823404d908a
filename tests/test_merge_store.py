"""Bucketed incremental TableStore: a merge commit must rewrite ONLY the
key-hash buckets the incoming batch touches (the Iceberg MERGE INTO
file-pruning analog) — N incremental loads into a big table must not cost N
full-table rewrites."""

from __future__ import annotations

from nebula_importer_spark.config.model import Mode
from nebula_importer_spark.plans.merge import BUCKET_COL, TableStore


def _bucket_dirs(store, table, version):
    return sorted(
        p.name for p in (store.root / table / f"v={version}").glob(f"{BUCKET_COL}=*")
    )


def test_incremental_insert_rewrites_only_touched_buckets(spark, tmp_path):
    store = TableStore(tmp_path / "s", spark, n_buckets=8)
    base = spark.createDataFrame(
        [(f"k{i}", f"v{i}") for i in range(64)], "vid string, val string"
    )
    v1, _ = store.merge_commit(base, "tags/t", Mode.INSERT, ["vid"])
    assert v1 == 1
    n_base_buckets = len(_bucket_dirs(store, "tags/t", 1))
    assert n_base_buckets == 8  # 64 keys cover all 8 buckets

    delta = spark.createDataFrame([("k3", "v3b")], "vid string, val string")
    v2, _ = store.merge_commit(delta, "tags/t", Mode.INSERT, ["vid"])
    assert v2 == 2
    # the new snapshot materializes ONLY the single touched bucket
    assert len(_bucket_dirs(store, "tags/t", 2)) == 1

    got = {r["vid"]: r["val"] for r in store.read("tags/t").collect()}
    assert len(got) == 64 and got["k3"] == "v3b" and got["k5"] == "v5"
    # time travel reconstructs the pre-upsert state from the bucket map
    old = {r["vid"]: r["val"] for r in store.read("tags/t", version=1).collect()}
    assert old["k3"] == "v3" and len(old) == 64
    assert store.versions("tags/t") == [1, 2]


def test_incremental_update_and_delete(spark, tmp_path):
    store = TableStore(tmp_path / "s", spark, n_buckets=8)
    base = spark.createDataFrame(
        [(f"k{i}", f"v{i}") for i in range(32)], "vid string, val string"
    )
    store.merge_commit(base, "tags/t", Mode.INSERT, ["vid"])

    upd = spark.createDataFrame(
        [("k1", "u1"), ("nope", "x")], "vid string, val string"
    )
    v2, unmatched = store.merge_commit(upd, "tags/t", Mode.UPDATE, ["vid"])
    assert unmatched == 1  # missing key dropped and counted (reference UPDATE)
    got = {r["vid"]: r["val"] for r in store.read("tags/t").collect()}
    assert got["k1"] == "u1" and "nope" not in got and len(got) == 32

    dele = spark.createDataFrame([("k2", None)], "vid string, val string")
    store.merge_commit(dele, "tags/t", Mode.DELETE, ["vid"])
    got = {r["vid"]: r["val"] for r in store.read("tags/t").collect()}
    assert "k2" not in got and len(got) == 31


def test_update_into_live_buckets_counts_misses_on_the_write(
    spark, tmp_path, monkeypatch
):
    """An UPDATE into live buckets counts the keys it misses by an
    Observation on its snapshot write: no count action of its own."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    store = TableStore(tmp_path / "s", spark, n_buckets=8)
    base = spark.createDataFrame(
        [(f"k{i}", f"v{i}") for i in range(32)], "vid string, val string"
    )
    store.merge_commit(base, "tags/t", Mode.INSERT, ["vid"])
    counted = []
    count = ClassicDataFrame.count

    def recording_count(self):
        counted.append(self)
        return count(self)

    monkeypatch.setattr(ClassicDataFrame, "count", recording_count)
    upd = spark.createDataFrame(
        [("k1", "u1"), ("nope", "x")], "vid string, val string"
    )
    assert store.merge_commit(upd, "tags/t", Mode.UPDATE, ["vid"]) == (2, 1)
    assert counted == []
    got = {r["vid"]: r["val"] for r in store.read("tags/t").collect()}
    assert got["k1"] == "u1" and "nope" not in got and len(got) == 32


def test_delete_of_every_key_empties_the_table(spark, tmp_path):
    """A DELETE naming every key leaves an empty bucket map: the table
    reads as 0 rows with its columns, time travel still sees the rows, an
    UPDATE then misses every key and a re-INSERT repopulates it."""
    store = TableStore(tmp_path / "s", spark, n_buckets=4)
    rows = [(f"k{i}", f"v{i}") for i in range(8)]
    base = spark.createDataFrame(rows, "vid string, val string")
    store.merge_commit(base, "tags/t", Mode.INSERT, ["vid"])
    v2, _ = store.merge_commit(base.select("vid"), "tags/t", Mode.DELETE, ["vid"])
    assert v2 == 2
    assert store.read_manifest()["tables"]["tags/t"]["buckets"] == {}
    empty = store.read("tags/t")
    assert empty.collect() == [] and set(empty.columns) == {"vid", "val"}
    assert len(store.read("tags/t", version=1).collect()) == 8

    upd = spark.createDataFrame([("k1", "u1"), ("k2", "u2")], "vid string, val string")
    assert store.merge_commit(upd, "tags/t", Mode.UPDATE, ["vid"]) == (2, 2)
    v3, _ = store.merge_commit(base, "tags/t", Mode.INSERT, ["vid"])
    assert v3 == 3
    assert sorted(tuple(r) for r in store.read("tags/t").collect()) == sorted(rows)


def test_update_missing_table_counts_all_unmatched(spark, tmp_path):
    store = TableStore(tmp_path / "s", spark, n_buckets=4)
    upd = spark.createDataFrame([("a", "1"), ("b", "2")], "vid string, val string")
    v, unmatched = store.merge_commit(upd, "tags/none", Mode.UPDATE, ["vid"])
    assert v == 0 and unmatched == 2
    assert store.read("tags/none") is None


def test_expire_snapshots_keeps_shared_buckets_alive(spark, tmp_path):
    """Vacuum must delete per-BUCKET, not per-version: an old version dir
    can still host buckets the CURRENT snapshot points at."""
    import pytest

    store = TableStore(tmp_path / "s", spark, n_buckets=8)
    base = spark.createDataFrame(
        [(f"k{i}", f"v{i}") for i in range(64)], "vid string, val string"
    )
    store.merge_commit(base, "tags/t", Mode.INSERT, ["vid"])
    for i, k in enumerate(("k3", "k3", "k5")):
        delta = spark.createDataFrame([(k, f"n{i}")], "vid string, val string")
        store.merge_commit(delta, "tags/t", Mode.INSERT, ["vid"])
    assert store.versions("tags/t") == [1, 2, 3, 4]

    deleted = store.expire_snapshots("tags/t", keep=0)
    # v=2's k3-bucket rewrite is now unreferenced (v=3 superseded it);
    # v=1 keeps its 6 untouched buckets (shared into the current map)
    assert deleted and all(f"{BUCKET_COL}=" in p for p in deleted)
    got = {r["vid"]: r["val"] for r in store.read("tags/t").collect()}
    assert len(got) == 64 and got["k3"] == "n1" and got["k5"] == "n2"
    assert got["k7"] == "v7"  # row from a v=1 shared bucket
    with pytest.raises(FileNotFoundError):
        store.read("tags/t", version=2)
    # expiring again is a no-op
    assert store.expire_snapshots("tags/t", keep=0) == []


def test_expire_snapshots_unkeyed_stage(spark, tmp_path):
    store = TableStore(tmp_path / "s", spark)
    df = spark.createDataFrame([(1, "a")], "id long, s string")
    store.commit(df, "stage/x")
    store.commit(df, "stage/x")
    store.commit(df, "stage/x")
    assert store.versions("stage/x") == [1, 2, 3]
    deleted = store.expire_snapshots("stage/x", keep=1)
    assert len(deleted) == 1  # keep honors history: v=2 retained with v=3
    assert store.read("stage/x", version=2).count() == 1
    deleted = store.expire_snapshots("stage/x", keep=0)
    assert len(deleted) == 1  # now v=2 goes too; v=3 (current) retained
    assert store.read("stage/x").count() == 1


def test_reopened_store_keeps_table_bucketing(spark, tmp_path):
    """A table's pmod is frozen at creation: reopening the store with a
    different n_buckets must route keys to their EXISTING buckets, or
    upserts duplicate keys and deletes miss."""
    s8 = TableStore(tmp_path / "s", spark, n_buckets=8)
    base = spark.createDataFrame(
        [(f"k{i}", f"v{i}") for i in range(64)], "vid string, val string"
    )
    s8.merge_commit(base, "tags/t", Mode.INSERT, ["vid"])

    s16 = TableStore(tmp_path / "s", spark, n_buckets=16)  # different default
    delta = spark.createDataFrame([("k3", "NEW")], "vid string, val string")
    s16.merge_commit(delta, "tags/t", Mode.INSERT, ["vid"])
    got = {r["vid"]: r["val"] for r in s16.read("tags/t").collect()}
    assert len(got) == 64 and got["k3"] == "NEW"  # replaced, not duplicated

    s16.merge_commit(delta.select("vid"), "tags/t", Mode.DELETE, ["vid"])
    assert s16.read("tags/t").count() == 63  # delete found its bucket


def test_schema_widening_insert_survives_mixed_version_reads(spark, tmp_path):
    """A widening INSERT touches few buckets; untouched buckets keep the old
    schema — reads must mergeSchema or the new column silently vanishes."""
    store = TableStore(tmp_path / "s", spark, n_buckets=8)
    base = spark.createDataFrame(
        [(f"k{i}", f"v{i}") for i in range(64)], "vid string, val string"
    )
    store.merge_commit(base, "tags/t", Mode.INSERT, ["vid"])
    wide = spark.createDataFrame([("k3", "v3w", 42)], "vid string, val string, age int")
    store.merge_commit(wide, "tags/t", Mode.INSERT, ["vid"])

    df = store.read("tags/t")
    assert "age" in df.columns
    got = {r["vid"]: (r["val"], r["age"]) for r in df.collect()}
    assert got["k3"] == ("v3w", 42)
    assert got["k5"] == ("v5", None)
    # UPDATE on the widened column merges against the mixed-schema slice
    upd = spark.createDataFrame([("k3", 43)], "vid string, age int")
    store.merge_commit(upd, "tags/t", Mode.UPDATE, ["vid"])
    got = {r["vid"]: r["age"] for r in store.read("tags/t").collect()}
    assert got["k3"] == 43


def test_update_new_prop_on_untouched_bucket(spark, tmp_path):
    """UPDATE validation must use the TABLE schema, not the touched-bucket
    slice: after a widening INSERT rewrote only k3's bucket, updating the
    new prop on a key hashing to a not-yet-rewritten bucket must succeed
    (previously raised 'props not in table schema')."""
    import json

    from pyspark.sql import functions as F

    store = TableStore(tmp_path / "s", spark, n_buckets=8)
    base = spark.createDataFrame(
        [(f"k{i}", f"v{i}") for i in range(64)], "vid string, val string"
    )
    store.merge_commit(base, "tags/t", Mode.INSERT, ["vid"])
    wide = spark.createDataFrame([("k3", "v3w", 42)], "vid string, val string, age int")
    store.merge_commit(wide, "tags/t", Mode.INSERT, ["vid"])

    cands = ["k5", "k7", "k11", "k13", "k17"]
    buckets = {
        r["vid"]: r["b"]
        for r in spark.createDataFrame([(k,) for k in ["k3", *cands]], "vid string")
        .select("vid", F.pmod(F.xxhash64("vid"), F.lit(8)).alias("b"))
        .collect()
    }
    others = [k for k in cands if buckets[k] != buckets["k3"]]
    assert others, "need a key in a different bucket than k3"

    upd = spark.createDataFrame([(others[0], 99)], "vid string, age int")
    _, unmatched = store.merge_commit(upd, "tags/t", Mode.UPDATE, ["vid"])
    assert unmatched == 0
    got = {r["vid"]: r["age"] for r in store.read("tags/t").collect()}
    assert got[others[0]] == 99 and got["k3"] == 42

    # legacy manifest without the columns record: reconstructed from a
    # mergeSchema read across live buckets, same outcome
    mpath = store.root / "_manifest.json"
    m = json.loads(mpath.read_text())
    m["tables"]["tags/t"].pop("columns")
    mpath.write_text(json.dumps(m))
    if len(others) > 1:
        upd2 = spark.createDataFrame([(others[1], 77)], "vid string, age int")
        _, unmatched = store.merge_commit(upd2, "tags/t", Mode.UPDATE, ["vid"])
        assert unmatched == 0
        got = {r["vid"]: r["age"] for r in store.read("tags/t").collect()}
        assert got[others[1]] == 77


def test_concurrent_manifest_updates_lose_nothing(spark, tmp_path):
    """Stages and commits of different tables update the manifest from
    several threads: each read-modify-write holds the store's lock, so no
    thread's update is overwritten by another's."""
    import sys
    import threading

    store = TableStore(tmp_path / "s", spark)

    def mark(t: int) -> None:
        for k in range(25):
            store.mark_stage(f"t{t}/{k}", written=k)

    threads = [threading.Thread(target=mark, args=(t,)) for t in range(16)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    stages = store.read_manifest()["stages"]
    assert len(stages) == 16 * 25
    assert all(stages[f"t{t}/{k}"]["written"] == k for t in range(16) for k in range(25))
