"""Versioned parquet table store with merge semantics + snapshot manifest.

Plays the role of the reference's NebulaGraph sink (W1-W7). The reference
builds one statement per mode (pkg/spec/v3/node.go:149-262,
edge.go:195-363; mode enum pkg/spec/base/mode.go); here every mode is one
MERGE INTO-shaped full outer join of the touched bucket slice with the
key-deduplicated batch, and the mode only picks which rows and values the
join keeps: INSERT upserts, UPDATE changes matched rows only (counting the
misses on the write), DELETE drops the matched rows.

Storage layout (Iceberg-shaped, dependency-free — the real deployment swaps
this for an Iceberg catalog; the snapshot/manifest discipline is identical):

    <root>/<table>/v=<N>/_b=<B>/*.parquet   keyed table: bucket B at snapshot N
    <root>/<table>/v=<N>/*.parquet          unkeyed stage snapshot (full)
    <root>/_manifest.json                   current version + per-bucket
                                            pointers + history + stage log

Keyed tables are HASH-BUCKETED on their key columns (xxhash64 → pmod): a
merge commit reads and rewrites ONLY the buckets the incoming batch touches,
so N incremental loads into a large table cost O(delta) bucket rewrites, not
N full-table rewrites. Untouched buckets keep their old snapshot files and
the manifest records, per version, which bucket lives at which snapshot —
time travel reconstructs any historical state from that map. This mirrors
Iceberg's file-level MERGE INTO pruning with manifest-tracked data files.

Snapshots make every run resumable (checkpoint analog of the north rule):
a crashed run re-reads the manifest and continues from the last committed
version; stages record completion so re-runs skip finished work.

Scale notes: the merge join shuffles on the key columns only; incoming batches
are deduplicated map-side first (last-write-wins by _seq, the statement-order
analog). ``n_buckets`` defaults to 16 for the sandbox; size it so one bucket
≈ a few GB at the deployment's table size (e.g. 2^10-2^12 buckets at 100 TB).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import threading
import time
from pathlib import Path

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nebula_importer_spark.config.model import Mode
from nebula_importer_spark.sources.reader import SEQ_COL

MANIFEST = "_manifest.json"
BUCKET_COL = "_b"


def replace_partition(df: DataFrame, path: str | Path, key: str, value) -> None:
    """Write ``df`` as partition ``key=value`` of the parquet dir ``path``,
    replacing what that partition held and leaving the others alone.

    Dynamic partition overwrite (a writer option, not the session conf,
    which every concurrent writer would inherit) makes a side output safe
    to rewrite: a stage that reruns after a crash, or a replayed
    micro-batch, replaces its own rows instead of appending a second copy.
    Writers of different partitions may run at once: each job stages its
    files under its own ``.spark-staging-<jobId>`` dir and renames only its
    partition into place, where appends share ``<path>/_temporary/0`` and
    lose rows. An empty ``df`` writes no partition: an older one stays."""
    df.withColumn(key, F.lit(value)).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(key).parquet(str(path))


class TableStore:
    def __init__(
        self,
        root: str | Path,
        spark: SparkSession,
        n_buckets: int = 16,
        write_partitions: int | None = None,
    ):
        self.root = Path(root)
        self.spark = spark
        self.n_buckets = n_buckets
        # importerConcurrency analog: cap the task count of every snapshot
        # write stage (None = whatever partitioning the plan produced)
        self.write_partitions = write_partitions
        self.root.mkdir(parents=True, exist_ok=True)
        # Commits to different tables may run on different threads: every
        # manifest read-modify-write holds this lock.
        self._lock = threading.Lock()

    def _capped(self, df: DataFrame) -> DataFrame:
        if self.write_partitions is not None:
            return df.coalesce(self.write_partitions)
        return df

    # -- manifest ---------------------------------------------------------
    def _manifest_path(self) -> Path:
        return self.root / MANIFEST

    def read_manifest(self) -> dict:
        p = self._manifest_path()
        if p.exists():
            return json.loads(p.read_text())
        return {"tables": {}, "stages": {}}

    def _write_manifest(self, m: dict) -> None:
        tmp = self._manifest_path().with_suffix(".tmp")
        tmp.write_text(json.dumps(m, indent=2, sort_keys=True))
        os.replace(tmp, self._manifest_path())  # atomic snapshot commit

    @contextlib.contextmanager
    def _updating_manifest(self):
        """Yield the current manifest under the store's lock and write it
        back when the block completes."""
        with self._lock:
            m = self.read_manifest()
            yield m
            self._write_manifest(m)

    def current_version(self, table: str) -> int | None:
        t = self.read_manifest()["tables"].get(table)
        return None if t is None else t["version"]

    def stage_completed(self, stage: str) -> bool:
        return bool(self.read_manifest()["stages"].get(stage, {}).get("completed"))

    def mark_stage(self, stage: str, **info) -> None:
        with self._updating_manifest() as m:
            m["stages"][stage] = {"completed": True, "at": time.time(), **info}

    # -- reads ------------------------------------------------------------
    def _bucket_map(self, entry: dict, version: int) -> dict[str, int] | None:
        """Bucket→snapshot map at a given version (None for unkeyed tables)."""
        if "buckets" not in entry:
            return None
        if version == entry["version"]:
            return entry["buckets"]
        for h in entry.get("history", []):
            if h["version"] == version:
                return h["buckets"]
        raise FileNotFoundError(f"no bucket map recorded for version {version}")

    def read(self, table: str, version: int | None = None) -> DataFrame | None:
        """Read a table at its current (or any historical) snapshot version —
        snapshots are immutable, so time travel is just a different set of
        (bucket, version) paths."""
        entry = self.read_manifest()["tables"].get(table)
        if entry is None:
            return None
        v = entry["version"] if version is None else version
        bmap = self._bucket_map(entry, v)
        if bmap is None:
            path = self.root / table / f"v={v}"
            if version is not None and not path.exists():
                raise FileNotFoundError(f"{table} has no snapshot v={version}")
            return self.spark.read.parquet(str(path))
        if not bmap:  # keyed table emptied by DELETEs
            # reconstruct an empty frame from any historical bucket's schema
            for h in entry.get("history", []):
                if h["buckets"]:
                    b, bv = next(iter(h["buckets"].items()))
                    schema = self.spark.read.parquet(
                        str(self.root / table / f"v={bv}" / f"{BUCKET_COL}={b}")
                    ).schema
                    return self.spark.createDataFrame([], schema)
            return None
        paths = [
            str(self.root / table / f"v={bv}" / f"{BUCKET_COL}={b}")
            for b, bv in sorted(bmap.items(), key=lambda kv: int(kv[0]))
        ]
        # multiple sibling leaf dirs → Spark partition discovery resurrects
        # the bucket column from the shared ancestor; it is storage detail.
        # mergeSchema: buckets at different snapshot versions can carry
        # different column sets after a schema-widening INSERT — a single
        # footer's schema would silently drop the new columns.
        return (
            self.spark.read.option("mergeSchema", "true")
            .parquet(*paths)
            .drop(BUCKET_COL)
        )

    def expire_snapshots(self, table: str, keep: int = 1) -> list[str]:
        """Iceberg expire-snapshots analog: retain the current version plus
        the newest ``keep`` history entries, delete every (version, bucket)
        dir no retained snapshot references, truncate history. The deletion
        unit is a BUCKET dir, not a version dir — untouched buckets are
        shared across versions (the manifest's bucket→version map points
        back), so a version dir stays partially alive while any retained
        snapshot references one of its buckets. Returns deleted paths.
        Time travel to an expired version raises (map no longer recorded)."""
        with self._lock:
            m = self.read_manifest()
            entry = m["tables"].get(table)
            if entry is None:
                return []
            history = entry.get("history", [])
            kept_hist = history[-keep:] if keep > 0 else []
            if "buckets" in entry:
                live: set[tuple[int, int]] = set()
                for bmap in [entry["buckets"], *[h["buckets"] for h in kept_hist]]:
                    live |= {(int(v), int(b)) for b, v in bmap.items()}
                doomed = [
                    str(bdir)
                    for vdir in (self.root / table).glob("v=*")
                    for bdir in vdir.glob(f"{BUCKET_COL}=*")
                    if (
                        int(vdir.name.split("=", 1)[1]),
                        int(bdir.name.split("=", 1)[1]),
                    )
                    not in live
                ]
            else:
                live_v = {entry["version"]} | {h["version"] for h in kept_hist}
                doomed = [
                    str(vdir)
                    for vdir in (self.root / table).glob("v=*")
                    if int(vdir.name.split("=", 1)[1]) not in live_v
                ]
            for p in doomed:
                shutil.rmtree(p, ignore_errors=True)
            # drop now-empty version dirs so the layout stays readable
            for vdir in (self.root / table).glob("v=*"):
                if not any(vdir.iterdir()):
                    vdir.rmdir()
            entry["history"] = kept_hist
            self._write_manifest(m)
            return doomed

    def versions(self, table: str) -> list[int]:
        entry = self.read_manifest()["tables"].get(table)
        if entry is None:
            return []
        hist = [h["version"] for h in entry.get("history", [])]
        return sorted(set(hist) | {entry["version"]})

    # -- merge + commit ----------------------------------------------------
    def _dedup_incoming(self, df: DataFrame, key_cols: list[str]) -> DataFrame:
        """Last-write-wins inside one load, by _seq when present (statement
        order analog — later INSERT overwrites earlier within a batch)."""
        order = F.col(SEQ_COL).desc() if SEQ_COL in df.columns else F.lit(1).asc()
        w = Window.partitionBy(*key_cols).orderBy(order)
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", *([SEQ_COL] if SEQ_COL in df.columns else []))
        )

    def _with_bucket(
        self, df: DataFrame, key_cols: list[str], n_buckets: int
    ) -> DataFrame:
        return df.withColumn(
            BUCKET_COL, F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets))
        )

    def commit(self, df: DataFrame, table: str) -> int:
        """Unkeyed full-snapshot commit (stage checkpoints): write a new
        immutable snapshot and advance the manifest pointer."""
        prev_entry = self.read_manifest()["tables"].get(table, {})
        prev = prev_entry.get("version", 0)
        v = prev + 1
        out = self.root / table / f"v={v}"
        self._capped(df).write.mode("overwrite").parquet(str(out))
        history = prev_entry.get("history", [])
        if prev:
            history = history + [{"version": prev}]
        with self._updating_manifest() as m:
            m["tables"][table] = {"version": v, "history": history}
        return v

    def merge_commit(
        self, df: DataFrame, table: str, mode: Mode, key_cols: list[str]
    ) -> tuple[int, int]:
        """Keyed incremental merge, one MERGE INTO-shaped join for every
        mode: dedup and bucket the incoming batch → read ONLY the live
        buckets it touches → full-outer-join that slice with the batch on
        (keys, bucket) → rewrite the buckets the result lands in under a new
        version; untouched buckets keep their existing files (manifest
        records bucket→version).

        INSERT: upsert — a batch row replaces the slice row on its key, so
                props it does not name come back null (Nebula INSERT
                overwrites the element); new props widen the table.
        UPDATE: slice rows only; a matched key takes the props the batch
                names and keeps its others. Batch rows addressing missing
                keys are dropped and counted (the reference's UPDATE on a
                missing element errors → rejected record) by an Observation
                on the snapshot write.
        DELETE: slice rows whose key the batch does not name.

        With no live bucket touched, INSERT writes the batch as it is and
        UPDATE/DELETE change nothing: one count of the batch fires the
        caller's observations, and UPDATE counts every row unmatched.

        Returns (new_version, unmatched_update_count).
        """
        entry = self.read_manifest()["tables"].get(table)
        # An existing table's bucketing is frozen at creation (a different
        # pmod would route keys past their live rows and corrupt the merge);
        # self.n_buckets only sizes NEW tables.
        nb = entry.get("n_buckets", self.n_buckets) if entry else self.n_buckets
        cur_map: dict[str, int] = dict(entry.get("buckets", {})) if entry else {}
        prev_v = entry["version"] if entry else 0
        incoming = self._dedup_incoming(df, key_cols)
        incoming = incoming.drop(*[c for c in incoming.columns if c.startswith("_")])
        incoming = self._with_bucket(incoming, key_cols, nb)
        # With live buckets the batch is read twice (bucket discovery, then
        # the count or the merge write): persist it so its upstream plan
        # (dedup window over the mapped source) runs once. try/finally: a
        # schema error or failed write must not leave the cache pinned
        # (long-lived streaming drivers call merge_commit per micro-batch).
        if cur_map:
            incoming = incoming.persist()
        try:
            # The touched live buckets: a driver-side list of ≤ n_buckets
            # ints, never data rows. With nothing live (a first load) there
            # is nothing to prune against, so no pass.
            touched = []
            if cur_map:
                touched = sorted(
                    b
                    for (b,) in incoming.select(BUCKET_COL).distinct().collect()
                    if str(b) in cur_map
                )
            if not touched and mode != Mode.INSERT:
                n = incoming.count()
                return prev_v, (n if mode == Mode.UPDATE else 0)

            table_cols = self._table_columns(entry, table)
            state, unmatched = incoming, None
            if touched:
                slice_paths = [
                    str(self.root / table / f"v={cur_map[str(b)]}" / f"{BUCKET_COL}={b}")
                    for b in touched
                ]
                # read on the incoming frame's session, whose conf (a
                # source's own Arrow batch) the commit's write then runs under
                current = self._with_bucket(
                    incoming.sparkSession.read.option("mergeSchema", "true")
                    .parquet(*slice_paths)
                    .drop(BUCKET_COL),
                    key_cols,
                    nb,
                )
                props = [] if mode == Mode.DELETE else [
                    c for c in incoming.columns if c not in (*key_cols, BUCKET_COL)
                ]
                if mode == Mode.UPDATE:
                    # UPDATE ... SET names a subset of the table's props
                    # (reference pkg/spec/v3/node.go update statement
                    # builder); one the table lacks is an execution error
                    # there, not a silent widen/drop
                    unknown = [c for c in props if c not in table_cols]
                    if unknown:
                        raise ValueError(
                            f"UPDATE {table}: props not in table schema: {unknown}"
                        )
                merged = current.withColumn("_cur", F.lit(True)).join(
                    incoming.select(
                        *key_cols,
                        BUCKET_COL,
                        *[F.col(c).alias(f"_u_{c}") for c in props],
                        F.lit(True).alias("_in"),
                    ),
                    [*key_cols, BUCKET_COL],
                    "full_outer",
                )
                is_cur, is_in = F.col("_cur").isNotNull(), F.col("_in").isNotNull()
                if mode == Mode.UPDATE:
                    unmatched = Observation()
                    merged = merged.observe(
                        unmatched, F.count_if(is_in & ~is_cur).alias("n")
                    )

                def pick(c: str) -> Column:
                    # a named prop takes the batch's value where the batch
                    # has the key; INSERT nulls the props it does not name
                    if c in props:
                        new = F.when(is_in, F.col(f"_u_{c}"))
                        if c in current.columns:
                            new = new.otherwise(F.col(c))
                        return new.alias(c)
                    if mode == Mode.INSERT and c not in (*key_cols, BUCKET_COL):
                        return F.when(~is_in, F.col(c)).alias(c)
                    return F.col(c)

                rows = {
                    Mode.INSERT: F.lit(True),
                    Mode.UPDATE: is_cur,
                    Mode.DELETE: is_cur & ~is_in,
                }[mode]
                # the slice's columns, then props new to it
                state = merged.filter(rows).select(
                    *[pick(c) for c in current.columns],
                    *[pick(c) for c in props if c not in current.columns],
                )
            v = prev_v + 1
            out = self.root / table / f"v={v}"
            self._capped(state).write.partitionBy(BUCKET_COL).mode(
                "overwrite"
            ).parquet(str(out))
        finally:
            if cur_map:
                incoming.unpersist()

        # A touched bucket can come out empty (DELETE): only the bucket dirs
        # written advance, the others leave the map.
        new_map = {b: bv for b, bv in cur_map.items() if int(b) not in touched}
        new_map.update(
            (p.name.split("=", 1)[1], v)
            for p in out.glob(f"{BUCKET_COL}=*")
            if p.is_dir()
        )
        history = (entry or {}).get("history", [])
        if entry is not None:
            history = history + [{"version": prev_v, "buckets": cur_map}]
        with self._updating_manifest() as m:
            m["tables"][table] = {
                "version": v,
                "buckets": new_map,
                "n_buckets": nb,
                # full-table column set: union of what was known with what
                # this commit wrote (a widening INSERT extends it;
                # UPDATE/DELETE keep it) — the UPDATE validation source,
                # bucket-independent
                "columns": sorted(
                    set(table_cols or [])
                    | {c for c in state.columns if c != BUCKET_COL}
                ),
                "history": history,
            }
        return v, (unmatched.get["n"] if unmatched is not None else 0)

    def _table_columns(self, entry: dict | None, table: str) -> list[str] | None:
        """The table's FULL column set, independent of which buckets a batch
        touches. Recorded in the manifest at every merge commit; for a
        pre-existing manifest without the record, reconstructed once by a
        mergeSchema read across all live buckets (footer-only, no data scan).
        After a schema-widening INSERT rewrote only some buckets, validating
        against a touched-bucket slice would make UPDATE acceptance depend
        on which buckets the batch happens to hash into."""
        if entry is None:
            return None
        cols = entry.get("columns")
        if cols is None:
            df = self.read(table)
            cols = list(df.columns) if df is not None else []
        return cols
