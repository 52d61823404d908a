"""Versioned parquet table store with merge semantics + snapshot manifest.

Plays the role of the reference's NebulaGraph sink (W1-W7): INSERT statements
become key-deduplicated upserts, UPDATE becomes matched-only merge, DELETE
becomes anti-join removal (reference statement builders
pkg/spec/v3/node.go:149-262, edge.go:195-363; mode enum pkg/spec/base/mode.go).

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

Scale notes: merge joins shuffle on the key columns only; incoming batches
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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nebula_importer_spark.config.model import Mode
from nebula_importer_spark.sources.reader import SEQ_COL

MANIFEST = "_manifest.json"
BUCKET_COL = "_b"


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
        self, df: DataFrame, key_cols: list[str], n_buckets: int | None = None
    ) -> DataFrame:
        return df.withColumn(
            BUCKET_COL,
            F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets or self.n_buckets)),
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
        """Keyed incremental merge: dedup incoming → read ONLY the buckets
        the batch touches → apply INSERT/UPDATE/DELETE against that slice →
        rewrite those buckets under a new version; untouched buckets keep
        their existing files (manifest records bucket→version).

        INSERT: upsert — incoming replaces existing rows on key
                (Nebula INSERT overwrites existing element props).
        UPDATE: matched keys get new prop values; rows addressing missing
                keys are dropped and counted (the reference's UPDATE on a
                missing element errors → rejected record).
        DELETE: rows with matching keys removed.

        Returns (new_version, unmatched_update_count).
        """
        entry = self.read_manifest()["tables"].get(table)
        # An existing table's bucketing is frozen at creation (a different
        # pmod would route keys past their live rows and corrupt the merge);
        # self.n_buckets only sizes NEW tables.
        nb = entry.get("n_buckets", self.n_buckets) if entry else self.n_buckets
        incoming = self._dedup_incoming(df, key_cols)
        incoming = incoming.drop(*[c for c in incoming.columns if c.startswith("_")])
        incoming = self._with_bucket(incoming, key_cols, nb)

        cur_map: dict[str, int] = dict(entry.get("buckets", {})) if entry else {}
        prev_v = entry["version"] if entry else 0

        if entry is None and mode != Mode.INSERT:
            # UPDATE/DELETE against a missing table: nothing to change, but
            # still run ONE action over the incoming frame so caller-attached
            # observe() metrics fire; UPDATE counts everything unmatched.
            n = incoming.count()
            return 0, (n if mode == Mode.UPDATE else 0)

        # Which buckets does this batch touch? Bounded by n_buckets — a
        # driver-side list of ≤ n_buckets ints, never data rows. On an
        # initial load there are no live buckets to prune against, so skip
        # the pass entirely and derive the touched set from the partition
        # dirs the write produces (affected == written when nothing is live).
        if cur_map:
            # incoming is consumed 2-3× below (bucket discovery, UPDATE's
            # unmatched count, the snapshot write) — persist so the upstream
            # plan (dedup window over the mapped source) runs once.
            # try/finally: an UPDATE schema error or failed write must not
            # leave the cache pinned (long-lived streaming drivers call
            # merge_commit per micro-batch).
            incoming = incoming.persist()
            try:
                return self._merge_live(
                    entry, table, mode, key_cols, incoming, cur_map, prev_v, nb
                )
            finally:
                incoming.unpersist()
        return self._merge_live(
            entry, table, mode, key_cols, incoming, cur_map, prev_v, nb
        )

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

    def _merge_live(
        self, entry, table, mode, key_cols, incoming, cur_map, prev_v, nb
    ) -> tuple[int, int]:
        unmatched = 0
        table_cols = self._table_columns(entry, table)
        if cur_map:
            affected = sorted(
                r[BUCKET_COL]
                for r in incoming.select(BUCKET_COL).distinct().collect()
            )
        else:
            affected = None  # resolved from written dirs after the write
        touched_live = [b for b in (affected or []) if str(b) in cur_map]
        slice_paths = [
            str(self.root / table / f"v={cur_map[str(b)]}" / f"{BUCKET_COL}={b}")
            for b in touched_live
        ]
        # read on the incoming frame's session, whose conf (a source's own
        # Arrow batch) the commit's write then runs under
        current = (
            self._with_bucket(
                incoming.sparkSession.read.option("mergeSchema", "true")
                .parquet(*slice_paths)
                .drop(BUCKET_COL),
                key_cols,
                nb,
            )
            if slice_paths
            else None
        )

        if mode == Mode.INSERT:
            if current is None:
                state = incoming
            else:
                kept = current.join(
                    incoming.select(*key_cols), on=key_cols, how="left_anti"
                )
                # INSERT replaces the element: props the new statement does
                # not name come back null (Nebula INSERT overwrite shape);
                # props new to the table extend the schema (null elsewhere).
                state = kept.unionByName(incoming, allowMissingColumns=True)
        elif mode == Mode.UPDATE:
            if current is None:
                return prev_v, incoming.count()
            keys = current.select(*key_cols)
            unmatched = incoming.join(keys, key_cols, "left_anti").count()
            # UPDATE ... SET assigns ONLY the props the statement names
            # (reference pkg/spec/v3/node.go update statement builder); a
            # matched row keeps its other columns. The reference's own
            # basic.*.update example updates a prop subset, so incoming's
            # schema is narrower than the table's here.
            upd_cols = [c for c in incoming.columns if c not in (*key_cols, BUCKET_COL)]
            known = set(table_cols) if table_cols is not None else set(current.columns)
            unknown = [c for c in upd_cols if c not in known]
            if unknown:
                # the reference's UPDATE on a schema-less prop is an
                # execution error, not a silent widen/drop
                raise ValueError(
                    f"UPDATE {table}: props not in table schema: {unknown}"
                )
            renamed = incoming.select(
                *key_cols, *[F.col(c).alias(f"_u_{c}") for c in upd_cols]
            )
            # A valid prop can be absent from THIS bucket slice (the widening
            # INSERT rewrote other buckets) — extend the output columns so
            # the update still lands; kept rows null-fill via unionByName.
            out_cols = list(current.columns) + [
                c for c in upd_cols if c not in current.columns
            ]
            updated = current.join(renamed, key_cols, "inner").select(
                *[
                    F.col(f"_u_{c}").alias(c) if c in upd_cols else F.col(c)
                    for c in out_cols
                ]
            )
            kept = current.join(incoming.select(*key_cols), key_cols, "left_anti")
            state = kept.unionByName(updated, allowMissingColumns=True)
        elif mode == Mode.DELETE:
            if current is None:
                incoming.count()  # fire caller observations
                return prev_v, 0
            state = current.join(incoming.select(*key_cols), key_cols, "left_anti")
        else:
            raise ValueError(f"unsupported mode {mode}")

        v = prev_v + 1
        out = self.root / table / f"v={v}"
        self._capped(state).write.partitionBy(BUCKET_COL).mode("overwrite").parquet(
            str(out)
        )

        # A bucket can come out empty (DELETE) — only materialized bucket
        # dirs advance; affected-but-empty buckets drop out of the map.
        written = {
            int(p.name.split("=", 1)[1])
            for p in out.glob(f"{BUCKET_COL}=*")
            if p.is_dir()
        }
        if affected is None:
            affected = sorted(written)
        new_map = dict(cur_map)
        for b in affected:
            if b in written:
                new_map[str(b)] = v
            else:
                new_map.pop(str(b), None)
        history = (entry or {}).get("history", [])
        if entry is not None:
            history = history + [
                {"version": prev_v, "buckets": dict(cur_map)}
            ]
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
        return v, unmatched
