"""Pipeline: schema config → vertex/edge DataFrames → materialized tables.

The Spark re-expression of the reference's manager+importer data plane
(pkg/manager/manager.go:161-245, pkg/importer/importer.go:99-124): one scan
per source, fan-out to every tag/edge spec bound to it (G7 single-scan
multi-sink, reference pkg/config/v3/source.go:42-62), each spec compiled to a
filter + select of Column expressions (no per-row code), modes materialized
through the snapshot TableStore. Each stage writes its rejects and per-file
lineage metrics as its own ``stage=<stage>`` partition of ``_rejects/<kind>``
and ``_metrics``, replaced whole (``replace_partition``), so a stage that
runs again replaces its rows instead of adding a second copy.

``run()`` submits its independent Spark jobs from driver threads at once,
as the reference runs its reader and importer goroutine pools
(pkg/manager/manager.go:23-27): phase 1 stages every source, phase 2 runs
one chain per target table. Inside a chain, elements commit in config
order, so a later source wins on a shared key and each table has a single
writer. A failing stage's error is raised after the stages in flight have
finished.

Library surface (entry point 3 analog, reference pkg/manager/manager.go:68-91):

    with Pipeline(cfg, spark) as p:   # close() deletes the staged scans
        p.vertices("Person")      # mapped vertex DF (vid, props...)
        p.edges("KNOWS")          # mapped edge DF (src, dst, rank, props...)
        result = p.run(out_dir)   # materialize everything + rejects + metrics
"""

from __future__ import annotations

import logging
import operator
import re
import tempfile
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import partial, reduce
from pathlib import Path

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from nebula_importer_spark.config.model import (
    EdgeSpec,
    GraphConfig,
    HookSpec,
    NodeIDSpec,
    NodeSpec,
)


class HookError(RuntimeError):
    """A before/after hook statement failed — the run is aborted (reference
    pkg/manager/manager.go:285-336 error semantics)."""


# NebulaGraph-server DDL statements that appear in reference example hooks
# (examples/*/`*.yaml`): space/tag/edge/index management has no Spark analog
# (namespaces are implicit in the TableStore), so these execute as no-ops.
_NGQL_DDL = re.compile(
    r"^\s*(CREATE\s+(SPACE|TAG|EDGE)\b|USE\s+|DROP\s+(SPACE|TAG|EDGE)\b"
    r"|REBUILD\s+|SUBMIT\s+JOB\b)",
    re.IGNORECASE,
)
from nebula_importer_spark.functions.filter_dsl import compile_filter
from nebula_importer_spark.functions.picker import compile_id, compile_prop, compile_rank
from nebula_importer_spark.plans.merge import TableStore, replace_partition
from nebula_importer_spark.plans.metrics import ElementStats, RunResult, StatsMeter
from nebula_importer_spark.session import fs_delete
from nebula_importer_spark.sources.reader import FILE_COL, SEQ_COL, read_source

ARROW_BATCH_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _source_session(spark: SparkSession, batch: int) -> SparkSession:
    """A session for one source's scan and stages: the caller's runtime SQL
    conf plus the source's Arrow batch (S11, reference
    pkg/config/base/source.go:30-33: a source may override the manager
    batch). Its own session, so sources staged at once do not see each
    other's batch and the caller's session is never changed."""
    s = spark.newSession()
    for k, v in spark.conf.getAll.items():
        if s.conf.get(k, None) != v and s.conf.isModifiable(k):
            s.conf.set(k, v)
    s.conf.set(ARROW_BATCH_KEY, str(batch))
    return s


def _run_all(spark: SparkSession, tasks: list) -> list:
    """Run ``tasks`` (no-argument callables) on driver threads at once and
    return their results in task order. Each Spark job a task submits is
    small, so their overlap is what fills the cores. Local properties (job
    group, tags) reach the threads. The first error in task order is raised
    only after every task has finished, so no task outlives the call."""
    if not tasks:
        return []
    wrap = inheritable_thread_target(spark)
    workers = min(len(tasks), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = [pool.submit(wrap(t)) for t in tasks]
    # leaving the block waited for every task
    for f in futures:
        if f.exception() is not None:
            raise f.exception()
    return [f.result() for f in futures]


VID = "vid"
SRC = "src"
DST = "dst"
RANK = "rank"


@dataclass(frozen=True)
class Element:
    """One tag/edge of source ``source``, compiled the one way ``run()``,
    the library reads and ``validate`` use (G1/G2; the reference compiles
    each element once at Validate() time, pkg/spec/v3/graph.go:50-72)."""

    source: int
    kind: str  # "tag" | "edge"
    spec: NodeSpec | EdgeSpec

    @property
    def ids(self) -> list[tuple[str, NodeIDSpec]]:
        """Key column name → the id spec it is compiled from."""
        if self.kind == "tag":
            return [(VID, self.spec.id)]
        return [(SRC, self.spec.src), (DST, self.spec.dst)]

    @property
    def keys(self) -> list[str]:
        """Merge keys: an edge's rank is part of its key (reference
        pkg/spec/v3/edge.go: src->dst[@rank])."""
        return [k for k, _ in self.ids] + ([RANK] if self.kind == "edge" else [])

    @property
    def table(self) -> str:
        return f"{self.kind}s/{self.spec.name}"

    @property
    def stage(self) -> str:
        """The run() stage that commits this element (resume skips it once
        it completed)."""
        return f"s{self.source}/{self.kind}/{self.spec.name}/{self.spec.mode.value}"

    def null_key(self) -> Column:
        """A row with a null id: rejected by run(), left out by the reads."""
        return reduce(operator.or_, [F.col(k).isNull() for k, _ in self.ids])

    def map(self, df: DataFrame) -> DataFrame:
        """filter → ids (and an edge's rank) → ordered props, over the
        source's ``_c{i}`` columns. Lineage cols pass through."""
        cols = [c for c in df.columns if c not in (FILE_COL, SEQ_COL)]
        if self.spec.filter:
            df = df.filter(compile_filter(self.spec.filter, cols))
        exprs = [compile_id(spec, cols, k) for k, spec in self.ids]
        if self.kind == "edge":
            exprs.append(compile_rank(self.spec.rank_index, cols))
        exprs += [compile_prop(p, cols) for p in self.spec.props]
        exprs += [F.col(c) for c in (FILE_COL, SEQ_COL) if c in df.columns]
        return df.select(*exprs)


def elements(config: GraphConfig) -> list[Element]:
    """Every tag/edge of ``config``, in config order."""
    return [
        Element(i, kind, spec)
        for i, src in enumerate(config.sources)
        for kind, specs in (("tag", src.tags), ("edge", src.edges))
        for spec in specs
    ]


class Pipeline:
    def __init__(
        self,
        config: GraphConfig,
        spark: SparkSession,
        staging_dir: str | None = None,
    ):
        config.validate()
        self.config = config
        self.spark = spark
        # CSV staging location (one parsed-parquet write per source; see
        # sources/reader.py) — pass a shared-filesystem path on a cluster.
        self.staging_dir = staging_dir
        self._scans: dict[int, tuple[DataFrame, DataFrame]] = {}
        # each scan's own dir under staging_dir (or a temp dir): everything
        # read_source writes for it — the staged CSV, a remote download
        self._stage_dirs: dict[int, str] = {}

    # -- scans -------------------------------------------------------------
    def _scan(self, i: int) -> tuple[DataFrame, DataFrame]:
        """Source ``i``'s (good, rejects) frames, staged on first use."""
        if i not in self._scans:
            spec = self.config.sources[i]
            if self.staging_dir is None:
                stage = tempfile.mkdtemp(prefix="nispark-stage-")
            else:
                stage = f"{self.staging_dir.rstrip('/')}/source-{i}-{uuid.uuid4().hex[:8]}"
            self._stage_dirs[i] = stage
            # read_source stages the parsed CSV scan once: a single pass
            # over the raw text feeds every tag/edge projection plus the
            # rejects split (G7). readerConcurrency caps its parallelism.
            # A source with its own batch is scanned on its own session,
            # which every frame built on the scan carries.
            self._scans[i] = read_source(
                self.spark
                if spec.batch is None
                else _source_session(self.spark, spec.batch),
                spec,
                stage,
                reader_concurrency=self.config.reader_concurrency,
            )
        return self._scans[i]

    def _drop_scans(self, sources) -> None:
        """Forget and delete the scans of ``sources``: a later read stages
        the source again."""
        for i in sources:
            self._scans.pop(i, None)
            fs_delete(self.spark, self._stage_dirs.pop(i))

    def close(self) -> None:
        """Delete every scan this Pipeline staged, library reads' included."""
        self._drop_scans(list(self._stage_dirs))

    def __enter__(self) -> "Pipeline":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # -- library reads (no side effects) ------------------------------------
    def _read(self, name: str, kinds: tuple[str, ...]) -> list[tuple[Element, DataFrame]]:
        """Each element ``name`` of ``kinds`` mapped over its source's scan;
        null keys are left out (they are rejects in run())."""
        return [
            (el, el.map(self._scan(el.source)[0]).filter(~el.null_key()))
            for el in elements(self.config)
            if el.kind in kinds and el.spec.name == name
        ]

    def _union(self, name: str, kind: str) -> DataFrame:
        parts = [df for _, df in self._read(name, (kind,))]
        if not parts:
            raise KeyError(f"{kind} {name!r} not in config")
        out = reduce(partial(DataFrame.unionByName, allowMissingColumns=True), parts)
        return out.drop(FILE_COL, SEQ_COL)

    def vertices(self, tag: str) -> DataFrame:
        """Union of every source's mapping for this tag."""
        return self._union(tag, "tag")

    def edges(self, edge: str) -> DataFrame:
        """Union of every source's mapping for this edge."""
        return self._union(edge, "edge")

    def statements(
        self, name: str, batch: int | None = None, kind: str | None = None
    ) -> DataFrame:
        """Render the nGQL statements the reference would emit for this
        tag/edge — (statement, n_records) rows, batched at the manager (or
        per-source) batch size. Tag and edge names are independent
        namespaces in the reference; pass ``kind`` ("tag"/"edge") to
        disambiguate when a config uses one name for both. The literal
        statement plane of the sink; see plans/ngql.py for the format."""
        from nebula_importer_spark.plans.ngql import (
            render_edge_statements,
            render_node_statements,
        )

        render = {"tag": render_node_statements, "edge": render_edge_statements}
        parts = [
            render[el.kind](
                mapped,
                el.spec,
                batch=batch or self.config.sources[el.source].batch or self.config.batch,
            )
            for el, mapped in self._read(name, (kind,) if kind else ("tag", "edge"))
        ]
        if not parts:
            raise KeyError(f"element {name!r} not in config")
        return reduce(DataFrame.unionByName, parts)

    # -- full run ------------------------------------------------------------
    def run(self, out_dir: str | Path, resume: bool = False) -> RunResult:
        """Materialize all tags+edges into <out_dir>/<space>; write rejects +
        per-file lineage metrics; resumable per (source, element) stage.

        The independent work runs at once, in two phases (the reference's
        reader/importer goroutine pools, pkg/manager/manager.go:23-27):
        first every source is staged, with its CSV rejects written; then
        one chain per target table (``tags/<name>``, ``edges/<name>``)
        runs. A chain commits its elements in config order, so a later
        source's rows win over an earlier one's on the same key and an
        UPDATE-then-INSERT on one table keeps its order. ``result.elements``
        is in config order. If a stage fails, the first error (in source or
        chain order) is raised once every stage already running has
        finished; the stages that completed stay recorded for ``resume``.

        Each stage writes its rejects and metrics as its own ``stage=``
        partition, replaced whole: a stage rerun after a crash before its
        ``mark_stage`` leaves one copy of its rows. Without ``resume`` the
        rejects and metrics hold this run only; with it, those of the
        completed stages are kept. The scans this run
        staged (and their remote downloads) are deleted when it returns or
        raises; scans staged earlier by a library read stay."""
        from nebula_importer_spark.logging_util import build_logger

        t0 = time.time()
        log = build_logger(self.config.log, self.spark)
        store = TableStore(
            Path(out_dir) / self.config.space,
            self.spark,
            write_partitions=self.config.importer_concurrency,
        )
        result = RunResult(space=self.config.space)
        rejects_dir = Path(out_dir) / self.config.space / "_rejects"
        mpath = Path(out_dir) / self.config.space / "_metrics"
        log.info(
            "import start: space=%s sources=%d out=%s",
            self.config.space,
            len(self.config.sources),
            out_dir,
        )

        for hook in self.config.before_hooks:  # W6 before-hooks
            self._run_hook(hook)

        if not resume:
            # each stage replaces its own partition of the rejects and
            # metrics, and a stage with no rows writes none: clear what an
            # earlier run into this output left
            for p in (*(rejects_dir / k for k in ("csv", "tag", "edge")), mpath):
                fs_delete(self.spark, str(p))

        # one chain per target table: its elements, numbered in config order
        chains: dict[str, list[tuple[int, Element]]] = {}
        for n, el in enumerate(elements(self.config)):
            chains.setdefault(el.table, []).append((n, el))

        staged_before = set(self._stage_dirs)
        try:
            # M2: periodic records/s + active-task meter (reference statsInterval)
            with StatsMeter(self.spark, interval_sec=self.config.stats_interval_sec) as meter:
                staged = _run_all(
                    self.spark,
                    [
                        partial(self._stage_source, i, store, rejects_dir, resume)
                        for i in range(len(self.config.sources))
                    ],
                )
                result.csv_rejects = sum(staged)
                done: dict[int, ElementStats] = {}
                for chain_stats in _run_all(
                    self.spark,
                    [
                        partial(
                            self._run_chain, chain, store, rejects_dir, mpath, resume, meter
                        )
                        for chain in chains.values()
                    ],
                ):
                    done.update(chain_stats)
                result.elements = [done[n] for n in sorted(done)]

            for hook in self.config.after_hooks:  # W6 after-hooks
                self._run_hook(hook)
        finally:
            self._drop_scans(set(self._stage_dirs) - staged_before)

        result.metrics_path = str(mpath)
        result.rejects_path = str(rejects_dir)
        result.duration_sec = time.time() - t0
        for es in result.elements:
            log.info(
                "element %s/%s: total=%d filtered=%d written=%d rejected=%d",
                es.kind,
                es.name,
                es.total,
                es.filtered,
                es.written,
                es.rejected,
            )
        failed = result.is_failed()
        log.log(
            logging.WARNING if failed else logging.INFO,
            "import %s: written=%d rejected=%d in %.1fs",
            "FAILED" if failed else "done",
            result.total_written,
            result.total_rejected,
            result.duration_sec,
        )
        return result

    def _stage_source(self, i, store, rejects_dir, resume) -> int:
        """Phase 1 of run(): stage source ``i`` and write its CSV rejects.
        Returns the CSV reject count. A resumed run stages a source only if
        one of its stages is not complete, so phase 2 never stages one."""
        # The rejects write is a resumable stage of its own, written as its
        # partition of _rejects/csv.
        rej_stage = f"s{i}/rejects"
        if resume and store.stage_completed(rej_stage):
            if not all(
                store.stage_completed(el.stage)
                for el in elements(self.config)
                if el.source == i
            ):
                self._scan(i)
            return int(store.read_manifest()["stages"][rej_stage].get("rejected", 0))
        _, csv_rejects = self._scan(i)
        # The rejects count rides the rejects write (observe — no standalone
        # .count() pass; at scale every extra count is a full scan of the
        # staged source).
        rej_obs = Observation()
        replace_partition(
            csv_rejects.observe(rej_obs, F.count(F.lit(1)).alias("n")),
            rejects_dir / "csv", "stage", rej_stage,
        )
        n_rej = int(rej_obs.get["n"])
        store.mark_stage(rej_stage, rejected=n_rej)
        return n_rej

    def _run_chain(
        self, chain, store, rejects_dir, mpath, resume, meter
    ) -> dict[int, ElementStats]:
        """Phase 2 of run(): commit the elements ``(n, element)`` of one
        target table, in order. Returns their stats by ``n``."""
        done = {}
        for n, el in chain:
            i, kind, spec, stage = el.source, el.kind, el.spec, el.stage
            if resume and store.stage_completed(stage):
                continue
            src = self.config.sources[i]
            good, _ = self._scan(i)
            es = ElementStats(name=spec.name, kind=kind, source=src.path)
            # Both counters ride the merge-commit write action:
            # pre-filter source rows (g_obs, below the element filter)
            # and mapped/bad rows (m_obs) cost ZERO extra passes over
            # the data (M1 analog).
            g_obs = Observation()
            mapped = el.map(good.observe(g_obs, F.count(F.lit(1)).alias("n_src")))
            null_key = el.null_key()
            m_obs = Observation()
            mapped = mapped.observe(
                m_obs,
                F.count(F.lit(1)).alias("n_mapped"),
                F.sum(null_key.cast("long")).alias("n_bad"),
            )
            ok = mapped.filter(~null_key)
            _, unmatched = store.merge_commit(ok, el.table, spec.mode, el.keys)
            n_good = int(g_obs.get["n_src"])
            n_mapped = int(m_obs.get["n_mapped"])
            n_bad = int(m_obs.get["n_bad"] or 0)
            es.total = n_good
            es.filtered = n_good - n_mapped
            if n_bad:
                bad = mapped.filter(null_key)
                replace_partition(
                    bad.select(
                        F.col(FILE_COL),
                        F.col(SEQ_COL),
                        F.lit("null_key").alias("reason"),
                        F.to_json(F.struct(*[c for c in bad.columns])).alias("raw"),
                    ),
                    rejects_dir / kind, "stage", stage,
                )
            n_ok = n_mapped - n_bad
            # Per-file lineage metrics (M3 analog) written as a
            # DataFrame — never .collect()ed: at 100 TB the file count
            # is 10^5-10^6 rows, which belongs on disk, not in a
            # driver-side Python list.
            replace_partition(
                ok.groupBy(F.col(FILE_COL).alias("file")).agg(F.count("*").alias("rows")),
                mpath, "stage", stage,
            )
            es.rejected = n_bad + unmatched
            es.written = n_ok - unmatched
            store.mark_stage(stage, written=es.written, rejected=es.rejected)
            done[n] = es
            meter.add(es.written)
        return done

    def _run_hook(self, hook) -> None:
        """Pre/post hooks (W6). A failing statement ABORTS the run, matching
        the reference (pkg/manager/manager.go:285-336: exec error in a hook
        returns an ImportError and stops the import — a typo'd hook must not
        silently vanish). After a hook's statements succeed, its ``wait`` is
        slept (reference hooks.go:10-22 settle delay, e.g. waiting for
        schema agreement). Accepts a HookSpec or a bare SQL string."""
        if isinstance(hook, str):
            hook = HookSpec(statements=[hook])
        for sql in hook.statements:
            for stmt in filter(None, (s.strip() for s in sql.split(";"))):
                if _NGQL_DDL.match(stmt):
                    # Recognized NebulaGraph server DDL (CREATE SPACE/TAG/...,
                    # USE) from reference-shaped configs: the TableStore
                    # creates spaces/tables implicitly, so these are declared
                    # no-ops — NOT silently-swallowed failures.
                    continue
                try:
                    self.spark.sql(stmt)
                except Exception as e:  # noqa: BLE001 — re-raise typed
                    raise HookError(f"hook statement failed: {stmt!r}: {e}") from e
        if hook.wait_sec:
            time.sleep(hook.wait_sec)
