"""Traced run: spans around the program's public functions, Spark's task and
SQL-node metrics attributed to them, and the per-layer metrics.

The wrappers live here only; nothing in the program changes. Each public
name is patched where it is looked up, because ``plans.pipeline`` and
``transcripts.pipeline`` import functions by name. A wrapper records a span
(name, start, end, parent, run id) and sets the Spark job group to the span
id, so the status REST API's job and stage data attach to the innermost
open span.

Spark is lazy: a span around a plan builder measures planning, and the
execution lands in the span of the action that runs it (a commit). Work is
attributed to operators through the SQL-node metrics of the same API:
``MapInPandas`` is triple extraction, ``ArrowEvalPython`` is the
``nebula_hash`` pandas UDF, and the ``Exchange`` in the extraction query is
the salted repartition against skew.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
import uuid
from contextlib import contextmanager
from datetime import datetime, timezone
from importlib import import_module
from pathlib import Path

from probes import dir_bytes

# name -> (unit, better)
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "memory.peak_rss_mb": ("MB", "lower"),
    "config.load_s": ("s", "lower"),
    "sources.scan_s": ("s", "lower"),
    "sources.cpu_s": ("s", "lower"),
    "sources.rows": ("count", "higher"),
    "sources.reject_rows": ("count", "lower"),
    "sources.staged_bytes": ("bytes", "lower"),
    "functions.map_s": ("s", "lower"),
    "functions.hash_rows": ("count", "higher"),
    "functions.filtered_rows": ("count", "higher"),
    "merge.commit_s": ("s", "lower"),
    "merge.commits": ("count", "lower"),
    "merge.buckets_live": ("count", "lower"),
    "merge.buckets_touched": ("count", "lower"),
    "merge.bytes_read": ("bytes", "lower"),
    "merge.bytes_written": ("bytes", "lower"),
    "merge.write_amp": ("ratio", "lower"),
    "pipeline.spark_jobs": ("count", "lower"),
    "pipeline.spark_stages": ("count", "lower"),
    "pipeline.tasks": ("count", "lower"),
    "pipeline.driver_gap_s": ("s", "lower"),
    "extract.s": ("s", "lower"),
    "extract.turns": ("count", "higher"),
    "extract.triples": ("count", "higher"),
    "extract.python_bytes": ("bytes", "lower"),
    "skew.task_max_over_median": ("ratio", "lower"),
    "skew.shuffle_bytes": ("bytes", "lower"),
    "linking.s": ("s", "lower"),
    "linking.vocab": ("count", "higher"),
    "linking.exact": ("count", "higher"),
    "linking.fuzzy_candidates": ("count", "lower"),
    "linking.fuzzy_accepted": ("count", "higher"),
    "linking.fuzzy_yield": ("ratio", "higher"),
    "cc.s": ("s", "lower"),
    "cc.rounds": ("count", "lower"),
    "cc.spark_jobs": ("count", "lower"),
    "canon.s": ("s", "lower"),
    "materialize.s": ("s", "lower"),
    "materialize.rows": ("count", "higher"),
    "spark.task_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.failed_tasks": ("count", "lower"),
    "spark.parallel_eff": ("ratio", "higher"),
    "trace.job_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
}


class Tracer:
    """In-memory span recorder that tags Spark jobs with the open span."""

    def __init__(self, sc):
        self.sc = sc
        self.run_id = uuid.uuid4().hex[:8]
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["id"], span["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = {"id": f"{self.run_id}-{len(self.spans)}", "name": name,
             "parent": parent["id"] if parent else None, "run": self.run_id,
             "start": time.time(), "end": None, **attrs}
        self.spans.append(s)
        self._stack.append(s)
        self._group(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            self._group(parent)

    @property
    def current(self) -> dict | None:
        return self._stack[-1] if self._stack else None


# -- wrappers -----------------------------------------------------------------

def install(tracer: Tracer, df_class) -> callable:
    """Patch the traced public functions; returns the function that undoes it."""
    # import_module: a package may re-export a function under its
    # submodule's name (operators.connected_components)
    pkg = "nebula_importer_spark."
    parse = import_module(pkg + "config.parse")
    cc = import_module(pkg + "operators.connected_components")
    linking = import_module(pkg + "operators.linking")
    merge = import_module(pkg + "plans.merge")
    plans_pipeline = import_module(pkg + "plans.pipeline")
    reader = import_module(pkg + "sources.reader")
    kg_pipeline = import_module(pkg + "transcripts.pipeline")

    undo = []

    def patch(owner, attr, wrapper):
        undo.append((owner, attr, owner.__dict__.get(attr)))
        setattr(owner, attr, wrapper)

    def spanned(fn, name):
        def w(*a, **k):
            with tracer.span(name):
                return fn(*a, **k)
        w.__wrapped__ = fn
        return w

    def by_name(fn, name, *owners):
        w = spanned(fn, name)
        for o in owners:
            patch(o, fn.__name__, w)

    by_name(parse.load_config, "config.load_config", parse)
    by_name(reader.read_source, "sources.read_source", reader, plans_pipeline)
    by_name(linking.link_mentions, "linking.link_mentions", linking,
            kg_pipeline)
    by_name(linking.minhash_lsh_join, "linking.minhash_lsh_join", linking)
    by_name(cc.canonical_mapping, "cc.canonical_mapping", cc, kg_pipeline)
    patch(plans_pipeline.Pipeline, "run",
          spanned(plans_pipeline.Pipeline.run, "pipeline.Pipeline.run"))
    tp = kg_pipeline.TranscriptPipeline
    for m in ("run", "triples_surface", "link_table", "canonical_triples"):
        patch(tp, m, spanned(getattr(tp, m), f"kg.TranscriptPipeline.{m}"))
    for m in ("commit", "merge_commit"):
        patch(merge.TableStore, m,
              _merge_wrapper(tracer, getattr(merge.TableStore, m), m))

    # cc.rounds: connected_components tests for an empty contracted edge
    # set once before its first round and once at the end of every round
    is_empty = df_class.isEmpty

    def counted_is_empty(self):
        s = tracer.current
        if s is not None:
            s["is_empty_calls"] = s.get("is_empty_calls", 0) + 1
        return is_empty(self)

    patch(df_class, "isEmpty", counted_is_empty)

    def uninstall():
        for owner, attr, orig in reversed(undo):
            if orig is None:  # was inherited: drop the override
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)

    return uninstall


def _merge_wrapper(tracer: Tracer, fn, method: str):
    """Span + bucket/byte bookkeeping around TableStore.commit/merge_commit,
    read from the store's manifest and files before and after the call."""

    def w(store, df, table, *a, **k):
        before = store.read_manifest()["tables"].get(table) or {}
        with tracer.span(f"merge.{method}", table=table) as s:
            out = fn(store, df, table, *a, **k)
        after = store.read_manifest()["tables"].get(table) or {}
        live = before.get("buckets", {})
        v = after.get("version")
        changed = v is not None and v != before.get("version")
        new = after.get("buckets", {})
        touched = ({b for b, bv in new.items() if changed and bv == v}
                   | (set(live) - set(new)))
        s["buckets_live"] = len(live)
        s["buckets_touched"] = len(touched)
        s["bytes_read"] = sum(
            dir_bytes(store.root / table / f"v={live[b]}" / f"_b={b}")
            for b in touched if b in live)
        s["bytes_written"] = (dir_bytes(store.root / table / f"v={v}")
                              if changed else 0)
        return out

    w.__wrapped__ = fn
    return w


# -- Spark status REST API ----------------------------------------------------

_UNITS = {"": 1, "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30,
          "TiB": 2**40, "ns": 1e-9, "ms": 1e-3, "s": 1, "m": 60, "h": 3600}


def _metric_value(text: str) -> float:
    """'1,000' / '82.0 KiB' / 'total (min, med, max ...)\\n1.6 s (...)'."""
    line = text.split("\n")[-1]
    m = re.match(r"\s*(-?[\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _metric_stages(text: str) -> set[int]:
    return {int(s) for s in re.findall(r"\(stage (\d+)\.\d+: task", text)}


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f") \
        .replace(tzinfo=timezone.utc).timestamp()


class SparkRest:
    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self, groups: set[str], timeout_s: float = 30.0) -> list[dict]:
        """Jobs of ``groups`` once the listener has caught up with them."""
        deadline = time.monotonic() + timeout_s
        last = None
        while True:
            jobs = [j for j in self.get("/jobs")
                    if j.get("jobGroup") in groups]
            key = [(j["jobId"], j["status"]) for j in jobs]
            done = all(j["status"] != "RUNNING" for j in jobs)
            if (done and key == last) or time.monotonic() > deadline:
                return jobs
            last = key
            time.sleep(0.5)


def _stage_sums(stages: list[dict]) -> dict:
    return {
        "cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                           for s in stages),
        "failed_tasks": sum(s["numFailedTasks"] for s in stages),
        "tasks": sum(s["numCompleteTasks"] for s in stages),
        "output_records": sum(s["outputRecords"] for s in stages),
    }


def _union_s(intervals: list[tuple[float, float]], lo: float, hi: float):
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


# -- the traced run -----------------------------------------------------------

def traced_run(b, inp: Path, untraced_job_s: float, peak_rss_mb: float,
               nproc: int) -> dict:
    """One job under the tracer, its per-layer metrics, the span tree, and
    the single-core baseline. ``b`` is the run's ``Bench``; the untraced
    figures come from its measured jobs."""
    tracer = Tracer(b.spark.sparkContext)
    uninstall = install(tracer, type(b.spark.range(0)))
    try:
        job = b.attempt(inp, tracer=tracer)
    finally:
        uninstall()
    root = tracer.spans[0]  # the "job" span opened by Bench.attempt
    spark = SparkData(SparkRest(b.spark.sparkContext), tracer.spans)

    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.start_s"] = b.layer["session.start_s"]
    m["session.warmup_s"] = b.layer["session.warmup_s"]
    m["memory.peak_rss_mb"] = peak_rss_mb
    _span_metrics(m, tracer.spans, spark)
    _sql_metrics(m, spark)
    sums = _stage_sums(spark.stages)
    m["pipeline.spark_jobs"] = len(spark.jobs)
    m["pipeline.spark_stages"] = len(spark.stages)
    m["pipeline.tasks"] = sums["tasks"]
    busy = [(_ts(s.get("firstTaskLaunchedTime")) or _ts(s["submissionTime"]),
             _ts(s["completionTime"])) for s in spark.stages]
    m["pipeline.driver_gap_s"] = (root["end"] - root["start"]) - _union_s(
        busy, root["start"], root["end"])
    m["spark.task_cpu_s"] = sums["cpu_s"]
    m["spark.gc_s"] = sums["gc_s"]
    m["spark.shuffle_write_bytes"] = sums["shuffle_write_bytes"]
    m["spark.spill_bytes"] = sums["spill_bytes"]
    m["spark.failed_tasks"] = sums["failed_tasks"]
    m["trace.job_s"] = root["end"] - root["start"]
    m["trace.overhead_s"] = m["trace.job_s"] - untraced_job_s
    m["merge.write_amp"] = m["merge.bytes_written"] / job["input"]["input_bytes"]
    if job["ok"]:
        _output_metrics(m, b, job["result"], inp)

    _print_tree(tracer.spans, spark, root)
    out = b.run_dir.parent / "traces"
    out.mkdir(exist_ok=True)
    (out / f"{b.wl.name}-s{b.seed}.json").write_text(json.dumps(
        {"spans": tracer.spans,
         "spark": {sid: _stage_sums(st)
                   for sid, st in spark.span_stages.items()},
         "metrics": m}, indent=1))

    # single-core baseline: same session settings, one core. The JVM's JIT
    # is already warm, so no warm-up job precedes it.
    b.spark.stop()
    b.start("local[1]")
    one = b.attempt(inp)["job_s"]
    m["spark.parallel_eff"] = one / (nproc * untraced_job_s)
    print(f"single-core baseline: job_s {one:.3f} s at local[1] vs "
          f"{untraced_job_s:.3f} s at local[{nproc}]")
    return m


class SparkData:
    """The REST API's jobs, stages and SQL executions of one traced job,
    attributed to spans by job group (the innermost open span)."""

    def __init__(self, rest: SparkRest, spans: list[dict]):
        self.rest = rest
        self.jobs = rest.settle({s["id"] for s in spans})
        ran = {s["stageId"]: s for s in rest.get("/stages")
               if s["status"] in ("COMPLETE", "FAILED")}
        self.stage_by_id: dict[int, dict] = {}
        self.span_stages: dict[str, list[dict]] = {}
        self.span_jobs: dict[str, int] = {}
        for j in self.jobs:
            group = j["jobGroup"]
            self.span_jobs[group] = self.span_jobs.get(group, 0) + 1
            for sid in j["stageIds"]:
                if sid in ran and sid not in self.stage_by_id:
                    self.stage_by_id[sid] = ran[sid]
                    self.span_stages.setdefault(group, []).append(ran[sid])
        self.stages = list(self.stage_by_id.values())
        job_ids = {j["jobId"] for j in self.jobs}
        self.executions = [
            e for e in rest.get("/sql?details=true&planDescription=false"
                                "&offset=0&length=100000")
            if set(e.get("successJobIds", []) + e.get("failedJobIds", []))
            & job_ids]


def _subtree(spans: list[dict], root_id: str) -> list[str]:
    """Ids of the span ``root_id`` and all its descendants."""
    out, todo = [], [root_id]
    while todo:
        cur = todo.pop()
        out.append(cur)
        todo += [s["id"] for s in spans if s["parent"] == cur]
    return out


def _spans_named(spans, prefix):
    return [s for s in spans if s["name"].startswith(prefix)]


def _dur(spans) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def _span_metrics(m, spans, spark: SparkData) -> None:
    m["config.load_s"] = _dur(_spans_named(spans, "config.load_config"))
    src = _spans_named(spans, "sources.read_source")
    m["sources.scan_s"] = _dur(src)
    src_stages = [st for s in src for sid in _subtree(spans, s["id"])
                  for st in spark.span_stages.get(sid, [])]
    m["sources.cpu_s"] = _stage_sums(src_stages)["cpu_s"]
    m["sources.rows"] = _stage_sums(src_stages)["output_records"]
    merges = _spans_named(spans, "merge.")
    m["merge.commit_s"] = _dur(merges)
    m["merge.commits"] = len(merges)
    for k in ("buckets_live", "buckets_touched", "bytes_read",
              "bytes_written"):
        m[f"merge.{k}"] = sum(s[k] for s in merges)
    m["linking.s"] = _dur(_spans_named(spans, "kg.TranscriptPipeline.link_table")
                          ) + _dur([s for s in merges
                                    if s["table"] == "stage/links"])
    ccs = _spans_named(spans, "cc.canonical_mapping")
    m["cc.s"] = _dur(ccs)
    calls = sum(s.get("is_empty_calls", 0) for s in ccs)
    m["cc.rounds"] = max(calls - 1, 0)
    m["cc.spark_jobs"] = sum(spark.span_jobs.get(sid, 0) for s in ccs
                             for sid in _subtree(spans, s["id"]))


def _sql_metrics(m, spark: SparkData) -> None:
    extract_stages: set[int] = set()
    for e in spark.executions:
        nodes = e.get("nodes", [])
        has_extract = any(n["nodeName"] == "MapInPandas" for n in nodes)
        for n in nodes:
            vals = {x["name"]: x["value"] for x in n.get("metrics", [])}
            if n["nodeName"] == "MapInPandas":
                m["extract.triples"] += _metric_value(
                    vals.get("number of output rows", "0"))
                m["extract.python_bytes"] += sum(_metric_value(vals.get(k, "0"))
                                                 for k in (
                    "data sent to Python workers",
                    "data returned from Python workers"))
                extract_stages |= _metric_stages(
                    vals.get("time to run Python workers", ""))
            elif n["nodeName"] == "ArrowEvalPython":
                m["functions.hash_rows"] += _metric_value(
                    vals.get("number of output rows", "0"))
            elif n["nodeName"] == "Exchange" and has_extract:
                m["skew.shuffle_bytes"] += _metric_value(
                    vals.get("shuffle bytes written", "0"))
    ratio = 0.0
    for sid in extract_stages:
        st = spark.stage_by_id.get(sid)
        if st is None:
            continue
        m["extract.s"] += (_ts(st["completionTime"])
                           - (_ts(st.get("firstTaskLaunchedTime"))
                              or _ts(st["submissionTime"])))
        q = spark.rest.get(f"/stages/{sid}/{st['attemptId']}/taskSummary"
                     "?quantiles=0.5,1.0")["executorRunTime"]
        if q[0] > 0:
            ratio = max(ratio, q[1] / q[0])
    m["skew.task_max_over_median"] = ratio


def _output_metrics(m, b, res, inp: Path) -> None:
    """Counts read back from the job's own outputs after it finished."""
    if b.wl.kind == "csv":
        m["sources.reject_rows"] = res.csv_rejects
        m["sources.staged_bytes"] = dir_bytes(b.run_dir / "stage")
        m["functions.filtered_rows"] = sum(e.filtered for e in res.elements)
        m["functions.map_s"] = _map_seconds(b, inp)
        return
    from pyspark.sql import functions as F

    from nebula_importer_spark.plans.merge import TableStore
    from nebula_importer_spark.transcripts.extract import normalize_mention

    store = TableStore(b.run_dir / "out" / "kg", b.spark)
    surface = store.read("stage/surface_triples")
    m["extract.turns"] = res.turns
    m["linking.vocab"] = surface.select(
        normalize_mention(F.col("subj_sf")).alias("m")).union(surface.select(
            normalize_mention(F.col("obj_sf")).alias("m"))).distinct().count()
    methods = dict(store.read("stage/links").groupBy("method").count()
                   .collect())
    m["linking.exact"] = methods.get("exact", 0)
    m["linking.fuzzy_accepted"] = methods.get("fuzzy", 0)
    m["linking.fuzzy_candidates"] = m["linking.vocab"] - m["linking.exact"]
    if m["linking.fuzzy_candidates"]:
        m["linking.fuzzy_yield"] = (m["linking.fuzzy_accepted"]
                                    / m["linking.fuzzy_candidates"])
    m["canon.s"] = res.stages.get("canon", 0.0)
    m["materialize.s"] = res.stages.get("materialize", 0.0)
    m["materialize.rows"] = (store.read("tags/entity").count()
                             + store.read("edges/relation").count())


def _map_seconds(b, inp: Path) -> float:
    """Mapping alone: a noop-sink write of Pipeline.vertices/edges for every
    element, after the sources are staged (staging is not mapping)."""
    from nebula_importer_spark.config import parse
    from nebula_importer_spark.plans.pipeline import Pipeline

    cfg = parse.load_config(inp / b.wl.config)
    p = Pipeline(cfg, b.spark, staging_dir=str(b.run_dir / "map_stage"))
    frames = []
    for kind, names in (("tag", cfg.tag_names()), ("edge", cfg.edge_names())):
        for name in dict.fromkeys(names):
            frames.append(p.vertices(name) if kind == "tag" else p.edges(name))
    t = time.perf_counter()
    for df in frames:
        df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def _print_tree(spans, spark: SparkData, root) -> None:
    kids: dict[str | None, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def self_s(s):
        return (s["end"] - s["start"]) - _dur(kids.get(s["id"], []))

    print(f"span tree (run {root['run']}): duration / self time / spark jobs"
          " / task cpu")

    def walk(s, depth):
        sums = _stage_sums(spark.span_stages.get(s["id"], []))
        label = s["name"] + (f"[{s['table']}]" if "table" in s else "")
        print(f"  {'  ' * depth}{label:{60 - 2 * depth}s} "
              f"{s['end'] - s['start']:8.3f} s {self_s(s):8.3f} s "
              f"{spark.span_jobs.get(s['id'], 0):4d} {sums['cpu_s']:8.3f} s")
        for c in kids.get(s["id"], []):
            walk(c, depth + 1)

    walk(root, 0)
    total = root["end"] - root["start"]
    children = _dur(kids.get(root["id"], []))
    print(f"  root self {self_s(root):.3f} s + children {children:.3f} s = "
          f"{self_s(root) + children:.3f} s = traced job_s {total:.3f} s")
