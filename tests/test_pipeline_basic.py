"""End-to-end golden test mirroring the reference's examples/basic flow:
|-delimited person.csv with comments, nullable birthday (_NULL_), gender
defaultValue, a concat-ID second tag with a filter, and a knows.csv edge
source — asserting the logical (vid, props) / (src, dst, rank, props) tuples
the reference's nGQL statements would carry
(reference basic.string.insert.v3.yaml:34-150)."""

from __future__ import annotations

import datetime
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from nebula_importer_spark.config.model import (
    CsvOptions,
    EdgeSpec,
    GraphConfig,
    Mode,
    NodeIDSpec,
    NodeSpec,
    PropSpec,
    SourceSpec,
)
from nebula_importer_spark.plans.pipeline import Pipeline

FIX = Path(__file__).parent / "fixtures"


def _config() -> GraphConfig:
    person_props = [
        PropSpec("firstName", "STRING", 1),
        PropSpec("lastName", "STRING", 2),
        PropSpec("gender", "STRING", 3, nullable=True, default_value="female"),
        PropSpec("birthday", "DATE", 4, nullable=True, null_value="_NULL_"),
        PropSpec("creationDate", "DATETIME", 5),
        PropSpec("locationIP", "STRING", 6),
        PropSpec("browserUsed", "STRING", 7, nullable=True),
    ]
    return GraphConfig(
        space="basic",
        sources=[
            SourceSpec(
                path=str(FIX / "person.csv"),
                csv=CsvOptions(delimiter="|", comment="#"),
                tags=[
                    NodeSpec("Person", NodeIDSpec(type="STRING", index=0), person_props),
                    NodeSpec(
                        "PersonAlias",
                        NodeIDSpec(type="STRING", concat_items=["person_", 0, "_id"]),
                        [PropSpec("firstName", "STRING", 1)],
                        filter='Record[3] == "male"',
                    ),
                ],
            ),
            SourceSpec(
                path=str(FIX / "knows.csv"),
                edges=[
                    EdgeSpec(
                        "KNOWS",
                        src=NodeIDSpec(type="STRING", index=0),
                        dst=NodeIDSpec(type="STRING", index=1),
                        props=[
                            PropSpec(
                                "creationDate",
                                "DATETIME",
                                2,
                                nullable=True,
                                null_value="_NULL_",
                                default_value="2000-01-01T00:00:00",
                            )
                        ],
                        filter='Record[0] != "0"',
                    )
                ],
            ),
        ],
    )


def test_person_vertices_golden(spark):
    p = Pipeline(_config(), spark)
    rows = {r["vid"]: r for r in p.vertices("Person").collect()}
    assert set(rows) == {"101", "102", "103", "104", "105"}
    ada = rows["101"]
    assert ada["firstName"] == "Ada"
    assert ada["birthday"] == datetime.date(1815, 12, 10)
    assert ada["creationDate"] == datetime.datetime(2010, 2, 14, 15, 32, 10)
    # empty gender → nullable → defaultValue female
    assert rows["103"]["gender"] == "female"
    # _NULL_ birthday → real null
    assert rows["104"]["birthday"] is None
    # empty browserUsed → null (default nullValue "")
    assert rows["105"]["browserUsed"] is None


def test_concat_id_tag_with_filter(spark):
    p = Pipeline(_config(), spark)
    rows = {r["vid"]: r["firstName"] for r in p.vertices("PersonAlias").collect()}
    # only male rows pass the filter (102 Alan, 104 Kurt)
    assert rows == {"person_102_id": "Alan", "person_104_id": "Kurt"}


def test_knows_edges_golden(spark):
    p = Pipeline(_config(), spark)
    rows = {(r["src"], r["dst"]): r for r in p.edges("KNOWS").collect()}
    # row with src "0" filtered out
    assert set(rows) == {("101", "102"), ("101", "103"), ("102", "104"), ("104", "105")}
    assert all(r["rank"] == 0 for r in rows.values())
    # _NULL_ creationDate → default substituted then cast
    assert rows[("102", "104")]["creationDate"] == datetime.datetime(2000, 1, 1, 0, 0, 0)


def test_run_materializes_and_metrics(spark, tmp_path):
    p = Pipeline(_config(), spark)
    res = p.run(tmp_path)
    assert not res.is_failed()
    by_name = {(e.name, e.kind): e for e in res.elements}
    assert by_name[("Person", "tag")].written == 5
    assert by_name[("PersonAlias", "tag")].written == 2
    assert by_name[("PersonAlias", "tag")].filtered == 3
    assert by_name[("KNOWS", "edge")].written == 4
    assert by_name[("KNOWS", "edge")].filtered == 1
    stored = spark.read.parquet(str(tmp_path / "basic" / "tags" / "Person" / "v=1"))
    assert stored.count() == 5
    assert "vid" in stored.columns and "_seq" not in stored.columns


def test_run_resume_skips_completed(spark, tmp_path):
    p = Pipeline(_config(), spark)
    p.run(tmp_path)
    p2 = Pipeline(_config(), spark)
    res2 = p2.run(tmp_path, resume=True)
    assert res2.elements == []  # every stage already committed


def test_resume_of_a_finished_import_stages_no_source(spark, tmp_path, monkeypatch):
    """A resumed run parses and stages no source whose stages all
    completed: phase 1 skips it, and no chain has a stage left to run."""
    from nebula_importer_spark.plans import pipeline as pl

    Pipeline(_config(), spark).run(tmp_path)
    staged = []
    read_source = pl.read_source

    def spy(spark, spec, *args, **kwargs):
        staged.append(Path(spec.path).name)
        return read_source(spark, spec, *args, **kwargs)

    monkeypatch.setattr(pl, "read_source", spy)
    res = Pipeline(_config(), spark).run(tmp_path, resume=True)
    assert res.elements == []
    assert staged == []


def test_resume_does_not_duplicate_csv_rejects(spark, tmp_path):
    """The per-source rejects write is a resumable stage: a resumed run must
    report the prior reject count without appending the rows again."""
    bad = tmp_path / "bad.csv"
    bad.write_text('x1,Ok\n"broken,row\n')
    cfg = GraphConfig(
        space="s",
        sources=[
            SourceSpec(
                path=str(bad),
                tags=[
                    NodeSpec(
                        "t",
                        NodeIDSpec(type="STRING", index=0),
                        [PropSpec("v", "STRING", 1)],
                    )
                ],
            )
        ],
    )
    out = tmp_path / "out"
    r1 = Pipeline(cfg, spark).run(out)
    assert r1.csv_rejects == 1
    r2 = Pipeline(cfg, spark).run(out, resume=True)
    assert r2.csv_rejects == 1  # reported from the manifest, not re-counted
    stored = spark.read.parquet(str(out / "s" / "_rejects" / "csv"))
    assert stored.count() == 1  # no duplicate append


def test_failing_before_hook_aborts_run(spark, tmp_path):
    """W6 parity: a hook statement that fails must abort the import
    (reference pkg/manager/manager.go:285-336), not silently vanish."""
    import pytest

    from nebula_importer_spark.config.model import HookSpec
    from nebula_importer_spark.plans.pipeline import HookError

    cfg = _config()
    cfg.before_hooks = [HookSpec(statements=["SELEC BROKEN SYNTAX"])]
    with pytest.raises(HookError):
        Pipeline(cfg, spark).run(tmp_path)
    # nothing was committed before the hook failed
    assert not (tmp_path / "basic" / "tags").exists()


def test_hook_wait_sleeps_after_statements(spark, tmp_path):
    import time as _time

    from nebula_importer_spark.config.model import HookSpec

    cfg = _config()
    cfg.before_hooks = [HookSpec(statements=["SELECT 1"], wait_sec=0.3)]
    t0 = _time.time()
    res = Pipeline(cfg, spark).run(tmp_path)
    assert _time.time() - t0 >= 0.3
    assert not res.is_failed()


def test_csv_scan_plan_has_no_exchange(spark):
    """Scale guard: the header-skip must not shuffle the scan (the old
    row_number-over-input_file_name window hash-partitioned 100 TB by
    filename — one multi-GB CSV file became ONE reducer task). The mapped
    projection over a staged CSV scan must plan with zero Exchanges."""
    import contextlib
    import io

    p = Pipeline(_config(), spark)
    df = p.vertices("Person")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert "Exchange" not in buf.getvalue()


def _staged(stage: Path) -> list[str]:
    return sorted(p.name for p in stage.iterdir())


def test_run_removes_the_scans_it_staged(spark, tmp_path):
    """run() deletes the staging dirs of the scans it created, never the
    caller's staging_dir itself, and keeps a scan a library read staged
    before it. Later reads stage the source again."""
    stage = tmp_path / "stage"
    p = Pipeline(_config(), spark, staging_dir=str(stage))
    assert p.vertices("Person").count() == 5  # stages source 0 only
    before = _staged(stage)
    assert len(before) == 1
    res = p.run(tmp_path / "out")
    assert not res.is_failed()
    assert _staged(stage) == before
    assert {(r["src"], r["dst"]) for r in p.edges("KNOWS").collect()} == {
        ("101", "102"), ("101", "103"), ("102", "104"), ("104", "105")
    }
    assert len(_staged(stage)) == 2  # source 1 staged again


def test_failing_after_hook_removes_staged_scans(spark, tmp_path):
    import pytest

    from nebula_importer_spark.config.model import HookSpec
    from nebula_importer_spark.plans.pipeline import HookError

    cfg = _config()
    cfg.after_hooks = [HookSpec(statements=["SELEC BROKEN SYNTAX"])]
    stage = tmp_path / "stage"
    p = Pipeline(cfg, spark, staging_dir=str(stage))
    with pytest.raises(HookError):
        p.run(tmp_path / "out")
    assert stage.is_dir() and _staged(stage) == []
    assert p.vertices("Person").count() == 5  # re-staged, not a deleted scan


def _import_outputs(spark, out: Path, res) -> dict:
    from nebula_importer_spark.plans.merge import TableStore

    space = out / "s"

    def rows(path: Path) -> list[str]:
        if not path.exists():
            return []
        return sorted(str(r) for r in spark.read.parquet(str(path)).collect())

    store = TableStore(space, spark)
    return {
        "rejects": {k: rows(space / "_rejects" / k) for k in ("csv", "tag", "edge")},
        "metrics": rows(space / "_metrics"),
        "elements": [
            (e.kind, e.name, e.total, e.filtered, e.written, e.rejected)
            for e in res.elements
        ],
        "csv_rejects": res.csv_rejects,
        "keys": {
            "tags/t": store.read("tags/t").select("vid").distinct().count(),
            "edges/e": store.read("edges/e").select("src", "dst", "rank").distinct().count(),
        },
    }


def test_rerun_into_same_output_equals_one_run(spark, tmp_path):
    """A second run() (no resume) into the same output leaves the rejects,
    the lineage metrics, the element stats and the tables as one run left
    them; a resumed run keeps what the completed stages wrote."""
    src = tmp_path / "people.csv"
    src.write_text('1,Ada\n2,Alan\nx,NoId\n"broken,row\n3,Kurt\n')
    int_id = NodeIDSpec(type="INT", index=0)
    cfg = GraphConfig(
        space="s",
        sources=[
            SourceSpec(
                path=str(src),
                tags=[NodeSpec("t", int_id, [PropSpec("v", "STRING", 1)])],
                edges=[EdgeSpec("e", src=int_id, dst=int_id, props=[])],
            )
        ],
    )
    out = tmp_path / "out"
    once = _import_outputs(spark, out, Pipeline(cfg, spark).run(out))
    assert all(once["rejects"].values()), once["rejects"]
    assert once["metrics"] and once["keys"] == {"tags/t": 3, "edges/e": 3}
    twice = _import_outputs(spark, out, Pipeline(cfg, spark).run(out))
    assert twice == once
    resumed = Pipeline(cfg, spark).run(out, resume=True)
    assert resumed.elements == []
    assert _import_outputs(spark, out, resumed) == {**once, "elements": []}


# -- concurrent stages ---------------------------------------------------------
# run() stages every source at once, then runs one chain per target table at
# once; the fixture session is local[4], so these runs use several threads.

INT_ID = NodeIDSpec(type="INT", index=0)


def _csv(tmp_path: Path, name: str, text: str) -> str:
    path = tmp_path / name
    path.write_text(text)
    return str(path)


def _tag(name: str, *props: str, mode: Mode = Mode.INSERT) -> NodeSpec:
    return NodeSpec(name, INT_ID, [PropSpec(p, "STRING", 1) for p in props], mode=mode)


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _table_rows(spark, out: Path, table: str) -> list[tuple]:
    from nebula_importer_spark.plans.merge import TableStore

    df = TableStore(out / "s", spark).read(table)
    return _rows(df.select(*sorted(df.columns)))


def test_later_source_wins_on_shared_keys(spark, tmp_path):
    """Two INSERT sources write one tag with overlapping keys: the chain for
    that tag commits them in config order, so the later source's values
    win, run after run."""
    a = _csv(tmp_path, "a.csv", "1,a1\n2,a2\n3,a3\n")
    b = _csv(tmp_path, "b.csv", "2,b2\n3,b3\n4,b4\n")
    cfg = GraphConfig(
        space="s",
        sources=[
            SourceSpec(path=a, tags=[_tag("t", "v"), _tag("ta", "v")]),
            SourceSpec(path=b, tags=[_tag("t", "v"), _tag("tb", "v")]),
        ],
    )
    for k in range(3):
        out = tmp_path / f"out{k}"
        res = Pipeline(cfg, spark).run(out)
        assert _table_rows(spark, out, "tags/t") == [
            ("a1", 1), ("b2", 2), ("b3", 3), ("b4", 4)
        ]
        assert [(Path(e.source).name, e.name) for e in res.elements] == [
            ("a.csv", "t"), ("a.csv", "ta"), ("b.csv", "t"), ("b.csv", "tb")
        ]


def test_update_then_insert_chain_keeps_config_order(spark, tmp_path):
    """INSERT, UPDATE, INSERT on one table from three sources: each commit
    sees the one before it, as when the sources ran one after another."""
    base = _csv(tmp_path, "base.csv", "1,x\n2,y\n3,z\n")
    upd = _csv(tmp_path, "upd.csv", "2,Y\n9,Q\n")
    ins = _csv(tmp_path, "ins.csv", "3,Z\n4,W\n")
    cfg = GraphConfig(
        space="s",
        sources=[
            SourceSpec(path=base, tags=[_tag("t", "v"), _tag("u", "v")]),
            SourceSpec(path=upd, tags=[_tag("t", "v", mode=Mode.UPDATE)]),
            SourceSpec(path=ins, tags=[_tag("t", "v"), _tag("w", "v")]),
        ],
    )
    out = tmp_path / "out"
    res = Pipeline(cfg, spark).run(out)
    assert _table_rows(spark, out, "tags/t") == [
        ("W", 4), ("Y", 2), ("Z", 3), ("x", 1)
    ]
    assert [(e.name, e.written, e.rejected) for e in res.elements] == [
        ("t", 3, 0), ("u", 3, 0), ("t", 1, 1), ("t", 2, 0), ("w", 2, 0)
    ]


def test_tables_commit_on_several_threads(spark, tmp_path):
    import threading

    from nebula_importer_spark.plans import pipeline as pl

    a = _csv(tmp_path, "a.csv", "1,a\n2,b\n")
    b = _csv(tmp_path, "b.csv", "3,c\n4,d\n")
    cfg = GraphConfig(
        space="s",
        sources=[
            SourceSpec(path=a, tags=[_tag("t", "v"), _tag("u", "v")]),
            SourceSpec(path=b, tags=[_tag("w", "v")]),
        ],
    )
    threads: set[int] = set()
    orig = pl.TableStore.merge_commit

    def spy(self, df, table, mode, keys):
        threads.add(threading.get_ident())
        return orig(self, df, table, mode, keys)

    pl.TableStore.merge_commit = spy
    try:
        res = Pipeline(cfg, spark).run(tmp_path / "out")
    finally:
        pl.TableStore.merge_commit = orig
    assert [e.written for e in res.elements] == [2, 2, 2]
    assert len(threads) >= 2
    assert threading.get_ident() not in threads


def _three_rejecting_sources(tmp_path: Path) -> GraphConfig:
    """Three sources, each with a CSV reject, a null-key reject and its own
    tag and edge tables."""
    sources = []
    for k in range(3):
        path = _csv(
            tmp_path,
            f"p{k}.csv",
            f'{k}1,A{k}\nx{k},NoId\n"broken{k},row\n{k}2,B{k}\n',
        )
        sources.append(
            SourceSpec(
                path=path,
                tags=[_tag(f"t{k}", "v")],
                edges=[EdgeSpec(f"e{k}", src=INT_ID, dst=INT_ID, props=[])],
            )
        )
    return GraphConfig(space="s", sources=sources)


def test_concurrent_appends_keep_every_row_once(spark, tmp_path):
    cfg = _three_rejecting_sources(tmp_path)
    out = tmp_path / "out"
    res = Pipeline(cfg, spark).run(out)
    space = out / "s"

    def rows(sub: str, *cols: str) -> list[tuple]:
        df = spark.read.parquet(str(space / sub))
        return _rows(df.select(F.element_at(F.split("_file", "/"), -1), *cols))

    assert res.csv_rejects == 3
    assert rows("_rejects/csv", "raw") == [
        (f"p{k}.csv", f'"broken{k},row') for k in range(3)
    ]
    for kind in ("tag", "edge"):
        got = rows(f"_rejects/{kind}", "reason")
        assert got == [(f"p{k}.csv", "null_key") for k in range(3)]
        assert rows(f"_rejects/{kind}", "stage") == [
            (f"p{k}.csv", f"s{k}/{kind}/{kind[0]}{k}/INSERT") for k in range(3)
        ]
    assert rows("_rejects/csv", "stage") == [
        (f"p{k}.csv", f"s{k}/rejects") for k in range(3)
    ]
    metrics = spark.read.parquet(str(space / "_metrics"))
    assert _rows(
        metrics.select("stage", F.element_at(F.split("file", "/"), -1), "rows")
    ) == sorted(
        (f"s{k}/{kind}/{kind[0]}{k}/INSERT", f"p{k}.csv", 2)
        for k in range(3)
        for kind in ("tag", "edge")
    )
    assert [(e.name, e.written, e.rejected) for e in res.elements] == [
        (f"{kind[0]}{k}", 2, 1) for k in range(3) for kind in ("tag", "edge")
    ]


def _failing_update_config(tmp_path: Path, prop: str) -> GraphConfig:
    """Chain tags/t: source 0 INSERTs it, source 1 UPDATEs ``prop``. The
    other chains (tags/u, edges/e) are independent of it."""
    a = _csv(tmp_path, "a.csv", '1,a\n2,b\nx,NoId\n"broken,row\n3,c\n')
    b = _csv(tmp_path, "b.csv", "2,B\n7,Q\n")
    return GraphConfig(
        space="s",
        sources=[
            SourceSpec(
                path=a,
                tags=[_tag("t", "v")],
                edges=[EdgeSpec("e", src=INT_ID, dst=INT_ID, props=[])],
            ),
            SourceSpec(
                path=b,
                tags=[_tag("t", prop, mode=Mode.UPDATE), _tag("u", "v")],
            ),
        ],
    )


def _outputs(spark, out: Path, tables=("tags/t", "tags/u", "edges/e")) -> dict:
    """Sorted rows of ``tables``, the rejects and the metrics, and the
    stats each stage recorded in the manifest."""
    from nebula_importer_spark.plans.merge import TableStore

    space = out / "s"

    def rows(path: Path) -> list[tuple]:
        return _rows(spark.read.parquet(str(path))) if path.exists() else []

    stages = TableStore(space, spark).read_manifest()["stages"]
    return {
        "tables": {t: _table_rows(spark, out, t) for t in tables},
        "rejects": {k: rows(space / "_rejects" / k) for k in ("csv", "tag", "edge")},
        "metrics": rows(space / "_metrics"),
        "stages": {
            name: {k: v for k, v in info.items() if k != "at"}
            for name, info in stages.items()
        },
    }


def test_failing_chain_raises_after_the_others_finish(spark, tmp_path):
    """An UPDATE of an unknown prop fails chain tags/t. run() raises that
    error once the other chains have finished, deletes its scans and keeps
    the completed stages, and a resumed run with the prop fixed leaves what
    one uninterrupted run leaves."""
    import time

    from nebula_importer_spark.plans import pipeline as pl
    from nebula_importer_spark.plans.merge import TableStore

    finished: dict[str, float] = {}
    orig = pl.TableStore.merge_commit

    def spy(self, df, table, mode, keys):
        if table != "tags/t":
            time.sleep(1.0)  # the other chains outlast the failing one
        out = orig(self, df, table, mode, keys)
        finished[table] = time.monotonic()
        return out

    stage = tmp_path / "stage"
    out = tmp_path / "out"
    pl.TableStore.merge_commit = spy
    try:
        with pytest.raises(ValueError, match="nope"):
            Pipeline(
                _failing_update_config(tmp_path, "nope"), spark, staging_dir=str(stage)
            ).run(out)
        raised = time.monotonic()
    finally:
        pl.TableStore.merge_commit = orig
    assert set(finished) == {"tags/t", "tags/u", "edges/e"}
    assert max(finished.values()) < raised
    assert _staged(stage) == []
    stages = TableStore(out / "s", spark).read_manifest()["stages"]
    assert sorted(stages) == [
        "s0/edge/e/INSERT", "s0/rejects", "s0/tag/t/INSERT",
        "s1/rejects", "s1/tag/u/INSERT",
    ]

    fixed = _failing_update_config(tmp_path, "v")
    resumed = Pipeline(fixed, spark).run(out, resume=True)
    assert [(e.name, e.written, e.rejected) for e in resumed.elements] == [
        ("t", 1, 1)
    ]
    whole = tmp_path / "whole"
    Pipeline(fixed, spark).run(whole)
    assert _outputs(spark, out) == _outputs(spark, whole)
    assert _table_rows(spark, whole, "tags/t") == [("B", 2), ("a", 1), ("c", 3)]


def test_close_deletes_the_scans_library_reads_staged(spark, tmp_path):
    stage = tmp_path / "stage"
    p = Pipeline(_config(), spark, staging_dir=str(stage))
    assert p.vertices("Person").count() == 5
    assert p.edges("KNOWS").count() == 4
    assert len(_staged(stage)) == 2
    p.close()
    assert _staged(stage) == []
    assert p.vertices("Person").count() == 5  # staged again
    p.close()
    with Pipeline(_config(), spark, staging_dir=str(stage)) as q:
        assert q.statements("KNOWS").count() >= 1
        assert len(_staged(stage)) == 1
    assert _staged(stage) == []


@pytest.mark.parametrize("crashed", ["s0/tag/t0/INSERT", "s0/rejects"])
def test_resume_after_a_crash_before_mark_stage(spark, tmp_path, monkeypatch, crashed):
    """A stage's ``mark_stage`` fails once after its rejects and metrics
    are written (an element stage, or a source's CSV-rejects stage). The
    resumed run writes that stage again, and leaves the tables, the
    rejects, the metrics and the stats of one uninterrupted run."""
    from nebula_importer_spark.plans.merge import TableStore
    from nebula_importer_spark.plans.pipeline import elements

    cfg = _three_rejecting_sources(tmp_path)
    tables = sorted({el.table for el in elements(cfg)})
    whole_out = tmp_path / "whole"
    whole = Pipeline(cfg, spark).run(whole_out)
    mark_stage = TableStore.mark_stage

    def crash(self, stage, **info):
        if stage != crashed:
            return mark_stage(self, stage, **info)
        monkeypatch.setattr(TableStore, "mark_stage", mark_stage)
        raise RuntimeError("crashed before mark_stage")

    monkeypatch.setattr(TableStore, "mark_stage", crash)
    out = tmp_path / "out"
    with pytest.raises(RuntimeError, match="crashed before mark_stage"):
        Pipeline(cfg, spark).run(out)
    assert crashed not in TableStore(out / "s", spark).read_manifest()["stages"]
    resumed = Pipeline(cfg, spark).run(out, resume=True)
    assert _outputs(spark, out, tables) == _outputs(spark, whole_out, tables)
    assert resumed.csv_rejects == whole.csv_rejects == 3
    rerun = [e for e in whole.elements if crashed == "s0/rejects" or e.name == "t0"]
    assert resumed.elements == rerun
