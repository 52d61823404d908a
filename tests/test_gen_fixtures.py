"""tools/gen_fixtures.py on a repo-owned config: the fixture must be as wide
as every column an element reads (ids, rank, props AND filter refs), typed
strictly enough for every cast, and the import over it must give the
element counts its filters imply."""

from __future__ import annotations

import sys
from pathlib import Path

from nebula_importer_spark.config.model import (
    CsvOptions,
    EdgeSpec,
    GraphConfig,
    NodeIDSpec,
    NodeSpec,
    PropSpec,
    SourceSpec,
    element_columns,
)
from nebula_importer_spark.plans.pipeline import Pipeline

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from gen_fixtures import generate_fixtures  # noqa: E402


def _config() -> GraphConfig:
    return GraphConfig(
        space="fx",
        sources=[
            SourceSpec(
                path="people/*.csv",
                csv=CsvOptions(delimiter="|", with_header=True),
                tags=[
                    NodeSpec(
                        "Person",
                        NodeIDSpec(type="INT", index=0),
                        [PropSpec("name", "STRING", 1), PropSpec("age", "INT", 2)],
                        # column 5 is read by this filter alone: string
                        # fixture values are s<row>_<col>
                        filter='Record[5] == "s2_5" or Record[5] == "s6_5"',
                    )
                ],
                edges=[
                    EdgeSpec(
                        "KNOWS",
                        NodeIDSpec(type="STRING", index=0),
                        NodeIDSpec(type="INT", index=2),
                        rank_index=3,
                        filter='Record[4] != "never"',
                    )
                ],
            )
        ],
    )


def test_element_columns_lists_every_read():
    src = _config().sources[0]
    assert element_columns(src.tags[0]) == [
        (0, "INT"), (1, "STRING"), (2, "INT"), (5, "STRING"), (5, "STRING")
    ]
    assert element_columns(src.edges[0]) == [
        (0, "STRING"), (2, "INT"), (3, "INT"), (4, "STRING")
    ]
    concat = NodeSpec(
        "Alias",
        NodeIDSpec(concat_items=["p_", 7, "_id"]),
        [PropSpec("x", "date", 1, nullable=True, alternative_indices=[6])],
        # a literal's text and a bare Record read no fixed column
        filter='Record[8] != "Record[99]" and len(Record) > 0',
    )
    assert element_columns(concat) == [
        (7, "STRING"), (1, "DATE"), (6, "DATE"), (8, "STRING")
    ]


def test_fixture_covers_filter_refs_and_imports(spark, tmp_path):
    cfg = _config()
    n = 8
    written = generate_fixtures(cfg, tmp_path / "fx", n_rows=n)
    (path,) = written
    header, *rows = Path(path).read_text().splitlines()
    assert header == "c0|c1|c2|c3|c4|c5"
    assert len(rows) == n
    # INT wins over the edge's STRING src on column 0; 5 is a string col
    assert rows[2].split("|") == ["200", "s2_1", "202", "203", "s2_4", "s2_5"]

    res = Pipeline(cfg, spark, staging_dir=str(tmp_path / "stage")).run(
        tmp_path / "out"
    )
    got = {
        (e.kind, e.name): (e.total, e.filtered, e.written, e.rejected)
        for e in res.elements
    }
    assert got == {
        ("tag", "Person"): (n, n - 2, 2, 0),
        ("edge", "KNOWS"): (n, 0, n, 0),
    }
    assert res.csv_rejects == 0
