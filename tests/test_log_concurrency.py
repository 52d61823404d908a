"""``log:`` section and reader/importer concurrency caps: parse → validate →
apply (log files get run lines; write stages honor the task-count cap)."""

from __future__ import annotations

from pathlib import Path

import pytest

from nebula_importer_spark.config.model import ConfigError
from nebula_importer_spark.config.parse import config_from_dict
from nebula_importer_spark.plans.pipeline import Pipeline
from nebula_importer_spark.sources.reader import read_source

FIX = Path(__file__).parent / "fixtures"


def _cfg_dict(**mgr):
    return {
        "manager": {"spaceName": "logc", **mgr},
        "sources": [
            {
                "path": str(FIX / "person.csv"),
                "csv": {"delimiter": "|", "comment": "#"},
                "tags": [
                    {
                        "name": "Person",
                        "id": {"type": "STRING", "index": 0},
                        "props": [
                            {"name": "firstName", "type": "STRING", "index": 1}
                        ],
                    }
                ],
            }
        ],
    }


def test_log_section_parses_and_resolves_files(tmp_path):
    d = _cfg_dict()
    d["log"] = {
        "level": "warn",
        "console": False,
        "files": ["logs/run.log"],
        "fields": {"app": "importer"},
    }
    cfg = config_from_dict(d, base_dir=tmp_path)
    assert cfg.log is not None and cfg.log.level == "warn"
    assert cfg.log.files == [str(tmp_path / "logs/run.log")]
    assert cfg.log.fields == {"app": "importer"}

    d["log"] = {"level": "chatty"}
    with pytest.raises(ConfigError, match="unknown level"):
        config_from_dict(d, base_dir=tmp_path)


def test_concurrency_knobs_parse_and_validate():
    cfg = config_from_dict(_cfg_dict(readerConcurrency=2, importerConcurrency=1))
    assert cfg.reader_concurrency == 2
    assert cfg.importer_concurrency == 1
    with pytest.raises(ConfigError, match="importerConcurrency"):
        config_from_dict(_cfg_dict(importerConcurrency=0))


def test_run_writes_log_file_and_caps_write_tasks(spark, tmp_path):
    d = _cfg_dict(importerConcurrency=1)
    d["log"] = {
        "level": "info",
        "console": False,
        "files": ["run.log"],
        "fields": {"space": "logc"},
    }
    cfg = config_from_dict(d, base_dir=tmp_path)
    res = Pipeline(cfg, spark, staging_dir=str(tmp_path / "stage")).run(
        tmp_path / "out"
    )
    assert res.total_written > 0

    text = (tmp_path / "run.log").read_text()
    assert "import start" in text
    assert "import done" in text
    assert "element tag/Person" in text
    assert "space=logc" in text  # static fields prefix every line

    # importerConcurrency=1 → one write task → exactly one file per bucket
    vdir = tmp_path / "out" / "logc" / "tags" / "Person" / "v=1"
    for bdir in vdir.glob("_b=*"):
        assert len(list(bdir.glob("part-*.parquet"))) == 1


def test_reader_concurrency_caps_scan_partitions(spark, tmp_path):
    cfg = config_from_dict(_cfg_dict(readerConcurrency=1))
    good, _ = read_source(
        spark, cfg.sources[0], str(tmp_path),
        reader_concurrency=cfg.reader_concurrency,
    )
    # the staged scan was written by a single task → a single split
    assert good.rdd.getNumPartitions() == 1


def test_duration_parsing_composite_and_errors():
    from nebula_importer_spark.config.parse import _duration_sec

    assert _duration_sec("1m30s") == 90.0
    assert _duration_sec("1h10m") == 4200.0
    assert _duration_sec("500ms") == 0.5
    assert _duration_sec("3") == 3.0
    assert _duration_sec(2.5) == 2.5
    assert _duration_sec(None) == 0.0
    for bad in ("abc", "1x", "m30", "30s1m x"):
        with pytest.raises(ConfigError):
            _duration_sec(bad)
