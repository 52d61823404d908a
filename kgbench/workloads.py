"""The benchmark workloads: one job each through the program's public entry
points (as the CLI calls them), and the check of every job's output.

Imports: ``config.parse.load_config`` + ``Pipeline(cfg, spark).run(out)``.
Transcripts: ``TranscriptPipeline(spark).run(...)``. Both with their
defaults; the benchmark passes only ``staging_dir`` so that staging bytes
can be measured and removed between jobs.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from inputs import SPACE

from nebula_importer_spark.config import parse
from nebula_importer_spark.plans import pipeline as plans_pipeline
from nebula_importer_spark.plans.merge import TableStore
from nebula_importer_spark.transcripts import pipeline as kg_pipeline
from nebula_importer_spark.transcripts.reference import precision_recall

KEY_COLS = {"tags": ["vid"], "edges": ["src", "dst", "rank"]}
MIN_PR = 0.95  # north-star P/R floor against reference_extract


class CsvWorkload:
    """A config-driven CSV import into the store under ``run_dir/out``."""

    kind = "csv"

    def __init__(self, name: str, config: str, size: int, warmup_size: int):
        self.name = name
        self.config = config
        self.size = size  # people rows; follows rows are twice that
        self.warmup_size = warmup_size

    def prepare(self, inp: Path, run_dir: Path) -> None:
        if (inp / "base_store").is_dir():  # csv_upsert merges into it
            shutil.copytree(inp / "base_store", run_dir / "out")

    def job(self, spark, inp: Path, run_dir: Path):
        cfg = parse.load_config(inp / self.config)
        pipe = plans_pipeline.Pipeline(
            cfg, spark, staging_dir=str(run_dir / "stage"))
        return pipe.run(str(run_dir / "out"))

    def check(self, spark, run_dir: Path, result, expected: dict):
        """Exact element, reject and table key counts. Returns the list of
        mismatches and the (vacuous) triple precision/recall."""
        errors = []
        got = {f"{Path(e.source).name}/{e.kind}/{e.name}": {
            "total": e.total, "filtered": e.filtered, "written": e.written,
            "rejected": e.rejected} for e in result.elements}
        if got != expected["elements"]:
            errors.append(f"element counts {got} != {expected['elements']}")
        if result.csv_rejects != expected["csv_rejects"]:
            errors.append(f"csv rejects {result.csv_rejects} != "
                          f"{expected['csv_rejects']}")
        store = TableStore(run_dir / "out" / SPACE, spark)
        for table, want in expected["keys"].items():
            errors += _key_errors(store, table, want)
        # no triples are expected and none are produced
        return errors, (1.0, 1.0)


def _key_errors(store: TableStore, table: str, want: int) -> list[str]:
    from pyspark.sql import functions as F

    df = store.read(table)
    if df is None:
        return [f"{table}: table missing"]
    keys = KEY_COLS[table.split("/")[0]]
    rows, distinct = df.agg(F.count("*"), F.count_distinct(*keys)).first()
    if rows != want or distinct != want:
        return [f"{table}: {rows} rows / {distinct} keys, want {want}"]
    return []


class KgWorkload:
    """The transcript → triple pipeline over parquet inputs."""

    kind = "kg"

    def __init__(self, name: str, size: int, warmup_size: int, exact: bool):
        self.name = name
        self.size = size  # turns
        self.warmup_size = warmup_size
        # exact: every turn holds one linkable triple (kg_megathread)
        self.exact = exact

    def prepare(self, inp: Path, run_dir: Path) -> None:
        pass

    def job(self, spark, inp: Path, run_dir: Path):
        read = spark.read.parquet
        return kg_pipeline.TranscriptPipeline(spark).run(
            read(str(inp / "transcripts.parquet")),
            read(str(inp / "alias_dict.parquet")),
            read(str(inp / "same_as.parquet")),
            str(run_dir / "out"),
        )

    def check(self, spark, run_dir: Path, result, expected: dict):
        """Triples read back from the store against reference_extract."""
        errors = []
        rel = TableStore(run_dir / "out" / "kg", spark).read("edges/relation")
        got = {(r[0], int(r[1]), r[2], r[3], r[4]) for r in rel.select(
            "conv_id", "turn_idx", "src", "pred", "dst").toLocalIterator()}
        want = {tuple(t) for t in expected["triples"]}
        p, r, _ = precision_recall(got, want)
        if result.turns != expected["turns"]:
            errors.append(f"turns {result.turns} != {expected['turns']}")
        if p < MIN_PR or r < MIN_PR:
            errors.append(f"precision {p:.4f} / recall {r:.4f} < {MIN_PR}")
        if self.exact and (result.triples != expected["turns"]
                           or result.unlinked_mentions != 0):
            errors.append(f"triples {result.triples} (want "
                          f"{expected['turns']}), unlinked "
                          f"{result.unlinked_mentions} (want 0)")
        return errors, (p, r)


# Sizes keep one warm job to a few seconds on a 4-core box, where fixed
# per-Spark-job cost dominates; the warm-up slices run the same code paths.
WORKLOADS = {
    w.name: w for w in (
        CsvWorkload("csv_import", "import.yaml", 20_000, 1_000),
        CsvWorkload("csv_upsert", "upsert.yaml", 20_000, 1_000),
        KgWorkload("kg_linking", 10_000, 400, exact=False),
        KgWorkload("kg_megathread", 100_000, 5_000, exact=True),
    )
}
