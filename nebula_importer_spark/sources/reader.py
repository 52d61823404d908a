"""Source scans: CSV (dialect-aware, permissive w/ rejection) / parquet / json.

Reference parity:
  S1-S7  file/object-store scans → spark.read over file:/ s3a:/ hdfs:/ gs:/
         URIs (Hadoop FS connectors replace the per-protocol Go sources,
         reference pkg/source/*.go); per-source credential/endpoint blocks
         resolve through sources/remote.py. FTP/SFTP (no Hadoop FS) use a
         staged-download shim (reference pkg/source/ftp.go, sftp.go).
  S8     glob expansion is native to spark.read paths; a zero-match glob is
         an error (reference pkg/config/base/source.go:59-61) surfaced as
         SourceError.
  S9/F2/F3/F4  CSV dialect: delimiter / comment / header-skip / lazyQuotes;
         malformed rows are rejected-and-continue via PERMISSIVE mode +
         corrupt-record column (reference pkg/reader/csv.go:33-91).
  S10    byte accounting → Spark task metrics; we carry per-row lineage
         (_file, _seq) instead.
  S11    batching → Arrow maxRecordsPerBatch at pandas-UDF boundaries;
         write-side batching is the writer's job.

Every scan appends two lineage columns used by metrics/rejects (M3):
  _file: input_file_name()   _seq: monotonically_increasing_id()
``_seq`` also provides the deterministic last-write-wins order inside one
load (statement order analog, reference pkg/reader/batch.go).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.utils import AnalysisException

from nebula_importer_spark.config.model import SourceSpec

CORRUPT_COL = "_corrupt"
FILE_COL = "_file"
SEQ_COL = "_seq"
META_COLS = (FILE_COL, SEQ_COL)


class SourceError(RuntimeError):
    pass


def _csv_reader(spark: SparkSession, spec: SourceSpec, header: bool = False):
    o = spec.csv
    r = (
        spark.read.format("csv")
        .option("sep", o.delimiter)
        # With an EXPLICIT schema, header=true drops the first line of every
        # file without interpreting it (names come from the schema, not the
        # file) — the reference's skip-never-interpret semantics
        # (pkg/reader/csv.go:66-76) with zero extra plan nodes. The previous
        # row_number()-over-input_file_name() formulation hash-partitioned
        # the whole scan by filename: a single multi-GB CSV became ONE
        # reducer task at scale.
        .option("header", header)
        .option("enforceSchema", True)
        .option("inferSchema", False)
        .option("mode", "PERMISSIVE")
        .option("escape", '"')  # RFC4180 "" quoting (Go encoding/csv default)
    )
    if o.comment:
        r = r.option("comment", o.comment)
    if o.lazy_quotes:
        # Go lazyQuotes: bare quotes / embedded newlines tolerated. multiLine
        # sacrifices input-split parallelism per file — only enabled here.
        r = r.option("unescapedQuoteHandling", "STOP_AT_CLOSING_QUOTE").option(
            "multiLine", True
        )
    return r


def _read_csv(spark: SparkSession, spec: SourceSpec, path: str) -> DataFrame:
    # Pass 1: let Spark size the row width from the data (cheap: schema
    # inference with inferSchema=false reads only the first rows).
    try:
        probe = _csv_reader(spark, spec).load(path)
    except AnalysisException as e:
        raise SourceError(f"source {path!r}: no files matched ({e})") from e
    width = len(probe.columns)
    # Pass 2: explicit all-string schema + corrupt-record column so malformed
    # rows (wrong arity / broken quoting) become rejects instead of nulls.
    schema = T.StructType(
        [T.StructField(f"_c{i}", T.StringType(), True) for i in range(width)]
        + [T.StructField(CORRUPT_COL, T.StringType(), True)]
    )
    return (
        _csv_reader(spark, spec, header=spec.csv.with_header)
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .schema(schema)
        .load(path)
    )


def read_source(
    spark: SparkSession,
    spec: SourceSpec,
    staging_dir: str,
    reader_concurrency: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Scan one source → (good_rows, rejects).

    good_rows: positional string columns ``_c0.._cN`` + lineage cols.
    rejects:   (_file, _seq, reason, raw) — the failed-row rejection stream
               (reference pkg/reader/csv.go:82-91 continue-error semantics).

    CSV sources are STAGED: the parsed scan (with lineage + corrupt columns)
    is written once to a parquet staging table and the good/reject splits
    read from it. One pass over the raw text regardless of how many
    tag/edge projections fan out (G7), no executor-memory cache to evict at
    scale, and the staged reads are columnar with pushed-down filters. This
    also sidesteps Spark's refusal of plans whose only referenced file
    column is the corrupt-record column. ``staging_dir`` receives everything
    the scan writes (the staged CSV, an FTP/SFTP download); the caller owns
    it and deletes it. It should sit on the job's shared filesystem for a
    cluster run.
    """
    # Remote blocks (S2-S7): apply per-source credential/endpoint conf and
    # resolve to a readable URI (FTP/SFTP: staged download) — see remote.py.
    from nebula_importer_spark.sources.remote import resolve_remote

    path = resolve_remote(spark, spec, staging_dir)
    if spec.format == "csv":
        df = _read_csv(spark, spec, path)
    elif spec.format in ("parquet", "json"):
        try:
            raw = spark.read.format(spec.format).load(path)
        except AnalysisException as e:
            raise SourceError(f"source {path!r}: no files matched ({e})") from e
        # Positional binding over typed files: column order IS the index space.
        df = raw.select(
            *[F.col(c).alias(f"_c{i}") for i, c in enumerate(raw.columns)]
        ).withColumn(CORRUPT_COL, F.lit(None).cast("string"))
    else:  # pragma: no cover — config validation rejects earlier
        raise SourceError(f"unsupported format {spec.format!r}")

    # readerConcurrency (reference manager knob): cap concurrent read tasks.
    # coalesce() is a narrow merge of scan splits — no shuffle; per-row
    # lineage (input_file_name) stays correct across merged splits.
    if reader_concurrency is not None:
        df = df.coalesce(reader_concurrency)
    # Lineage columns MUST be computed before the staging boundary:
    # input_file_name() evaluates to "" on top of a staged/cached relation.
    df = df.withColumn(FILE_COL, F.input_file_name()).withColumn(
        SEQ_COL, F.monotonically_increasing_id()
    )
    if spec.format == "csv":
        path = f"{staging_dir}/scan-{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(path)
        df = spark.read.parquet(path)
    data_cols = [c for c in df.columns if c not in (CORRUPT_COL, FILE_COL, SEQ_COL)]
    good = df.filter(F.col(CORRUPT_COL).isNull()).select(*data_cols, FILE_COL, SEQ_COL)
    rejects = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(FILE_COL),
        F.col(SEQ_COL),
        F.lit("csv_parse_error").alias("reason"),
        F.coalesce(F.col(CORRUPT_COL), *[F.col(c) for c in data_cols[:1]]).alias("raw"),
    )
    return good, rejects
