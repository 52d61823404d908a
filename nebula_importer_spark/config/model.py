"""Declarative schema-config model.

Mirrors the *shape* of the reference's v3 YAML config (tags/edges with typed
props, index/concat/hash IDs, nullable/default/fallback semantics, row
filters, INSERT/UPDATE/DELETE modes) — behavioral parity points:

- prop fields: reference pkg/spec/v3/prop.go:10-23
- node id:     reference pkg/spec/v3/nodeid.go:16-24 (INT|STRING, index OR
               concatItems, optional HASH function)
- node/edge:   reference pkg/spec/v3/node.go:15-31, edge.go:14-38
- modes:       reference pkg/spec/base/mode.go:5-23 (INSERT|UPDATE|DELETE)
- csv opts:    reference pkg/source/config.go:16-21 (delimiter, withHeader,
               lazyQuotes, comment)
- source:      reference pkg/config/v3/source.go:14-21 (path/csv/batch/tags/
               edges; one file fans out to many tags+edges)

The model validates eagerly (Validate() analog: reference
pkg/spec/v3/graph.go:50-72) and is the single input to the Column-expression
compiler in functions/picker.py.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum

# Prop types supported by the reference (pkg/spec/v3/value.go:10-42).
VALUE_TYPES = {
    "BOOL",
    "INT",
    "FLOAT",
    "DOUBLE",
    "STRING",
    "DATE",
    "TIME",
    "DATETIME",
    "TIMESTAMP",
    "GEOGRAPHY",
    "GEOGRAPHY(POINT)",
    "GEOGRAPHY(LINESTRING)",
    "GEOGRAPHY(POLYGON)",
}
# NodeID value types are restricted (reference pkg/spec/v3/value.go:44-48).
ID_TYPES = {"INT", "STRING"}
# Only supported id function (reference pkg/spec/v3/nodeid.go:10-12).
ID_FUNCTIONS = {"HASH"}

DEFAULT_NULL_VALUE = ""  # reference pkg/spec/v3/prop.go:69-73


class Mode(str, Enum):
    INSERT = "INSERT"
    UPDATE = "UPDATE"
    DELETE = "DELETE"


class ConfigError(ValueError):
    """Raised for invalid schema configs (Validate()-time failures)."""


def _validate_filter(expr: str | None, where: str) -> None:
    """Grammar-check a filter DSL expression at config-validate time so an
    off-grammar filter (expr-lang superset constructs the translator does not
    support) fails before the job starts, not mid-run."""
    if not expr:
        return
    from nebula_importer_spark.functions.filter_dsl import FilterError, validate_filter

    try:
        validate_filter(expr)
    except FilterError as e:
        raise ConfigError(f"{where}: invalid filter: {e}") from e


@dataclass
class PropSpec:
    """One typed property bound to a 0-based source column index.

    Pick/convert precedence replicated from reference pkg/picker/config.py
    build chain (config.go:10-18): indices+nullable fallback → defaultValue →
    type conversion.
    """

    name: str
    type: str = "STRING"  # default type (reference value.go:24, prop.go:28-30)
    index: int = 0
    nullable: bool = False
    null_value: str = DEFAULT_NULL_VALUE
    alternative_indices: list[int] = field(default_factory=list)
    default_value: str | None = None

    def validate(self) -> None:
        t = self.type.upper()
        if t not in VALUE_TYPES:
            raise ConfigError(f"prop {self.name!r}: unsupported type {self.type!r}")
        if self.index < 0 or any(i < 0 for i in self.alternative_indices):
            raise ConfigError(f"prop {self.name!r}: negative column index")
        if not self.nullable and self.alternative_indices:
            # alternativeIndices only engage when nullable (reference
            # pkg/spec/v3/prop.go:69-78).
            raise ConfigError(
                f"prop {self.name!r}: alternativeIndices requires nullable=true"
            )
        if not self.name:
            raise ConfigError("prop with empty name")


@dataclass
class NodeIDSpec:
    """Vertex id: an index pick OR a concat of constants+indices, optionally
    hashed. Reference pkg/spec/v3/nodeid.go:16-24, picker_concat.go:21-86."""

    name: str = "id"
    type: str = "STRING"
    index: int | None = None
    concat_items: list[int | str] = field(default_factory=list)
    function: str | None = None  # "HASH" → deterministic 64-bit hash

    def validate(self) -> None:
        if self.type.upper() not in ID_TYPES:
            raise ConfigError(f"id {self.name!r}: type must be INT or STRING")
        if self.index is None and not self.concat_items:
            raise ConfigError(f"id {self.name!r}: need index or concatItems")
        if self.function and self.function.upper() not in ID_FUNCTIONS:
            raise ConfigError(f"id {self.name!r}: unsupported function {self.function!r}")


@dataclass
class NodeSpec:
    """A tag (vertex type) mapped from a source. Reference pkg/spec/v3/node.go:15-31."""

    name: str
    id: NodeIDSpec
    props: list[PropSpec] = field(default_factory=list)
    filter: str | None = None  # filter DSL (reference pkg/spec/base/filter.go)
    mode: Mode = Mode.INSERT
    ignore_existed_index: bool = True  # G6 toggle; no-op for us (no indexes)

    def validate(self) -> None:
        if not self.name:
            raise ConfigError("node with empty name")
        self.id.validate()
        _validate_filter(self.filter, f"node {self.name!r}")
        seen: set[str] = set()
        for p in self.props:
            p.validate()
            if p.name in seen:
                raise ConfigError(f"node {self.name!r}: duplicate prop {p.name!r}")
            seen.add(p.name)


@dataclass
class EdgeSpec:
    """An edge type with src/dst id refs and optional integer rank.

    Reference pkg/spec/v3/edge.go:14-38, rank.go:9-44.
    """

    name: str
    src: NodeIDSpec
    dst: NodeIDSpec
    rank_index: int | None = None
    props: list[PropSpec] = field(default_factory=list)
    filter: str | None = None
    mode: Mode = Mode.INSERT
    ignore_existed_index: bool = True

    def validate(self) -> None:
        if not self.name:
            raise ConfigError("edge with empty name")
        self.src.validate()
        self.dst.validate()
        if self.rank_index is not None and self.rank_index < 0:
            raise ConfigError(f"edge {self.name!r}: negative rank index")
        _validate_filter(self.filter, f"edge {self.name!r}")
        seen: set[str] = set()
        for p in self.props:
            p.validate()
            if p.name in seen:
                raise ConfigError(f"edge {self.name!r}: duplicate prop {p.name!r}")
            seen.add(p.name)


def element_columns(spec: NodeSpec | EdgeSpec) -> list[tuple[int, str]]:
    """The ``(source column index, value type)`` pairs a tag/edge reads: its
    id/src/dst ``index`` (INT for an INT id) and ``concatItems``, its rank
    (INT), its props with their ``alternativeIndices``, and its filter's
    ``Record[i]`` refs (STRING). Validate and fixture tooling size a source
    from this list; the import compiles the same fields."""
    from nebula_importer_spark.functions.filter_dsl import record_refs

    ids = [spec.id] if isinstance(spec, NodeSpec) else [spec.src, spec.dst]
    out: list[tuple[int, str]] = []
    for i in ids:
        if i.index is not None:
            out.append((i.index, "INT" if i.type.upper() == "INT" else "STRING"))
        out += [(c, "STRING") for c in i.concat_items if isinstance(c, int)]
    if isinstance(spec, EdgeSpec) and spec.rank_index is not None:
        out.append((spec.rank_index, "INT"))
    for p in spec.props:
        out += [(c, p.type.upper()) for c in (p.index, *p.alternative_indices)]
    if spec.filter:
        out += [(c, "STRING") for c in record_refs(spec.filter)]
    return out


@dataclass
class CsvOptions:
    """CSV dialect. Reference pkg/source/config.go:16-21, pkg/reader/csv.go:33-91."""

    delimiter: str = ","
    with_header: bool = False
    lazy_quotes: bool = False
    comment: str | None = None

    def validate(self) -> None:
        if len(self.delimiter) != 1:
            raise ConfigError("csv delimiter must be a single character")
        if self.comment is not None and len(self.comment) != 1:
            raise ConfigError("csv comment must be a single character")


@dataclass
class SourceSpec:
    """One input path (glob allowed) fanning out to N tags + M edges.

    Reference pkg/config/v3/source.go:14-21,42-62; glob pkg/source/local.go:35-48.
    ``format`` extends the reference: parquet/json sources read natively.

    Exactly one of ``path`` (local/URI) or a remote options block
    (``s3``/``oss``/``gcs``/``hdfs``/``ftp``/``sftp``, reference
    pkg/source/config.go:4-14) identifies the input; remote blocks carry
    per-source endpoint/credential config resolved by sources/remote.py.
    """

    path: str = ""
    csv: CsvOptions = field(default_factory=CsvOptions)
    format: str = "csv"  # csv | parquet | json
    batch: int | None = None  # per-source Arrow batch override (S11)
    tags: list[NodeSpec] = field(default_factory=list)
    edges: list[EdgeSpec] = field(default_factory=list)
    # remote source blocks (typed in sources/remote.py; kept loose here to
    # avoid importing Spark-side modules into the pure config layer)
    s3: object | None = None
    oss: object | None = None
    gcs: object | None = None
    hdfs: object | None = None
    ftp: object | None = None
    sftp: object | None = None

    def _remote_blocks(self) -> list[object]:
        return [
            b for b in (self.s3, self.oss, self.gcs, self.hdfs, self.ftp, self.sftp)
            if b is not None
        ]

    def validate(self) -> None:
        remotes = self._remote_blocks()
        if len(remotes) > 1:
            raise ConfigError(f"source {self.path!r}: multiple remote blocks")
        if self.path and remotes:
            # a remote block carries its own object path; a local path next
            # to it would be silently ignored — reject the ambiguity
            raise ConfigError(
                f"source {self.path!r}: both path and a remote block given"
            )
        if not self.path and not remotes:
            raise ConfigError("source with empty path")
        if self.format not in {"csv", "parquet", "json"}:
            raise ConfigError(f"source {self.path!r}: unsupported format {self.format!r}")
        if self.batch is not None and self.batch <= 0:
            raise ConfigError(f"source {self.path!r}: batch must be positive")
        self.csv.validate()
        if not self.tags and not self.edges:
            raise ConfigError(f"source {self.path!r}: no tags or edges")
        for t in self.tags:
            t.validate()
        for e in self.edges:
            e.validate()


@dataclass
class HookSpec:
    """One pre/post hook: a statement list plus an optional settle wait,
    slept AFTER the hook's statements (reference pkg/manager/hooks.go:10-22,
    manager.go:285-336 — wait follows the statements; a failing statement
    aborts the import)."""

    statements: list[str] = field(default_factory=list)
    wait_sec: float = 0.0

    def validate(self) -> None:
        if self.wait_sec < 0:
            raise ConfigError("hook: negative wait")


_LOG_LEVELS = ("debug", "info", "warn", "error")


@dataclass
class LogSpec:
    """``log:`` section (reference pkg/config/base/log.go:10-15): level,
    console toggle, and log files. The Spark analog routes the engine's own
    run/stage/metric lines through a ``nebula_importer_spark`` Python logger
    (console and/or files) and maps ``level`` onto the JVM side via
    ``sparkContext.setLogLevel``. ``fields`` (static structured fields) are
    prefixed onto every line."""

    level: str | None = None
    console: bool = True
    files: list[str] = field(default_factory=list)
    fields: dict[str, str] = field(default_factory=dict)

    def validate(self) -> None:
        if self.level is not None and self.level.lower() not in _LOG_LEVELS:
            raise ConfigError(
                f"log: unknown level {self.level!r} (expected one of {_LOG_LEVELS})"
            )


@dataclass
class GraphConfig:
    """Whole pipeline config: the Spark analog of the reference's
    client+manager+sources YAML. ``space`` maps to the output namespace
    (a directory / catalog schema), hooks to pre/post SQL statements
    (reference pkg/manager/hooks.go:10-22)."""

    space: str
    sources: list[SourceSpec] = field(default_factory=list)
    before_hooks: list[HookSpec] = field(default_factory=list)
    after_hooks: list[HookSpec] = field(default_factory=list)
    batch: int = 128  # manager-level default (reference pkg/reader/option.go:7-9)
    # M2 progress-meter period (reference manager.statsInterval, default 10s)
    stats_interval_sec: float = 10.0
    # Concurrency knobs (reference pkg/config/base/manager.go reader/importer
    # concurrency): on Spark these become partition-count CAPS — reader on
    # the source scan / staging write, importer on each merge-commit write
    # stage. None = let Spark size both (input splits / shuffle partitions).
    reader_concurrency: int | None = None
    importer_concurrency: int | None = None
    log: LogSpec | None = None

    def validate(self) -> None:
        if not self.space:
            raise ConfigError("config: empty space name")
        if not self.sources:
            raise ConfigError("config: no sources")
        for c, name in (
            (self.reader_concurrency, "readerConcurrency"),
            (self.importer_concurrency, "importerConcurrency"),
        ):
            if c is not None and c < 1:
                raise ConfigError(f"config: {name} must be positive")
        if self.log is not None:
            self.log.validate()
        for s in self.sources:
            s.validate()
        for h in (*self.before_hooks, *self.after_hooks):
            h.validate()

    # Library-use constructors (entry point 3 analog, reference
    # pkg/manager/manager.go:68-91).
    def tag_names(self) -> list[str]:
        return sorted({t.name for s in self.sources for t in s.tags})

    def edge_names(self) -> list[str]:
        return sorted({e.name for s in self.sources for e in s.edges})
