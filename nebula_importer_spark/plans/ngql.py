"""nGQL statement rendering — the reference's literal output format.

The parquet TableStore is this engine's sink; this module is the OTHER half
of sink parity: rendering the exact INSERT/UPDATE/DELETE nGQL statements the
reference's statement builders emit (pkg/spec/v3/node.go:149-262,
edge.go:195-363; identifier escaping pkg/utils/string.go:ConvertIdentifier;
literal conversion pkg/picker/converter_type.go), so a NebulaGraph user can
point the rendered stream at a graphd the way nebula-importer does.

Everything is JVM Column expressions — per-record fragments are concat
chains, per-batch assembly is a groupBy over a partition-local batch id
(floor(monotonically_increasing_id / batch): contiguous ids within a
partition ⇒ batches never span partitions ⇒ the only shuffle moves the
already-rendered ≤batch-sized string groups).

Format (verified against the reference's own spec tests):

    INSERT VERTEX [IGNORE_EXISTED_INDEX] `tag`(`p1`, `p2`) VALUES
        id:(v1, v2), id2:(...)
    UPDATE VERTEX ON `tag` id SET `p1` = v1, `p2` = v2;   (one per record)
    DELETE TAG `tag` FROM id;                              (one per record)
    INSERT EDGE [IGNORE_EXISTED_INDEX] `e`(`p1`) VALUES src->dst[@rank]:(v1), ...
    UPDATE EDGE ON `e` src->dst[@rank] SET `p1` = v1;      (one per record)
    DELETE EDGE `e` src->dst[@rank], src2->dst2            (comma batch)

Literals: STRING Go-quoted; DATE/TIME/DATETIME wrapped DATE("...") etc.;
TIMESTAMP(<epoch>) for integer timestamps; GEOGRAPHY → ST_GeogFromText("...");
BOOL/INT/FLOAT/DOUBLE raw; SQL null → NULL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nebula_importer_spark.config.model import EdgeSpec, Mode, NodeSpec
from nebula_importer_spark.sources.reader import SEQ_COL

VID, SRC, DST, RANK = "vid", "src", "dst", "rank"


def escape_identifier(name: str) -> str:
    """Backtick-quote (reference utils.ConvertIdentifier)."""
    return "`" + name.replace("\\", "\\\\").replace("`", "\\`") + "`"


# Go strconv.Quote escape table (reference pkg/utils/string.go): named
# escapes for \a \b \f \v (plus \n \t \r handled above them), \xNN lowercase
# hex for the remaining C0 controls and DEL. Built once at import; the chain
# is constant-folded JVM replaces — a no-op scan for clean strings.
_GO_ESCAPES: list[tuple[str, str]] = [
    ("\\", "\\\\"),
    ('"', '\\"'),
    ("\n", "\\n"),
    ("\t", "\\t"),
    ("\r", "\\r"),
    ("\a", "\\a"),
    ("\b", "\\b"),
    ("\f", "\\f"),
    ("\v", "\\v"),
] + [
    (chr(i), f"\\x{i:02x}")
    for i in list(range(0x00, 0x07)) + list(range(0x0E, 0x20)) + [0x7F]
]


def go_quote(c: Column) -> Column:
    """Go strconv.Quote for statement string literals: backslash, double
    quote, the named C escapes, and \\xNN hex for remaining C0 controls and
    DEL. Parity scope: ASCII — Go additionally \\u-escapes non-ASCII
    non-graphic runes (U+0085, U+00A0, U+2028…), which pass through raw
    here (they are legal inside UTF-8 nGQL literals; only the rendered
    escape spelling differs from the reference for such data)."""
    s = c
    for raw, esc in _GO_ESCAPES:
        s = F.replace(s, F.lit(raw), F.lit(esc))
    return F.concat(F.lit('"'), s, F.lit('"'))


def _wrap(fn: str, c: Column) -> Column:
    return F.concat(F.lit(f'{fn}("'), c, F.lit('")'))


def _dt_string(c: Column) -> Column:
    """Datetime column → string, preserving sub-second precision when
    present (the reference passes the source text through; whole-second
    values must not grow a spurious .000 and fractional ones must not be
    truncated)."""
    whole = F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss")
    # Spark timestamps carry microseconds; render all six digits and trim
    # trailing zeros so .123 stays .123 and .000123 is not truncated to .000.
    frac = F.regexp_replace(F.date_format(c, "SSSSSS"), "0+$", "")
    return F.when(frac == "", whole).otherwise(
        F.concat(whole, F.lit("."), frac)
    )


def render_value(c: Column, value_type: str) -> Column:
    """Typed column → nGQL literal (reference converter_type.go mapping).

    TIMESTAMP renders as TIMESTAMP("<datetime string>") — the reference's
    string-input form, which graphd interprets in its own timezone (the
    session here is pinned UTC by get_spark). Integer-epoch inputs lose
    their original TIMESTAMP(<n>) spelling but not their value.
    """
    t = value_type.upper()
    if t == "STRING":
        lit = go_quote(c)
    elif t == "DATE":
        lit = _wrap("DATE", F.date_format(c, "yyyy-MM-dd"))
    elif t == "TIME":
        lit = _wrap("TIME", c)  # validated canonical string column
    elif t == "DATETIME":
        lit = _wrap("DATETIME", _dt_string(c))
    elif t == "TIMESTAMP":
        lit = _wrap("TIMESTAMP", _dt_string(c))
    elif t.startswith("GEOGRAPHY"):
        lit = _wrap("ST_GeogFromText", c)
    else:  # BOOL / INT / FLOAT / DOUBLE: raw literal text
        lit = c.cast("string")
    return F.coalesce(lit, F.lit("NULL"))


def _id_value(col: str, id_type: str) -> Column:
    c = F.col(col)
    return go_quote(c) if id_type.upper() == "STRING" else c.cast("string")


def _edge_key(spec: EdgeSpec) -> Column:
    key = F.concat(
        _id_value(SRC, spec.src.type), F.lit("->"), _id_value(DST, spec.dst.type)
    )
    if spec.rank_index is not None:
        key = F.concat(key, F.lit("@"), F.col(RANK).cast("string"))
    return key


def _batched(df: DataFrame, fragment: Column, prefix: str, sep: str, batch: int) -> DataFrame:
    """Group per-record fragments into ≤batch-record statements. The batch
    id comes from monotonically_increasing_id (partition-prefixed and
    contiguous per partition), so batches are partition-local; only the
    rendered fragments shuffle, grouped and ordered deterministically.

    Rows whose fragment is null (an unrenderable key, e.g. a null rank on
    a ranked edge) are EXCLUDED before grouping — they neither count in
    n_records nor produce an empty/invalid statement; callers reject them
    upstream like the reference's record errors."""
    order = F.col(SEQ_COL) if SEQ_COL in df.columns else F.monotonically_increasing_id()
    # Integer `div`, not double division: beyond 2^53 (high partition
    # indices) float arithmetic rounds and a row could land in the
    # neighboring batch, overflowing the configured statement size.
    rows = df.select(
        F.expr(f"monotonically_increasing_id() div {int(batch)}").alias("_bid"),
        order.alias("_ord"),
        fragment.alias("_frag"),
    ).filter(F.col("_frag").isNotNull())
    return (
        rows.groupBy("_bid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_ord", "_frag"))),
                    lambda s: s["_frag"],
                ),
                sep,
            ).alias("_joined"),
            F.count(F.lit(1)).alias("n_records"),
        )
        .select(
            F.concat(F.lit(prefix), F.col("_joined")).alias("statement"),
            "n_records",
        )
    )


def _render(
    mapped: DataFrame,
    spec: NodeSpec | EdgeSpec,
    key: Column,
    kind: str,  # "VERTEX" | "EDGE"
    delete_stmt: tuple[str, str],  # (prefix-fmt with {name}, separator)
    batch: int,
) -> DataFrame:
    """Shared body of node/edge rendering — the formats differ only in the
    key expression, the VERTEX/EDGE keyword, and DELETE phrasing."""
    name = escape_identifier(spec.name)
    if spec.mode == Mode.INSERT:
        props = ", ".join(escape_identifier(p.name) for p in spec.props)
        ignore = "IGNORE_EXISTED_INDEX " if spec.ignore_existed_index else ""
        prefix = f"INSERT {kind} {ignore}{name}({props}) VALUES "
        frag = F.concat(
            key,
            F.lit(":("),
            F.concat_ws(
                ", ", *[render_value(F.col(p.name), p.type) for p in spec.props]
            ),
            F.lit(")"),
        )
        return _batched(mapped, frag, prefix, ", ", batch)
    if spec.mode == Mode.UPDATE:
        sets = F.concat_ws(
            ", ",
            *[
                F.concat(
                    F.lit(f"{escape_identifier(p.name)} = "),
                    render_value(F.col(p.name), p.type),
                )
                for p in spec.props
            ],
        )
        frag = F.concat(
            F.lit(f"UPDATE {kind} ON {name} "), key, F.lit(" SET "), sets, F.lit(";")
        )
        return _batched(mapped, frag, "", "", batch)
    if spec.mode == Mode.DELETE:
        prefix_fmt, sep = delete_stmt
        if sep == "":  # per-record full statements (DELETE TAG)
            frag = F.concat(F.lit(prefix_fmt.format(name=name)), key, F.lit(";"))
            return _batched(mapped, frag, "", "", batch)
        return _batched(mapped, key, prefix_fmt.format(name=name), sep, batch)
    raise ValueError(f"unsupported mode {spec.mode}")


def render_node_statements(
    mapped: DataFrame, spec: NodeSpec, batch: int = 128
) -> DataFrame:
    """Tag ``Element.map`` output (vid + typed prop cols) → (statement, n_records)."""
    return _render(
        mapped,
        spec,
        _id_value(VID, spec.id.type),
        "VERTEX",
        ("DELETE TAG {name} FROM ", ""),
        batch,
    )


def render_edge_statements(
    mapped: DataFrame, spec: EdgeSpec, batch: int = 128
) -> DataFrame:
    """Edge ``Element.map`` output (src/dst/rank + typed prop cols) → (statement, n)."""
    return _render(
        mapped, spec, _edge_key(spec), "EDGE", ("DELETE EDGE {name} ", ", "), batch
    )
