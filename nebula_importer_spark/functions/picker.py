"""Prop/ID → Column compiler (the "picker" re-expressed as Catalyst exprs).

The reference compiles each prop/id once at Validate() time into a chain of
picker+converter objects evaluated per record
(pkg/picker/config.go:10-18 build priority: ConcatItems > Indices > Nullable >
DefaultValue > NullValue > Type > Function > CheckOnPost). We compile the same
precedence into ONE nested Column expression at plan time; Catalyst constant-
folds and codegens it — there is no per-record interpreter.

Pick domain is row-of-strings (reference pkg/spec/base/record.go:3-6): every
source column is cast to string first so null-value comparison and fallback
semantics match the reference exactly, then the declared type cast is applied
last (functions/types.py).

Operator parity map:
  P1 index pick            → F.col(cols[i])                (picker_index.go:11-17)
  P2 constant              → F.lit(s)                      (picker_constant.go:7-9)
  P3 concat                → F.concat(...)                 (picker_concat.go:21-86)
  P4 first-non-null chain  → F.coalesce(nullif...)         (picker.go:39-50)
  P5 null detection        → F.nullif(c, lit(nullValue))   (converter_null.go:18-23)
  P6 null rendering        → real SQL null                 (converter_null.go:25-31)
  P7 default value         → F.coalesce(expr, lit(d))      (converter_default.go:9-15)
  P8 type cast             → convert_type                  (converter_type.go:58-121)
  P9 HASH function         → nebula_hash (BIT-EXACT with the server-side
                             HASH() the reference's rendered text invokes:
                             GCC std::hash, golden-tested vs g++)
                                                           (converter_function.go:21-33)
  P13 int-literal detect   → rlike UNSIGNED_INT_RE         (utils/string.go:5-48)
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from nebula_importer_spark.config.model import NodeIDSpec, PropSpec
from nebula_importer_spark.functions.types import convert_type


class PickError(ValueError):
    """Raised at compile time for out-of-range indices (ErrNoRecord analog,
    reference pkg/picker/picker_index.go:11-17 — but surfaced at plan time
    because DataFrame width is known statically)."""


def _raw(cols: list[str], i: int) -> Column:
    if i >= len(cols) or i < 0:
        raise PickError(f"column index {i} out of range (row width {len(cols)})")
    return F.col(cols[i]).cast("string")


def compile_prop(spec: PropSpec, cols: list[str]) -> Column:
    """PropSpec → typed Column named spec.name."""
    candidates = [spec.index, *spec.alternative_indices]
    if spec.nullable:
        # Each candidate is null when it equals nullValue; first survivor wins
        # (reference pkg/spec/v3/prop.go:69-78, picker.go:39-50).
        picked = F.coalesce(
            *[F.nullif(_raw(cols, i), F.lit(spec.null_value)) for i in candidates]
        )
        if spec.default_value is not None:
            # Default substitutes AFTER fallbacks and BEFORE the type cast
            # (reference converter_default.go:9-15): the default is a string
            # that still goes through type conversion.
            picked = F.coalesce(picked, F.lit(spec.default_value))
    else:
        picked = _raw(cols, spec.index)
    return convert_type(picked, spec.type).alias(spec.name)


def compile_id(spec: NodeIDSpec, cols: list[str], alias: str | None = None) -> Column:
    """NodeIDSpec → key Column (vid / src / dst).

    ``function: hash`` is BIT-EXACT with NebulaGraph's server-side
    ``HASH()`` (GCC std::hash — functions/nebula_hash.py, golden-tested
    against a real g++ binary), so materialized vids equal what the
    reference's rendered ``HASH("v")`` would produce on the server."""
    if spec.concat_items:
        # Mixed constants (str) and column indices (int) — reference
        # picker_concat.go:21-86. concat() is null-propagating like the
        # reference's error-on-missing-column; a null part nulls the id,
        # surfaced by the rejects pass.
        parts = [
            _raw(cols, item) if isinstance(item, int) else F.lit(str(item))
            for item in spec.concat_items
        ]
        picked = F.concat(*parts)
    else:
        picked = _raw(cols, int(spec.index or 0))
    if spec.function and spec.function.upper() == "HASH":
        from nebula_importer_spark.functions.nebula_hash import nebula_hash

        out = nebula_hash(picked)
    elif spec.type.upper() == "INT":
        out = convert_type(picked, "INT")
    else:
        out = picked.cast("string")
    return out.alias(alias or spec.name)


def compile_rank(index: int | None, cols: list[str]) -> Column:
    """Edge rank: INT-typed pick (reference pkg/spec/v3/rank.go:9-44). With
    no rank index it is 0: the rank is always part of the edge key
    (reference pkg/spec/v3/edge.go: src->dst[@rank])."""
    if index is None:
        return F.lit(0).cast("long").alias("rank")
    return convert_type(_raw(cols, index), "INT").alias("rank")
