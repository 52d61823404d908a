"""Synthesize minimal CSV fixtures for ANY importer config.

Given a GraphConfig, derive — per source — the column count and the
strictest value type each column must cast to (an index used as an INT id
by one tag and a STRING prop by another must hold an int literal; a
column only a filter reads counts toward the width as STRING), then
write ``n_rows`` deterministic rows to each source's path. This lets the
reference's download-your-own-data example configs (ldbc-snb) run
end-to-end without any external data, and works for arbitrary user
configs as a dry-run harness.

Usage:
    python tools/gen_fixtures.py <config.yaml> <out_dir> [n_rows]
    (library: generate_fixtures(cfg, out_dir, n_rows) → {source_path: rows})
"""

from __future__ import annotations

import sys
from pathlib import Path

from nebula_importer_spark.config.model import GraphConfig, SourceSpec, element_columns

# strictness order: later wins when two specs bind the same column.
# Parameterized geography types (GEOGRAPHY(POINT) etc., all valid per
# config VALUE_TYPES) normalize to their own entries.
_ORDER = ["STRING", "GEOGRAPHY", "GEOGRAPHY(POINT)", "GEOGRAPHY(LINESTRING)",
          "GEOGRAPHY(POLYGON)", "DATE", "TIME", "DATETIME", "TIMESTAMP",
          "BOOL", "FLOAT", "DOUBLE", "INT"]


def _value(kind: str, row: int, col: int) -> str:
    if kind == "INT":
        return str(row * 100 + col)
    if kind in ("FLOAT", "DOUBLE"):
        return f"{row}.{col}5"
    if kind == "BOOL":
        return "true" if (row + col) % 2 == 0 else "false"
    if kind == "DATE":
        return f"2020-01-{(row % 27) + 1:02d}"
    if kind == "TIME":
        return f"{row % 24:02d}:{col % 60:02d}:00"
    if kind in ("DATETIME", "TIMESTAMP"):
        return f"2020-01-{(row % 27) + 1:02d}T{col % 24:02d}:00:00"
    if kind.startswith("GEOGRAPHY"):
        x, y = (col % 60) + 1, (row % 60) + 1
        if kind == "GEOGRAPHY(LINESTRING)":
            return f"LINESTRING({x} {y}, {x + 1} {y + 1})"
        if kind == "GEOGRAPHY(POLYGON)":
            return f"POLYGON(({x} {y}, {x + 1} {y}, {x} {y + 1}, {x} {y}))"
        return f"POINT({x} {y})"
    return f"s{row}_{col}"


def _columns(src: SourceSpec) -> dict[int, str]:
    """column index → strictest value type an element of ``src`` reads it as
    (``element_columns``: ids, rank, props and filter refs)."""
    cols: dict[int, str] = {}
    for spec in (*src.tags, *src.edges):
        for i, kind in element_columns(spec):
            if _ORDER.index(kind) >= _ORDER.index(cols.get(i, "STRING")):
                cols[i] = kind
    return cols


def generate_fixtures(
    cfg: GraphConfig, out_dir: str | Path, n_rows: int = 8
) -> dict[str, int]:
    """Write a CSV per source under ``out_dir`` (flat, name-mangled from the
    source's relative path) and REPOINT each spec.path at it. Returns
    {new_path: n_rows}."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    written: dict[str, int] = {}
    for si, src in enumerate(cfg.sources):
        cols = _columns(src)
        width = max(cols) + 1 if cols else 1
        delim = src.csv.delimiter
        name = f"src{si:02d}_" + Path(src.path).name.replace("*", "x")
        p = out / name
        lines = []
        if src.csv.with_header:
            lines.append(delim.join(f"c{i}" for i in range(width)))
        for r in range(n_rows):
            lines.append(
                delim.join(
                    _value(cols.get(i, "STRING"), r, i) for i in range(width)
                )
            )
        p.write_text("\n".join(lines) + "\n")
        src.path = str(p)
        written[str(p)] = n_rows
    return written


if __name__ == "__main__":
    from nebula_importer_spark.config import load_config

    cfg = load_config(sys.argv[1])
    n = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    res = generate_fixtures(cfg, sys.argv[2], n)
    for path, rows in res.items():
        print(f"{path}: {rows} rows")
