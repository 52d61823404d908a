"""Randomized parity for the filter DSL, connected components and the
canonical mapping, each against an independent Python model."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from nebula_importer_spark.functions.filter_dsl import translate_filter
from nebula_importer_spark.operators.connected_components import (
    canonical_mapping,
    connected_components,
)

WIDTH = 3
LITS = ["0", "1", "a", "b", "male", "", "z9"]


def _gen_expr(rng: random.Random, depth: int = 0) -> str:
    if depth < 2 and rng.random() < 0.5:
        op = rng.choice(["&&", "||", "and", "or"])
        return f"({_gen_expr(rng, depth + 1)} {op} {_gen_expr(rng, depth + 1)})"
    if rng.random() < 0.15:
        return f"!({_gen_expr(rng, depth + 1)})"
    i = rng.randrange(WIDTH)
    cmp = rng.choice(["==", "!=", "<", ">", "<=", ">="])
    lit = rng.choice(LITS)
    return f'Record[{i}] {cmp} "{lit}"'


def _py_eval(expr: str, record: list[str]) -> bool:
    py = expr.replace("&&", " and ").replace("||", " or ")
    py = py.replace("!(", " not (")
    import re

    py = re.sub(r"Record\[(\d+)\]", lambda m: repr(record[int(m.group(1))]), py)
    py = re.sub(r"(?<![=!<>])==(?!=)", "==", py)
    return bool(eval(py))  # noqa: S307 — test-only, generated input


def test_filter_dsl_random_parity(spark):
    rng = random.Random(99)
    cases = []
    for _ in range(120):
        expr = _gen_expr(rng)
        record = [rng.choice(LITS) for _ in range(WIDTH)]
        cases.append((expr, record))
    df = spark.createDataFrame(
        [tuple(rec) for _, rec in cases],
        ", ".join(f"_c{i} string" for i in range(WIDTH)),
    ).coalesce(1).withColumn("_row", F.monotonically_increasing_id())
    cols = [f"_c{i}" for i in range(WIDTH)]
    exprs = [
        F.expr(translate_filter(expr, cols)).alias(f"e{i}")
        for i, (expr, _) in enumerate(cases)
    ]
    got = df.select("_row", *exprs).orderBy("_row").collect()
    for i, (expr, record) in enumerate(cases):
        want = _py_eval(expr, record)
        assert bool(got[i][f"e{i}"]) == want, (expr, record)


def _union_find_components(pairs) -> dict:
    """Independent model: min-root union-find over the pairs whose two
    sides are non-null; every id of such a pair maps to its class min."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def _random_graph() -> list[tuple[str, str]]:
    rng = random.Random(7)
    n_nodes, n_edges = 2000, 2600
    return [
        (f"n{rng.randrange(n_nodes):05d}", f"n{rng.randrange(n_nodes):05d}")
        for _ in range(n_edges)
    ]


# same_as inputs: (id type, pairs)
SAME_AS_CASES = {
    "random_graph": ("string", _random_graph()),
    # beyond int range, negative, and not ordered as their decimal strings
    "long_ids": ("bigint", [(2**40 + 5, 3), (3, 2**62), (-7, 2**40 + 5), (11, 12), (100, 9)]),
    "self_loops": ("string", [("a", "a"), ("b", "c"), ("c", "c"), ("d", "d")]),
    "null_side": ("string", [("a", None), (None, "b"), ("b", "c"), (None, None), ("e", "a")]),
    "duplicate_pairs": ("string", [("x", "y"), ("x", "y"), ("y", "x"), ("y", "z")] * 3),
    "empty": ("string", []),
}


def _components(op: str, same_as) -> tuple[dict, str]:
    """Run ``op`` on a same_as frame → ({id: class min}, output id type)."""
    if op == "connected_components":
        out = connected_components(same_as, src="entity_id", dst="dup_id")
        ids, comp = "node", "component"
    else:
        out = canonical_mapping(same_as)
        ids, comp = "entity_id", "canonical_id"
    got = {r[ids]: r[comp] for r in out.collect()}
    return got, dict(out.dtypes)[comp]


def test_connected_components_random_graph_vs_union_find(spark):
    edges = _random_graph()
    want = _union_find_components(edges)
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == want


@pytest.mark.parametrize(
    "op,case",
    [("canonical_mapping", c) for c in SAME_AS_CASES]
    # the random graph through connected_components is the test above
    + [("connected_components", c) for c in SAME_AS_CASES if c != "random_graph"],
)
def test_canonicalization_vs_union_find(spark, op, case):
    id_type, pairs = SAME_AS_CASES[case]
    same_as = spark.createDataFrame(pairs, f"entity_id {id_type}, dup_id {id_type}")
    got, got_type = _components(op, same_as)
    assert got == _union_find_components(pairs)
    assert got_type == id_type
