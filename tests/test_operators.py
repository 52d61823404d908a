from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nebula_importer_spark.operators.connected_components import (
    canonical_mapping,
    connected_components,
)
from nebula_importer_spark.operators.linking import link_mentions, minhash_lsh_join


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f")], "src string, dst string"
    )
    comp = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["d"] == comp["e"] == "d"
    assert comp["f"] == "f"


def test_connected_components_chain_converges(spark):
    # a long path graph exercises multi-iteration convergence
    n = 40
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(n)], "src string, dst string"
    )
    comp = connected_components(edges)
    assert comp.select("component").distinct().count() == 1


def test_canonical_mapping(spark):
    same_as = spark.createDataFrame(
        [("org:acme", "org:acme__dup"), ("org:acme__dup", "org:acme__dup2")],
        "entity_id string, dup_id string",
    )
    m = {r["entity_id"]: r["canonical_id"] for r in canonical_mapping(same_as).collect()}
    assert m["org:acme__dup"] == "org:acme"
    assert m["org:acme__dup2"] == "org:acme"


def test_minhash_lsh_join_pairs(spark):
    left = spark.createDataFrame([("l1", "alice smith")], "lk string, lt string")
    right = spark.createDataFrame(
        [("r1", "alice smith"), ("r2", "alice smth"), ("r3", "zzz yyy xxx")],
        "rk string, rt string",
    )
    got = {
        (r["lk"], r["rk"])
        for r in minhash_lsh_join(
            left, right, "lk", "rk", "lt", "rt", threshold=0.4
        ).collect()
    }
    assert ("l1", "r1") in got
    assert ("l1", "r2") in got  # one-char deletion stays above 0.4
    assert ("l1", "r3") not in got


def test_link_mentions_exact_and_fuzzy(spark):
    mentions = spark.createDataFrame(
        [("alice smith",), ("alice smth",), ("nonsense qqq",)], "mention_norm string"
    )
    aliases = spark.createDataFrame(
        [("alice smith", "person:alice"), ("bob j", "person:bob")],
        "alias_norm string, entity_id string",
    )
    rows = {r["mention_norm"]: r for r in link_mentions(mentions, aliases).collect()}
    assert rows["alice smith"]["method"] == "exact"
    assert rows["alice smith"]["entity_id"] == "person:alice"
    assert rows["alice smth"]["method"] == "fuzzy"
    assert rows["alice smth"]["entity_id"] == "person:alice"
    assert "nonsense qqq" not in rows  # unlinked → absent


def test_connected_components_union_find_parity(spark):
    """Randomized exact parity vs a Python union-find over a graph with a
    deep chain, self-loops, and duplicate edges — guards both convergence
    (strict mode raises if the contracted graph doesn't empty) and the
    node-universe edge cases."""
    import random

    rng = random.Random(13)
    pairs = [(rng.randrange(3000), rng.randrange(3000)) for _ in range(1500)]
    pairs += [(10000 + i, 10001 + i) for i in range(500)]  # deep chain
    pairs += [(99990, 99990), (99991, 99991)]  # self-loop-only nodes
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, pointer_jumps=2).collect()
    }

    parent = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for s, d in pairs:
        ra, rb = find(s), find(d)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    assert got == want


def test_connected_components_deep_chain_default_jumps(spark):
    """A 5000-node chain with default pointer_jumps: contraction can empty
    the edge set while retired nodes still hold stale intermediate labels —
    the final fixpoint compression must resolve every node to the chain
    head (this exact shape returned 321 wrong labels before the fix)."""
    n = 5000
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    got = connected_components(edges)
    bad = got.filter(F.col("component") != 0).count()
    assert bad == 0
    assert got.count() == n


# ---------------------------------------------------------------------------
# profile_columns
# ---------------------------------------------------------------------------


def test_profile_columns_metrics(spark):
    from nebula_importer_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [
            (1, "a", 2.0),
            (2, "  ", None),   # blank string, null double
            (3, None, 2.0),    # null string
            (4, "a", 3.0),
        ],
        "id long, s string, v double",
    )
    got = {
        r.column: (r.n_rows, r.n_null, r.n_blank, r.n_distinct)
        for r in profile_columns(df).collect()
    }
    assert got == {
        "id": (4, 0, None, 4),
        "s": (4, 1, 1, 2),    # distinct excludes NULL: {'a', '  '}
        "v": (4, 1, None, 2),
    }


def test_profile_columns_single_pass_and_validation(spark):
    import pytest

    from nebula_importer_spark.operators.profile import profile_columns

    df = spark.createDataFrame([(1, "x")], "id long, s string")
    with pytest.raises(ValueError):
        profile_columns(df, [])
    with pytest.raises(ValueError):
        profile_columns(df, ["nope"])
    plan = profile_columns(df)._jdf.queryExecution().executedPlan().toString()
    # one aggregation pass over the data: a single scan of the source
    assert plan.count("Scan ExistingRDD") + plan.count("LocalTableScan") == 1


# ---------------------------------------------------------------------------
# skew_report — heavy-hitter diagnostic


def test_skew_report_flags_and_salt(spark):
    from nebula_importer_spark.operators.profile import skew_report

    rows = [("hot",)] * 60 + [("warm",)] * 25 + [(f"k{i}",) for i in range(15)]
    df = spark.createDataFrame(rows, "k string")
    got = {
        r.k: (r.n_rows, r.share_ppm, r.suggested_salt)
        for r in skew_report(df, "k", num_partitions=10, min_share_ppm=100_000).collect()
    }
    # hot: 60/100 = 600000 ppm, salt = ceil(60 / (100/10)) = 6
    # warm: 25/100 = 250000 ppm, salt = ceil(25/10) = 3
    assert got == {"hot": (60, 600_000, 6), "warm": (25, 250_000, 3)}


def test_skew_report_null_key_and_floor(spark):
    from nebula_importer_spark.operators.profile import skew_report

    rows = [(None,)] * 9 + [("a",)] * 1
    df = spark.createDataFrame(rows, "k string")
    got = {
        r.k: (r.n_rows, r.share_ppm, r.suggested_salt)
        for r in skew_report(df, "k", num_partitions=2, min_share_ppm=1).collect()
    }
    # NULL is a real key; 'a' is below average → salt floors at 1
    assert got == {None: (9, 900_000, 2), "a": (1, 100_000, 1)}


def test_skew_report_validation(spark):
    from nebula_importer_spark.operators.profile import skew_report

    df = spark.createDataFrame([("a",)], "k string")
    import pytest as _pt

    with _pt.raises(ValueError, match="not in input"):
        skew_report(df, "zz")
    with _pt.raises(ValueError, match="num_partitions"):
        skew_report(df, "k", num_partitions=0)
    with _pt.raises(ValueError, match="min_share_ppm"):
        skew_report(df, "k", min_share_ppm=0)


# ------------------------------------------------------- column_histogram


def test_column_histogram_exact_buckets(spark):
    from nebula_importer_spark.operators.profile import column_histogram

    rows = [(i, i * i) for i in range(100)] + [(None, 5)]
    df = spark.createDataFrame(rows, "a long, b long")
    out = column_histogram(df, ["a", "b"], n_buckets=4).collect()
    by = {(r.column, r.bucket): r for r in out}
    # a in [0,99], span 100, 4 buckets of 25
    for b in range(4):
        r = by[("a", b)]
        assert (r.lo, r.hi, r.n_rows) == (25 * b, 25 * b + 24, 25)
    assert by[("a", -1)].n_rows == 1 and by[("a", -1)].lo is None
    # counts per bucket must sum to the table size per column
    assert sum(r.n_rows for r in out if r.column == "b") == 101
    # exact model for b = i^2 over [0, 9801]
    import collections

    model = collections.Counter()
    vals = [i * i for i in range(100)] + [5]
    for v in vals:
        model[(v - 0) * 4 // (9801 + 1)] += 1
    got = {r.bucket: r.n_rows for r in out if r.column == "b" and r.bucket >= 0}
    assert got == dict(model)


def test_column_histogram_bounds_partition_the_domain(spark):
    from nebula_importer_spark.operators.profile import column_histogram

    df = spark.createDataFrame([(v,) for v in (3, 4, 5, 6, 7, 11)], "x long")
    out = sorted(
        column_histogram(df, ["x"], n_buckets=3).collect(),
        key=lambda r: r.bucket,
    )
    # bucket ranges are contiguous and cover [min, max]
    assert out[0].lo == 3 and out[-1].hi == 11
    for a, b in zip(out, out[1:]):
        assert b.lo == a.hi + 1
    # every value falls inside its bucket's [lo, hi]
    for r in out:
        n_in = sum(1 for v in (3, 4, 5, 6, 7, 11) if r.lo <= v <= r.hi)
        assert n_in == r.n_rows


def test_column_histogram_rejects_non_integral(spark):
    import pytest

    from nebula_importer_spark.operators.profile import column_histogram

    df = spark.createDataFrame([(1.0, 2)], "f double, i long")
    with pytest.raises(ValueError):
        column_histogram(df, ["f"])
    with pytest.raises(ValueError):
        column_histogram(df, [])
    with pytest.raises(ValueError):
        column_histogram(df, ["missing"])


# -------------------------------------------------------------- schema_drift


def test_schema_drift_statuses(spark):
    from pyspark.sql import functions as F

    from nebula_importer_spark.operators.profile import schema_drift

    old = spark.createDataFrame(
        [(i, f"v{i}", float(i)) for i in range(100)],
        "id long, name string, score double",
    )
    # new snapshot: `score` became a string (type change), `name` went
    # 20% null (rate shift), `email` appeared, `id` unchanged
    new = old.select(
        "id",
        F.when(F.col("id") % 5 == 0, None).otherwise(F.col("name")).alias("name"),
        F.col("score").cast("string").alias("score"),
        F.concat(F.lit("u"), F.col("id")).alias("email"),
    )
    st = {r.column: r.status for r in schema_drift(old, new).collect()}
    assert st == {
        "id": "ok",
        "name": "null_rate_shift",
        "score": "type_changed",
        "email": "added",
    }
    removed = {r.column: r.status for r in schema_drift(new, old).collect()}
    assert removed["email"] == "removed"


def test_schema_drift_distinct_shift_and_thresholds(spark):
    from pyspark.sql import functions as F

    from nebula_importer_spark.operators.profile import schema_drift

    old = spark.createDataFrame([(i, i % 50) for i in range(100)], "id long, k long")
    new = old.select("id", (F.col("k") % 2).alias("k"))  # 50 -> 2 distinct
    st = {r.column: r.status for r in schema_drift(old, new).collect()}
    assert st["k"] == "distinct_shift"
    # with an impossible threshold the same column reports ok
    st2 = {
        r.column: r.status
        for r in schema_drift(old, new, distinct_shift_ppm=10**9).collect()
    }
    assert st2["k"] == "ok"
    import pytest

    with pytest.raises(ValueError, match="thresholds"):
        schema_drift(old, new, null_shift_ppm=-1)


# -------------------------------------------------------- join_size_estimate


def test_join_estimate_exact_on_key_joins(spark):
    from pyspark.sql import functions as F

    from nebula_importer_spark.operators.profile import join_size_estimate

    # FK join with uniform keys: containment estimate is EXACT
    dim = spark.createDataFrame([(i,) for i in range(64)], "k long")
    fact = spark.createDataFrame([(i % 64,) for i in range(640)], "k long")
    est = join_size_estimate(fact, "k", dim, "k", n_buckets=8)
    total = est.agg(F.sum("est_rows").alias("t")).collect()[0].t
    actual = fact.join(dim, "k").count()
    assert total == actual == 640


def test_join_estimate_randomized_vs_model(spark):
    import random

    from nebula_importer_spark.operators.profile import join_size_estimate

    rng = random.Random(5)
    a = [rng.randrange(200) for _ in range(500)]
    b = [rng.randrange(150, 350) for _ in range(400)]
    da = spark.createDataFrame([(x,) for x in a], "k long")
    db = spark.createDataFrame([(x,) for x in b], "x long")
    n_buckets = 16
    mn, mx = min(a + b), max(a + b)

    def model_side(vals):
        out = {}
        for v in vals:
            bkt = (v - mn) * n_buckets // (mx - mn + 1)
            n, d = out.get(bkt, (0, set()))
            out[bkt] = (n + 1, d | {v}) if isinstance(d, set) else None
        return out

    ma, mb = model_side(a), model_side(b)
    want = {}
    for bkt in set(ma) | set(mb):
        nl, dl = ma.get(bkt, (0, set()))
        nr, dr = mb.get(bkt, (0, set()))
        want[bkt] = (
            nl, len(dl), nr, len(dr),
            nl * nr // max(len(dl), len(dr), 1),
        )
    got = {
        r.bucket: (r.n_left, r.d_left, r.n_right, r.d_right, r.est_rows)
        for r in join_size_estimate(da, "k", db, "x", n_buckets=n_buckets).collect()
    }
    assert got == want


def test_join_estimate_flags_fanout(spark):
    from pyspark.sql import functions as F

    from nebula_importer_spark.operators.profile import join_size_estimate

    # both sides pile onto ONE hot key: estimate must show the n² blowup
    a = spark.createDataFrame([(7,)] * 100, "k long")
    b = spark.createDataFrame([(7,)] * 100, "k long")
    est = join_size_estimate(a, "k", b, "k", n_buckets=4)
    total = est.agg(F.sum("est_rows").alias("t")).collect()[0].t
    assert total == 10_000


def test_join_estimate_validation(spark):
    import pytest

    from nebula_importer_spark.operators.profile import join_size_estimate

    a = spark.createDataFrame([(1,)], "k long")
    f = spark.createDataFrame([(1.5,)], "k double")
    with pytest.raises(ValueError, match="n_buckets"):
        join_size_estimate(a, "k", a, "k", n_buckets=0)
    with pytest.raises(ValueError, match="must be integral"):
        join_size_estimate(a, "k", f, "k")
    with pytest.raises(ValueError, match="not in left"):
        join_size_estimate(a, "missing", a, "k")


def test_exact_quantiles_matches_sorted_model(spark):
    """Two-pass histogram-refinement selection == the sorted-multiset
    element pick, across groups / duplicates / tiny groups / a constant
    (single-bucket degenerate) group."""
    import random

    from nebula_importer_spark.operators.profile import exact_quantiles

    rng = random.Random(7)
    rows = []
    data = {}
    for g, n in (("a", 997), ("b", 40), ("c", 1), ("d", 500)):
        vals = (
            [7] * n if g == "d"  # constant: every row in one bucket
            else [rng.randint(-(10**6), 10**6) for _ in range(n)]
        )
        data[g] = sorted(vals)
        rows += [(g, v) for v in vals]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {
        (r.g, r.pct): r.value
        for r in exact_quantiles(
            df, "v", (0, 25, 50, 99, 100), group_cols=["g"], n_buckets=64
        ).collect()
    }
    for g, vals in data.items():
        for p in (0, 25, 50, 99, 100):
            want = vals[(len(vals) - 1) * p // 100]
            assert got[(g, p)] == want, (g, p)


def test_exact_quantiles_global_and_nulls(spark):
    from nebula_importer_spark.operators.profile import exact_quantiles

    df = spark.createDataFrame(
        [(v,) for v in [5, 1, None, 3, 2, 4, None]], "v long"
    )
    got = {r.pct: r.value for r in
           exact_quantiles(df, "v", (50, 100), n_buckets=4).collect()}
    assert got == {50: 3, 100: 5}  # NULLs excluded, n=5


def test_exact_quantiles_validation(spark):
    import pytest

    from nebula_importer_spark.operators.profile import exact_quantiles

    df = spark.createDataFrame([(1, 2.0)], "v long, f double")
    with pytest.raises(ValueError, match="percentiles"):
        exact_quantiles(df, "v", (101,))
    with pytest.raises(ValueError, match="integral"):
        exact_quantiles(df, "f")
    with pytest.raises(ValueError, match="n_buckets"):
        exact_quantiles(df, "v", n_buckets=1)


def test_column_overlap_scores(spark):
    """Identical columns score 100, contained keys score their true
    Jaccard (exact below sketch capacity), disjoint names score 0."""
    from nebula_importer_spark.operators.profile import column_overlap

    left = spark.createDataFrame(
        [(i, f"cust{i}", i % 10) for i in range(50)],
        "ck long, cname string, nk long",
    )
    right = spark.createDataFrame(
        [(i, f"supp{i}", i % 10) for i in range(20)],
        "sk long, sname string, snk long",
    )
    got = {
        (r.left_col, r.right_col): (r.n_k, r.n_both, r.jaccard_pct)
        for r in column_overlap(
            left, right, ["ck", "cname", "nk"], ["sk", "sname", "snk"],
            k=256,
        ).collect()
    }
    assert len(got) == 9
    # nk/snk identical value sets (0..9): union 10 < k -> exact J=100
    assert got[("nk", "snk")] == (10, 10, 100)
    # ck ⊃ sk: union 50, both 20 -> exact 40%
    assert got[("ck", "sk")] == (50, 20, 40)
    assert got[("cname", "sname")][1] == 0
    # int-vs-string columns never collide (hash of '3' used by both
    # sides consistently): nk vs sname = 0
    assert got[("nk", "sname")][1] == 0


def test_column_overlap_validation(spark):
    import pytest

    from nebula_importer_spark.operators.profile import column_overlap

    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="k must"):
        column_overlap(df, df, ["k"], ["k"], k=8)
    with pytest.raises(ValueError, match="not in left"):
        column_overlap(df, df, ["zz"], ["k"])
    with pytest.raises(ValueError, match="non-empty"):
        column_overlap(df, df, [], ["k"])


def test_exact_weighted_quantiles_matches_expanded_model(spark):
    """Weighted quantile == unweighted quantile of the weight-EXPANDED
    multiset (the definition), across groups and duplicate values."""
    import random

    from nebula_importer_spark.operators.profile import (
        exact_weighted_quantiles,
    )

    rng = random.Random(41)
    rows = []
    expanded = {}
    for g in ("a", "b"):
        vals = [(rng.randint(-100, 100), rng.randint(1, 9))
                for _ in range(200)]
        rows += [(g, v, w) for v, w in vals]
        flat = sorted(v for v, w in vals for _ in range(w))
        expanded[g] = flat
    df = spark.createDataFrame(rows, "g string, v long, w long")
    got = {
        (r.g, r.pct): r.value
        for r in exact_weighted_quantiles(
            df, "v", "w", (0, 25, 50, 99, 100), group_cols=["g"],
            n_buckets=32,
        ).collect()
    }
    for g, flat in expanded.items():
        for p in (0, 25, 50, 99, 100):
            assert got[(g, p)] == flat[(len(flat) - 1) * p // 100], (g, p)


def test_exact_weighted_quantiles_validation(spark):
    import pytest

    from nebula_importer_spark.operators.profile import (
        exact_weighted_quantiles,
    )

    df = spark.createDataFrame([(1, 0)], "v long, w long")
    with pytest.raises(ValueError, match="strictly positive"):
        exact_weighted_quantiles(df, "v", "w")
    df2 = spark.createDataFrame([(1, 2.0)], "v long, w double")
    with pytest.raises(ValueError, match="integral"):
        exact_weighted_quantiles(df2, "v", "w")


def _py_voptimal(values, n_cells, k, scale=10**6):
    """Independent DP model (Python ints, O(k·m²))."""
    vs = [v for v in values if v is not None]
    if not vs:
        return []
    mn, mx = min(vs), max(vs)
    span = mx - mn + 1
    cells = {}
    for v in vs:
        c = (v - mn) * n_cells // span
        st = cells.setdefault(c, [0, 0, 0, v, v])
        st[0] += 1
        st[1] += v
        st[2] += v * v
        st[3] = min(st[3], v)
        st[4] = max(st[4], v)
    order = sorted(cells)
    m = len(order)
    k_eff = min(k, m)

    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b > 0) else -q

    # prefix sums over present cells
    pc, ps, pss = [0] * (m + 1), [0] * (m + 1), [0] * (m + 1)
    for x, c in enumerate(order):
        st = cells[c]
        pc[x + 1] = pc[x] + st[0]
        ps[x + 1] = ps[x] + st[1]
        pss[x + 1] = pss[x] + st[2]

    def sse(i_excl, j):  # cells i_excl+1 .. j (0-based)
        cnt = pc[j + 1] - pc[i_excl + 1]
        s = ps[j + 1] - ps[i_excl + 1]
        q = pss[j + 1] - pss[i_excl + 1]
        return q * scale - tdiv(s * s * scale, cnt)

    INF = float("inf")
    cost = [[INF] * m for _ in range(k_eff + 1)]
    arg = [[None] * m for _ in range(k_eff + 1)]
    for j in range(m):
        cost[1][j] = sse(-1, j)
    for b in range(2, k_eff + 1):
        for j in range(b - 1, m):
            best = None
            for i in range(b - 2, j):
                c = cost[b - 1][i] + sse(i, j)
                if best is None or (c, i) < best:
                    best = (c, i)
            cost[b][j], arg[b][j] = best
    # backtrack
    out = []
    j = m - 1
    for b in range(k_eff, 0, -1):
        i = arg[b][j] if b >= 2 else -1
        seg = order[i + 1 : j + 1]
        lo = min(cells[c][3] for c in seg)
        hi = max(cells[c][4] for c in seg)
        n = pc[j + 1] - pc[i + 1]
        out.append((b, lo, hi, n, sse(i, j)))
        j = i
    return sorted(out)


def test_voptimal_separates_clusters(spark):
    from nebula_importer_spark.operators.profile import voptimal_histogram

    # two tight clusters + one outlier: k=3 must isolate each exactly
    vals = [10, 11, 12, 10, 11, 500, 501, 502, 500, 9000]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    rows = voptimal_histogram(df, "x", n_cells=64, k=3).collect()
    got = sorted((r.bucket, r.lo, r.hi, r.n_rows, r.sse_micro) for r in rows)
    assert [g[1:4] for g in got] == [
        (10, 12, 5), (500, 502, 4), (9000, 9000, 1),
    ]
    assert got == _py_voptimal(vals, 64, 3)


def test_voptimal_constant_and_fewer_cells_than_k(spark):
    from nebula_importer_spark.operators.profile import voptimal_histogram

    df = spark.createDataFrame([(7,), (7,), (7,)], "x long")
    rows = voptimal_histogram(df, "x", n_cells=16, k=4).collect()
    assert len(rows) == 1
    assert (rows[0].lo, rows[0].hi, rows[0].n_rows, rows[0].sse_micro) == (
        7, 7, 3, 0,
    )
    # 2 distinct values, k=4 -> 2 buckets
    df2 = spark.createDataFrame([(1,), (100,)], "x long")
    rows2 = voptimal_histogram(df2, "x", n_cells=16, k=4).collect()
    assert len(rows2) == 2
    assert all(r.sse_micro == 0 for r in rows2)


def test_voptimal_nulls_and_empty(spark):
    from nebula_importer_spark.operators.profile import voptimal_histogram

    df = spark.createDataFrame([(1,), (None,), (3,)], "x long")
    rows = voptimal_histogram(df, "x", n_cells=8, k=2).collect()
    assert sum(r.n_rows for r in rows) == 2
    empty = spark.createDataFrame([(None,)], "x long")
    assert voptimal_histogram(empty, "x", n_cells=8, k=2).count() == 0


def test_voptimal_random_parity(spark):
    import random

    from nebula_importer_spark.operators.profile import voptimal_histogram

    rng = random.Random(555)
    for trial in range(3):
        vals = [rng.randrange(0, 1000) for _ in range(150)]
        # skew: heavy mass near 0
        vals += [rng.randrange(0, 30) for _ in range(100)]
        df = spark.createDataFrame(
            [(v,) for v in vals], "x long"
        ).repartition(5)
        rows = voptimal_histogram(df, "x", n_cells=24, k=4).collect()
        got = sorted(
            (r.bucket, r.lo, r.hi, r.n_rows, r.sse_micro) for r in rows
        )
        assert got == _py_voptimal(vals, 24, 4), f"trial {trial}"


def test_voptimal_validation(spark):
    from nebula_importer_spark.operators.profile import voptimal_histogram

    df = spark.createDataFrame([(1, 1.5)], "x long, f double")
    with pytest.raises(ValueError, match="n_cells"):
        voptimal_histogram(df, "x", n_cells=0)
    with pytest.raises(ValueError, match="k "):
        voptimal_histogram(df, "x", k=0)
    with pytest.raises(ValueError, match="must be <="):
        voptimal_histogram(df, "x", n_cells=2, k=3)
    with pytest.raises(ValueError, match="not in input"):
        voptimal_histogram(df, "zzz")
    with pytest.raises(ValueError, match="integral"):
        voptimal_histogram(df, "f")


def test_linking_ambiguity_counts_and_witnesses(spark):
    from nebula_importer_spark.operators.linking import linking_ambiguity

    mentions = spark.createDataFrame(
        [("bob",), ("bob",), ("bob",), ("ann",), ("ghost",), (None,)],
        "mention_norm string",
    )
    aliases = spark.createDataFrame(
        [
            ("bob", "person:bob"),
            ("bob", "person:bobalt"),
            ("bob", "person:bob"),       # duplicate row collapses
            ("ann", "person:ann"),
            ("unused", "person:x"),
        ],
        "alias_norm string, entity_id string",
    )
    got = {
        r.mention_norm: r.asDict()
        for r in linking_ambiguity(mentions, aliases).collect()
    }
    # ghost (no alias) and NULL are absent; unused alias absent
    assert set(got) == {"bob", "ann"}
    b = got["bob"]
    assert b["n_mentions"] == 3 and b["n_candidates"] == 2
    assert b["picked_entity"] == "person:bob"
    assert b["max_entity"] == "person:bobalt"
    assert b["ambiguous"] == 1
    a = got["ann"]
    assert (a["n_candidates"], a["ambiguous"]) == (1, 0)
    assert a["picked_entity"] == a["max_entity"] == "person:ann"


def test_linking_ambiguity_validation(spark):
    from nebula_importer_spark.operators.linking import linking_ambiguity

    m = spark.createDataFrame([("x",)], "mention_norm string")
    a = spark.createDataFrame(
        [("x", "e")], "alias_norm string, entity_id string"
    )
    with pytest.raises(ValueError, match="not in mentions"):
        linking_ambiguity(m, a, mention_col="zzz")
    with pytest.raises(ValueError, match="not in alias_dict"):
        linking_ambiguity(m, a, entity_col="zzz")


# ----------------------------------------------------- nil_mentions


def test_nil_mentions_clusters_and_shares(spark):
    from nebula_importer_spark.operators.linking import nil_mentions

    mentions = spark.createDataFrame(
        [("eve",)] * 5 + [("frank jones",)] * 3 + [("oddball",)]
        + [("ann lee",)] * 4 + [(None,)],
        "mention_norm string",
    ).repartition(4)
    aliases = spark.createDataFrame(
        [("ann lee", "person:ann"), ("bob", "person:bob")],
        "alias_norm string, entity_id string",
    )
    got = {
        r.mention_norm: (r.n_mentions, r.unlinked_ppm)
        for r in nil_mentions(mentions, aliases, min_cluster=2).collect()
    }
    # linked 'ann lee' and the singleton 'oddball' are out; shares are
    # over ALL unlinked mass (9 = 5 + 3 + 1)
    assert got == {
        "eve": (5, 5 * 10**6 // 9),
        "frank jones": (3, 3 * 10**6 // 9),
    }
    # min_cluster=1 surfaces the singleton too
    all3 = nil_mentions(mentions, aliases, min_cluster=1).count()
    assert all3 == 3
    # fully-linked input: empty
    clean = spark.createDataFrame([("ann lee",)], "mention_norm string")
    assert nil_mentions(clean, aliases).count() == 0


def test_nil_mentions_validation(spark):
    import pytest

    from nebula_importer_spark.operators.linking import nil_mentions

    m = spark.createDataFrame([("x",)], "mention_norm string")
    a = spark.createDataFrame([("x", "e")], "alias_norm string, entity_id string")
    with pytest.raises(ValueError, match="min_cluster"):
        nil_mentions(m, a, min_cluster=0)
    with pytest.raises(ValueError, match="not in mentions"):
        nil_mentions(m, a, mention_col="zz")
    with pytest.raises(ValueError, match="not in aliases"):
        nil_mentions(m, a, alias_col="zz")


# ---------------------------------------------------- alias_bootstrap


def test_alias_bootstrap_gates(spark):
    from nebula_importer_spark.operators.linking import alias_bootstrap

    links = spark.createDataFrame(
        # 'acme co' -> org:acme 4x pure: candidate
        [("acme co", "org:acme")] * 4
        # 'mercury' split 3/2 between two entities: purity 600000 < gate
        + [("mercury", "org:planet")] * 3
        + [("mercury", "person:freddie")] * 2
        # 'bob s' -> person:bob only once: below min_count
        + [("bob s", "person:bob")]
        # 'ann lee' -> person:ann already known: anti-joined away
        + [("ann lee", "person:ann")] * 5
        + [(None, "e"), ("x", None)],
        "mention_norm string, entity_id string",
    ).repartition(4)
    aliases = spark.createDataFrame(
        [("ann lee", "person:ann")],
        "alias_norm string, entity_id string",
    )
    got = {
        (r.mention_norm, r.entity_id): (
            r.n_links, r.n_surface_links, r.purity_ppm,
        )
        for r in alias_bootstrap(
            links, aliases, min_count=2, min_purity_ppm=800_000
        ).collect()
    }
    assert got == {("acme co", "org:acme"): (4, 4, 10**6)}
    # lowering both gates admits the split surface (both legs) + more
    relaxed = alias_bootstrap(
        links, aliases, min_count=2, min_purity_ppm=400_000
    ).count()
    assert relaxed == 3  # acme + both mercury legs
    # a known (alias, entity) pair never resurfaces even with loose gates
    loose = {
        (r.mention_norm, r.entity_id)
        for r in alias_bootstrap(
            links, aliases, min_count=1, min_purity_ppm=0
        ).collect()
    }
    assert ("ann lee", "person:ann") not in loose
    assert ("bob s", "person:bob") in loose


def test_alias_bootstrap_validation(spark):
    import pytest

    from nebula_importer_spark.operators.linking import alias_bootstrap

    l = spark.createDataFrame(
        [("x", "e")], "mention_norm string, entity_id string"
    )
    a = spark.createDataFrame(
        [("x", "e")], "alias_norm string, entity_id string"
    )
    with pytest.raises(ValueError, match="min_count"):
        alias_bootstrap(l, a, min_count=0)
    with pytest.raises(ValueError, match="min_purity_ppm"):
        alias_bootstrap(l, a, min_purity_ppm=2_000_000)
    with pytest.raises(ValueError, match="not in links"):
        alias_bootstrap(l, a, mention_col="zz")
    with pytest.raises(ValueError, match="not in aliases"):
        alias_bootstrap(l, a, alias_col="zz")
