"""Connected components via iterative DataFrame joins, and the
canonicalization mapping via a driver-side union-find.

Min-label propagation ("hash-to-min") with pointer jumping: every node
repeatedly adopts the smallest label in its closed neighborhood, then
``pointer_jumps`` path-compression passes follow label-of-label, squaring the
effective stride each pass — a diameter-d graph converges in
~log_{2^(jumps+1)}(d) rounds. Each round is a handful of shuffle joins +
aggregations.

Iteration state is materialized to PARQUET between steps (snapshot-per-
iteration, the same resumable-checkpoint shape the KG pipeline uses), NOT
``localCheckpoint``/``checkpoint``. This is deliberate and measured, not a
style choice: on a 2.1M-node / 1.1M-edge graph with a 100k-node chain, every
RDD-materializing checkpoint variant (local or reliable, with or without
eager, unpersist, bigger heap, periodic GC, uniform repartition) hit a
driver-side cliff around round 6 — identical jump joins went 1.8 s → 16 s →
120 s while their Spark jobs summed to ~2 s, the JVM stopped responding to
safepoint attaches, and task/GC metrics stayed clean. The same loop with
parquet write+read-back runs every round flat (~7.5 s) indefinitely: file
actions behave like ``count()`` (always fast), and the read-back plan is a
clean scan with no RDD/AQE state carried between rounds.

``connected_components`` is for graphs that do not fit on the driver
(``operators/graph.py::boruvka_msf`` runs it). Canonicalization does not
use it: ``canonical_mapping``'s callers broadcast the mapping, so the
same_as graph is driver-sized by contract, and a union-find over one
collect replaces ~26 Spark jobs per round with one.

Derived operator per SURVEY §2.8 (north-star canonicalization step); the
reference has no join/iteration machinery at all (SURVEY §2.7).
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nebula_importer_spark.session import fs_delete


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 30,
    pointer_jumps: int = 3,
    checkpoint_dir: str | None = None,
    strict: bool = True,
) -> DataFrame:
    """Edge list → (node, component) where component = min node id in the
    connected component (ids compared as their column type; use strings or
    longs consistently).

    Each round ends with GRAPH CONTRACTION: edges are rewritten to
    (label(a), label(b)) and edges internal to a label dropped, so the edge
    set SHRINKS geometrically (a diameter-d chain contracts ~2^(jumps+1)×
    per round). An empty contracted edge set proves every ACTIVE label
    equals its component min; nodes retired from the contracted graph in
    earlier rounds may still hold stale intermediate labels, so a final
    pointer-jumping loop runs to an observed FIXPOINT (zero label changes)
    before returning — label chains strictly decrease and terminate at
    component mins once the contracted graph is empty (label(min)=min
    always, labels never leave their component and only decrease).

    ``checkpoint_dir`` holds the per-iteration parquet snapshots; defaults
    to a fresh local temp dir (pass a shared-filesystem path on a real
    cluster). Intermediate snapshots are deleted as rounds retire; the final
    labels parquet is left in place — the returned DataFrame reads from it.

    ``strict=True`` raises if ``max_iterations`` is exhausted before the
    contracted graph empties (returning approximate components silently is
    how canonicalization bugs ship).
    """
    spark = edges.sparkSession
    root = checkpoint_dir or tempfile.mkdtemp(prefix="cc-")
    run = uuid.uuid4().hex[:8]
    step = [0]

    def mat(df: DataFrame) -> DataFrame:
        step[0] += 1
        path = f"{root}/cc-{run}-{step[0]:04d}"
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    both = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    ).filter(F.col("a").isNotNull() & F.col("b").isNotNull())
    # self-loops carry no connectivity but their nodes stay in the universe
    sym = mat(both.filter(F.col("a") != F.col("b")).distinct())
    labels = mat(
        both.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    converged = sym.isEmpty()
    last_jump_chg: int | None = None  # None until a final-jump observation

    for _ in range(max_iterations):
        if converged:
            break
        # (1) neighbor-min over the CONTRACTED graph: a contracted edge
        # endpoint is a label value, and every label value is a node id, so
        # the labels frame covers it.
        nbr = (
            sym.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy("a")
            .agg(F.min("component").alias("nbr_min"))
        )
        doubled = mat(
            labels.join(nbr.withColumnRenamed("a", "node"), "node", "left").select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                ).alias("component"),
            )
        )
        # (2) pointer jumping: follow the label's own label (path
        # compression); repeated jumps square the stride each pass. The
        # last jump observes its change count (riding the snapshot write it
        # already does): labels never increase, so zero changes here means
        # label∘label = label — already a fixpoint — and the final
        # compression loop below can be skipped entirely.
        for _j in range(pointer_jumps):
            parent = doubled.select(
                F.col("node").alias("component"), F.col("component").alias("_gp")
            )
            jump_lab = F.least(
                F.col("component"), F.coalesce(F.col("_gp"), F.col("component"))
            )
            jumped = doubled.join(parent, "component", "left")
            if _j == pointer_jumps - 1:
                jump_obs = Observation()
                doubled = mat(
                    jumped.select(
                        "node",
                        jump_lab.alias("component"),
                        (jump_lab != F.col("component")).cast("long").alias("_chg"),
                    )
                    .observe(jump_obs, F.sum("_chg").alias("chg"))
                    .drop("_chg")
                )
                last_jump_chg = int(jump_obs.get["chg"] or 0)
            else:
                doubled = mat(
                    jumped.select("node", jump_lab.alias("component"))
                )
        # (3) contraction: relabel edge endpoints, drop now-internal edges
        la = doubled.select(
            F.col("node").alias("a"), F.col("component").alias("_ca")
        )
        lb = doubled.select(
            F.col("node").alias("b"), F.col("component").alias("_cb")
        )
        first_retired = step[0] - pointer_jumps - 1  # pre-round sym + labels
        sym = mat(
            sym.join(la, "a")
            .join(lb, "b")
            .filter(F.col("_ca") != F.col("_cb"))
            .select(F.col("_ca").alias("a"), F.col("_cb").alias("b"))
            .distinct()
        )
        labels = doubled
        converged = sym.isEmpty()
        # snapshots from before this round are no longer read by any live
        # frame (labels/sym now read this round's files only)
        for s in range(1, first_retired + 1):
            fs_delete(spark, f"{root}/cc-{run}-{s:04d}")

    if not converged and strict:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds"
        )
    # Final path compression to a FIXPOINT. An empty contracted edge set
    # proves every ACTIVE label is its component min, but nodes retired from
    # the contracted graph in earlier rounds keep stale intermediate labels
    # (their label's own label kept decreasing after they retired); the
    # bounded per-round jumps are not guaranteed to have caught up (a
    # 5000-node chain outruns jumps=3). Label chains are strictly decreasing
    # and terminate at component mins once ``sym`` is empty, and each jump
    # halves the remaining chain depth, so this loop is O(log depth) rounds.
    # The changed-count observation rides the snapshot write: zero extra
    # passes per jump. If the main loop's final jump already observed zero
    # changes, that IS the fixpoint proof — skip the loop (common case:
    # shallow components compress well before contraction empties).
    while last_jump_chg != 0:
        parent = labels.select(
            F.col("node").alias("component"), F.col("component").alias("_gp")
        )
        new_lab = F.least(
            F.col("component"), F.coalesce(F.col("_gp"), F.col("component"))
        )
        obs = Observation()
        jumped = (
            labels.join(parent, "component", "left")
            .select(
                "node",
                new_lab.alias("component"),
                (new_lab != F.col("component")).cast("long").alias("_chg"),
            )
            .observe(obs, F.sum("_chg").alias("chg"))
        )
        prev_step = step[0]
        labels = mat(jumped.drop("_chg"))
        fs_delete(spark, f"{root}/cc-{run}-{prev_step:04d}")
        if int(obs.get["chg"] or 0) == 0:
            break
    return labels


def canonical_mapping(
    same_as: DataFrame, left: str = "entity_id", right: str = "dup_id"
) -> DataFrame:
    """same_as pairs → (entity_id, canonical_id), where canonical_id is the
    min id of the entity's equivalence class. Covers every id of every pair
    whose two sides are non-null; ids not in the mapping are their own
    canonical (callers coalesce).

    Driver-side union-find: the non-null pairs are collected in ONE Spark
    job and unioned with min-root union-find and path compression. Python
    ``str`` order is code-point order, which is Spark's UTF-8 binary string
    order, and Python ints compare as Spark longs, so the min matches
    ``F.min`` over the same column. The result is a local DataFrame typed
    as same_as's id column (the type a union of ``left`` and ``right``
    coerces to).

    Size contract: the pairs and the mapping live on the driver. Both
    callers (``TranscriptPipeline.canonical_triples`` and
    ``streaming.transcripts.compact_canonicalize``) broadcast the mapping,
    so it already had to fit there; for a graph that does not, use
    ``connected_components``.
    """
    id_type = (
        same_as.select(F.col(left).alias("id"))
        .unionByName(same_as.select(F.col(right).alias("id")))
        .schema[0]
        .dataType
    )
    pairs = (
        same_as.select(F.col(left).cast(id_type), F.col(right).cast(id_type))
        .dropna()
        .collect()
    )
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    schema = T.StructType(
        [T.StructField("entity_id", id_type), T.StructField("canonical_id", id_type)]
    )
    return same_as.sparkSession.createDataFrame(
        [(x, find(x)) for x in parent], schema
    )
