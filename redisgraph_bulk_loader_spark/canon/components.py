"""Canonicalization by iterative connected components.

Implements the alternating large-star / small-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14) over an edge DataFrame — the standard shuffle-efficient CC for
web-scale graphs: each round is a groupBy-min plus a join, edge count
is non-increasing, and convergence is O(log^2 n) rounds.

Scale notes:
- every round ends in ``localCheckpoint`` to truncate lineage (without
  it the plan doubles per iteration and the driver OOMs on planning)
- convergence is detected with a one-action (count, xor-of-hashes)
  fingerprint of the edge set — no exceptAll anti-join per round
- long node ids run the loop directly; any other orderable id type is
  mapped to injective longs first and mapped back by a groupBy-min
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType


def injective_node_ids(
    vocab: DataFrame, col: str, id_col: str = "node"
) -> DataFrame:
    """(col) -> (col, id_col: long) collision-free node-id mapping for
    CC callers whose natural ids are strings.

    Longs come from ``monotonically_increasing_id`` (partition index
    << 33 + in-partition offset — injective by construction, no
    birthday bound), pinned by an eager ``localCheckpoint`` so the
    mapping cannot shift across plan re-evaluation or task retry.
    Collision-freedom matters: bare ``xxhash64(string)`` reaches ~50%
    probability of at least one collision at ~5e9 distinct ids —
    inside the 100 TB envelope — and one collision welds two
    components. The longs are internal to CC (8 bytes/node through
    every shuffle round); callers pick representatives from their own
    natural ids, so the arbitrary numbering never surfaces."""
    return (
        vocab.select(col)
        .distinct()
        .withColumn(id_col, F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )


def _symmetrize(e: DataFrame) -> DataFrame:
    return (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    sym = _symmetrize(e)
    mins = sym.groupBy("u").agg(F.min("v").alias("minv"))
    mins = mins.select("u", F.least("minv", "u").alias("m"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    oriented = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("minv"))
    out1 = (
        oriented.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("minv").alias("v"))
    )
    out2 = mins.select("u", F.col("minv").alias("v"))
    return out1.union(out2).filter(F.col("u") != F.col("v")).distinct()


def _fingerprint(e: DataFrame):
    row = e.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def _driver_union_find(pairs) -> list:
    """Union-find with union-by-min: the root of a component is always
    its minimum node id. Returns [(node, component)]."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for u, v in pairs:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    return [(n, find(n)) for n in parent]


#: below this many distinct edges the distributed star loop is pure
#: overhead (each round is several shuffle jobs); a driver union-find
#: answers in milliseconds. Alias vocabularies sit far under this.
#: Read at call time, so tests can force the distributed path by
#: patching it to 0.
DRIVER_CC_THRESHOLD = 100_000


def connected_components(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    *,
    max_iter: int = 30,
    driver_threshold: Optional[int] = None,
) -> DataFrame:
    """edges(src, dst) -> (node, component) where component is the
    minimum node id in the component. Ids keep their native type
    (long, string, ... — anything Spark and Python order alike); null
    ids and self-loops are dropped. Covers every node that appears in
    at least one edge; isolated nodes are the caller's coalesce.

    Size-gated on the distinct edge count: at or below
    ``driver_threshold`` (default: ``DRIVER_CC_THRESHOLD``) the edges
    are collected and a driver-side union-find assigns components, so
    the driver holds at most ``DRIVER_CC_THRESHOLD`` edges (dim-scale
    sameAs graphs and dedup pair sets — the common case). Above it the
    O(log^2 n) distributed star loop runs: long ids directly, any
    other type through collision-free injective longs, with each
    component's minimum native id taken afterwards. Pass
    ``driver_threshold=0`` to force the distributed path."""
    if driver_threshold is None:
        driver_threshold = DRIVER_CC_THRESHOLD
    spark = edges.sparkSession
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    id_type = e.schema["u"].dataType
    schema = StructType([StructField("node", id_type),
                         StructField("component", id_type)])
    n_edges = e.count()
    if n_edges == 0:
        return spark.createDataFrame([], schema)
    if n_edges <= driver_threshold:
        assignments = _driver_union_find(
            (r["u"], r["v"]) for r in e.collect()
        )
        # Arrow path (pandas), not a pickled list: a pickled-list
        # createDataFrame needs python workers on EVERY downstream
        # materialization (measured fork storms mid-pipeline); Arrow
        # batches decode JVM-side.
        import pandas as pd

        pdf = pd.DataFrame(assignments, columns=["node", "component"])
        return spark.createDataFrame(pdf, schema=schema)
    if isinstance(id_type, LongType):
        return _star_components(e, max_iter)
    node_map = injective_node_ids(
        e.select(F.col("u").alias("_id"))
        .union(e.select(F.col("v").alias("_id"))),
        "_id",
    )
    cc = _star_components(
        e.join(node_map.select(F.col("_id").alias("u"),
                               F.col("node").alias("_u")), "u")
        .join(node_map.select(F.col("_id").alias("v"),
                              F.col("node").alias("_v")), "v")
        .select(F.col("_u").alias("u"), F.col("_v").alias("v")),
        max_iter,
    )
    with_comp = node_map.join(cc, "node")
    reps = with_comp.groupBy("component").agg(F.min("_id").alias("_rep"))
    return with_comp.join(reps, "component").select(
        F.col("_id").alias("node"), F.col("_rep").alias("component"))


def _star_components(e: DataFrame, max_iter: int) -> DataFrame:
    """The distributed large-star/small-star loop over deduplicated
    long edges (u, v) -> (node, component = min node id)."""
    prev = None
    for _ in range(max_iter):
        # lazy checkpoint: the fingerprint action below both materializes
        # the round's result and measures convergence — one job per
        # round instead of two (eager-checkpoint + fingerprint)
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        fp = _fingerprint(e)
        if fp == prev:
            break
        prev = fp
    # Converged star graphs: every edge is (node, root); roots appear
    # only on the v side.
    nodes = _symmetrize(e).select("u").distinct()
    assign = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = nodes.join(
        assign.select(F.col("node").alias("u")), "u", "left_anti"
    ).select(F.col("u").alias("node"), F.col("u").alias("component"))
    return assign.union(roots).dropDuplicates(["node"])
