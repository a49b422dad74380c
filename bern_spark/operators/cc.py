"""Transitive clustering: connected components over match edges.

The fixpoint generalization of the reference's one-hop gene-ID merge map
(``eid = goid2goid.get(eid, eid)``, normalize.py:89-95,591-592) — SURVEY
§2.3 J6. Cluster id = min member id (lexicographic, so stable and
deterministic). Two paths, chosen by a size gate measured at run time:

- **local** (canonical edge set <= ``LOCAL_MAX_EDGES`` rows): one bounded
  action, ``limit(LOCAL_MAX_EDGES + 1)``, both measures the edge count and
  fetches the edges; a union-find on the driver labels the nodes and the
  labels come back as a broadcast relation. The clustering graph is
  vocabulary-sized (distinct surfaces + oid anchors), so at the sizes the
  reference itself serves this is the only path taken. On the
  benchmark's graphs (95 and ~1k edges) it runs 2 Spark jobs, the
  canonical dedup's shuffle and the fetch, where the star rounds ran 35-36.
- **star** (larger graphs): the alternating large-star / small-star
  algorithm (Kiveris et al., "Connected Components in MapReduce and
  Beyond", SoCC'14) entirely in DataFrame ops:

  - large-star: for each node u, connect every *strictly larger* neighbor
    to u's minimum neighborhood node (incl. u);
  - small-star: connect every neighbor <= u (and u) to the minimum.

  Each round is a groupBy-shuffle on node id; convergence when the edge
  set stops changing. Each iteration's edge set goes through the caller's
  cut, so plans don't grow across iterations (SURVEY §7 hard part e).

Both paths read the same cut canonical edge set, so a graph over the
bound is deduplicated once, not once for the gate and again for the
rounds. The cut is the caller's stage-cut policy (``resolve_entities``
passes the one it chose at entry); this module never decides durability.
"""

from __future__ import annotations

import warnings

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Driver-side bound of the local path, in canonical edges (self-loops
# included). Pipeline node ids are ``s:<etype>:<surface>`` /
# ``oid:<etype>:<oid>`` strings of ~20-40 bytes. Measured on 200k edges of
# 36-38-byte ids (200k nodes): the union-find over the collected rows
# peaks at 93 MB of Python heap (tracemalloc) and the labels table is
# 14 MB; at the worst case of 400k distinct nodes both about double. That
# is small against the 8 GB driver heap ``get_spark`` sets and the 1 GB
# default ``spark.driver.maxResultSize``.
LOCAL_MAX_EDGES = 200_000


def lazy_cut(df: DataFrame) -> DataFrame:
    """The in-memory stage cut, shared by ``connected_components`` and
    ``resolve_entities``: a LAZY ``localCheckpoint``. It truncates the
    logical plan at once (analysis stays O(stage)), but its blocks are
    computed by the first downstream action instead of a separate eager
    job per cut. Lives only as long as the Spark application.

    No ``persist()`` before it: that would ALSO register the
    pre-checkpoint plan in the CacheManager, an entry the rebind orphans,
    leaking one full cache per cut for the session lifetime."""
    return df.localCheckpoint(eager=False)


def _canonical_undirected(edges: DataFrame, keep_loops: bool = False) -> DataFrame:
    """Distinct (src <= dst) edges; with ``keep_loops`` the self-loops stay
    as (n, n) rows, so the endpoints are exactly the node set. A null
    endpoint is ignored (``least``/``greatest`` skip nulls)."""
    e = edges.select(
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
    )
    e = e.where(F.col("src").isNotNull()) if keep_loops else e.where(F.col("src") != F.col("dst"))
    return e.dropDuplicates()


def _star_round(edges: DataFrame, large: bool) -> DataFrame:
    """One large-star (large=True) or small-star round.

    Input: canonical edge list (src <= dst; self-loops tolerated).
    Output: canonical undirected edge list (src < dst).

    Fully relational — no ``collect_set``: materializing a node's whole
    neighborhood as one array puts a high-degree node (a popular oid
    anchor linked to millions of surfaces) into a single task's memory.
    Instead the per-node minimum is a plain min() aggregate (partial
    map-side combine, no wide rows) joined back to the neighbor relation;
    AQE's skew-join splitting can then shard even a 10^8-degree node's
    neighbor rows across tasks.
    """
    # neighborhood view: for each node u, its neighbors (both directions)
    nbrs = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    # m(u) = min over {u} ∪ neighbors(u); min() aggregates scale to any
    # degree because partial aggregation collapses per-partition first
    mins = nbrs.groupBy("u").agg(F.min("v").alias("_mv"))
    m = mins.select("u", F.least(F.col("u"), F.col("_mv")).alias("m"))
    j = nbrs.join(m, "u")
    if large:
        # connect neighbors > u to m(u)
        out = j.where(F.col("v") > F.col("u")).select(
            F.col("v").alias("src"), F.col("m").alias("dst")
        )
    else:
        # connect neighbors <= u (and u itself) to m(u)
        out = j.where(F.col("v") <= F.col("u")).select(
            F.col("v").alias("src"), F.col("m").alias("dst")
        ).unionAll(m.select(F.col("u").alias("src"), F.col("m").alias("dst")))
    return _canonical_undirected(out)


def _local_labels(edges) -> pa.Table:
    """(node, cluster_id) of every endpoint of the (src, dst) rows
    ``edges`` by union-find on the driver. Each root is the minimum of its
    tree (the larger root is always attached under the smaller), so the
    root is the cluster id."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for s, d in edges:
        parent.setdefault(s, s)
        parent.setdefault(d, d)
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    return pa.table({"node": list(parent), "cluster_id": [find(n) for n in parent]})


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    cut=lazy_cut,
) -> DataFrame:
    """Return (node, cluster_id) with cluster_id = min node id in component.

    ``edges``: DataFrame with string columns (src, dst). Self-loops and
    duplicates tolerated; a node with only self-loops labels itself.

    **Size gate.** The canonical edge set (src <= dst, deduplicated,
    self-loops kept) goes through ``cut``, then one
    ``limit(LOCAL_MAX_EDGES + 1)`` fetch both measures and transfers it.
    If it fits, the components are solved on the driver by union-find and
    returned as a ``F.broadcast``-hinted local relation: downstream the
    labels join the corpus-sized mentions, and a relation measured to be
    small should not pay for partitioned execution. The bound is set by
    driver memory (see ``LOCAL_MAX_EDGES``), not by speed: on a 4-core
    box, ``local[4]``, a 199k-edge graph (800 components of 250 nodes)
    took 10.1 s and 7 jobs on the local path against 55.0 s and 129 jobs
    on the star path, both timed through a count of the labels.

    Over the bound, the star rounds run (``max_iter`` caps them; a
    non-converged run warns and may return partially merged labels). No
    hint is attached there: at that size AQE stays free to choose the join
    (the pipeline.py contract). Each iteration's edge set goes through
    ``cut`` too, and convergence is one aggregate over it.

    ``cut`` (DataFrame -> DataFrame) truncates lineage; it is called once
    for the canonical edge set and once per star-round iteration. The
    default is the in-memory :func:`lazy_cut`. ``resolve_entities`` passes
    its own cut, so with a lineage store these edge sets become the run's
    next positional stages under the run's fingerprint: a driver killed
    mid-fixpoint replays the iterations it finished from parquet instead
    of recomputing them.
    """
    spark = edges.sparkSession
    e = cut(_canonical_undirected(edges, keep_loops=True))
    # collect(), not toArrow(): a limited collect scans partitions
    # incrementally and stops at LOCAL_MAX_EDGES + 1 rows, where toArrow()
    # would shuffle up to that many rows out of EVERY partition of a large set
    head = e.limit(LOCAL_MAX_EDGES + 1).collect()
    if len(head) <= LOCAL_MAX_EDGES:
        t = e.schema["src"].dataType
        schema = T.StructType([T.StructField("node", t), T.StructField("cluster_id", t)])
        return F.broadcast(spark.createDataFrame(_local_labels(head), schema=schema))

    # NOT persisted: no action inside this function ever materializes the
    # node relation (it is consumed only by the caller's first action on
    # the returned labels), so a persist()+unpersist() pair fills nothing.
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .dropna()
        .dropDuplicates()
    )

    def _sig(df: DataFrame):
        # one aggregate job: (row count, order-insensitive xxhash sum) —
        # canonical edge sets are equal iff signatures are equal (hash
        # collision odds ~2^-64 per iteration; acceptable for a
        # convergence check that only ever stops a loop *early*)
        r = df.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (r["n"], r["h"])

    # the init set keeps self-loops and every round drops them, so a graph
    # with self-loops that is already a star converges one round later
    sig = _sig(e)
    converged = False
    for _ in range(max_iter):
        # the relational star round reads its input twice (min-aggregate
        # branch + join branch), so cache the large-star intermediate or
        # the small round would recompute it along both branches
        mid = _star_round(e, large=True).persist()
        # the cut reads `mid` (persisted) once; the aggregate materializes
        # a lazy cut's blocks and reads a durable one back
        e2 = cut(_star_round(mid, large=False))
        sig2 = _sig(e2)
        mid.unpersist()
        # e2 is now self-contained cut data: the earlier edge set is
        # unreachable from its (truncated) lineage
        e.unpersist()
        e = e2
        if sig2 == sig:
            converged = True
            break
        sig = sig2
    if not converged:
        # returning silently would yield partially merged clusters
        warnings.warn(
            f"connected_components exhausted max_iter={max_iter} before the "
            "edge-set signature converged; labels may be partially merged "
            "(raise max_iter)",
            RuntimeWarning,
            stacklevel=2,
        )

    # after convergence every edge is (root, member); root = min of component
    labels = e.select(F.col("dst").alias("node"), F.col("src").alias("cluster_id"))
    # nodes can appear as their own root or be isolated
    out = (
        nodes.join(labels, "node", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("node")))
    )
    # a root node itself may not appear as dst; coalesce covers it. But a
    # node appearing as dst under two roots cannot happen post-convergence;
    # guard with min() for determinism anyway.
    return out.groupBy("node").agg(F.min("cluster_id").alias("cluster_id"))
