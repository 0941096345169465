"""Graph analytics over edge lists — the plan-shape rules of the
connected-components family (functions/dedup.py) applied to ranking:
bounded fixed-point iterations, no per-iteration driver round-trips,
every iterate exactly reproducible by a SQL oracle.  Small edge lists
skip the iterations' jobs altogether: :func:`checkpoint_edges` is the
shared step that finishes them in one Arrow task.

PageRank here is ALL-INTEGER: rank mass is carried in integer units of
1e-12 of the total, contributions use integer division, and damping is
``(85 * x) div 100`` — there is not a single IEEE-754 operation in the
loop, so engine results are bit-identical regardless of summation
order.  The quantization error this introduces (< N units of mass lost
to floors per iteration, i.e. < N * 1e-12 of the total) is far below
any ranking-relevant difference.

Reference scope note: the reference engine (pincette-json-streams) has
no graph operators; this module is part of the training-data-pipeline
extension family (web-graph quality signals, link-spam scoring) that
the task brief adds on top of reference parity.
"""

from __future__ import annotations

from functools import reduce
from operator import or_
from typing import Callable, Iterator

from pyspark.sql import Column, DataFrame, Observation, functions as F
from pyspark.sql.types import StructType

# Edge lists of at most this many rows finish in ONE Arrow task (F1
# Query's centralized execution mode, VLDB'18): ~4M int64 pairs plus
# the kernel's index arrays is ~200 MB of numpy in one Python worker.
# Above it the distributed loops run.
SMALL_GRAPH_ROWS = 4_000_000


def checkpoint_edges(
    edges: DataFrame,
    kernel: Callable[[Iterator], Iterator] | None,
    schema: StructType | str,
    **observed: Column,
) -> tuple[DataFrame, dict, DataFrame | None]:
    """The one fast-path-plus-fallback step of the iterative graph
    functions.

    Checkpoints ``edges`` once, eagerly.  An ``observe()`` on that one
    job counts its rows and its rows with a null column, and evaluates
    the named ``observed`` aggregates.  Returns ``(checkpoint, stats,
    local)``.  ``local`` is ``checkpoint.coalesce(1).mapInArrow(kernel,
    schema)`` when a kernel is given and the edge list is null-free
    and at most :data:`SMALL_GRAPH_ROWS` rows: the whole graph is
    solved in one executor task, with no per-round jobs and no result
    rows through the driver (a lazy checkpoint of that task's output
    serves every later reference).  Otherwise ``local`` is None and the
    caller runs its distributed loop from ``checkpoint``."""
    obs = Observation()
    has_null = reduce(or_, [F.col(c).isNull() for c in edges.columns])
    ckpt = edges.observe(
        obs, F.count(F.lit(1)).alias("rows"),
        F.count_if(has_null).alias("nulls"),
        *[agg.alias(name) for name, agg in observed.items()],
    ).localCheckpoint(eager=True)
    stats = obs.get
    small = (kernel is not None and not stats["nulls"]
             and stats["rows"] <= SMALL_GRAPH_ROWS)
    local = (ckpt.coalesce(1).mapInArrow(kernel, schema)
             .localCheckpoint(eager=False) if small else None)
    return ckpt, stats, local


def edge_arrays(batches: Iterator, *names: str) -> list:
    """The named columns of a kernel's whole Arrow input as numpy
    arrays (empty list when the input has no rows)."""
    import pyarrow as pa

    batches = [b for b in batches if b.num_rows]
    if not batches:
        return []
    table = pa.Table.from_batches(batches)
    return [table.column(n).to_numpy() for n in names]


def _pagerank_kernel(iters: int, total: int, damping_pct: int):
    """:func:`pagerank`'s recurrence in numpy over int64, for one task
    holding the whole edge list: node ids become ``np.unique`` indices,
    contributions accumulate with ``np.add.at``, and every division is
    the same floor division as the distributed loop's ``div``."""

    def kernel(batches: Iterator) -> Iterator:
        import numpy as np
        import pyarrow as pa

        cols = edge_arrays(batches, "src", "dst")
        if not cols:
            return
        src, dst = cols
        nodes, idx = np.unique(np.concatenate([src, dst]),
                               return_inverse=True)
        n = len(nodes)
        s, d = idx[:len(src)], idx[len(src):]
        deg = np.bincount(s, minlength=n)
        dangling, out_deg = deg == 0, deg[s]
        base = ((100 - damping_pct) * total) // (100 * n)
        rank = np.full(n, total // n, dtype=np.int64)
        for _ in range(iters):
            share = int(rank[dangling].sum()) // n
            inm = np.zeros(n, dtype=np.int64)
            np.add.at(inm, d, rank[s] // out_deg)
            rank = base + (damping_pct * (inm + share)) // 100
        yield pa.RecordBatch.from_arrays(
            [pa.array(nodes, pa.int64()), pa.array(rank, pa.int64())],
            names=["node", "rank"])

    return kernel


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    total: int = 10 ** 12,
    damping_pct: int = 85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a (possibly multi-)edge list.

    Semantics per iteration (all integer arithmetic)::

        share   = (sum of rank over dangling nodes) div N
        in(v)   = sum over edges u->v of (rank(u) div outdeg(u))
        rank'(v)= ((100-d) * total) div (100 * N)
                  + (d * (in(v) + share)) div 100

    with ``d = damping_pct``.  Multi-edges count once per occurrence in
    both the out-degree and the contribution sum (multigraph
    convention).

    Scale shape: ONE eager job checkpoints the cast edge list and, in
    the same pass, observes its row count and minimum id (the
    negative-id check below runs at call time, not at first action).
    An edge list of at most ``SMALL_GRAPH_ROWS`` rows then finishes in
    one Arrow task over that checkpoint (:func:`checkpoint_edges`):
    the whole recurrence runs in numpy int64 inside the task, with the
    same floor divisions, so the ranks are identical to the
    distributed loop's and no rank row reaches the driver.  That is one
    job at call time plus one task at the caller's action, against
    ~35 jobs for the loop on a small graph.

    Above the threshold the distributed loop runs from the same
    checkpoint: one more job counts the vertices (N), then each
    iteration is one shuffle (groupBy dst) plus a broadcast-sized 1-row
    join for the dangling mass.  The dangling sum rides a lazy 1-row
    filter of the SAME per-iteration aggregate, NOT a per-iteration
    collect.  The loop unrolls into a single DAG; ``iters`` is small
    and fixed, which is also what makes the SQL-oracle replay
    possible.

    The dangling mass is folded INTO the contribution aggregate via a
    static sentinel out-edge (dangling node -> node -1 with out-degree
    1, so the sentinel bucket collects the full dangling rank): the
    rank state is referenced exactly once per iteration and both
    consumers (per-node in-mass, dangling scalar) are filters over one
    aggregate, which exchange reuse dedupes.  Node ids must therefore
    be non-negative (the usual id contract here, enforced on both
    paths).

    Returns (node, rank) with rank in integer units of total.
    """
    e = edges.select(F.col(src).cast("long").alias("src"),
                     F.col(dst).cast("long").alias("dst"))
    # numpy int64 wraps where Spark's ANSI long arithmetic raises: the
    # kernel takes only totals whose largest product, d * (in + share)
    # <= 100 * total, fits
    kernel = (_pagerank_kernel(iters, total, damping_pct)
              if 100 * total < 2 ** 63 else None)
    e, stats, local = checkpoint_edges(
        e, kernel, "node long, rank long",
        min_id=F.least(F.min("src"), F.min("dst")))
    if stats["rows"] == 0:
        return e.select(F.col("src").alias("node"),
                        F.lit(0).cast("long").alias("rank"))
    # the dangling-mass sentinel is node -1, so a real node -1 would
    # silently merge its in-mass with the dangling mass
    if stats["min_id"] is not None and stats["min_id"] < 0:
        raise ValueError(
            "pagerank requires non-negative node ids (the dangling-"
            f"mass sentinel is node -1; got min id {stats['min_id']}) "
            "— remap ids before ranking")
    if local is not None:
        return local
    # NOTE on materialization: .persist() here was tried and REVERTED
    # twice — an InMemoryRelation blocks AQE's broadcast-join
    # conversion for every downstream reference (measured 2x slower at
    # bench scale).  LAZY localCheckpoint (eager=False) cuts the
    # lineage so the multiply-referenced frames (the augmented edge
    # list, the per-iteration rank state) evaluate ONCE instead of
    # exponentially, while the explicit F.broadcast hints keep the
    # join strategy independent of AQE statistics.
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    base = ((100 - damping_pct) * total) // (100 * n)
    # static augmented edge list: real edges carry their src degree;
    # every dangling node gets ONE sentinel edge (deg 1) to node -1
    ea = e.join(deg, "src").unionByName(
        nodes.join(deg, nodes["node"] == deg["src"], "left_anti")
        .select(F.col("node").alias("src"),
                F.lit(-1).cast("long").alias("dst"),
                F.lit(1).cast("long").alias("__deg"))
    ).localCheckpoint(eager=False)
    r = nodes.withColumn("rank", F.lit(total // n).cast("long"))
    # n is already a known scalar: broadcast the rank state only when
    # the vertex set is genuinely broadcast-sized; at web scale (|V| in
    # the billions) the edge-rank join must stay a shuffle join on src
    small_v = n <= 4_000_000
    for _ in range(iters):
        rj = F.broadcast(r) if small_v else r
        agg = (
            ea.join(rj, ea["src"] == rj["node"])
            .select("dst", F.expr("rank div __deg").alias("__c"))
            .groupBy("dst")
            .agg(F.sum("__c").cast("long").alias("__in"))
        )
        dang = agg.filter(F.col("dst") == -1).select(
            F.coalesce(F.sum("__in"), F.lit(0)).cast("long")
            .alias("__dang"))
        contrib = agg.filter(F.col("dst") != -1) \
            .withColumnRenamed("dst", "node")
        # r carries every node, so the left join onto r (a checkpoint
        # leaf) replaces a per-iteration recompute of `nodes`
        r = (
            r.select("node").join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                (F.lit(base) + F.expr(
                    f"({damping_pct} * (coalesce(__in, 0)"
                    f" + (__dang div {n}))) div 100"
                )).cast("long").alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return r


def pagerank_oracle_sql(
    edges_sql: str,
    iters: int = 3,
    total: int = 10 ** 12,
    damping_pct: int = 85,
) -> str:
    """The DuckDB twin of :func:`pagerank`, unrolled: ``edges_sql``
    must select (src, dst).  Kept here next to the engine so the two
    sides of the integer-arithmetic contract evolve together."""
    d = damping_pct
    sql = f"""
WITH e AS ({edges_sql}),
nodes AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
nn AS (SELECT count(*) AS n FROM nodes),
deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
r0 AS (SELECT node, (SELECT {total} // n FROM nn) AS rank FROM nodes)"""
    for i in range(1, iters + 1):
        p = i - 1
        sql += f""",
dang{i} AS (
  SELECT coalesce(sum(r.rank), 0)::HUGEINT AS dang
  FROM r{p} r LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL
),
c{i} AS (
  SELECT e.dst AS node, sum(r.rank // deg.deg) AS inm
  FROM e JOIN r{p} r ON e.src = r.node JOIN deg ON e.src = deg.src
  GROUP BY 1
),
r{i} AS (
  SELECT nodes.node,
         (({100 - d} * {total}) // (100 * (SELECT n FROM nn))
          + ({d} * (coalesce(c{i}.inm, 0)
                    + (SELECT dang FROM dang{i}) // (SELECT n FROM nn)))
            // 100)::BIGINT AS rank
  FROM nodes LEFT JOIN c{i} ON nodes.node = c{i}.node
)"""
    return sql + f"\nSELECT node::BIGINT AS node, rank FROM r{iters}"


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Exact per-node triangle counts over an undirected simple graph
    — the building block of clustering coefficients and community
    signals in web-graph curation.

    Algorithm: the degree-ordered "forward" method (Schank & Wagner
    2005; also Suri & Vassilvitskii's MapReduce variant, WWW 2011).
    Every edge is oriented from its lower (degree, id) endpoint to the
    higher; wedges are then enumerated ONLY at each triangle's
    lowest-degree vertex, which bounds the wedge join by the graph's
    arboricity instead of max-degree² — the difference between a
    feasible and an exploding self-join on a power-law web graph.

    Plan shape: one distinct (canonicalize), one degree hash-agg, the
    oriented wedge self-join (equi-join on the center), and one
    equi-join against the oriented edge set to close each wedge; the
    per-node rollup is a union of three projections of the triangle
    set.  Everything is an equi-join — no cartesian anywhere — and
    all-integer, so a SQL oracle replays it exactly.

    Returns (node, triangles) for every node in at least one triangle.
    """
    und = _canonical_undirected(und_or_edges=edges)
    return _triangle_counts_from(und)


def _canonical_undirected(und_or_edges: DataFrame) -> DataFrame:
    """Canonicalize an edge list to the distinct undirected simple
    edge set (a < b, no self-loops), lineage-cut: the frame is
    consumed several times downstream (degree projections + the
    orient join), and when ``edges`` is itself a join derivation the
    lazy checkpoint runs that derivation once instead of per
    reference (the round-7 pagerank/PPJoin pattern)."""
    return (
        und_or_edges.select(F.least("src", "dst").alias("a"),
                            F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )


def _degree_counts(und: DataFrame) -> DataFrame:
    """(node, d) degree aggregate over a canonical undirected edge
    set."""
    return (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    )


def _triangle_counts_from(und: DataFrame,
                          deg: DataFrame | None = None) -> DataFrame:
    """Triangle counts over an already-canonicalized (and
    lineage-cut) undirected edge set — the shared kernel of
    :func:`triangle_counts` and :func:`clustering_coefficients`, so
    the canonicalization distinct (and the caller's raw edge
    derivation) runs once, not once per consumer (r12 optimization:
    clustering_coefficients previously re-derived the edge self-join
    + distinct a second time for its own degree aggregate).

    ``deg``: an optional precomputed (node, d) degree frame over
    ``und`` — callers that also consume degrees (the coefficient
    denominator) pass a lineage-cut one so the degree aggregate — a
    full pass over the edge set — runs once, not once per consumer."""
    # the oriented edge set is consumed four times (both wedge sides +
    # both closing orientations): lazy lineage cut runs the
    # orientation once
    if deg is None:
        deg = _degree_counts(und)
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    # orient low (deg, id) -> high (deg, id)
    o = (
        und.join(da, "a").join(db, "b")
        .select(
            F.when((F.col("da") < F.col("db"))
                   | ((F.col("da") == F.col("db"))
                      & (F.col("a") < F.col("b"))),
                   F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when((F.col("da") < F.col("db"))
                   | ((F.col("da") == F.col("db"))
                      & (F.col("a") < F.col("b"))),
                   F.col("b")).otherwise(F.col("a")).alias("v"),
        )
        .localCheckpoint(eager=False)
    )
    w1 = o.select(F.col("u"), F.col("v").alias("x"))
    w2 = o.select(F.col("u"), F.col("v").alias("y"))
    wedges = w1.join(w2, "u").filter(F.col("x") < F.col("y"))
    closing = o.select(F.col("u").alias("x"), F.col("v").alias("y")) \
        .unionAll(o.select(F.col("v").alias("x"), F.col("u").alias("y")))
    # a wedge (u; x, y) closes iff x-y is an edge; the closing set
    # carries both orientations (already distinct — `o` is a distinct
    # edge set and a != b) so the x<y wedge order always matches
    tri = wedges.join(closing, ["x", "y"]).select(
        F.col("u").alias("n1"), F.col("x").alias("n2"),
        F.col("y").alias("n3")).localCheckpoint(eager=False)
    # ^ the triangle set feeds three member projections; without the
    # cut each would re-run the wedge join
    members = (
        tri.select(F.col("n1").alias("node"))
        .unionAll(tri.select(F.col("n2").alias("node")))
        .unionAll(tri.select(F.col("n3").alias("node")))
    )
    return members.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("triangles"))


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient per node on the integer 1e-6 grid:
    c(v) = 2 * triangles(v) / (deg(v) * (deg(v) - 1)), reported as
    ``(2 * 1e6 * triangles) div (deg * (deg-1))`` — pure integer, so
    cross-engine exact.  Nodes with degree < 2 are excluded (the
    coefficient is undefined there)."""
    und = _canonical_undirected(und_or_edges=edges)
    # one degree pass, shared by the orientation join inside the
    # kernel AND the coefficient denominator below (r12: previously
    # aggregated twice — two full passes over the edge set; the r12
    # interleaved A/B won 14 of 20 gated rounds, median 2.80 vs
    # 3.22 s at sf0.1, identical 19,911-row output)
    shared_deg = _degree_counts(und).localCheckpoint(eager=False)
    deg = shared_deg.select(
        "node", F.col("d").cast("long").alias("deg"))
    tri = _triangle_counts_from(und, deg=shared_deg)
    return (
        deg.filter(F.col("deg") >= 2)
        .join(tri, "node", "left")
        .select(
            "node", "deg",
            F.coalesce("triangles", F.lit(0)).cast("long")
            .alias("triangles"),
        )
        .withColumn(
            "coeff_e6",
            F.expr("(2000000 * triangles) div (deg * (deg - 1))"))
    )
