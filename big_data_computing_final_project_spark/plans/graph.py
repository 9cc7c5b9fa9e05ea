"""Graph analytics over the trade graph the star schema implies.

q174: PageRank — who are the structurally central suppliers/customers in
      the who-supplies-whom graph. Fixed 5 Jacobi iterations, damping 0.85.
q175: triangle census + global clustering coefficient on the co-purchase
      graph (parts that share an order), via the degree-oriented join that
      bounds the quadratic wedge work by the SMALLER endpoint's degree —
      the standard trick that makes distributed triangle counting feasible.

The dedup family already covers the other canonical iterative-graph shape
(q68 connected components); these add the centrality and the motif shapes.

Determinism (how an iterative double algorithm gets an exact oracle):
PageRank here is FIXED-POINT INTEGER arithmetic — ranks live in units of
1e-12 (UNIT = 10^12), every division is explicit integer division, every
per-node inflow is an int64 sum (order-free, unlike a sum of doubles over
hundreds of in-neighbors, which hash-mismatches in the last ulp). Floor
losses make total mass decay by < N*(iterations+1) units — ranking-
irrelevant (relative error ~1e-9) and IDENTICAL in both engines, which is
the property the oracle gate needs. The double `rank` column is one cast +
one division at the very end.

Scale: edges and degrees are built once and cached (each Jacobi step is a
join edges->ranks + one hash aggregate — the classic Pregel superstep as
plain DataFrame ops; at 100 TB you checkpoint ranks every few steps to cut
lineage, exactly where localCheckpoint slots in). Triangle counting's wedge
join is quadratic only in oriented out-degree, which degree-ordering caps
near sqrt(|E|); the heaviest co-purchase hubs therefore bound, not explode,
the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register

_UNIT = 1_000_000_000_000  # rank fixed-point: 1.0 == 10^12 units
_ITERS = 5

# ---------------------------------------------------------------------------
# q174 — PageRank on the symmetric supplier<->customer graph (an edge each
# way per distinct trading pair, so every node has out-degree >= 1 and the
# chain is irreducible enough for 5 iterations to separate hubs). Update:
#   r'(v) = (0.15*UNIT)//100//N  +  (85 * sum_{u->v} (r(u) // outdeg(u))) // 100
# — all int64. The oracle unrolls the same five steps as CTEs r1..r5.
# ---------------------------------------------------------------------------

_SQL_EDGES = """
  SELECT 'S:' || CAST(l_suppkey AS VARCHAR) AS src,
         'C:' || CAST(o_custkey AS VARCHAR) AS dst
  FROM (SELECT DISTINCT l_suppkey, o_custkey
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
  UNION ALL
  SELECT 'C:' || CAST(o_custkey AS VARCHAR) AS src,
         'S:' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM (SELECT DISTINCT l_suppkey, o_custkey
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
"""


def _q174_oracle() -> str:
    steps = []
    prev = "r0"
    for i in range(1, _ITERS + 1):
        steps.append(
            f"""r{i} AS (
  SELECT e.dst AS node,
         (SELECT base FROM consts)
           + (85 * SUM(p.r // d.outdeg)) // 100 AS r
  FROM edges e
  JOIN {prev} p ON p.node = e.src
  JOIN deg d ON d.node = e.src
  GROUP BY e.dst
)"""
        )
        prev = f"r{i}"
    return f"""
WITH edges AS ({_SQL_EDGES}),
deg AS (SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY src),
consts AS (
  SELECT ({_UNIT} // COUNT(*)) AS r0,
         ((15 * {_UNIT}) // 100) // COUNT(*) AS base
  FROM deg
),
r0 AS (SELECT node, (SELECT r0 FROM consts) AS r FROM deg),
{",".join(steps)}
SELECT node,
       CAST(r AS BIGINT) AS rank_units,
       CAST(r AS DOUBLE) / {_UNIT} AS rank
FROM {prev}
ORDER BY node
"""


@register("q174_pagerank", oracle=_q174_oracle())
def q174_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Internal node ids are BIGINTs (suppkey*2 / custkey*2+1): every
    # superstep joins and shuffles on an 8-byte key instead of a string —
    # the labels the oracle compares against are rebuilt once at the end.
    # Out-degrees are pre-attached to the edge list (one cached frame), so
    # each superstep is exactly one join + one hash aggregate — the Pregel
    # gather step with nothing extra on the wire.
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("l_suppkey") * 2).alias("s"),
            (F.col("o_custkey") * 2 + 1).alias("c"),
        )
        .distinct()
        # not cached, though 4 lineage consumers inside the edges_deg
        # build read it: a nested cache makes the warm path SLOWER (6.8 s
        # vs 4.3 s per warm run at sf0.1, measured in one session),
        # outweighing the one-time build saving;
        # the 4x build cost is paid once per session when edges_deg
        # materializes and never again.
    )
    edges = pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")).unionAll(
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    edges_deg = (
        edges.join(deg, edges["src"] == deg["node"])
        .select("src", "dst", "outdeg")
        .cache()  # reused by all 5 supersteps
        # not pre-hashed/sorted by src (which would make every superstep's
        # join exchange-free on the big side): the sorted layout makes
        # Catalyst pick a static sort-merge join, which loses to AQE's
        # runtime broadcast of the
        # tiny rank frame (12-16 s vs 4.3 s warm at sf0.1). AQE's
        # per-superstep choice (broadcast when ranks are small, SMJ at
        # scale) is the right adaptive shape (guide §3.1).
    )
    consts = deg.agg(
        F.expr(f"{_UNIT} div count(*)").alias("r0"),
        F.expr(f"(15 * {_UNIT}) div 100 div count(*)").alias("base"),
    )
    ranks = deg.crossJoin(F.broadcast(consts)).select("node", F.col("r0").alias("r"))
    for _ in range(_ITERS):
        ranks = (
            edges_deg.join(ranks, edges_deg["src"] == ranks["node"])
            .select("dst", F.expr("r div outdeg").alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").alias("inflow"))
            .crossJoin(F.broadcast(consts))
            .select(
                F.col("dst").alias("node"),
                (F.col("base") + F.expr("(85 * inflow) div 100")).alias("r"),
            )
        )
    label = F.concat(
        F.when(F.col("node") % 2 == 0, F.lit("S:")).otherwise(F.lit("C:")),
        F.expr("node div 2").cast("string"),
    )
    return ranks.select(
        label.alias("node"),
        F.col("r").cast("bigint").alias("rank_units"),
        (F.col("r").cast("double") / F.lit(float(_UNIT))).alias("rank"),
    ).orderBy("node")


# ---------------------------------------------------------------------------
# q175 — triangle census on the co-purchase graph. Undirected edges join
# parts sharing at least one order (built with the p1 < p2 self-join, so
# each pair exists once). Counting orients every edge from the endpoint
# with the (degree, id)-SMALLER key to the larger — each triangle then has
# exactly one node with two out-edges, and the count is |E_or ⋈ E_or ⋈ E_or|
# with the closing edge probed in oriented form. Clustering coefficient =
# 3*triangles / wedges, wedges = sum_v C(deg v, 2) — both exact int64 before
# the one division.
# ---------------------------------------------------------------------------

_Q175_ORACLE = """
WITH pe AS (
  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), deg AS (
  SELECT p, COUNT(*) AS d FROM (
    SELECT p1 AS p FROM pe UNION ALL SELECT p2 AS p FROM pe
  ) GROUP BY p
), oriented AS (
  -- dv (the head's degree) rides along so the wedge join below can rank the
  -- two out-neighbors in the SAME (degree, id) total order the orientation
  -- uses — rank them by raw id instead and every triangle whose closing
  -- edge points the other way is silently missed
  SELECT CASE WHEN (d1.d, pe.p1) < (d2.d, pe.p2) THEN pe.p1 ELSE pe.p2 END AS u,
         CASE WHEN (d1.d, pe.p1) < (d2.d, pe.p2) THEN pe.p2 ELSE pe.p1 END AS v,
         CASE WHEN (d1.d, pe.p1) < (d2.d, pe.p2) THEN d2.d ELSE d1.d END AS dv
  FROM pe JOIN deg d1 ON d1.p = pe.p1 JOIN deg d2 ON d2.p = pe.p2
), tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM oriented e1
  JOIN oriented e2 ON e2.u = e1.u AND (e2.dv, e2.v) > (e1.dv, e1.v)
  JOIN oriented e3 ON e3.u = e1.v AND e3.v = e2.v
), wed AS (
  SELECT SUM(d * (d - 1) // 2) AS wedges, COUNT(*) AS n_nodes FROM deg
)
SELECT CAST(wed.n_nodes AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM pe) AS BIGINT) AS n_edges,
       CAST(tri.n_triangles AS BIGINT) AS n_triangles,
       CAST(wed.wedges AS BIGINT) AS wedges,
       3.0 * tri.n_triangles / wed.wedges AS clustering_coeff
FROM tri, wed
"""


@register("q175_triangle_census", oracle=_Q175_ORACLE)
def q175_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    a = li.select("l_orderkey", F.col("l_partkey").alias("p1"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("p2"))
    pe = (
        a.join(b, ["l_orderkey"])
        .filter(F.col("p1") < F.col("p2"))
        .select("p1", "p2")
        .distinct()
        .cache()  # reused: degrees, orientation, the edge count
    )
    deg = (
        pe.select(F.col("p1").alias("p"))
        .unionAll(pe.select(F.col("p2").alias("p")))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    d1 = deg.select(F.col("p").alias("p1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("p").alias("p2"), F.col("d").alias("d2"))
    lt = (F.col("d1") < F.col("d2")) | (
        (F.col("d1") == F.col("d2")) & (F.col("p1") < F.col("p2"))
    )
    oriented = (
        pe.join(d1, "p1")
        .join(d2, "p2")
        .select(
            F.when(lt, F.col("p1")).otherwise(F.col("p2")).alias("u"),
            F.when(lt, F.col("p2")).otherwise(F.col("p1")).alias("v"),
            # head's degree: the wedge join must rank out-neighbors in the
            # same (degree, id) order the orientation uses (see oracle note)
            F.when(lt, F.col("d2")).otherwise(F.col("d1")).alias("dv"),
        )
        .cache()  # probed three times by the triangle join
    )
    e1 = oriented.select(
        F.col("u").alias("u1"), F.col("v").alias("v1"), F.col("dv").alias("dv1")
    )
    e2 = oriented.select(
        F.col("u").alias("u2"), F.col("v").alias("v2"), F.col("dv").alias("dv2")
    )
    e3 = oriented.select(F.col("u").alias("u3"), F.col("v").alias("v3"))
    after = (F.col("dv2") > F.col("dv1")) | (
        (F.col("dv2") == F.col("dv1")) & (F.col("v2") > F.col("v1"))
    )
    tri = (
        e1.join(e2, (F.col("u2") == F.col("u1")) & after)
        .join(e3, (F.col("u3") == F.col("v1")) & (F.col("v3") == F.col("v2")))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    wed = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).alias("wedges"),
        F.count(F.lit(1)).alias("n_nodes"),
    )
    n_edges = pe.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        wed.crossJoin(tri)
        .crossJoin(n_edges)
        .select(
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.col("n_edges").cast("bigint").alias("n_edges"),
            F.col("n_triangles").cast("bigint").alias("n_triangles"),
            F.col("wedges").cast("bigint").alias("wedges"),
            (F.lit(3.0) * F.col("n_triangles") / F.col("wedges")).alias(
                "clustering_coeff"
            ),
        )
    )
