"""Graph analytics over derived graphs — PageRank (SURVEY.md §2.12).

The reference's Hive surface has no iterative algorithms at all; the
repo already ships one (connected components, extensions/dedup.py
`q_dedup_groups`) because dedup needs it.  PageRank is the second
canonical fixed-point computation a data-curation stack runs (page/domain
importance scores feed crawl prioritization and quality weighting — the
Common Crawl pipeline shape), and it demonstrates the general pattern:
a driver-side bounded loop over ONE aggregated edge relation, each step a
join + groupBy that Catalyst plans like any other.

Determinism: PageRank is a float fixed point, and float sums across
partitions are order-nondeterministic, so ranks are carried as scaled
LONGS (1e12 grid) and every update is integer arithmetic only —
``contrib = pr*w // out_w``, ``pr' = 15*SCALE//(100*N) + 85*Σcontrib//100``
— bit-identical in any engine and any aggregation order, which lets the
DuckDB oracle replay the exact iterations as unrolled CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from data_warehouse_hive_spark.registry import query
from data_warehouse_hive_spark.session import conf_scope
from data_warehouse_hive_spark.tables import session_memo, t, table_path

PR_SCALE = 10**12
PR_ITERS = 3
DAMP_NUM, DAMP_DEN = 85, 100  # damping 0.85 as an integer ratio


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted event-type transition graph: edge u→v with weight =
    number of consecutive (u, v) event pairs within a user's timeline.
    This is the heavy, 100-TB-scalable stage: one window pass partitioned
    by user + one hash aggregation on a tiny (u, v) key domain."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
        # lineage-cut here, at the corpus/bounded boundary (r14, guide
        # §5): the relation is tiny (type-domain² rows) but its lineage
        # is the corpus-scale window pass, and every graph op consumes
        # it through SEVERAL actions (node count, weight rollups, one
        # checkpointed frontier per iteration — cross-action exchange
        # reuse never applies), each of which replayed that window.
        # Measured on q_graph_pagerank: 2.07 s → 1.4 s at sf0.1.
        .localCheckpoint(eager=False)
    )


def pagerank(edges: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """Integer-quantized PageRank on a weighted directed edge relation.

    The rank vector and edge list stay DataFrames throughout — on a
    web-scale graph both are partitioned by node id and each iteration is
    the standard join-on-src + groupBy-dst; here the aggregated graph is
    tiny so every join is a broadcast.  Dangling mass (nodes with no
    out-edges) is dropped, the common simplification; the oracle replays
    the same rule.  The loop is driver-side and bounded (iters is a
    constant, like q_dedup_groups' max-round guard).
    """
    # NOTE: the edge relation must arrive lineage-cut (guide §5) — every
    # consumer below (node count, out_w, each iteration's contrib) runs
    # as its own action, so an un-cut corpus-scale lineage would replay
    # once per use.  _edges() carries that localCheckpoint at the
    # corpus/bounded boundary; re-checkpointing here would materialize
    # the same tiny relation twice on executors (r15, r14 ADVICE).
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()  # bounded: the node-type domain, not the event count
    base = PR_SCALE * (100 - DAMP_NUM) // (100 * n)
    out_w = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
    ew = edges.join(out_w, "src")
    pr = nodes.withColumn("pr_q", F.lit(PR_SCALE // n).cast("long"))
    for _ in range(iters):
        contrib = (
            ew.join(broadcast(pr), F.col("src") == F.col("node"))
            .select(
                F.col("dst"),
                # `div` = exact long division; `/` would route through
                # double and lose bits above 2^53 (pr*w reaches 1e17)
                F.expr("(pr_q * w) div out_w").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        pr = (
            nodes.join(broadcast(contrib), F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                F.expr(
                    f"CAST({base} + ({DAMP_NUM} * coalesce(s, 0))"
                    f" div {DAMP_DEN} AS BIGINT)"
                ).alias("pr_q"),
            )
        )
        pr = pr.localCheckpoint(eager=False)  # truncate lineage per round
    return pr


def _o_pagerank() -> str:
    """DuckDB twin: identical integer algebra, iterations unrolled."""
    it = """
    it{k} AS (
      SELECT n.node,
             CAST((SELECT base FROM params)
                   + {dn} * COALESCE((
                       SELECT SUM((p.pr_q * e.w) // e.out_w)
                       FROM it{prev} p JOIN ew e ON e.src = p.node
                       WHERE e.dst = n.node), 0) // {dd} AS BIGINT) AS pr_q
      FROM nodes n
    )"""
    its = ",".join(
        it.format(k=k, prev=k - 1, dn=DAMP_NUM, dd=DAMP_DEN)
        for k in range(1, PR_ITERS + 1)
    )
    return f"""
    WITH ordered AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    edges AS (
      SELECT prev_type AS src, event_type AS dst, COUNT(*) AS w
      FROM ordered WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ),
    nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    params AS (
      SELECT COUNT(*) AS n,
             {PR_SCALE} * (100 - {DAMP_NUM}) // (100 * COUNT(*)) AS base,
             {PR_SCALE} // COUNT(*) AS init
      FROM nodes
    ),
    ew AS (
      SELECT e.src, e.dst, e.w, o.out_w
      FROM edges e JOIN (SELECT src, SUM(w) AS out_w FROM edges GROUP BY src) o
        ON o.src = e.src
    ),
    it0 AS (
      SELECT node, CAST((SELECT init FROM params) AS BIGINT) AS pr_q FROM nodes
    ),
    {its}
    SELECT node AS event_type, pr_q,
           CAST(pr_q AS DOUBLE) / {PR_SCALE} AS pagerank
    FROM it{PR_ITERS}
    """


@query("q_graph_pagerank", oracle=_o_pagerank())
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the event-type transition graph: 3 damped iterations
    (d=0.85) on the 1e12 integer grid — see module docstring for why the
    quantization makes an iterative float fixed point hash-comparable
    across engines."""
    pr = pagerank(_edges(spark, sf_dir), PR_ITERS)
    return pr.select(
        F.col("node").alias("event_type"),
        "pr_q",
        (F.col("pr_q").cast("double") / PR_SCALE).alias("pagerank"),
    )


def _o_candidate_edges() -> str:
    """DuckDB CTE chain for the LSH candidate graph (doc_a < doc_b)."""
    from data_warehouse_hive_spark.extensions.dedup import _o_minhash_pairs_cte

    return _o_minhash_pairs_cte()


@query(
    "q_graph_degree",
    oracle=f"""
    WITH {{pairs}},
    deg AS (
      SELECT doc, COUNT(*) AS degree FROM (
        SELECT doc_a AS doc FROM pairs
        UNION ALL
        SELECT doc_b FROM pairs
      ) GROUP BY doc
    )
    SELECT degree, COUNT(*) AS n_docs
    FROM deg GROUP BY degree ORDER BY degree
    """,
)
def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup candidate graph — the shape
    check a dedup run does before pair verification (a heavy-tailed
    degree histogram means a hot shingle is flooding the bucket join).

    Two small aggregations over the pair list; the expensive part (the
    LSH pipeline) is exactly the shared q_dedup_minhash plan.
    """
    from data_warehouse_hive_spark.extensions.dedup import candidate_pairs_cached

    pairs = candidate_pairs_cached(spark, sf_dir)
    nodes = pairs.select(F.col("doc_a").alias("doc")).unionAll(
        pairs.select(F.col("doc_b").alias("doc"))
    )
    return (
        nodes.groupBy("doc")
        .agg(F.count(F.lit(1)).alias("degree"))
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("degree")
    )


@query(
    "q_graph_triangles",
    oracle=f"""
    WITH {{pairs}},
    tri AS (
      SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
      FROM pairs e1
      JOIN pairs e2 ON e2.doc_a = e1.doc_b
      JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    )
    SELECT doc_id, COUNT(*) AS n_triangles FROM (
      SELECT a AS doc_id FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle counts over the candidate graph — triangles
    are the transitivity evidence that separates a genuine duplicate
    CLUSTER from chains of coincidental LSH collisions.

    Canonical a<b<c enumeration: every edge is stored once (doc_a <
    doc_b), so the two-path join (a,b)⋈(b,c) produces each candidate
    triangle once, and the closing-edge join keeps it only if (a,c) is
    an edge.  The pair list is localCheckpointed first — the three-way
    self-join would otherwise replay the whole shingle→signature lineage
    three times.  At scale this is the standard distributed triangle
    count (node-order directed edges bound the join fan-out by max
    degree, which LSH banding keeps small).
    """
    from data_warehouse_hive_spark.extensions.dedup import candidate_pairs_cached

    pairs = candidate_pairs_cached(spark, sf_dir)
    e1 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = pairs.select(F.col("doc_a").alias("b2"), F.col("doc_b").alias("c"))
    e3 = pairs.select(F.col("doc_a").alias("a3"), F.col("doc_b").alias("c3"))
    tri = (
        e1.join(e2, F.col("b2") == F.col("b"))
        .join(e3, (F.col("a3") == F.col("a")) & (F.col("c3") == F.col("c")), "left_semi")
        .select("a", "b", "c")
    )
    corners = (
        tri.select(F.col("a").alias("doc_id"))
        .unionAll(tri.select(F.col("b").alias("doc_id")))
        .unionAll(tri.select(F.col("c").alias("doc_id")))
    )
    return (
        corners.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy("doc_id")
    )


# Substitute the shared pair-CTE chain into the two oracles at import
# time (the decorator captured a {pairs} placeholder).
from data_warehouse_hive_spark.registry import REGISTRY as _REG  # noqa: E402

for _gq in ("q_graph_degree", "q_graph_triangles"):
    _spec = _REG[_gq]
    object.__setattr__(_spec, "oracle", _spec.oracle.format(pairs=_o_candidate_edges()))
del _REG, _spec, _gq


@query(
    "q_graph_jaccard",
    oracle=f"""
    WITH {{pairs}},
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    deg AS (SELECT u AS node, COUNT(*) AS d FROM edges GROUP BY u),
    common AS (
      SELECT e1.u AS a, e2.u AS b, COUNT(*) AS n_common
      FROM edges e1 JOIN edges e2
        ON e1.v = e2.v AND e1.u < e2.u
      GROUP BY e1.u, e2.u
    )
    SELECT c.a, c.b, c.n_common,
           round(CAST(c.n_common AS DOUBLE)
                 / CAST(da.d + db.d - c.n_common AS DOUBLE), 6)
             AS jaccard
    FROM common c
    JOIN deg da ON da.node = c.a
    JOIN deg db ON db.node = c.b
    ORDER BY c.a, c.b
    """,
)
def q_graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-overlap (Jaccard) node similarity over the candidate
    graph: J(u,v) = |N(u)∩N(v)| / |N(u)∪N(v)| — the link-prediction /
    entity-resolution primitive (two docs that collide with the same
    THIRD docs are likely the same cluster even if they never collided
    directly).

    The common-neighbor count is the standard two-hop self-join keyed on
    the shared neighbor — fan-out is bounded by max degree (which LSH
    banding keeps small), never all-pairs; degrees join back per node.
    Union size comes from inclusion-exclusion, so only ONE pair
    aggregation runs.  The edge list is checkpointed once.
    """
    from data_warehouse_hive_spark.extensions.dedup import candidate_pairs_cached

    pairs = candidate_pairs_cached(spark, sf_dir)
    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).unionAll(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    deg = edges.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("n1"))
    e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("n2"))
    common = (
        e1.join(e2, (F.col("n1") == F.col("n2")) & (F.col("a") < F.col("b")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    return (
        common.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            "a",
            "b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("da") + F.col("db") - F.col("n_common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .orderBy("a", "b")
    )


from data_warehouse_hive_spark.registry import REGISTRY as _REG3  # noqa: E402

_spec3 = _REG3["q_graph_jaccard"]
object.__setattr__(_spec3, "oracle", _spec3.oracle.format(pairs=_o_candidate_edges()))
del _REG3, _spec3


@query(
    "q_graph_bfs",
    oracle="""
    WITH RECURSIVE trans AS (
      SELECT DISTINCT src, dst FROM (
        SELECT event_type AS src,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS dst
        FROM events
      ) WHERE dst IS NOT NULL AND dst <> src
    ),
    r(node, d) AS (
      SELECT 'signup', 0
      UNION ALL
      SELECT t.dst, r.d + 1
      FROM r JOIN trans t ON t.src = r.node
      WHERE r.d < 5
    )
    SELECT node, CAST(MIN(d) AS BIGINT) AS hops
    FROM r GROUP BY node
    ORDER BY hops, node
    """,
)
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS shortest-hop distances from the 'signup' node over the
    OBSERVED event-type transition graph — reachability analysis ("how
    many steps from signup can users get anywhere") on the same graph
    PageRank ranks.  The oracle walks it with a recursive CTE; the
    Spark side runs bounded min-distance label propagation (the
    q_dedup_groups iteration pattern): 5 rounds of
    dist(dst) = min(dist(src)+1), localCheckpoint per round to truncate
    lineage.

    The only fact-scale work is the one window pass extracting distinct
    transitions; the iteration operates on the ≤|event types| node
    set."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        e.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Explicit literal seed, mirroring the recursive CTE's anchor row:
    # the oracle unconditionally emits ('signup', 0) even when 'signup'
    # has no observed transitions, so the node set must not be derived
    # solely from edges.
    seed = spark.createDataFrame([("signup",)], "node string")
    dist = (
        trans.select(F.col("src").alias("node"))
        .unionAll(trans.select(F.col("dst").alias("node")))
        .unionAll(seed)
        .distinct()
        .select(
            "node",
            F.when(F.col("node") == "signup", 0).alias("d"),
        )
    )
    for _ in range(5):
        step = (
            dist.join(trans, F.col("node") == F.col("src"))
            .filter(F.col("d").isNotNull())
            .select(F.col("dst").alias("node"), (F.col("d") + 1).alias("d"))
        )
        dist = (
            dist.unionAll(step)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
            .localCheckpoint(eager=False)
        )
    return (
        dist.filter(F.col("d").isNotNull())
        .select("node", F.col("d").cast("long").alias("hops"))
        .orderBy("hops", "node")
    )


@query(
    "q_graph_clustering",
    oracle=f"""
    WITH {{pairs}},
    tri AS (
      SELECT COUNT(*) AS n_tri
      FROM pairs e1
      JOIN pairs e2 ON e2.doc_a = e1.doc_b
      JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    deg AS (
      SELECT doc, COUNT(*) AS d FROM (
        SELECT doc_a AS doc FROM pairs
        UNION ALL SELECT doc_b FROM pairs
      ) GROUP BY doc
    ),
    wedges AS (
      SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges,
             COUNT(*) AS n_nodes
      FROM deg
    )
    SELECT w.n_nodes,
           CAST(t.n_tri AS BIGINT) AS n_triangles,
           w.n_wedges,
           round(CASE WHEN w.n_wedges = 0 THEN 0.0
                      ELSE 3.0 * CAST(t.n_tri AS DOUBLE)
                           / CAST(w.n_wedges AS DOUBLE) END, 6)
             AS global_clustering
    FROM tri t CROSS JOIN wedges w
    """,
)
def q_graph_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient of the near-dup candidate graph:
    3·triangles / wedges — the transitivity number that distinguishes a
    clique-y duplicate structure (template families, mirror sites, high
    coefficient) from chain-like accidental collisions (low), which
    changes whether connected components will explode when you union
    candidates.

    Triangles reuse the ordered-pair join shape of q_graph_triangles;
    wedges are Σ d(d−1)/2 over the degree table — two integer
    aggregates, one 1-row result.  Exact integers everywhere except the
    final pinned ratio."""
    from data_warehouse_hive_spark.extensions.dedup import candidate_pairs_cached

    pairs = candidate_pairs_cached(spark, sf_dir)
    e1 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = pairs.select(F.col("doc_a").alias("b2"), F.col("doc_b").alias("c"))
    e3 = pairs.select(F.col("doc_a").alias("a3"), F.col("doc_b").alias("c3"))
    tri = (
        e1.join(e2, F.col("b2") == F.col("b"))
        .join(e3, (F.col("a3") == F.col("a")) & (F.col("c3") == F.col("c")))
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    deg = (
        pairs.select(F.col("doc_a").alias("doc"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc")))
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        F.sum(
            (F.col("d") * (F.col("d") - 1) / 2).cast("long")
        ).alias("n_wedges"),
        F.count(F.lit(1)).alias("n_nodes"),
    )
    return tri.crossJoin(F.broadcast(wedges)).select(
        "n_nodes",
        F.col("n_tri").alias("n_triangles"),
        "n_wedges",
        F.round(
            F.when(F.col("n_wedges") == 0, 0.0).otherwise(
                F.lit(3.0)
                * F.col("n_tri").cast("double")
                / F.col("n_wedges").cast("double")
            ),
            6,
        ).alias("global_clustering"),
    )


_spec_gc = __import__(
    "data_warehouse_hive_spark.registry", fromlist=["REGISTRY"]
).REGISTRY["q_graph_clustering"]
object.__setattr__(
    _spec_gc, "oracle", _spec_gc.oracle.format(pairs=_o_candidate_edges())
)
del _spec_gc


@query(
    "q_graph_closeness",
    oracle="""
    WITH RECURSIVE trans AS (
      SELECT DISTINCT src, dst FROM (
        SELECT event_type AS src,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS dst
        FROM events
      ) WHERE dst IS NOT NULL AND dst <> src
    ),
    nodes AS (
      SELECT src AS node FROM trans UNION SELECT dst FROM trans
    ),
    r(origin, node, d) AS (
      SELECT node, node, 0 FROM nodes
      UNION ALL
      SELECT r.origin, t.dst, r.d + 1
      FROM r JOIN trans t ON t.src = r.node
      WHERE r.d < 5
    ),
    sp AS (
      SELECT origin, node, MIN(d) AS d FROM r GROUP BY origin, node
    )
    SELECT origin AS node,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_reachable,
           round(CAST(SUM(CASE WHEN d > 0
                     THEN CAST(floor(1e9 / d + 0.5) AS BIGINT)
                     ELSE 0 END) AS DOUBLE) / 1e9, 6) AS harmonic
    FROM sp GROUP BY origin
    ORDER BY node
    """,
)
def q_graph_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic closeness centrality of every node in the event-type
    transition graph — Σ 1/d(x,y) over reachable y≠x, the
    centrality that (unlike classic closeness) stays well-defined on
    disconnected graphs.  Ranks "hubs you can get anywhere from fast"
    where PageRank ranks "nodes everything flows into".

    Multi-source BFS as ONE propagation: the frontier relation is keyed
    (origin, node) so all |V| single-source problems advance together in
    the same bounded driver loop (5 rounds, localCheckpoint per round) —
    |V| is the event-type domain, so the iterated relation is ≤ |V|²
    rows regardless of corpus size; the only fact-scale work is the one
    window pass extracting distinct transitions.  Each 1/d term is
    floored onto a 1e9 carrier (mirrored formula) so the per-origin sums
    are order-exact.
    """
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        e.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = (
        trans.select(F.col("src").alias("node"))
        .unionAll(trans.select(F.col("dst").alias("node")))
        .distinct()
    )
    dist = nodes.select(
        F.col("node").alias("origin"), "node", F.lit(0).alias("d")
    )
    for _ in range(5):
        step = (
            dist.join(trans, F.col("node") == F.col("src"))
            .select("origin", F.col("dst").alias("node"), (F.col("d") + 1).alias("d"))
        )
        dist = (
            dist.unionAll(step)
            .groupBy("origin", "node")
            .agg(F.min("d").alias("d"))
            .localCheckpoint(eager=False)
        )
    return (
        dist.groupBy("origin")
        .agg(
            (F.count(F.lit(1)) - 1).alias("n_reachable"),
            F.round(
                F.sum(
                    F.when(
                        F.col("d") > 0,
                        F.floor(F.lit(1e9) / F.col("d") + F.lit(0.5)).cast(
                            "long"
                        ),
                    ).otherwise(F.lit(0).cast("long"))
                ).cast("double")
                / F.lit(1e9),
                6,
            ).alias("harmonic"),
        )
        .select(F.col("origin").alias("node"), "n_reachable", "harmonic")
        .orderBy("node")
    )


@query(
    "q_graph_reciprocity",
    oracle="""
    WITH trans AS (
      SELECT DISTINCT src, dst FROM (
        SELECT event_type AS src,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS dst
        FROM events
      ) WHERE dst IS NOT NULL AND dst <> src
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
           CAST(SUM(CASE WHEN EXISTS (
                 SELECT 1 FROM trans r
                 WHERE r.src = t.dst AND r.dst = t.src)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_reciprocal,
           round(CAST(SUM(CASE WHEN EXISTS (
                   SELECT 1 FROM trans r
                   WHERE r.src = t.dst AND r.dst = t.src)
                 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS reciprocity
    FROM trans t
    """,
)
def q_graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge reciprocity of the event-type transition graph: the fraction
    of directed edges whose reverse also occurs — the flow-vs-funnel
    diagnostic (a checkout funnel is nearly acyclic, low reciprocity; a
    browse loop is highly reciprocal), read beside q_graph_pagerank and
    q_graph_clustering on the same derived graph.

    The reverse-edge test is a LEFT SEMI self-join on the swapped key
    pair — on the aggregated edge relation (≤ |event types|² rows), so
    everything after the one fact-scale window pass is a broadcast-size
    computation.
    """
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        e.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    rev = trans.select(
        F.col("dst").alias("rsrc"), F.col("src").alias("rdst")
    )
    flagged = trans.join(
        rev,
        (F.col("rsrc") == F.col("src")) & (F.col("rdst") == F.col("dst")),
        "left_semi",
    )
    n_rec = flagged.agg(F.count(F.lit(1)).alias("n_reciprocal"))
    n_all = trans.agg(F.count(F.lit(1)).alias("n_edges"))
    return n_all.crossJoin(F.broadcast(n_rec)).select(
        F.col("n_edges").cast("long").alias("n_edges"),
        F.col("n_reciprocal").cast("long").alias("n_reciprocal"),
        F.round(
            F.col("n_reciprocal").cast("double")
            / F.col("n_edges").cast("double"),
            6,
        ).alias("reciprocity"),
    )


KCORE_K = 2
KCORE_ROUNDS = 4


def _o_kcore() -> str:
    parts = []
    prev = "0"
    rounds = []
    for i in range(1, KCORE_ROUNDS + 1):
        # AS MATERIALIZED: each round references the previous round
        # multiple times; without materialization DuckDB re-inlines the
        # whole upstream LSH pipeline per reference (exponential blowup)
        rounds.append(f"""
    e{i} AS MATERIALIZED (
      SELECT doc_a, doc_b FROM e{int(prev) if prev.isdigit() else prev}
      WHERE doc_a IN (SELECT doc FROM n{prev})
        AND doc_b IN (SELECT doc FROM n{prev})
    ),
    d{i} AS MATERIALIZED (
      SELECT doc, COUNT(*) AS c FROM (
        SELECT doc_a AS doc FROM e{i}
        UNION ALL SELECT doc_b FROM e{i}
      ) GROUP BY doc
    ),
    n{i} AS MATERIALIZED (SELECT doc FROM d{i} WHERE c >= {KCORE_K})""")
        prev = str(i)
    return (
        """{pairs},
    e0 AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs),
    n0 AS MATERIALIZED (
      SELECT doc_a AS doc FROM e0 UNION SELECT doc_b FROM e0)"""
        + "," + ",".join(rounds)
        + f"""
    SELECT (SELECT COUNT(*) FROM n0) AS n_nodes,
           (SELECT COUNT(*) FROM n{KCORE_ROUNDS}) AS n_in_core,
           ((SELECT COUNT(*) FROM n{KCORE_ROUNDS - 1})
            = (SELECT COUNT(*) FROM n{KCORE_ROUNDS})) AS converged"""
    )


@query("q_graph_kcore", oracle=f"WITH {_o_kcore()}")
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_K}-core decomposition of the near-dup candidate graph by
    iterative peeling: repeatedly drop nodes with degree < {KCORE_K}
    until stable — the dense-cluster extractor that separates true
    duplicate FAMILIES (every member ≥2 connections) from incidental
    pairwise collisions, which is exactly the triage q_dedup_groups'
    connected components cannot do (a chain of accidental pairs is one
    component but has no core).

    {KCORE_ROUNDS} bounded peel rounds (convergence flag reported), each
    one semi-join of the edge list against the surviving node set + one
    degree count — all on the aggregated candidate-pair relation, so
    after the shared LSH pipeline the iteration cost is edge-list-sized.
    The oracle unrolls the same rounds as CTEs.
    """
    from data_warehouse_hive_spark.extensions.dedup import (
        candidate_pairs_cached,
    )

    pairs = candidate_pairs_cached(spark, sf_dir)
    edges = pairs.select("doc_a", "doc_b")
    nodes = (
        edges.select(F.col("doc_a").alias("doc"))
        .unionAll(edges.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    n_initial = nodes
    prev_count_df = None
    for _ in range(KCORE_ROUNDS):
        prev_count_df = nodes
        e = (
            edges.join(
                nodes.select(F.col("doc").alias("da")),
                F.col("da") == F.col("doc_a"),
                "left_semi",
            ).join(
                nodes.select(F.col("doc").alias("db")),
                F.col("db") == F.col("doc_b"),
                "left_semi",
            )
        )
        deg = (
            e.select(F.col("doc_a").alias("doc"))
            .unionAll(e.select(F.col("doc_b").alias("doc")))
            .groupBy("doc")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        nodes = deg.filter(F.col("c") >= KCORE_K).select("doc").localCheckpoint(
            eager=False
        )
        edges = e.localCheckpoint(eager=False)
    a = n_initial.agg(F.count(F.lit(1)).alias("n_nodes"))
    b = nodes.agg(F.count(F.lit(1)).alias("n_in_core"))
    c = prev_count_df.agg(F.count(F.lit(1)).alias("n_prev"))
    return (
        a.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(c))
        .select(
            "n_nodes",
            "n_in_core",
            (F.col("n_prev") == F.col("n_in_core")).alias("converged"),
        )
    )


from data_warehouse_hive_spark.registry import REGISTRY as _REG8  # noqa: E402

_spec8 = _REG8["q_graph_kcore"]
object.__setattr__(
    _spec8, "oracle", _spec8.oracle.format(pairs=_o_candidate_edges())
)
del _REG8, _spec8


@query(
    "q_graph_assortativity",
    oracle="""
    WITH {pairs},
    deg AS MATERIALIZED (
      SELECT doc, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT doc_a AS doc FROM pairs
        UNION ALL SELECT doc_b FROM pairs
      ) GROUP BY doc
    ),
    ed AS (
      SELECT da.d AS x, db.d AS y
      FROM pairs p
      JOIN deg da ON da.doc = p.doc_a
      JOIN deg db ON db.doc = p.doc_b
    ),
    sym AS (
      SELECT x, y FROM ed UNION ALL SELECT y, x FROM ed
    ),
    s AS (
      SELECT COUNT(*) AS m,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
      FROM sym
    )
    SELECT CAST(m / 2 AS BIGINT) AS n_edges,
           round((CAST(m AS DOUBLE) * sxy
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 / (CAST(m AS DOUBLE) * sxx
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
             AS assortativity
    FROM s
    """,
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the near-dup candidate graph: the Pearson
    correlation of endpoint degrees over (symmetrized) edges — positive
    ⇒ hubs link to hubs (one mega-cluster of templates), negative ⇒
    hub-and-spoke (one canonical doc with many near-copies).  The
    structural fingerprint that, with q_graph_degree's histogram and
    q_graph_kcore's cores, characterizes WHAT KIND of duplication a
    corpus has before choosing a survivorship policy.

    Degrees come from one grouped count over the aggregated edge list;
    the edge-endpoint join is on the uniform doc key; correlation uses
    exact integer power sums in 128-bit accumulators (symmetrized so
    x- and y-marginals coincide — the undirected-graph convention) and
    one mirrored closed form.
    """
    from pyspark.sql import functions as _F

    from data_warehouse_hive_spark.extensions.dedup import (
        candidate_pairs_cached,
    )

    pairs = candidate_pairs_cached(spark, sf_dir)
    deg = (
        pairs.select(F.col("doc_a").alias("doc"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc")))
        .groupBy("doc")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    ed = (
        pairs.join(
            deg.select(F.col("doc").alias("pa"), F.col("d").alias("x")),
            F.col("pa") == F.col("doc_a"),
        )
        .join(
            deg.select(F.col("doc").alias("pb"), F.col("d").alias("y")),
            F.col("pb") == F.col("doc_b"),
        )
        .select("x", "y")
    )
    sym = ed.unionAll(ed.select(F.col("y").alias("x"), F.col("x").alias("y")))
    d38 = "decimal(38,0)"
    s = sym.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x").cast(d38) * F.col("x").cast(d38))
        .cast("double")
        .alias("sxx"),
        F.sum(F.col("x").cast(d38) * F.col("y").cast(d38))
        .cast("double")
        .alias("sxy"),
    )
    md = F.col("m").cast("double")
    sxd = F.col("sx").cast("double")
    return s.select(
        (F.col("m") / 2).cast("long").alias("n_edges"),
        F.round(
            (md * F.col("sxy") - sxd * sxd)
            / (md * F.col("sxx") - sxd * sxd),
            6,
        ).alias("assortativity"),
    )


from data_warehouse_hive_spark.registry import REGISTRY as _REG9  # noqa: E402

_spec9 = _REG9["q_graph_assortativity"]
object.__setattr__(
    _spec9, "oracle", _spec9.oracle.format(pairs=_o_candidate_edges())
)
del _REG9, _spec9


LPA_ROUNDS = 3


def _o_labelprop_round(prev: str, out: str) -> str:
    return f"""{out} AS MATERIALIZED (
      SELECT node, lbl FROM (
        SELECT u.node, l.lbl,
               ROW_NUMBER() OVER (PARTITION BY u.node
                                  ORDER BY COUNT(*) DESC, l.lbl) AS rk
        FROM und u JOIN {prev} l ON l.node = u.nb
        GROUP BY u.node, l.lbl
      ) WHERE rk = 1
    )"""


def _o_labelprop() -> str:
    from data_warehouse_hive_spark.extensions.dedup import (
        _o_minhash_pairs_cte,
    )

    rounds = ",\n    ".join(
        _o_labelprop_round(f"r{k}" if k else "l0", f"r{k + 1}")
        for k in range(LPA_ROUNDS)
    )
    return f"""
    WITH {_o_minhash_pairs_cte()},
    und AS MATERIALIZED (
      SELECT doc_a AS node, doc_b AS nb FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    l0 AS (SELECT DISTINCT node, node AS lbl FROM und),
    {rounds}
    SELECT CAST(lbl AS BIGINT) AS community,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM r{LPA_ROUNDS}
    GROUP BY lbl
    ORDER BY n_members DESC, community
    """


def _lpa_labels(spark: SparkSession, sf_dir: str):
    """The bounded synchronous LPA loop's (symmetrized edge relation,
    final (node, lbl) labels) — shared by q_graph_labelprop,
    q_graph_modularity and q_graph_nmi through one session_memo run.
    The loop is deterministic end to end (fixed rounds, count-desc/
    label-asc tiebreak) and its relations are localCheckpointed."""
    return session_memo(
        spark, ("lpa", sf_dir), lambda: _lpa_build(spark, sf_dir),
        reads=(table_path(sf_dir, "documents"),),
    )


def _lpa_build(spark: SparkSession, sf_dir: str):
    from data_warehouse_hive_spark.extensions.dedup import (
        candidate_pairs_cached,
    )

    pairs = candidate_pairs_cached(spark, sf_dir)
    und = (
        pairs.select(F.col("doc_a").alias("node"), F.col("doc_b").alias("nb"))
        .unionAll(
            pairs.select(
                F.col("doc_b").alias("node"), F.col("doc_a").alias("nb")
            )
        )
        .localCheckpoint(eager=False)
    )
    labels = und.select("node").distinct().withColumn("lbl", F.col("node"))
    w = Window.partitionBy("node").orderBy(F.col("cnt").desc(), "lbl")
    for _ in range(LPA_ROUNDS):
        votes = (
            und.join(
                labels.select(F.col("node").alias("nb"), "lbl"), "nb"
            )
            .groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            votes.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("node", "lbl")
            .localCheckpoint(eager=False)
        )
    return und, labels


@query("q_graph_labelprop", oracle=_o_labelprop())
def q_graph_labelprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label propagation (synchronous majority-vote LPA, {LPA_ROUNDS}
    fixed rounds) over the LSH candidate graph: each node adopts the
    most common label among its neighbors, ties to the smallest label —
    the classic near-linear community detector, and a genuinely
    DIFFERENT fixpoint from q_dedup_groups' min-label connected
    components (LPA splits a weakly-bridged component into communities;
    CC cannot).

    Same scale shape as the other bounded Pregel loops: per round ONE
    join of the symmetrized edge list against the label relation + a
    grouped vote + a per-node argmax (count desc, label asc — plans as
    WindowGroupLimit), with localCheckpoint truncating lineage.  Fixed
    round count and the deterministic tiebreak make the synchronous
    fixpoint hash-comparable; the oracle unrolls the identical rounds
    (AS MATERIALIZED — without it DuckDB re-inlines the LSH pipeline
    exponentially, the q_graph_kcore lesson)."""
    _, labels = _lpa_labels(spark, sf_dir)
    return (
        labels.groupBy("lbl")
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        .select(F.col("lbl").cast("long").alias("community"), "n_members")
        .orderBy(F.col("n_members").desc(), "community")
    )


def _o_modularity() -> str:
    from data_warehouse_hive_spark.extensions.dedup import (
        _o_minhash_pairs_cte,
    )

    rounds = ",\n    ".join(
        _o_labelprop_round(f"r{k}" if k else "l0", f"r{k + 1}")
        for k in range(LPA_ROUNDS)
    )
    return f"""
    WITH {_o_minhash_pairs_cte()},
    und AS MATERIALIZED (
      SELECT doc_a AS node, doc_b AS nb FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    l0 AS (SELECT DISTINCT node, node AS lbl FROM und),
    {rounds},
    lab AS MATERIALIZED (SELECT node, lbl FROM r{LPA_ROUNDS}),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM und),
    within AS (
      SELECT la.lbl, CAST(COUNT(*) AS BIGINT) AS e2_c
      FROM und u
      JOIN lab la ON la.node = u.node
      JOIN lab lb ON lb.node = u.nb
      WHERE la.lbl = lb.lbl
      GROUP BY la.lbl
    ),
    deg AS (
      SELECT la.lbl, CAST(COUNT(*) AS BIGINT) AS d_c
      FROM und u JOIN lab la ON la.node = u.node
      GROUP BY la.lbl
    ),
    terms AS (
      SELECT d.lbl,
             CAST(floor((CAST(COALESCE(w.e2_c, 0) AS DOUBLE) / m.m2
                         - (CAST(d.d_c AS DOUBLE) / m.m2)
                           * (CAST(d.d_c AS DOUBLE) / m.m2)) * 1e9 + 0.5)
                  AS BIGINT) AS q9
      FROM deg d LEFT JOIN within w ON w.lbl = d.lbl
      CROSS JOIN m
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_communities,
           (SELECT m2 // 2 FROM m) AS n_edges,
           round(CAST(SUM(q9) AS DOUBLE) / 1e9, 6) AS modularity
    FROM terms
    """


@query("q_graph_modularity", oracle=_o_modularity())
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity Q of the LPA community partition over the LSH
    candidate graph: Q = Σ_c (e_c/m − (d_c/2m)²) — the score that says
    whether the communities LPA found are real structure or noise
    (Q≈0), the standard acceptance gate for a community detection run.

    Reuses the exact labels q_graph_labelprop computes (shared bounded
    loop), then three aggregations over the edge and label relations:
    within-community edge count (edge⋈label⋈label on the node keys),
    community degree sums, and the per-community Q terms — each term
    quantized onto the 1e9 carrier before the final sum, so the
    community-order-dependent float addition is exact integers (the
    q_stats_mutual_info rule)."""
    und, labels = _lpa_labels(spark, sf_dir)
    lab = labels.localCheckpoint(eager=False)
    m2 = und.agg(F.count(F.lit(1)).cast("long").alias("m2"))
    la = lab.select(F.col("node").alias("node"), F.col("lbl").alias("la"))
    lb = lab.select(F.col("node").alias("nb"), F.col("lbl").alias("lb"))
    within = (
        und.join(la, "node")
        .join(lb, "nb")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("lbl"))
        .agg(F.count(F.lit(1)).cast("long").alias("e2_c"))
    )
    deg = (
        und.join(la, "node")
        .groupBy(F.col("la").alias("lbl"))
        .agg(F.count(F.lit(1)).cast("long").alias("d_c"))
    )
    terms = (
        deg.join(within, "lbl", "left")
        .crossJoin(F.broadcast(m2))
        .select(
            F.floor(
                (
                    F.coalesce(F.col("e2_c"), F.lit(0)).cast("double")
                    / F.col("m2")
                    - (F.col("d_c").cast("double") / F.col("m2"))
                    * (F.col("d_c").cast("double") / F.col("m2"))
                )
                * 1e9
                + 0.5
            )
            .cast("long")
            .alias("q9")
        )
    )
    nc = deg.agg(F.count(F.lit(1)).cast("long").alias("n_communities"))
    ne = m2.select((F.col("m2") / 2).cast("long").alias("n_edges"))
    return (
        terms.agg(
            F.round(F.sum("q9").cast("double") / 1e9, 6).alias(
                "modularity"
            )
        )
        .crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(ne))
        .select("n_communities", "n_edges", "modularity")
    )


HITS_SCALE = 10**6
HITS_ITERS = 2


def _o_hits() -> str:
    """Unrolled quantized HITS rounds.  Each round: authority = Σ_in
    hub·w then max-normalize onto the grid; hub = Σ_out auth·w then
    max-normalize.  HUGEINT keeps the products exact."""
    edges = """
    e AS MATERIALIZED (
      SELECT prev AS src, event_type AS dst, CAST(COUNT(*) AS BIGINT) AS w
      FROM (
        SELECT event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events
      ) WHERE prev IS NOT NULL
      GROUP BY prev, event_type
    ),
    nodes AS MATERIALIZED (
      SELECT DISTINCT src AS node FROM e
      UNION
      SELECT DISTINCT dst FROM e
    ),
    h0 AS (SELECT node, CAST({S} AS BIGINT) AS hq FROM nodes)
    """.replace("{S}", str(HITS_SCALE))
    body = []
    prev_h = "h0"
    for k in range(1, HITS_ITERS + 1):
        body.append(f"""
    ar{k} AS (
      SELECT n.node,
             CAST(COALESCE(SUM(CAST(h.hq AS HUGEINT) * e.w), 0) AS HUGEINT)
               AS raw
      FROM nodes n
      LEFT JOIN e ON e.dst = n.node
      LEFT JOIN {prev_h} h ON h.node = e.src
      GROUP BY n.node
    ),
    am{k} AS (SELECT MAX(raw) AS mx FROM ar{k}),
    a{k} AS (
      SELECT r.node,
             CAST(CASE WHEN m.mx > 0
                  THEN (r.raw * {HITS_SCALE}) // m.mx ELSE 0 END AS BIGINT)
               AS aq
      FROM ar{k} r CROSS JOIN am{k} m
    ),
    hr{k} AS (
      SELECT n.node,
             CAST(COALESCE(SUM(CAST(a.aq AS HUGEINT) * e.w), 0) AS HUGEINT)
               AS raw
      FROM nodes n
      LEFT JOIN e ON e.src = n.node
      LEFT JOIN a{k} a ON a.node = e.dst
      GROUP BY n.node
    ),
    hm{k} AS (SELECT MAX(raw) AS mx FROM hr{k}),
    h{k} AS (
      SELECT r.node,
             CAST(CASE WHEN m.mx > 0
                  THEN (r.raw * {HITS_SCALE}) // m.mx ELSE 0 END AS BIGINT)
               AS hq
      FROM hr{k} r CROSS JOIN hm{k} m
    )""")
        prev_h = f"h{k}"
    K = HITS_ITERS
    return f"""
    WITH {edges},{','.join(body)}
    SELECT h.node AS event_type, h.hq AS hub_q, a.aq AS auth_q,
           round(CAST(h.hq AS DOUBLE) / {HITS_SCALE}, 6) AS hub,
           round(CAST(a.aq AS DOUBLE) / {HITS_SCALE}, 6) AS authority
    FROM h{K} h JOIN a{K} a ON a.node = h.node
    ORDER BY event_type
    """


@query("q_graph_hits", oracle=_o_hits())
def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hub/authority scores ({HITS_ITERS} quantized rounds,
    max-normalized) on the event-type transition graph — PageRank's
    bipartite sibling: a type is a strong HUB when it routes into
    strong authorities (the 'gateway' events) and an AUTHORITY when
    strong hubs route into it (the 'destination' events).

    The DISTRIBUTED stage is the expensive one: one user-partitioned
    window pass over the raw events builds the aggregated (src, dst, w)
    transition matrix — bounded by the event-type domain (≤d² rows)
    REGARDLESS of corpus size.  The fixpoint itself then runs
    driver-side on that bounded relation (the q_embed_pca 64×64
    precedent: driver finishing is the honest shape for fixed-size
    state — a 6-node DataFrame loop would pay ~16 job-scheduling
    round-trips to shuffle nothing).  All mass updates are exact
    integer products with integer floor-division max-normalization,
    bit-identical to the oracle's unrolled HUGEINT replay."""
    rows = _edges(spark, sf_dir).collect()  # bounded: type-domain² rows
    nodes = sorted({r.src for r in rows} | {r.dst for r in rows})
    w = {(r.src, r.dst): r.w for r in rows}
    hq = {n: HITS_SCALE for n in nodes}
    aq = {n: 0 for n in nodes}
    for _ in range(HITS_ITERS):
        raw_a = {
            n: sum(hq[u] * w[(u, n)] for u in nodes if (u, n) in w)
            for n in nodes
        }
        mx = max(raw_a.values(), default=0)
        aq = {
            n: (raw_a[n] * HITS_SCALE) // mx if mx > 0 else 0
            for n in nodes
        }
        raw_h = {
            n: sum(aq[v] * w[(n, v)] for v in nodes if (n, v) in w)
            for n in nodes
        }
        mx = max(raw_h.values(), default=0)
        hq = {
            n: (raw_h[n] * HITS_SCALE) // mx if mx > 0 else 0
            for n in nodes
        }
    out = [
        (
            n,
            hq[n],
            aq[n],
            round(hq[n] / HITS_SCALE, 6),
            round(aq[n] / HITS_SCALE, 6),
        )
        for n in nodes
    ]
    return spark.createDataFrame(
        out,
        "event_type string, hub_q long, auth_q long,"
        " hub double, authority double",
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Single-source shortest path (Bellman-Ford) on -log-probability weights
# ---------------------------------------------------------------------------

SSSP_SRC = "signup"  # natural start state of the behavior graph
SSSP_ITERS = 4  # >= diameter of the event-type graph


def _o_sssp() -> str:
    it = """
    it{k} AS MATERIALIZED (
      SELECT n.node,
             LEAST(
               (SELECT p.dq FROM it{prev} p WHERE p.node = n.node),
               (SELECT MIN(p2.dq + e.cq)
                FROM it{prev} p2 JOIN ew e ON e.src = p2.node
                WHERE e.dst = n.node)
             ) AS dq
      FROM nodes n
    )"""
    its = ",".join(it.format(k=k, prev=k - 1) for k in range(1, SSSP_ITERS + 1))
    return f"""
    WITH ordered AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    edges AS (
      SELECT prev_type AS src, event_type AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM ordered WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ),
    nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    ew AS MATERIALIZED (
      SELECT e.src, e.dst,
             CAST(floor(-ln(CAST(e.w AS DOUBLE) / o.out_w) * 1e9 + 0.5)
                  AS BIGINT) AS cq
      FROM edges e
      JOIN (SELECT src, CAST(SUM(w) AS BIGINT) AS out_w
            FROM edges GROUP BY src) o ON o.src = e.src
    ),
    it0 AS MATERIALIZED (
      SELECT node,
             CASE WHEN node = '{SSSP_SRC}'
                  THEN CAST(0 AS BIGINT) END AS dq
      FROM nodes
    ),
    {its}
    SELECT node AS event_type, dq AS dist_q,
           round(CAST(dq AS DOUBLE) / 1e9, 6) AS cost_nats,
           dq IS NOT NULL AS reachable
    FROM it{SSSP_ITERS}
    ORDER BY node
    """


@query("q_graph_sssp", oracle=_o_sssp())
def q_graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest path (Bellman-Ford, {SSSP_ITERS} rounds ≥
    graph diameter) from the '{SSSP_SRC}' state, with edge cost
    −ln P(dst|src) — so the shortest path is the MOST PROBABLE behavior
    path from signup to every other state, and its cost is that path's
    negative log-likelihood.  The relaxation pattern is the third
    fixed-point family next to PageRank (value diffusion) and k-core
    (pruning): per round, every node keeps the min of its own distance
    and the best incoming (distance + cost).

    The corpus-sized stage is the same per-user lag window every graph
    query here shares; the loop relaxes the O(|types|²) aggregated edge
    relation with a broadcast of the current distance vector —
    join + groupBy-min per round, localCheckpoint truncating lineage.
    Costs are 1e9-grid longs (−ln of an exactly-representable ratio),
    so min() and + are integer-exact in any engine/order; unreachable
    nodes stay NULL (both engines' `least` ignores NULLs).
    """
    edges = _edges(spark, sf_dir)
    out_w = edges.groupBy(F.col("src").alias("o_src")).agg(
        F.sum("w").cast("long").alias("out_w")
    )
    ew = (
        edges.join(broadcast(out_w), F.col("o_src") == F.col("src"))
        .select(
            "src",
            "dst",
            F.floor(
                -F.log(F.col("w").cast("double") / F.col("out_w")) * 1e9 + 0.5
            )
            .cast("long")
            .alias("cq"),
        )
        # materialize the O(|types|^2) weighted edge relation once: the
        # relaxation rounds below would otherwise re-run the corpus
        # lag-window scan per round through the lazy lineage
        .localCheckpoint(eager=False)
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    dist = nodes.withColumn(
        "dq",
        F.when(F.col("node") == SSSP_SRC, F.lit(0).cast("long")),
    )
    for _ in range(SSSP_ITERS):
        relax = (
            ew.join(
                broadcast(dist.filter(F.col("dq").isNotNull())),
                F.col("src") == F.col("node"),
            )
            .select(F.col("dst"), (F.col("dq") + F.col("cq")).alias("cand"))
            .groupBy("dst")
            .agg(F.min("cand").alias("best"))
        )
        dist = (
            dist.join(broadcast(relax), F.col("node") == F.col("dst"), "left")
            .select("node", F.least("dq", "best").alias("dq"))
            .localCheckpoint(eager=False)
        )
    return dist.select(
        F.col("node").alias("event_type"),
        F.col("dq").alias("dist_q"),
        F.round(F.col("dq").cast("double") / 1e9, 6).alias("cost_nats"),
        F.col("dq").isNotNull().alias("reachable"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Deterministic weighted random walks (graph-embedding corpus generation)
# ---------------------------------------------------------------------------

WALK_LEN = 4
WALKS_PER_NODE = 3


def _o_random_walk() -> str:
    step = """
    s{k} AS MATERIALIZED (
      SELECT c.walk_id, c.start_node,
             COALESCE(i.dst, c.node) AS node,
             CASE WHEN i.dst IS NULL THEN c.path
                  ELSE c.path || '->' || i.dst END AS path
      FROM s{prev} c
      LEFT JOIN iv i
        ON i.src = c.node
       AND ('0x' || substr(md5(c.walk_id || ':{k}'), 1, 15))
             ::UBIGINT::BIGINT % i.out_w >= i.lo
       AND ('0x' || substr(md5(c.walk_id || ':{k}'), 1, 15))
             ::UBIGINT::BIGINT % i.out_w < i.hi
    )"""
    steps = ",".join(step.format(k=k, prev=k - 1) for k in range(1, WALK_LEN + 1))
    return f"""
    WITH ordered AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    edges AS (
      SELECT prev_type AS src, event_type AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM ordered WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ),
    iv AS MATERIALIZED (
      SELECT src, dst, w,
             CAST(SUM(w) OVER (PARTITION BY src) AS BIGINT) AS out_w,
             CAST(SUM(w) OVER (PARTITION BY src ORDER BY dst
                               ROWS UNBOUNDED PRECEDING) - w AS BIGINT) AS lo,
             CAST(SUM(w) OVER (PARTITION BY src ORDER BY dst
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi
      FROM edges
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges
              UNION SELECT DISTINCT dst FROM edges),
    s0 AS MATERIALIZED (
      SELECT node || '#' || i AS walk_id, node AS start_node, node,
             CAST(node AS VARCHAR) AS path
      FROM nodes, LATERAL unnest(range({WALKS_PER_NODE})) AS u(i)
    ),
    {steps}
    SELECT walk_id, start_node, node AS end_node, path
    FROM s{WALK_LEN}
    ORDER BY walk_id
    """


@query("q_graph_random_walk", oracle=_o_random_walk())
def q_graph_random_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted random walks over the behavior transition graph —
    {WALKS_PER_NODE} walks of length {WALK_LEN} from every node, each
    hop drawn ∝ edge weight — the DeepWalk/node2vec CORPUS GENERATION
    step: the walk sequences are the 'sentences' a skip-gram model
    trains graph embeddings on, so this is the graph-side member of the
    training-data-pipeline family.  Randomness is md5(walk_id, step)
    reduced mod out-degree into the cumulative-weight interval — a
    counter-based RNG, so every engine (and every retry of a failed
    task) draws the identical walk.

    Scale shape: the corpus pays one lag-window scan for the aggregated
    edge relation; each of the {WALK_LEN} bounded rounds is a join of
    the O(nodes×{WALKS_PER_NODE}) walk frontier against the
    interval-annotated edges (equi-key on the current node + interval
    containment on the draw) with localCheckpoint lineage truncation.
    Dead-end nodes keep their position (LEFT join, path unchanged).
    All arithmetic is integer: weights, cumulative bounds, and the mod
    reduction.
    """
    edges = _edges(spark, sf_dir)
    wsrc = Window.partitionBy("src")
    wcum = Window.partitionBy("src").orderBy("dst").rowsBetween(
        Window.unboundedPreceding, 0
    )
    iv = edges.select(
        "src",
        "dst",
        F.sum("w").over(wsrc).cast("long").alias("out_w"),
        (F.sum("w").over(wcum) - F.col("w")).cast("long").alias("lo"),
        F.sum("w").over(wcum).cast("long").alias("hi"),
    ).localCheckpoint(eager=False)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    cur = nodes.crossJoin(
        broadcast(
            spark.range(WALKS_PER_NODE).select(
                F.col("id").cast("int").alias("_z")
            )
        )
    ).select(
        F.concat_ws("#", "node", F.col("_z").cast("string")).alias("walk_id"),
        F.col("node").alias("start_node"),
        "node",
        F.col("node").cast("string").alias("path"),
    )
    for k in range(1, WALK_LEN + 1):
        pick = F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("walk_id"), F.lit(f":{k}"))), 1, 15
                ),
                16,
                10,
            ).cast("long"),
            F.col("out_w"),
        )
        cur = (
            cur.join(
                broadcast(iv),
                (F.col("src") == F.col("node"))
                & (pick >= F.col("lo"))
                & (pick < F.col("hi")),
                "left",
            )
            .select(
                "walk_id",
                "start_node",
                F.coalesce("dst", "node").alias("node"),
                F.when(
                    F.col("dst").isNull(), F.col("path")
                ).otherwise(
                    F.concat_ws("->", "path", "dst")
                ).alias("path"),
            )
            .localCheckpoint(eager=False)
        )
    return cur.select(
        "walk_id", "start_node", F.col("node").alias("end_node"), "path"
    ).orderBy("walk_id")


# ---------------------------------------------------------------------------
# NMI: do the discovered communities recover the source partition?
# ---------------------------------------------------------------------------


def _o_nmi() -> str:
    from data_warehouse_hive_spark.extensions.dedup import (
        _o_minhash_pairs_cte,
    )

    rounds = ",\n    ".join(
        _o_labelprop_round(f"r{k}" if k else "l0", f"r{k + 1}")
        for k in range(LPA_ROUNDS)
    )
    return f"""
    WITH {_o_minhash_pairs_cte()},
    und AS MATERIALIZED (
      SELECT doc_a AS node, doc_b AS nb FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    l0 AS (SELECT DISTINCT node, node AS lbl FROM und),
    {rounds},
    lab AS (
      SELECT r.node, r.lbl AS community, d.source
      FROM r{LPA_ROUNDS} r JOIN documents d ON d.doc_id = r.node
    ),
    cells AS (
      SELECT community, source, CAST(COUNT(*) AS BIGINT) AS n_cs
      FROM lab GROUP BY community, source
    ),
    mc AS (SELECT community, CAST(SUM(n_cs) AS BIGINT) AS n_c
           FROM cells GROUP BY community),
    ms AS (SELECT source, CAST(SUM(n_cs) AS BIGINT) AS n_s
           FROM cells GROUP BY source),
    tot AS (SELECT CAST(SUM(n_cs) AS BIGINT) AS n FROM cells),
    mi AS (
      SELECT CAST(SUM(CAST(floor(
               (CAST(c.n_cs AS DOUBLE) / t.n)
               * ln(CAST(t.n AS DOUBLE) * c.n_cs
                    / (CAST(mc.n_c AS DOUBLE) * ms.n_s))
               * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS miq
      FROM cells c
      JOIN mc ON mc.community = c.community
      JOIN ms ON ms.source = c.source
      CROSS JOIN tot t
    ),
    hc AS (
      SELECT CAST(SUM(CAST(floor(
               -(CAST(n_c AS DOUBLE) / t.n)
               * ln(CAST(n_c AS DOUBLE) / t.n) * 1e9 + 0.5) AS BIGINT))
             AS BIGINT) AS hcq
      FROM mc CROSS JOIN tot t
    ),
    hs AS (
      SELECT CAST(SUM(CAST(floor(
               -(CAST(n_s AS DOUBLE) / t.n)
               * ln(CAST(n_s AS DOUBLE) / t.n) * 1e9 + 0.5) AS BIGINT))
             AS BIGINT) AS hsq
      FROM ms CROSS JOIN tot t
    )
    SELECT (SELECT COUNT(*) FROM mc) AS n_communities,
           (SELECT COUNT(*) FROM ms) AS n_sources,
           (SELECT n FROM tot) AS n_docs,
           round((SELECT miq FROM mi) / 1e9, 6) AS mutual_info_nats,
           round((SELECT miq FROM mi) / 1e9
                 / sqrt(((SELECT hcq FROM hc) / 1e9)
                        * ((SELECT hsq FROM hs) / 1e9)), 6) AS nmi
    """


@query("q_graph_nmi", oracle=_o_nmi())
def q_graph_nmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized mutual information between the LPA communities and
    the documents' SOURCE partition — the external-validity score for
    community detection (NMI ≈ 1: the graph structure rediscovered the
    sources; ≈ 0: communities are orthogonal to provenance), completing
    the clustering-eval triangle: q_graph_modularity grades internal
    structure, q_embed_cluster_purity grades the embedding clustering,
    this grades the GRAPH clustering against metadata.  Scope is the
    docs that appear in the LSH candidate graph (isolated docs have no
    community by construction; their count is n_docs vs the corpus).

    Reuses the session-memoized LPA labels (one loop per session —
    `_lpa_labels`); everything downstream is a contingency hash
    aggregate on the (community, source) domain and entropy terms
    quantized to 1e9 longs on exactly-representable ratios before the
    cross-cell sums.  NMI is fixed-order double math, rounded at 6.
    """
    _, labels = _lpa_labels(spark, sf_dir)
    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    lab = labels.join(docs, F.col("doc_id") == F.col("node")).select(
        F.col("lbl").alias("community"), "source"
    )
    cells = lab.groupBy("community", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_cs")
    )
    mc = cells.groupBy(F.col("community").alias("m_comm")).agg(
        F.sum("n_cs").cast("long").alias("n_c")
    )
    ms = cells.groupBy(F.col("source").alias("m_src")).agg(
        F.sum("n_cs").cast("long").alias("n_s")
    )
    tot = cells.agg(F.sum("n_cs").cast("long").alias("n"))
    mi_term = F.floor(
        (F.col("n_cs").cast("double") / F.col("n"))
        * F.log(
            F.col("n").cast("double")
            * F.col("n_cs")
            / (F.col("n_c").cast("double") * F.col("n_s"))
        )
        * 1e9
        + 0.5
    ).cast("long")
    mi = (
        cells.join(broadcast(mc), F.col("m_comm") == F.col("community"))
        .join(broadcast(ms), F.col("m_src") == F.col("source"))
        .crossJoin(broadcast(tot))
        .agg(F.sum(mi_term).cast("long").alias("miq"))
    )
    ent = lambda rel, cnt, alias: rel.crossJoin(broadcast(tot)).agg(  # noqa: E731
        F.sum(
            F.floor(
                -(F.col(cnt).cast("double") / F.col("n"))
                * F.log(F.col(cnt).cast("double") / F.col("n"))
                * 1e9
                + 0.5
            ).cast("long")
        )
        .cast("long")
        .alias(alias)
    )
    hc = ent(mc, "n_c", "hcq")
    hs = ent(ms, "n_s", "hsq")
    counts = cells.agg(
        F.countDistinct("community").cast("long").alias("n_communities"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )
    return (
        counts.crossJoin(broadcast(tot))
        .crossJoin(broadcast(mi))
        .crossJoin(broadcast(hc))
        .crossJoin(broadcast(hs))
        .select(
            "n_communities",
            "n_sources",
            F.col("n").alias("n_docs"),
            F.round(F.col("miq") / 1e9, 6).alias("mutual_info_nats"),
            F.round(
                (F.col("miq") / 1e9)
                / F.sqrt((F.col("hcq") / 1e9) * (F.col("hsq") / 1e9)),
                6,
            ).alias("nmi"),
        )
    )


ECC_SEEDS = 4
ECC_MAX_DEPTH = 4


@query(
    "q_graph_eccentricity",
    oracle="""
    WITH RECURSIVE {pairs},
    und AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    deg AS (
      SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d
      FROM und GROUP BY u
    ),
    seeds AS (
      SELECT node AS seed FROM deg
      ORDER BY d DESC, node LIMIT """ + str(ECC_SEEDS) + """
    ),
    r(seed, node, dist) AS (
      SELECT seed, seed, 0 FROM seeds
      UNION
      SELECT r.seed, e.v, r.dist + 1
      FROM r JOIN und e ON e.u = r.node
      WHERE r.dist < """ + str(ECC_MAX_DEPTH) + """
    ),
    best AS (
      SELECT seed, node, CAST(MIN(dist) AS BIGINT) AS dist
      FROM r GROUP BY seed, node
    )
    SELECT CAST(seed AS BIGINT) AS seed,
           CAST(MAX(dist) AS BIGINT) AS ecc_capped,
           CAST(COUNT(*) AS BIGINT) AS n_reached
    FROM best GROUP BY seed ORDER BY seed
    """.format(pairs="{pairs}"),
)
def q_graph_eccentricity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped eccentricity from the {ECC_SEEDS} highest-degree hubs of
    the LSH candidate graph (BFS to depth {ECC_MAX_DEPTH}): per seed,
    the farthest min-hop distance actually reached plus the size of its
    ≤{ECC_MAX_DEPTH}-hop ball — the sampled-diameter probe (max ecc is
    a diameter lower bound) and the 'how big is a dup neighborhood
    really' audit that q_graph_degree's 1-hop counts understate.

    Hub seeds are a deterministic degree-desc/node-asc top-k on the
    degree relation; the BFS is bounded multi-source min-distance
    propagation — per round ONE join of the frontier against the
    checkpointed edge list + grouped min, seeds ride along as a label
    column so all {ECC_SEEDS} searches share each round's single
    shuffle (the q_graph_bfs pattern, q_dedup_groups lineage
    discipline).  The oracle walks the same capped frontier with a
    recursive CTE."""
    from data_warehouse_hive_spark.extensions.dedup import (
        candidate_pairs_cached,
    )

    pairs = candidate_pairs_cached(spark, sf_dir)
    und = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionAll(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    seeds = (
        deg.orderBy(F.col("d").desc(), "node")
        .limit(ECC_SEEDS)
        .select(F.col("node").alias("seed"))
    )
    dist = seeds.select(
        "seed", F.col("seed").alias("node"), F.lit(0).alias("dist")
    ).localCheckpoint(eager=False)
    for _ in range(ECC_MAX_DEPTH):
        step = (
            dist.join(und, F.col("node") == F.col("u"))
            .select("seed", F.col("v").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionAll(step)
            .groupBy("seed", "node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return (
        dist.groupBy(F.col("seed").cast("long").alias("seed"))
        .agg(
            F.max("dist").cast("long").alias("ecc_capped"),
            F.count(F.lit(1)).cast("long").alias("n_reached"),
        )
        .orderBy("seed")
    )


from data_warehouse_hive_spark.registry import REGISTRY as _REG8  # noqa: E402

_spec8 = _REG8["q_graph_eccentricity"]
object.__setattr__(_spec8, "oracle", _spec8.oracle.format(pairs=_o_candidate_edges()))
del _REG8, _spec8


# ---------------------------------------------------------------------------
# Betweenness centrality (round 9): the brokerage number the centrality
# suite lacked (closeness = "can get anywhere fast", pagerank = "flows
# in", betweenness = "sits on the shortest routes BETWEEN others").
# ---------------------------------------------------------------------------

BTW_MAX_D = 4  # walk powers computed; covers every observed shortest
               # path on the thresholded trade graph (diameter ≤ 4).
               # NOT assumed: both engines emit n_unreached_d5 (the
               # k=5 BFS frontier minus sp) — 0 proves diameter ≤ 4,
               # nonzero surfaces the violation in the result itself.


@query(
    "q_graph_betweenness",
    oracle=f"""
    WITH flow AS (
      SELECT ns.n_name AS src, nc.n_name AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation nc ON nc.n_nationkey = c.c_nationkey
      JOIN nation ns ON ns.n_nationkey = s.s_nationkey
      WHERE ns.n_name <> nc.n_name
      GROUP BY 1, 2
    ),
    avgw AS (SELECT CAST(SUM(w) AS BIGINT) AS tw,
                    CAST(COUNT(*) AS BIGINT) AS ne FROM flow),
    trans AS MATERIALIZED (
      SELECT src, dst FROM flow CROSS JOIN avgw WHERE w * ne > tw
    ),
    w1 AS (SELECT src AS s, dst AS t, CAST(1 AS BIGINT) AS c FROM trans),
    w2 AS MATERIALIZED (
      SELECT a.s, e.dst AS t, CAST(SUM(a.c) AS BIGINT) AS c
      FROM w1 a JOIN trans e ON e.src = a.t GROUP BY 1, 2
    ),
    w3 AS MATERIALIZED (
      SELECT a.s, e.dst AS t, CAST(SUM(a.c) AS BIGINT) AS c
      FROM w2 a JOIN trans e ON e.src = a.t GROUP BY 1, 2
    ),
    w4 AS (
      SELECT a.s, e.dst AS t, CAST(SUM(a.c) AS BIGINT) AS c
      FROM w3 a JOIN trans e ON e.src = a.t GROUP BY 1, 2
    ),
    walks AS (
      SELECT 1 AS k, * FROM w1 UNION ALL SELECT 2, * FROM w2
      UNION ALL SELECT 3, * FROM w3 UNION ALL SELECT 4, * FROM w4
    ),
    sp AS MATERIALIZED (
      SELECT s, t, CAST(MIN(k) AS BIGINT) AS d FROM walks
      WHERE s <> t GROUP BY 1, 2
    ),
    sigma AS MATERIALIZED (
      SELECT sp.s, sp.t, sp.d, w.c AS sigma
      FROM sp JOIN walks w ON w.s = sp.s AND w.t = sp.t AND w.k = sp.d
    ),
    contrib AS (
      SELECT sv.t AS node,
             CAST(floor(CAST(sv.sigma * vt.sigma AS DOUBLE)
                        / st.sigma * 1e9 + 0.5) AS BIGINT) AS c9
      FROM sigma sv
      JOIN sigma vt ON vt.s = sv.t
      JOIN sigma st ON st.s = sv.s AND st.t = vt.t
      WHERE sv.s <> vt.t AND sv.d + vt.d = st.d
    ),
    nodes AS (
      SELECT src AS node FROM trans UNION SELECT dst FROM trans
    ),
    w5 AS (
      SELECT DISTINCT a.s, e.dst AS t
      FROM w4 a JOIN trans e ON e.src = a.t WHERE a.s <> e.dst
    ),
    unreach AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_unreached_d5
      FROM (SELECT s, t FROM w5 EXCEPT SELECT s, t FROM sp)
    )
    SELECT n.node,
           round(CAST(COALESCE(SUM(c.c9), 0) AS DOUBLE) / 1e9, 6)
             AS betweenness,
           CAST(COUNT(c.c9) AS BIGINT) AS n_pairs_through,
           (SELECT n_unreached_d5 FROM unreach) AS n_unreached_d5
    FROM nodes n LEFT JOIN contrib c ON c.node = n.node
    GROUP BY n.node ORDER BY n.node
    """,
)
def q_graph_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact directed betweenness centrality on the STRONG-TRADE nation
    graph (supplier nation → customer nation, keeping edges with
    above-mean lineitem flow): Σ over (s,t) pairs of
    σ(s,v)·σ(v,t)/σ(s,t) where v lies ON a shortest s→t path
    (d(s,v)+d(v,t)=d(s,t)) — the brokerage centrality that finds which
    nations sit BETWEEN trade flows (closeness and PageRank, already in
    the suite, answer different questions).  The event-type transition
    graph is complete (betweenness ≡ 0 there); the above-mean threshold
    — an EXACT integer compare w·|E| > Σw, no division — leaves a
    structurally varied 25-node graph with real multi-hop routes.

    No Brandes backward recursion needed at this domain size: on a
    shortest route no node repeats, so every minimal-length WALK is a
    shortest PATH and σ(s,t) is simply the (s,t) entry of Aᵈ at the
    first power d with a nonzero entry.  The walk powers A¹..A⁴ are
    three bounded relational squarings of the ≤|V|² edge relation; the
    pair dependency is a triple join over ≤|V|³ combinations —
    everything after the ONE fact-scale star join (the flow rollup,
    keyed on the uniform orderkey/custkey/suppkey) is |V|-domain-
    bounded regardless of corpus size.  σ products are exact BIGINTs;
    each rational σσ/σ term is floored onto the 1e9 carrier so
    per-node sums are order-free in both engines."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    flow = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(
            broadcast(n.select(
                F.col("n_nationkey").alias("ck"),
                F.col("n_name").alias("dst"),
            )),
            F.col("c_nationkey") == F.col("ck"),
        )
        .join(
            broadcast(n.select(
                F.col("n_nationkey").alias("sk"),
                F.col("n_name").alias("src"),
            )),
            F.col("s_nationkey") == F.col("sk"),
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    avgw = flow.agg(
        F.sum("w").cast("long").alias("tw"),
        F.count(F.lit(1)).cast("long").alias("ne"),
    )
    trans = (
        flow.crossJoin(broadcast(avgw))
        .filter(F.col("w") * F.col("ne") > F.col("tw"))
        .select("src", "dst")
        .localCheckpoint(eager=False)
    )
    wk = trans.select(
        F.col("src").alias("s"),
        F.col("dst").alias("t"),
        F.lit(1).cast("long").alias("c"),
    )
    walks = wk.withColumn("k", F.lit(1).cast("long"))
    for k in range(2, BTW_MAX_D + 1):
        wk = (
            wk.join(trans, F.col("t") == F.col("src"))
            .groupBy("s", F.col("dst").alias("t2"))
            .agg(F.sum("c").cast("long").alias("c"))
            .select("s", F.col("t2").alias("t"), "c")
        )
        walks = walks.unionByName(
            wk.withColumn("k", F.lit(k).cast("long"))
        )
    walks = walks.localCheckpoint(eager=False)
    sp = (
        walks.filter(F.col("s") != F.col("t"))
        .groupBy("s", "t")
        .agg(F.min("k").alias("d"))
    )
    sigma = (
        sp.join(walks.select("s", "t", "k", F.col("c").alias("sigma")),
                ["s", "t"])
        .filter(F.col("k") == F.col("d"))
        .select("s", "t", "d", "sigma")
        .localCheckpoint(eager=False)
    )
    sv = sigma.select(
        F.col("s").alias("o_s"),
        F.col("t").alias("node"),
        F.col("d").alias("d_sv"),
        F.col("sigma").alias("sig_sv"),
    )
    vt = sigma.select(
        F.col("s").alias("node"),
        F.col("t").alias("o_t"),
        F.col("d").alias("d_vt"),
        F.col("sigma").alias("sig_vt"),
    )
    st = sigma.select(
        F.col("s").alias("o_s"),
        F.col("t").alias("o_t"),
        F.col("d").alias("d_st"),
        F.col("sigma").alias("sig_st"),
    )
    contrib = (
        sv.join(vt, "node")
        .filter(F.col("o_s") != F.col("o_t"))
        .join(st, ["o_s", "o_t"])
        .filter(F.col("d_sv") + F.col("d_vt") == F.col("d_st"))
        .select(
            "node",
            F.floor(
                (F.col("sig_sv") * F.col("sig_vt")).cast("double")
                / F.col("sig_st")
                * 1e9
                + 0.5
            )
            .cast("long")
            .alias("c9"),
        )
    )
    nodes = (
        trans.select(F.col("src").alias("node"))
        .unionAll(trans.select(F.col("dst").alias("node")))
        .distinct()
    )
    # Diameter guard (audited, not assumed): the k=BTW_MAX_D+1 BFS
    # frontier must be empty — a pair at distance MAX_D+2 would imply a
    # pair at MAX_D+1 exists (its shortest path passes a node at that
    # distance), so frontier-empty soundly proves diameter ≤ MAX_D.
    # Emitted as a constant audit column so the oracle checks it too.
    w5 = (
        wk.join(trans, F.col("t") == F.col("src"))  # wk is A^MAX_D here
        .select("s", F.col("dst").alias("t"))
        .filter(F.col("s") != F.col("t"))
        .distinct()
    )
    unreach = (
        w5.join(sp.select("s", "t"), ["s", "t"], "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n_unreached_d5"))
    )
    return (
        nodes.join(contrib, "node", "left")
        .groupBy("node")
        .agg(
            F.round(
                F.coalesce(F.sum("c9"), F.lit(0)).cast("double") / 1e9, 6
            ).alias("betweenness"),
            F.count("c9").cast("long").alias("n_pairs_through"),
        )
        .crossJoin(broadcast(unreach))
        .orderBy("node")
    )


# ---------------------------------------------------------------------------
# Approximate betweenness for unbounded graphs (round 10, r9 VERDICT
# task 5): q_graph_betweenness' walk-power trick is exact but only
# viable on |V|-bounded domains (the 25-node nation trade graph).  The
# corpus-scale graph — the doc-similarity edge relation of
# q_dedup_semantic — needs the sampled-source estimator (public:
# Brandes-Pich 2007, Riondato-Kornaropoulos 2014): sample K sources
# deterministically, run a bounded multi-source BFS (q_graph_closeness
# shape) that also counts shortest paths, then accumulate Brandes
# dependencies relationally in a depth-descending sweep.
# ---------------------------------------------------------------------------

BTWA_K = 16      # sampled sources (bottom-K by md5 — the enforced
#                  deterministic sample contract, as in knn_graph)
BTWA_D = 10      # BFS horizon; covers the observed diameter (9 at
#                  sf0.01, 4 at sf0.1) and is AUDITED, not assumed:
#                  n_frontier_open reports (origin, node) pairs still
#                  reachable past the horizon (0 at every fixture SF)


def _btwa_oracle() -> str:
    from data_warehouse_hive_spark.extensions.similarity import (
        SEMANTIC_COS,
        _o_lsh_bucket,
    )

    # forward BFS levels l0..lD with path counts, unrolled
    lv = []
    for k in range(1, BTWA_D + 1):
        lv.append(f"""
    l{k} AS MATERIALIZED (
      SELECT p.origin, e.dst AS node, CAST(SUM(p.sigma) AS BIGINT) AS sigma
      FROM l{k - 1} p JOIN edges e ON e.src = p.node
      WHERE NOT EXISTS (SELECT 1 FROM s{k - 1} s
                        WHERE s.origin = p.origin AND s.node = e.dst)
      GROUP BY 1, 2
    ),
    s{k} AS MATERIALIZED (
      SELECT origin, node FROM s{k - 1}
      UNION ALL SELECT origin, node FROM l{k}
    )""")
    # backward dependency sweep dD..d1
    dv = [f"""
    d{BTWA_D} AS (
      SELECT origin, node, sigma, CAST(0 AS BIGINT) AS d9 FROM l{BTWA_D}
    )"""]
    for k in range(BTWA_D - 1, 0, -1):
        dv.append(f"""
    c{k} AS (
      SELECT vk.origin, vk.node,
             CAST(SUM(CAST(floor(CAST(vk.sigma AS DOUBLE)
                 * (1000000000 + dn.d9) / dn.sigma + 0.5) AS BIGINT))
               AS BIGINT) AS d9
      FROM l{k} vk
      JOIN edges e ON e.src = vk.node
      JOIN d{k + 1} dn ON dn.origin = vk.origin AND dn.node = e.dst
      GROUP BY 1, 2
    ),
    d{k} AS MATERIALIZED (
      SELECT vk.origin, vk.node, vk.sigma, COALESCE(c.d9, 0) AS d9
      FROM l{k} vk LEFT JOIN c{k} c
        ON c.origin = vk.origin AND c.node = vk.node
    )""")
    alldelta = " UNION ALL ".join(
        f"SELECT node, d9 FROM d{k}" for k in range(1, BTWA_D + 1)
    )
    return f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    vb AS (SELECT *, {_o_lsh_bucket('e')} AS bucket FROM v),
    pairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vbid
      FROM vb a JOIN vb b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.e, b.e)
                  / (sqrt(list_dot_product(a.e, a.e))
                     * sqrt(list_dot_product(b.e, b.e))), 6)
            >= {SEMANTIC_COS}
    ),
    edges AS MATERIALIZED (
      SELECT va AS src, vbid AS dst FROM pairs
      UNION ALL SELECT vbid, va FROM pairs
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
    smpsrc AS (
      SELECT node FROM (
        SELECT node, ROW_NUMBER() OVER (ORDER BY md5(CAST(node AS VARCHAR)),
                                        node) AS rk
        FROM nodes
      ) WHERE rk <= {BTWA_K}
    ),
    l0 AS MATERIALIZED (
      SELECT node AS origin, node, CAST(1 AS BIGINT) AS sigma FROM smpsrc
    ),
    s0 AS (SELECT origin, node FROM l0),
    {",".join(lv)},
    frontier AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_frontier_open FROM (
        SELECT DISTINCT p.origin, e.dst
        FROM l{BTWA_D} p JOIN edges e ON e.src = p.node
        WHERE NOT EXISTS (SELECT 1 FROM s{BTWA_D} s
                          WHERE s.origin = p.origin AND s.node = e.dst)
      )
    ),
    {",".join(dv)},
    bc AS (
      SELECT node, CAST(SUM(d9) AS BIGINT) AS delta9_sum
      FROM ({alldelta}) GROUP BY node
    ),
    meta AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes)
    SELECT n.node AS vec_id,
           CAST(COALESCE(b.delta9_sum, 0) AS BIGINT) AS delta9_sum,
           floor(CAST(COALESCE(b.delta9_sum, 0) AS DOUBLE) * m.n
                 / ({2 * BTWA_K} * 1e9) * 1e6 + 0.5) / 1e6 AS bc_est,
           (SELECT n_frontier_open FROM frontier) AS n_frontier_open
    FROM nodes n LEFT JOIN bc b ON b.node = n.node
    CROSS JOIN meta m
    ORDER BY vec_id
    """


@query("q_graph_betweenness_approx", oracle=_btwa_oracle())
def q_graph_betweenness_approx(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sampled-source approximate betweenness on the CORPUS-SCALE
    doc-similarity graph (q_dedup_semantic's edge relation: LSH-bucket
    cosine-threshold pairs over embeddings) — the estimator
    q_graph_betweenness cannot be: its walk-power σ extraction is
    |V|-domain-bounded, while this graph grows with the corpus.
    Brandes-Pich/Riondato-Kornaropoulos form (public): BFS from
    {BTWA_K} deterministically-sampled sources (bottom-K by md5 — the
    same enforced sample contract as knn_graph's eval ops), counting
    shortest paths σ per (origin, node); then the Brandes dependency
    δ(v) = Σ_w σ_v/σ_w · (1 + δ_w) accumulated RELATIONALLY in a
    depth-descending sweep (edges from level k to level k+1 only);
    estimate = n/(2K) · Σ_sources δ (undirected halving).

    Determinism contract: σ are exact BIGINTs (path counts summed
    level-by-level); each δ term is pinned to the 1e9 carrier with ONE
    identically-written double expression (σ_v·(1e9+δ9_w)/σ_w, floored)
    so per-node sums are order-free and both engines agree bit-for-bit
    — delta9_sum is emitted raw precisely so the oracle pins the exact
    integers, not just the rounded estimate.  The {BTWA_D}-level
    horizon is AUDITED like q_graph_betweenness's diameter guard:
    n_frontier_open counts (origin, node) pairs first reachable at
    depth {BTWA_D + 1} (0 at every fixture SF; nonzero = truncation is
    visible in the result, and longer-than-horizon dependencies are
    excluded on BOTH sides identically).

    Scale shape: the only corpus-scale stages are the bucket self-join
    building the edges (q_dedup_semantic's plan — never all-pairs) and
    the K-source BFS whose frontier relation is ≤ K·|V| rows — K is a
    CONSTANT, so forward+backward cost is O(K·(|V|+|E|)) total, the
    textbook sampled-Brandes bound, vs O(|V|·|E|) exact.  Every level
    is lineage-cut once (multi-consumer: next level, anti-join seen set,
    backward sweep).

    Scheduling shape (r11, widened r15): the corpus-scale edges stage
    materializes at the session shuffle width; the K-bounded BFS +
    dependency sweep then run under a shuffle-partitions guard
    (set/restored in try/finally) whose width is DERIVED from the
    measured edge count (~25k edge rows per partition, clamped to
    [1, defaultParallelism]) — 1 at every fixture SF, where the loop
    relations are ≤1.2k rows and wider shuffles were pure stage
    scheduling, and the full session width on clone-dense graphs,
    where a 1-partition loop serialized multi-million-row per-level
    joins through single tasks (the r14 sf10-sweep watchdog finding).
    The point is decoupling the LOOP's partitioning from the
    fact-table width AND from any fixture-tuned constant."""
    from data_warehouse_hive_spark.extensions.similarity import (
        SEMANTIC_COS,
        as_double_vec,
        dot,
        lsh_bucket_col,
    )
    from data_warehouse_hive_spark.tables import spread

    v = spread(
        t(spark, sf_dir, "embeddings").select(
            "vec_id", as_double_vec("embedding").alias("e")
        ),
        spark,
    ).withColumn("bucket", lsh_bucket_col(F.col("e"))).withColumn(
        "nrm", F.sqrt(dot(F.col("e"), F.col("e")))
    )
    a = v.select(
        F.col("vec_id").alias("va"), F.col("e").alias("ea"),
        F.col("nrm").alias("na"), "bucket",
    )
    b = v.select(
        F.col("vec_id").alias("vbid"), F.col("e").alias("eb"),
        F.col("nrm").alias("nb"), F.col("bucket").alias("bucket_b"),
    )
    pairs = (
        a.join(
            b,
            (F.col("bucket") == F.col("bucket_b"))
            & (F.col("va") < F.col("vbid")),
        )
        .filter(
            F.round(
                dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")),
                6,
            )
            >= SEMANTIC_COS
        )
        .select("va", "vbid")
        # checkpoint BEFORE the symmetrizing union: without this the
        # union's two branches each re-run the bucket join + cosine
        # filter — the single most expensive stage in the op, paid
        # twice (r10 VERDICT task 6 profiling; ~2.5s of the 10s at
        # sf0.1 was this duplicate)
        .localCheckpoint(eager=False)
    )
    edges = (
        pairs.select(F.col("va").alias("src"), F.col("vbid").alias("dst"))
        .unionAll(
            pairs.select(F.col("vbid").alias("src"), F.col("va").alias("dst"))
        )
        .localCheckpoint(eager=False)  # consumed by every BFS round
    )
    # materialize the corpus-scale stage (pairs + edges) at the session
    # shuffle width FIRST, then run the K-bounded BFS loop at a width
    # derived from the MEASURED graph rather than a constant.  r11 pinned
    # the loop to ONE shuffle partition because every frontier relation
    # at fixture scale is ≤1.2k rows and 32-partition shuffles on that
    # were pure stage/AQE scheduling (~1 s/round) — but the literal 1 is
    # itself a fixture-scale constant: on the 10× clone-density graph
    # (sf10 sweep, SCALING.md) the per-level frontier⋈edges joins carry
    # millions of rows and a 1-partition loop serializes ALL of them
    # through one task per level — the op blew the 1800 s watchdog there
    # (r14 VERDICT task 1).  Scale-adaptive form: ~25k edge rows per
    # partition, clamped to [1, defaultParallelism] — still 1 at every
    # fixture SF (identical bench plan), full width on dense graphs.
    # Values are exact integers; partitioning cannot change them
    # (re-verified by the exact-hash suite at 4 SFs).
    n_edges = edges.count()
    nodes = edges.select(F.col("src").alias("node")).distinct()
    loop_parts = max(
        1,
        min(spark.sparkContext.defaultParallelism, n_edges // 25_000),
    )
    with conf_scope(spark, {"spark.sql.shuffle.partitions": str(loop_parts)}):
        n_nodes = nodes.count()
        srcs = (
            nodes.orderBy(F.md5(F.col("node").cast("string")), "node")
            .limit(BTWA_K)
        )
        lv = srcs.select(
            F.col("node").alias("origin"),
            "node",
            F.lit(1).cast("long").alias("sigma"),
        ).localCheckpoint(eager=False)
        levels = [lv]
        seen = lv.select("origin", "node").localCheckpoint(eager=False)
        for _k in range(1, BTWA_D + 1):
            new = (
                lv.join(edges, F.col("node") == F.col("src"))
                .groupBy("origin", F.col("dst").alias("node2"))
                .agg(F.sum("sigma").cast("long").alias("sigma"))
                .select("origin", F.col("node2").alias("node"), "sigma")
                .join(seen, ["origin", "node"], "left_anti")
                .localCheckpoint(eager=False)
            )
            # EXACT early exit: an empty frontier at round k means
            # every later level (and the k+1 open-frontier audit) is
            # empty too — identical semantics to the oracle's full
            # unroll over empty CTEs, at (diameter+1) rounds of
            # driver-loop cost instead of a fixed BTWA_D.  count(),
            # not isEmpty(): isEmpty is a take(1) that scans
            # partitions in escalating mini-jobs AND leaves the lazy
            # checkpoint only partially materialized, so later
            # consumers rematerialize the tail; one count()
            # materializes every block exactly once.
            if new.count() == 0:
                break
            levels.append(new)
            seen = seen.unionAll(
                new.select("origin", "node")
            ).localCheckpoint(eager=False)
            lv = new
        max_d = len(levels) - 1  # deepest NON-EMPTY level reached
        if max_d == BTWA_D:
            n_frontier_open = (
                lv.join(edges, F.col("node") == F.col("src"))
                .select("origin", F.col("dst").alias("node"))
                .distinct()
                .join(seen, ["origin", "node"], "left_anti")
                .count()
            )
        else:
            n_frontier_open = 0  # BFS converged before the horizon
        # backward dependency sweep (over non-empty levels only — empty
        # levels contribute nothing on either side of the recurrence);
        # runs INSIDE the 1-partition guard and materializes the final
        # relation here, so no tiny-relation stage ever executes at the
        # session shuffle width after the conf is restored
            delta = levels[max_d].select(
            "origin", "node", "sigma", F.lit(0).cast("long").alias("d9")
        )
        deltas = []
        for k in range(max_d - 1, 0, -1):
            dn = delta.select(
                F.col("origin").alias("o2"),
                F.col("node").alias("wnode"),
                F.col("sigma").alias("wsigma"),
                F.col("d9").alias("wd9"),
            )
            contrib = (
                levels[k]
                .join(edges, F.col("node") == F.col("src"))
                .join(
                    dn,
                    (F.col("origin") == F.col("o2"))
                    & (F.col("dst") == F.col("wnode")),
                )
                .groupBy("origin", "node")
                .agg(
                    F.sum(
                        F.floor(
                            F.col("sigma").cast("double")
                            * (F.lit(1000000000).cast("long") + F.col("wd9"))
                            / F.col("wsigma")
                            + 0.5
                        ).cast("long")
                    )
                    .cast("long")
                    .alias("cd9")
                )
            )
            delta = (
                levels[k]
                .join(contrib, ["origin", "node"], "left")
                .select(
                    "origin",
                    "node",
                    "sigma",
                    F.coalesce(F.col("cd9"), F.lit(0)).cast("long").alias("d9"),
                )
                .localCheckpoint(eager=False)  # next round + final union
            )
            deltas.append(delta)
        alldelta = levels[max_d].select(
            "node", F.lit(0).cast("long").alias("d9")
        )
        for d in deltas:
            alldelta = alldelta.unionAll(d.select("node", "d9"))
        bc = alldelta.groupBy("node").agg(
            F.sum("d9").cast("long").alias("delta9_sum")
        )
        out = (
            nodes.join(bc, "node", "left")
            .select(
                F.col("node").alias("vec_id"),
                F.coalesce(F.col("delta9_sum"), F.lit(0))
                .cast("long")
                .alias("delta9_sum"),
                # floor-pin, not round(): the estimate lands on exact
                # .xxxxxx5 halfway doubles at clone-dense scales, where
                # engine round() implementations split (sf1 sweep
                # finding)
                (
                    F.floor(
                        F.coalesce(F.col("delta9_sum"), F.lit(0)).cast(
                            "double"
                        )
                        * n_nodes
                        / (2 * BTWA_K * 1e9)
                        * 1e6
                        + 0.5
                    )
                    / 1e6
                ).alias("bc_est"),
                F.lit(n_frontier_open).cast("long")
                .alias("n_frontier_open"),
            )
            .orderBy("vec_id")
            # materialize while the 1-partition conf is still active —
            # the caller's collect then reads checkpointed blocks
            .localCheckpoint(eager=True)
        )
    return out
