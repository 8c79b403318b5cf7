"""Graph materialization: KG vertex + edge tables from triples + components.

The north star ends with "canonicalization … and graph materialization to
Iceberg edge/vertex tables". Vertices are canonical entities — one per
connected component of the surface-form-equivalence graph
(operators/canonicalize.py) — with a deterministic canonical name: the
lexicographically-min *entity* member of the component (the reference's
analog is redirect-target unification, `wiki_redirects_index.py:21-25`:
many surface nodes, one canonical title). Edges are the linker's triples
re-pointed at canonical vertex ids.

Both are plain joins/aggregations: the components table is tiny relative to
the triple stream (≤ |KB| + |distinct surfaces|), so the edge re-pointing is
a broadcast join — no shuffle on the 10^12-row side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ed_twitter_spark.functions.hashing import TOKS_SQL, toks_col


def kg_vertices(components: DataFrame) -> DataFrame:
    """(vertex_id, canonical_name, n_members, n_entities, n_surfaces).

    vertex_id is the component label; canonical_name strips the 'e:'
    namespace off the min entity member.
    """
    is_ent = F.col("node").startswith("e:")
    return (
        components.groupBy(F.col("component").alias("vertex_id"))
        .agg(
            F.substring(F.min(F.when(is_ent, F.col("node"))), 3, 1_000_000).alias(
                "canonical_name"
            ),
            F.count(F.lit(1)).alias("n_members"),
            F.sum(is_ent.cast("long")).alias("n_entities"),
            F.sum((~is_ent).cast("long")).alias("n_surfaces"),
        )
    )


def kg_edges(triples: DataFrame, components: DataFrame) -> DataFrame:
    """(subj, pred, obj, obj_vertex, score, conv_id, turn_idx, mention_idx).

    Non-NIL triples re-pointed at their canonical vertex via the component
    label of the predicted entity node. Broadcast join: components ≪ triples.
    """
    labels = components.select(
        F.substring("node", 3, 1_000_000).alias("obj"),
        F.col("component").alias("obj_vertex"),
    ).where(F.col("node").startswith("e:"))
    return (
        triples.where(F.col("obj") != "NIL")
        .join(F.broadcast(labels), on="obj", how="left")
        .select(
            "subj",
            "pred",
            "obj",
            "obj_vertex",
            "score",
            "conv_id",
            "turn_idx",
            "mention_idx",
        )
    )


# ---------------------------------------------------------------------------
# DuckDB oracles (extend the recursive-CTE CC oracle of canonicalize.py)
# ---------------------------------------------------------------------------

_GRAPH_BASE_TEMPLATE = """
WITH m AS ({mentions_sql}),
kb AS ({kb_sql}),
triple AS (
  SELECT m.conv_id || '#' || CAST(m.turn_idx AS VARCHAR) || '#' ||
         CAST(m.mention_idx AS VARCHAR)     AS subj,
         'links_to'                         AS pred,
         COALESCE(kb1.ent_name, 'NIL')      AS obj,
         COALESCE(kb1.prior, 0.0)           AS score,
         m.conv_id, m.turn_idx, m.mention_idx
  FROM m LEFT JOIN (SELECT * FROM kb WHERE rank = 1) kb1 ON m.mention = kb1.mention
),
edges0 AS (
  SELECT DISTINCT 'm:' || mention AS src, 'e:' || obj AS dst
  FROM (SELECT m.mention, COALESCE(kb1.ent_name, 'NIL') AS obj
        FROM m LEFT JOIN (SELECT * FROM kb WHERE rank = 1) kb1
          ON m.mention = kb1.mention) t
  WHERE obj <> 'NIL'
  UNION
  SELECT DISTINCT 'e:' || a.ent_name AS src, 'e:' || b.ent_name AS dst
  FROM kb a JOIN kb b ON a.mention = b.mention AND a.rank = 1 AND b.rank = 2
),
edges AS (
  SELECT src, dst FROM edges0
  UNION
  SELECT dst AS src, src AS dst FROM edges0
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach AS (
  SELECT node, node AS r FROM nodes
  UNION
  SELECT e.src AS node, reach.r
  FROM edges e JOIN reach ON e.dst = reach.node
),
comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
"""


def _graph_base_sql() -> str:
    from ed_twitter_spark import synth
    from ed_twitter_spark.operators.mentions import mentions_sql

    sql = _GRAPH_BASE_TEMPLATE.format(
        mentions_sql=mentions_sql(), kb_sql=synth.KB_ALIAS_SQL
    ).lstrip()
    return "WITH RECURSIVE" + sql[len("WITH") :]


def kg_vertices_oracle_sql() -> str:
    return (
        _graph_base_sql()
        + """
SELECT component AS vertex_id,
       substr(MIN(CASE WHEN node LIKE 'e:%' THEN node END), 3) AS canonical_name,
       CAST(COUNT(*) AS BIGINT)                                AS n_members,
       CAST(SUM(CASE WHEN node LIKE 'e:%' THEN 1 ELSE 0 END) AS BIGINT) AS n_entities,
       CAST(SUM(CASE WHEN node LIKE 'e:%' THEN 0 ELSE 1 END) AS BIGINT) AS n_surfaces
FROM comp GROUP BY component
"""
    )


def kg_edges_oracle_sql() -> str:
    return (
        _graph_base_sql()
        + """
SELECT t.subj, t.pred, t.obj, c.component AS obj_vertex, t.score,
       t.conv_id, t.turn_idx, t.mention_idx
FROM triple t LEFT JOIN comp c ON c.node = 'e:' || t.obj
WHERE t.obj <> 'NIL'
"""
    )


# ---------------------------------------------------------------------------
# KG analytics: degree/hub stats + fixed-iteration PageRank
# ---------------------------------------------------------------------------

PAGERANK_ITERS = 3
PAGERANK_DAMPING = 0.85


def kg_degrees(edges: DataFrame) -> DataFrame:
    """Per-vertex link statistics — the hub-detection signal.

    One map-side-combined aggregation over the edge stream (the 10^12-row
    side shuffles once, on vertex_id); the output is vertex-table-sized.
    Hub vertices found here are exactly the keys the salted candidate join
    and AQE skew split must absorb — this query is the monitoring twin of
    those mitigations.
    """
    return (
        edges.where(F.col("obj_vertex").isNotNull())
        .groupBy(F.col("obj_vertex").alias("vertex_id"))
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.countDistinct("subj").alias("n_mentions"),
            F.countDistinct("conv_id").alias("n_convs"),
            F.round(F.sum("score"), 6).alias("total_score"),
        )
    )


def cooccurrence_edges(edges: DataFrame) -> DataFrame:
    """Undirected entity co-occurrence: vertices linked in one conversation.

    Distinct (conv_id, vertex) FIRST, then the within-conversation self-join:
    the join fan-out is bounded by (entities-per-conversation)², independent
    of how many times each entity is mentioned — the distinct is what keeps
    a viral conversation from exploding the pair count at scale.
    """
    cv = (
        edges.where(F.col("obj_vertex").isNotNull())
        .select("conv_id", F.col("obj_vertex").alias("v"))
        .distinct()
    )
    a, b = cv.alias("a"), cv.alias("b")
    pairs = (
        a.join(b, on="conv_id")
        .where(F.col("a.v") != F.col("b.v"))
        .select(F.col("a.v").alias("src"), F.col("b.v").alias("dst"))
        .distinct()
    )
    return pairs  # both directions present by symmetry of the != self-join


def kg_pagerank(edges: DataFrame) -> DataFrame:
    """PageRank over the co-occurrence graph, exactly PAGERANK_ITERS
    iterations (deterministic → oracle-checkable via unrolled SQL CTEs).

    Classic dataflow PageRank: each iteration is one join (rank ⋈ edges on
    src) + one aggregation (sum by dst) — rank mass flows along edges. The
    rank table is vertex-sized, so Catalyst broadcasts it into the edge
    scan at this scale; on a cluster where the vertex table outgrows the
    broadcast limit the join degrades gracefully to a shuffle co-partitioned
    on src across iterations. Every node of the co-occurrence graph has
    out-degree ≥ 1 (symmetric edges), so there is no dangling-mass term.
    """
    from ed_twitter_spark.caching import persist_tracked

    # e appears in every iteration's plan; persist so the linker chain
    # upstream derives once (released via caching.release_caches)
    e = persist_tracked(cooccurrence_edges(edges))
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = out_deg.select(F.col("src").alias("v"), "deg")
    n = nodes.count()
    d = PAGERANK_DAMPING
    rank = nodes.select("v", "deg", (F.lit(1.0) / F.lit(float(n))).alias("pr"))
    for _ in range(PAGERANK_ITERS):
        contrib = (
            rank.select(F.col("v").alias("src"), (F.col("pr") / F.col("deg")).alias("w"))
            .join(e, on="src")
            .groupBy(F.col("dst").alias("v"))
            .agg(F.sum("w").alias("mass"))
        )
        rank = nodes.join(contrib, on="v", how="left").select(
            "v",
            "deg",
            (
                F.lit((1.0 - d) / n) + F.lit(d) * F.coalesce("mass", F.lit(0.0))
            ).alias("pr"),
        )
    return rank.select(
        F.col("v").alias("vertex_id"), F.round("pr", 8).alias("pagerank")
    )


def _kg_edges_named_sql() -> str:
    """The kg_edges oracle as a named CTE block (base for the analytics)."""
    return (
        _graph_base_sql()
        + """,
kge AS MATERIALIZED (
  SELECT t.subj, t.pred, t.obj, c.component AS obj_vertex, t.score,
         t.conv_id, t.turn_idx, t.mention_idx
  FROM triple t LEFT JOIN comp c ON c.node = 'e:' || t.obj
  WHERE t.obj <> 'NIL'
)
"""
    )


def kg_degrees_oracle_sql() -> str:
    return (
        _kg_edges_named_sql()
        + """
SELECT obj_vertex                            AS vertex_id,
       CAST(COUNT(*) AS BIGINT)              AS n_links,
       CAST(COUNT(DISTINCT subj) AS BIGINT)  AS n_mentions,
       CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_convs,
       ROUND(SUM(score), 6)                  AS total_score
FROM kge WHERE obj_vertex IS NOT NULL
GROUP BY obj_vertex
"""
    )


def kg_pagerank_oracle_sql() -> str:
    d = PAGERANK_DAMPING
    iters = []
    prev = "pr0"
    for i in range(1, PAGERANK_ITERS + 1):
        iters.append(
            f"""pr{i} AS (
  SELECT n.v, n.deg,
         (1.0 - {d}) / (SELECT COUNT(*) FROM nodes2)
         + {d} * COALESCE((SELECT SUM(p.pr / p.deg)
                           FROM coedges e JOIN {prev} p ON p.v = e.src
                           WHERE e.dst = n.v), 0.0) AS pr
  FROM nodes2 n
)"""
        )
        prev = f"pr{i}"
    return (
        _kg_edges_named_sql()
        + f""",
cv AS (SELECT DISTINCT conv_id, obj_vertex AS v FROM kge WHERE obj_vertex IS NOT NULL),
coedges AS (
  SELECT DISTINCT a.v AS src, b.v AS dst
  FROM cv a JOIN cv b ON a.conv_id = b.conv_id AND a.v <> b.v
),
nodes2 AS (SELECT src AS v, CAST(COUNT(*) AS DOUBLE) AS deg FROM coedges GROUP BY src),
pr0 AS (SELECT v, deg, 1.0 / (SELECT COUNT(*) FROM nodes2) AS pr FROM nodes2),
{",".join(iters)}
SELECT v AS vertex_id, ROUND(pr, 8) AS pagerank FROM {prev}
"""
    )


def kg_cooccurrence_pmi(edges: DataFrame) -> DataFrame:
    """PMI-weighted co-occurrence pairs: the KG edge-weighting signal.

    pmi(a,b) = ln( P(a,b) / (P(a)·P(b)) ) over conversations as trials.
    Distinct (conv_id, vertex) first — identical to cooccurrence_edges —
    so a viral conversation contributes each pair once no matter how many
    mentions it has. One self-join on conv_id (bounded fan-out), one
    aggregation on the pair key; the per-vertex marginals are vertex-sized
    and broadcast back onto the pair table.
    """
    from ed_twitter_spark.caching import persist_tracked

    # cv feeds three consumers (the total, the marginals, the pair join);
    # persist so the linker chain upstream of `edges` derives once, not 3×
    # (released by the harness via caching.release_caches)
    cv = persist_tracked(
        edges.where(F.col("obj_vertex").isNotNull())
        .select("conv_id", F.col("obj_vertex").alias("v"))
        .distinct()
    )
    n_total = cv.select("conv_id").distinct().count()
    marg = cv.groupBy("v").agg(F.count(F.lit(1)).alias("n_v"))
    pairs = (
        cv.alias("a")
        .join(cv.alias("b"), on="conv_id")
        .where(F.col("a.v") < F.col("b.v"))
        .groupBy(F.col("a.v").alias("src"), F.col("b.v").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    return (
        pairs.join(F.broadcast(marg.withColumnRenamed("v", "src")), on="src")
        .withColumnRenamed("n_v", "n_a")
        .join(
            F.broadcast(
                marg.select(F.col("v").alias("dst"), F.col("n_v").alias("n_b"))
            ),
            on="dst",
        )
        .select(
            "src",
            "dst",
            "n_ab",
            F.round(
                F.log(
                    (F.col("n_ab") * F.lit(float(n_total)))
                    / (F.col("n_a") * F.col("n_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )


def kg_triangles(edges: DataFrame) -> DataFrame:
    """Global triangle census: (n_triangles, n_wedges, clustering_coeff).

    Degree-ordered orientation — each undirected edge is directed from its
    lower-(degree, id) endpoint to the higher one, then triangles are
    closed directed wedges. Orientation bounds every adjacency list in the
    oriented graph at O(√m), so the wedge join fans out O(m^1.5) total
    instead of Σ deg² — the difference between feasible and not once hub
    vertices (celebrity entities) appear. The count is orientation-
    invariant: each triangle has exactly one source under a total order.
    """
    from ed_twitter_spark.caching import persist_tracked

    # the census takes two actions (triangle count, wedge sum) plus a
    # three-way self-join — persist the edge list so the upstream linker
    # chain derives once (released via caching.release_caches)
    und = persist_tracked(cooccurrence_edges(edges))  # both directions
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    keyed = (
        und.join(deg.withColumnRenamed("src", "dst").withColumnRenamed("deg", "deg_dst"),
                 on="dst")
        .join(deg, on="src")
    )
    oriented = keyed.where(
        (F.col("deg") < F.col("deg_dst"))
        | ((F.col("deg") == F.col("deg_dst")) & (F.col("src") < F.col("dst")))
    ).select("src", "dst")
    wedge = (
        oriented.alias("uv")
        .join(
            oriented.alias("vw"),
            F.col("uv.dst") == F.col("vw.src"),
        )
        .select(
            F.col("uv.src").alias("u"),
            F.col("uv.dst").alias("v"),
            F.col("vw.dst").alias("w"),
        )
    )
    tri = wedge.join(
        oriented.select(F.col("src").alias("u"), F.col("dst").alias("w")),
        on=["u", "w"],
    )
    n_tri = tri.count()
    # open+closed wedges of the undirected graph: Σ_v deg(v)·(deg(v)−1)/2
    n_wedges = (
        deg.select(F.sum((F.col("deg") * (F.col("deg") - 1) / 2).cast("long")))
        .collect()[0][0]
        or 0
    )
    spark = edges.sparkSession
    coeff = round(3.0 * n_tri / n_wedges, 6) if n_wedges else 0.0
    return spark.createDataFrame(
        [(int(n_tri), int(n_wedges), float(coeff))],
        "n_triangles bigint, n_wedges bigint, clustering_coeff double",
    )


def kg_two_hop(edges: DataFrame) -> DataFrame:
    """Per-vertex 1-hop and ≤2-hop distinct neighbourhood sizes.

    The 2-hop set is one self-join of the co-occurrence edges on the middle
    vertex + a distinct — the standard friend-of-friend expansion. The
    distinct before counting is the scale guard: without it a hub middle
    vertex multiplies every (src, dst) pair by its degree.
    """
    e = cooccurrence_edges(edges)
    one = e.groupBy("src").agg(F.countDistinct("dst").alias("n_1hop"))
    two = (
        e.alias("x")
        .join(e.alias("y"), F.col("x.dst") == F.col("y.src"))
        .where(F.col("x.src") != F.col("y.dst"))
        .select(F.col("x.src").alias("src"), F.col("y.dst").alias("nbr"))
        .unionByName(e.select("src", F.col("dst").alias("nbr")))
        .groupBy("src")
        .agg(F.countDistinct("nbr").alias("n_within_2hop"))
    )
    return (
        one.join(two, on="src")
        .select(F.col("src").alias("vertex_id"), "n_1hop", "n_within_2hop")
    )


# MATERIALIZED matters: DuckDB 1.0 inlines CTEs by default, so every
# reference to coedges re-evaluates the whole kge base — including the
# recursive connected-components closure. The iterative oracles below
# (BFS levels, power iteration) reference it once per unrolled step, which
# without the hint turns a ~25 s oracle into an exponential many-minute one.
_COEDGES_SQL = """
cv AS MATERIALIZED (SELECT DISTINCT conv_id, obj_vertex AS v FROM kge WHERE obj_vertex IS NOT NULL),
coedges AS MATERIALIZED (
  SELECT DISTINCT a.v AS src, b.v AS dst
  FROM cv a JOIN cv b ON a.conv_id = b.conv_id AND a.v <> b.v
)"""


def kg_cooccurrence_pmi_oracle_sql() -> str:
    return (
        _kg_edges_named_sql()
        + """,
cv AS (SELECT DISTINCT conv_id, obj_vertex AS v FROM kge WHERE obj_vertex IS NOT NULL),
tot AS (SELECT CAST(COUNT(DISTINCT conv_id) AS DOUBLE) AS n FROM cv),
marg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS n_v FROM cv GROUP BY v),
pairs AS (
  SELECT a.v AS src, b.v AS dst, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM cv a JOIN cv b ON a.conv_id = b.conv_id AND a.v < b.v
  GROUP BY a.v, b.v
)
SELECT p.src, p.dst, p.n_ab,
       ROUND(LN((p.n_ab * tot.n) / (ma.n_v * mb.n_v)), 6) AS pmi
FROM pairs p
JOIN marg ma ON ma.v = p.src
JOIN marg mb ON mb.v = p.dst
CROSS JOIN tot
"""
    )


def kg_triangles_oracle_sql() -> str:
    # id-ordered orientation (src < dst): same global census as the
    # degree-ordered orientation the Spark side uses — each triangle has
    # exactly one source under any total order.
    return (
        _kg_edges_named_sql()
        + f""",
{_COEDGES_SQL.lstrip()},
elt AS (SELECT src, dst FROM coedges WHERE src < dst),
tri AS (
  SELECT COUNT(*) AS n FROM elt ab
  JOIN elt bc ON bc.src = ab.dst
  JOIN elt ac ON ac.src = ab.src AND ac.dst = bc.dst
),
deg AS (SELECT src, COUNT(*) AS d FROM coedges GROUP BY src),
wed AS (SELECT COALESCE(CAST(SUM(d * (d - 1) / 2) AS BIGINT), 0) AS n FROM deg)
SELECT CAST(tri.n AS BIGINT) AS n_triangles,
       wed.n                 AS n_wedges,
       CASE WHEN wed.n > 0 THEN ROUND(3.0 * tri.n / wed.n, 6) ELSE 0.0 END
         AS clustering_coeff
FROM tri CROSS JOIN wed
"""
    )


def kg_two_hop_oracle_sql() -> str:
    return (
        _kg_edges_named_sql()
        + f""",
{_COEDGES_SQL.lstrip()},
one AS (SELECT src, CAST(COUNT(DISTINCT dst) AS BIGINT) AS n_1hop
        FROM coedges GROUP BY src),
reach2 AS (
  SELECT x.src, y.dst AS nbr
  FROM coedges x JOIN coedges y ON x.dst = y.src
  WHERE x.src <> y.dst
  UNION
  SELECT src, dst AS nbr FROM coedges
),
two AS (SELECT src, CAST(COUNT(DISTINCT nbr) AS BIGINT) AS n_within_2hop
        FROM reach2 GROUP BY src)
SELECT o.src AS vertex_id, o.n_1hop, t.n_within_2hop
FROM one o JOIN two t ON t.src = o.src
"""
    )


def q_kg_cooccurrence_pmi(spark, sf_dir: str) -> DataFrame:
    return kg_cooccurrence_pmi(q_kg_edges(spark, sf_dir))


def q_kg_triangles(spark, sf_dir: str) -> DataFrame:
    return kg_triangles(q_kg_edges(spark, sf_dir))


def q_kg_two_hop(spark, sf_dir: str) -> DataFrame:
    return kg_two_hop(q_kg_edges(spark, sf_dir))


def q_kg_degrees(spark, sf_dir: str) -> DataFrame:
    return kg_degrees(q_kg_edges(spark, sf_dir))


def q_kg_pagerank(spark, sf_dir: str) -> DataFrame:
    return kg_pagerank(q_kg_edges(spark, sf_dir))


def _prior_triples(spark, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    from ed_twitter_spark import synth
    from ed_twitter_spark.operators.canonicalize import prior_triples

    return prior_triples(spark, sf_dir), synth.kb_alias(spark, sf_dir)


def q_kg_vertices(spark, sf_dir: str) -> DataFrame:
    from ed_twitter_spark.operators.canonicalize import components_for

    return kg_vertices(components_for(spark, sf_dir))


def q_kg_edges(spark, sf_dir: str) -> DataFrame:
    from ed_twitter_spark.operators.canonicalize import components_for

    triples, _ = _prior_triples(spark, sf_dir)
    return kg_edges(triples, components_for(spark, sf_dir))


def kg_star_query(edges: DataFrame) -> DataFrame:
    """Star expansion around the KG's hub vertex: every edge incident to
    the canonical vertex with the most incoming triples — the basic
    consumer query over a constructed KG ("show me everything we know
    about entity X", instantiated deterministically at X = the busiest
    vertex so the query is parameterless for the gate).

    Plan shape at scale: hub selection is a map-side-combined count per
    obj_vertex followed by ``orderBy(...).limit(1)`` — Spark plans that
    as TakeOrderedAndProject (per-partition top-1, then a K-row driver
    merge), so no global sort materializes; the expansion is a broadcast
    semi-join of the 1-row hub against the edge table, which Catalyst
    pushes into the scan as a filter. Tie-break on the smaller vertex id
    so both engines pick the same hub."""
    hub = (
        edges.groupBy("obj_vertex")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("obj_vertex"))
        .limit(1)
        .select("obj_vertex")
    )
    return edges.join(F.broadcast(hub), on="obj_vertex", how="inner").select(
        "subj",
        "pred",
        "obj",
        "obj_vertex",
        "score",
        "conv_id",
        "turn_idx",
        "mention_idx",
    )


def kg_star_query_oracle_sql() -> str:
    return (
        _graph_base_sql()
        + """,
edg AS (
  SELECT t.subj, t.pred, t.obj, c.component AS obj_vertex, t.score,
         t.conv_id, t.turn_idx, t.mention_idx
  FROM triple t LEFT JOIN comp c ON c.node = 'e:' || t.obj
  WHERE t.obj <> 'NIL'
),
hub AS (
  SELECT obj_vertex FROM (
    SELECT obj_vertex, COUNT(*) AS n,
           ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, obj_vertex) AS rn
    FROM edg GROUP BY obj_vertex
  ) WHERE rn = 1
)
SELECT e.subj, e.pred, e.obj, e.obj_vertex, e.score,
       e.conv_id, e.turn_idx, e.mention_idx
FROM edg e JOIN hub h ON e.obj_vertex = h.obj_vertex
"""
    )


def q_kg_star_query(spark, sf_dir: str) -> DataFrame:
    return kg_star_query(q_kg_edges(spark, sf_dir))


def kg_component_sizes(components: DataFrame) -> DataFrame:
    """Histogram of connected-component sizes — the canonicalization
    quality gauge (a giant component means over-merging; all-singletons
    means the equivalence edges are too strict).

    Two vertex-table-sized aggregations; nothing touches the edge stream.
    """
    return (
        components.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .groupBy("n_members")
        .agg(F.count(F.lit(1)).alias("n_components"))
    )


def kg_component_sizes_oracle_sql() -> str:
    return (
        _graph_base_sql()
        + """
SELECT n_members, CAST(COUNT(*) AS BIGINT) AS n_components
FROM (SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members
      FROM comp GROUP BY component) t
GROUP BY n_members
"""
    )


def q_kg_component_sizes(spark, sf_dir: str) -> DataFrame:
    from ed_twitter_spark.operators.canonicalize import components_for

    return kg_component_sizes(components_for(spark, sf_dir))


# ---------------------------------------------------------------------------
# per-vertex clustering coefficient (triangle census, vertex-resolved)
# ---------------------------------------------------------------------------


def kg_local_clustering(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle count + local clustering coefficient.

    lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) — the community-structure
    signal per entity (hub entities with low lcc are topic connectors;
    high-lcc vertices sit inside tight entity cliques). Same degree-ordered
    orientation as :func:`kg_triangles` (every adjacency list in the
    oriented graph is O(√m), so the wedge join does O(m^1.5) work, not
    Σ deg²); each closed triangle then credits all three of its vertices
    via a 3-row explode — triangle-table-sized, far smaller than the
    wedge stream.
    """
    from ed_twitter_spark.caching import persist_tracked

    und = persist_tracked(cooccurrence_edges(edges))
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    keyed = (
        und.join(
            deg.withColumnRenamed("src", "dst").withColumnRenamed("deg", "deg_dst"),
            on="dst",
        ).join(deg, on="src")
    )
    oriented = keyed.where(
        (F.col("deg") < F.col("deg_dst"))
        | ((F.col("deg") == F.col("deg_dst")) & (F.col("src") < F.col("dst")))
    ).select("src", "dst")
    wedge = (
        oriented.alias("uv")
        .join(oriented.alias("vw"), F.col("uv.dst") == F.col("vw.src"))
        .select(
            F.col("uv.src").alias("u"),
            F.col("uv.dst").alias("v"),
            F.col("vw.dst").alias("w"),
        )
    )
    tri = wedge.join(
        oriented.select(F.col("src").alias("u"), F.col("dst").alias("w")),
        on=["u", "w"],
    )
    per_v = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("vertex_id"))
        .groupBy("vertex_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.select(F.col("src").alias("vertex_id"), "deg")
        .join(per_v, on="vertex_id", how="left")
        .select(
            "vertex_id",
            F.col("deg").cast("long").alias("n_neighbors"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            F.when(
                F.col("deg") >= 2,
                F.round(
                    2.0 * F.coalesce("n_triangles", F.lit(0))
                    / (F.col("deg") * (F.col("deg") - 1)),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("local_cc"),
        )
    )


def kg_local_clustering_oracle_sql() -> str:
    # id-ordered orientation: the (u,v,w) labels differ from the Spark
    # side's degree-ordered orientation, but each triangle's *vertex set*
    # is identical, so the per-vertex union-all counts agree.
    return (
        _kg_edges_named_sql()
        + f""",
{_COEDGES_SQL.lstrip()},
elt AS (SELECT src, dst FROM coedges WHERE src < dst),
tri AS (
  SELECT ab.src AS u, ab.dst AS v, bc.dst AS w FROM elt ab
  JOIN elt bc ON bc.src = ab.dst
  JOIN elt ac ON ac.src = ab.src AND ac.dst = bc.dst
),
pv AS (
  SELECT u AS vertex_id FROM tri
  UNION ALL SELECT v FROM tri
  UNION ALL SELECT w FROM tri
),
tc AS (SELECT vertex_id, COUNT(*) AS n FROM pv GROUP BY vertex_id),
deg AS (SELECT src AS vertex_id, COUNT(*) AS d FROM coedges GROUP BY src)
SELECT d.vertex_id,
       CAST(d.d AS BIGINT)               AS n_neighbors,
       CAST(COALESCE(tc.n, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d.d >= 2
            THEN ROUND(2.0 * COALESCE(tc.n, 0) / (d.d * (d.d - 1)), 6)
            ELSE 0.0 END                 AS local_cc
FROM deg d LEFT JOIN tc ON tc.vertex_id = d.vertex_id
"""
    )


def q_kg_local_clustering(spark, sf_dir: str) -> DataFrame:
    return kg_local_clustering(q_kg_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# shared-neighbour Jaccard (link-prediction similarity)
# ---------------------------------------------------------------------------

# middle-vertex degree cap for the common-neighbour expansion: a hub
# middle (deg d) fans out C(d, 2) candidate pairs, so unbounded hubs make
# the expansion quadratic in the hub degree — the same skew law the dedup
# inverted index caps with DF_CAP. Hubs also carry the least similarity
# signal (everything co-occurs with them), so capping is both the scale
# guard and standard practice for common-neighbour features.
NBR_HUB_CAP = 64
NBR_JACCARD_MIN = 0.1


def kg_neighbor_jaccard(edges: DataFrame) -> DataFrame:
    """(src, dst, n_shared, jaccard) — entity-pair similarity by shared
    co-occurrence neighbours: J = |N(a)∩N(b)| / |N(a)∪N(b)|, the classic
    link-prediction feature for proposing missing KG edges.

    The pair expansion runs through each *middle* vertex's neighbour list
    (an inverted index on the middle, exactly the dedup posting-list
    shape): per middle m with deg ≤ NBR_HUB_CAP, emit its neighbour pairs
    — Σ_m C(deg_m, 2) bounded work — then one aggregation on the pair key
    and a vertex-sized degree join. Degrees stay uncapped (the cap only
    prunes which middles *witness* a pair), so J is exact for non-hub
    -witnessed pairs and a deterministic lower bound through hubs.
    """
    from ed_twitter_spark.caching import persist_tracked

    und = persist_tracked(cooccurrence_edges(edges))
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    mid = (
        und.join(deg.where(F.col("deg") <= NBR_HUB_CAP), on="src")
        .select(F.col("src").alias("m"), F.col("dst").alias("v"))
    )
    shared = (
        mid.alias("a")
        .join(mid.alias("b"), on="m")
        .where(F.col("a.v") < F.col("b.v"))
        .groupBy(F.col("a.v").alias("src"), F.col("b.v").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    d1 = deg.select(F.col("src").alias("src"), F.col("deg").alias("d1"))
    d2 = deg.select(F.col("src").alias("dst"), F.col("deg").alias("d2"))
    return (
        shared.join(d1, on="src")
        .join(d2, on="dst")
        .select(
            "src",
            "dst",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.round(
                F.col("n_shared") / (F.col("d1") + F.col("d2") - F.col("n_shared")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= NBR_JACCARD_MIN)
    )


def kg_neighbor_jaccard_oracle_sql() -> str:
    return (
        _kg_edges_named_sql()
        + f""",
{_COEDGES_SQL.lstrip()},
deg AS (SELECT src AS v, COUNT(*) AS d FROM coedges GROUP BY src),
mid AS (
  SELECT c.src AS m, c.dst AS v
  FROM coedges c JOIN deg ON deg.v = c.src AND deg.d <= {NBR_HUB_CAP}
),
sh AS (
  SELECT a.v AS src, b.v AS dst, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM mid a JOIN mid b ON a.m = b.m AND a.v < b.v
  GROUP BY a.v, b.v
)
SELECT sh.src, sh.dst, sh.n_shared,
       ROUND(sh.n_shared * 1.0 / (d1.d + d2.d - sh.n_shared), 6) AS jaccard
FROM sh
JOIN deg d1 ON d1.v = sh.src
JOIN deg d2 ON d2.v = sh.dst
WHERE ROUND(sh.n_shared * 1.0 / (d1.d + d2.d - sh.n_shared), 6)
      >= {NBR_JACCARD_MIN}
"""
    )


def q_kg_neighbor_jaccard(spark, sf_dir: str) -> DataFrame:
    return kg_neighbor_jaccard(q_kg_edges(spark, sf_dir))


def kg_adamic_adar(edges: DataFrame) -> DataFrame:
    """(src, dst, n_shared, adamic_adar) — Adamic–Adar link-prediction
    score: Σ_{m ∈ N(a)∩N(b)} 1/ln(deg(m)) — shared rare neighbours count
    for more than shared hubs.

    Same middle-vertex posting-list expansion (and NBR_HUB_CAP skew guard)
    as :func:`kg_neighbor_jaccard`; the middle's weight 1/ln(deg_m) rides
    the expansion row so the pair aggregation is a single weighted sum. A
    witness middle needs ≥ 2 neighbours, so ln(deg_m) is never 0.
    """
    from ed_twitter_spark.caching import persist_tracked

    und = persist_tracked(cooccurrence_edges(edges))
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    mid = (
        und.join(deg.where(F.col("deg") <= NBR_HUB_CAP), on="src")
        .select(
            F.col("src").alias("m"),
            F.col("dst").alias("v"),
            (F.lit(1.0) / F.log(F.col("deg"))).alias("w"),
        )
    )
    return (
        mid.alias("a")
        .join(mid.alias("b"), on="m")
        .where(F.col("a.v") < F.col("b.v"))
        .groupBy(F.col("a.v").alias("src"), F.col("b.v").alias("dst"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared"),
            F.round(F.sum("a.w"), 6).alias("adamic_adar"),
        )
    )


def kg_adamic_adar_oracle_sql() -> str:
    return (
        _kg_edges_named_sql()
        + f""",
{_COEDGES_SQL.lstrip()},
deg AS (SELECT src AS v, COUNT(*) AS d FROM coedges GROUP BY src),
mid AS (
  SELECT c.src AS m, c.dst AS v, 1.0 / LN(deg.d) AS w
  FROM coedges c JOIN deg ON deg.v = c.src AND deg.d <= {NBR_HUB_CAP}
)
SELECT a.v AS src, b.v AS dst,
       CAST(COUNT(*) AS BIGINT) AS n_shared,
       ROUND(SUM(a.w), 6)       AS adamic_adar
FROM mid a JOIN mid b ON a.m = b.m AND a.v < b.v
GROUP BY a.v, b.v
"""
    )


def q_kg_adamic_adar(spark, sf_dir: str) -> DataFrame:
    return kg_adamic_adar(q_kg_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# temporal provenance: per-vertex observation lifetimes
# ---------------------------------------------------------------------------


def kg_edge_lifetimes(edges: DataFrame, transcripts: DataFrame) -> DataFrame:
    """(vertex_id, first_ts_epoch, last_ts_epoch, n_obs, n_convs) — when
    each canonical entity was first/last observed in the transcript stream.

    The temporal-provenance signal an incrementally-maintained KG serves
    ("has this entity appeared this month?"). One equi-join of the edge
    stream to the turn timestamps on (conv_id, turn_idx) — both sides
    shuffle-partition on the same composite key, and on a date-partitioned
    transcript table the join prunes to the partitions the edges reference
    — then a vertex-sized min/max aggregation.
    """
    t = transcripts.select(
        "conv_id", "turn_idx", F.unix_timestamp("ts").alias("ts_epoch")
    )
    return (
        edges.where(F.col("obj_vertex").isNotNull())
        .join(t, on=["conv_id", "turn_idx"])
        .groupBy(F.col("obj_vertex").alias("vertex_id"))
        .agg(
            F.min("ts_epoch").alias("first_ts_epoch"),
            F.max("ts_epoch").alias("last_ts_epoch"),
            F.count(F.lit(1)).alias("n_obs"),
            F.countDistinct("conv_id").alias("n_convs"),
        )
    )


def kg_edge_lifetimes_oracle_sql() -> str:
    from ed_twitter_spark import synth

    return (
        _kg_edges_named_sql()
        + f""",
tr AS ({synth.TRANSCRIPTS_SQL})
SELECT k.obj_vertex                             AS vertex_id,
       CAST(MIN(epoch(tr.ts)) AS BIGINT)        AS first_ts_epoch,
       CAST(MAX(epoch(tr.ts)) AS BIGINT)        AS last_ts_epoch,
       CAST(COUNT(*) AS BIGINT)                 AS n_obs,
       CAST(COUNT(DISTINCT k.conv_id) AS BIGINT) AS n_convs
FROM kge k JOIN tr ON tr.conv_id = k.conv_id AND tr.turn_idx = k.turn_idx
WHERE k.obj_vertex IS NOT NULL
GROUP BY k.obj_vertex
"""
    )


def q_kg_edge_lifetimes(spark, sf_dir: str) -> DataFrame:
    from ed_twitter_spark import synth
    from ed_twitter_spark.operators.canonicalize import components_for

    triples, _ = _prior_triples(spark, sf_dir)
    e = kg_edges(triples, components_for(spark, sf_dir))
    return kg_edge_lifetimes(e, synth.transcripts(spark, sf_dir))


# ---------------------------------------------------------------------------
# Label propagation — community detection over the co-occurrence graph
# ---------------------------------------------------------------------------

LPA_ITERS = 3


def kg_label_propagation(edges: DataFrame) -> DataFrame:
    """(vertex_id, community) — synchronous label propagation, exactly
    LPA_ITERS iterations (deterministic → oracle-checkable via unrolled
    SQL CTEs, like kg_pagerank).

    Each vertex adopts the most frequent label among its neighbours PLUS
    its own current label (the self-vote damps the 2-cycle oscillation
    plain synchronous LPA exhibits on bipartite structures); ties break
    to the smallest label, a total order. One iteration = one join of the
    vertex-sized label table into the edge stream + one (vertex, label)
    count + one per-vertex argmax — the label table broadcasts at this
    scale and degrades to a co-partitioned shuffle join on src beyond the
    broadcast limit, the same plan shape as PageRank's rank flow.
    """
    from ed_twitter_spark.caching import persist_tracked

    e = persist_tracked(cooccurrence_edges(edges))
    labels = e.select(F.col("src").alias("v")).distinct().select(
        "v", F.col("v").alias("lbl")
    )
    for _ in range(LPA_ITERS):
        nbr = e.join(
            labels.select(F.col("v").alias("src"), "lbl"), on="src"
        ).select(F.col("dst").alias("v"), "lbl")
        votes = (
            nbr.unionByName(labels)
            .groupBy("v", "lbl")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        w = Window.partitionBy("v").orderBy(F.desc("n"), F.asc("lbl"))
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("v", "lbl")
        )
    return labels.select(
        F.col("v").alias("vertex_id"), F.col("lbl").alias("community")
    )


def _lpa_ctes_sql() -> tuple[str, str]:
    """The unrolled LPA iteration as a CTE chain over ``coedges``; returns
    (fragment, final_label_cte_name). Shared by the LPA oracle and every
    oracle that consumes the LPA partition (modularity)."""
    iters = []
    prev = "l0"
    for i in range(1, LPA_ITERS + 1):
        iters.append(
            f"""v{i} AS (
  SELECT v, lbl, COUNT(*) AS n FROM (
    SELECT e.dst AS v, l.lbl FROM coedges e JOIN {prev} l ON l.v = e.src
    UNION ALL SELECT v, lbl FROM {prev}
  ) GROUP BY v, lbl
),
l{i} AS (
  SELECT v, lbl FROM (
    SELECT v, lbl, ROW_NUMBER() OVER (PARTITION BY v ORDER BY n DESC, lbl) AS rn
    FROM v{i}
  ) WHERE rn = 1
)"""
        )
        prev = f"l{i}"
    frag = (
        "l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM coedges),\n"
        + ",".join(iters)
    )
    return frag, prev


def kg_label_propagation_oracle_sql() -> str:
    frag, prev = _lpa_ctes_sql()
    return (
        _kg_edges_named_sql()
        + f""",
{_COEDGES_SQL.lstrip()},
{frag}
SELECT v AS vertex_id, lbl AS community FROM {prev}
"""
    )


def q_kg_label_propagation(spark, sf_dir: str) -> DataFrame:
    return kg_label_propagation(q_kg_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# modularity — quality score of the LPA partition
# ---------------------------------------------------------------------------


def kg_modularity(edges: DataFrame) -> DataFrame:
    """(community, n_vertices, intra_edges, deg_sum, q_contrib) — Newman
    modularity of the LPA partition over the co-occurrence graph, one row
    per community; Q = Σ q_contrib = Σ_c [ e_c/m − (deg_c/2m)² ].

    The score that tells a KG operator whether the communities LPA found
    are real structure (Q ≫ 0) or noise (Q ≈ 0) — the standard acceptance
    gate before communities are used for partitioning or entity blocking.

    Plan shape: the label table is VERTEX-sized, so attaching communities
    to both edge endpoints is two broadcast hash joins into the edge
    stream (degrading to co-partitioned shuffle joins past the broadcast
    limit — same regime as PageRank's rank flow); intra-community edge
    counts and degree sums are map-side-combined aggregations keyed by
    community, and m is a one-row aggregate broadcast back. Nothing scans
    the edge list more than the LPA build already does. Exact-integer
    sums; the final combination is DOUBLE on both engines.

    Fixture check (two cliques {10,11,12} + {20,21}): m=4, q = 3/4−(6/8)²
    = 1/4−(2/8)² = 0.1875 each → Q = 0.375.
    """
    from ed_twitter_spark.caching import persist_tracked

    e = persist_tracked(cooccurrence_edges(edges))
    labels = persist_tracked(kg_label_propagation(edges))
    lab_src = labels.select(
        F.col("vertex_id").alias("src"), F.col("community").alias("c_src")
    )
    lab_dst = labels.select(
        F.col("vertex_id").alias("dst"), F.col("community").alias("c_dst")
    )
    m_df = e.agg((F.count(F.lit(1)) / F.lit(2.0)).alias("m"))
    # both edge directions are present, so directed intra count is 2·e_c
    intra = (
        e.join(F.broadcast(lab_src), on="src")
        .join(F.broadcast(lab_dst), on="dst")
        .where(F.col("c_src") == F.col("c_dst"))
        .groupBy(F.col("c_src").alias("community"))
        .agg((F.count(F.lit(1)) / 2).cast("bigint").alias("intra_edges"))
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    degc = (
        deg.join(F.broadcast(lab_src), on="src")
        .groupBy(F.col("c_src").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vertices"),
            F.sum("deg").cast("bigint").alias("deg_sum"),
        )
    )
    return (
        degc.join(intra, on="community", how="left")
        .na.fill({"intra_edges": 0})
        .crossJoin(F.broadcast(m_df))
        .select(
            "community",
            "n_vertices",
            "intra_edges",
            "deg_sum",
            F.round(
                F.col("intra_edges") / F.col("m")
                - F.pow(F.col("deg_sum") / (F.lit(2.0) * F.col("m")), F.lit(2.0)),
                6,
            ).alias("q_contrib"),
        )
        .orderBy("community")
    )


def kg_modularity_oracle_sql() -> str:
    frag, prev = _lpa_ctes_sql()
    return (
        _kg_edges_named_sql()
        + f""",
{_COEDGES_SQL.lstrip()},
{frag},
lab AS (SELECT v AS vertex_id, lbl AS community FROM {prev}),
mtot AS (SELECT CAST(COUNT(*) AS DOUBLE) / 2.0 AS m FROM coedges),
intra AS (
  SELECT la.community AS community, CAST(COUNT(*) / 2 AS BIGINT) AS intra_edges
  FROM coedges e
  JOIN lab la ON la.vertex_id = e.src
  JOIN lab lb ON lb.vertex_id = e.dst
  WHERE la.community = lb.community
  GROUP BY la.community
),
deg AS (SELECT src, COUNT(*) AS deg FROM coedges GROUP BY src),
degc AS (
  SELECT la.community AS community,
         CAST(COUNT(*) AS BIGINT) AS n_vertices,
         CAST(SUM(d.deg) AS BIGINT) AS deg_sum
  FROM deg d JOIN lab la ON la.vertex_id = d.src
  GROUP BY la.community
)
SELECT degc.community, n_vertices,
       COALESCE(intra.intra_edges, 0) AS intra_edges, deg_sum,
       ROUND(COALESCE(intra.intra_edges, 0) / mtot.m
             - POWER(deg_sum / (2.0 * mtot.m), 2), 6) AS q_contrib
FROM degc LEFT JOIN intra ON intra.community = degc.community CROSS JOIN mtot
ORDER BY degc.community
"""
    )


def q_kg_modularity(spark, sf_dir: str) -> DataFrame:
    return kg_modularity(q_kg_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# k-core — iterative degree pruning of the co-occurrence graph
# ---------------------------------------------------------------------------

K_CORE_K = 2
K_CORE_ROUNDS = 3


def kg_k_core(edges: DataFrame) -> DataFrame:
    """(vertex_id, degree) — vertices surviving K_CORE_ROUNDS rounds of
    degree-< K_CORE_K pruning, with their residual degree.

    Each round is one degree aggregation + two semi-join filters of the
    edge stream against the vertex-sized keep set (broadcast at this
    scale). Fixed rounds keep the plan static and the oracle expressible;
    a path of length L needs ⌈L/2⌉ rounds to fully peel, so like the
    fixed-iteration PageRank this is the bounded-round approximation of
    the converged 2-core — rounds are a knob, the oracle unrolls with it.
    """
    from ed_twitter_spark.caching import persist_tracked

    e = persist_tracked(cooccurrence_edges(edges))
    for _ in range(K_CORE_ROUNDS):
        keep = (
            e.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= K_CORE_K)
            .select("src")
        )
        e = e.join(keep, on="src").join(
            keep.select(F.col("src").alias("dst")), on="dst"
        ).select("src", "dst")
    return e.groupBy(F.col("src").alias("vertex_id")).agg(
        F.count(F.lit(1)).alias("degree")
    )


def kg_k_core_oracle_sql() -> str:
    iters = []
    prev = "coedges"
    for i in range(1, K_CORE_ROUNDS + 1):
        iters.append(
            f"""k{i} AS (SELECT src FROM {prev} GROUP BY src HAVING COUNT(*) >= {K_CORE_K}),
e{i} AS (
  SELECT e.src, e.dst FROM {prev} e
  JOIN k{i} a ON a.src = e.src
  JOIN k{i} b ON b.src = e.dst
)"""
        )
        prev = f"e{i}"
    return (
        _kg_edges_named_sql()
        + f""",
{_COEDGES_SQL.lstrip()},
{",".join(iters)}
SELECT src AS vertex_id, CAST(COUNT(*) AS BIGINT) AS degree
FROM {prev} GROUP BY src
"""
    )


def q_kg_k_core(spark, sf_dir: str) -> DataFrame:
    return kg_k_core(q_kg_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# k-truss — triangle-support edge peeling (stricter than k-core: an edge
# survives only while it closes ≥ k-2 triangles among surviving edges)
# ---------------------------------------------------------------------------

K_TRUSS_K = 3
K_TRUSS_ROUNDS = 2


def kg_ktruss(edges: DataFrame) -> DataFrame:
    """(src, dst, support) — canonical (src < dst) co-occurrence edges
    surviving K_TRUSS_ROUNDS rounds of support-< (K_TRUSS_K - 2) peeling,
    with the final-round triangle support.

    Each round recomputes edge support with two equi-joins over the
    surviving adjacency (common-neighbor counting: (u,v) closes a
    triangle through every w with (u,w) and (v,w) surviving), then drops
    under-supported edges. Like ``kg_k_core`` the round count is fixed so
    the plan is static and the oracle unrolls with it; the join fan-out
    per edge is bounded by the endpoint degrees (the same Σ deg(u)·deg(v)
    shape as the triangle census — at production scale the join would be
    oriented low-degree-first exactly as ``kg_triangles`` does)."""
    from ed_twitter_spark.caching import persist_tracked

    ce = persist_tracked(
        cooccurrence_edges(edges).where(F.col("src") < F.col("dst"))
    )
    support = None
    for _ in range(K_TRUSS_ROUNDS):
        adj = ce.select("src", "dst").union(
            ce.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        support = (
            ce.alias("e")
            .join(adj.alias("x"), F.col("e.src") == F.col("x.src"))
            .join(
                adj.alias("y"),
                (F.col("e.dst") == F.col("y.src"))
                & (F.col("x.dst") == F.col("y.dst")),
            )
            .groupBy(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
            .agg(F.count(F.lit(1)).cast("long").alias("support"))
            .where(F.col("support") >= K_TRUSS_K - 2)
        )
        ce = support.select("src", "dst")
    return support


def kg_ktruss_oracle_sql() -> str:
    iters = []
    prev = "ce0"
    for i in range(1, K_TRUSS_ROUNDS + 1):
        iters.append(
            f"""adj{i} AS (SELECT src, dst FROM {prev}
           UNION ALL SELECT dst AS src, src AS dst FROM {prev}),
s{i} AS (
  SELECT e.src, e.dst, CAST(COUNT(*) AS BIGINT) AS support
  FROM {prev} e
  JOIN adj{i} x ON x.src = e.src
  JOIN adj{i} y ON y.src = e.dst AND y.dst = x.dst
  GROUP BY e.src, e.dst
),
ce{i} AS (SELECT src, dst, support FROM s{i} WHERE support >= {K_TRUSS_K - 2})"""
        )
        prev = f"ce{i}"
    return (
        _kg_edges_named_sql()
        + f""",
{_COEDGES_SQL.lstrip()},
ce0 AS (SELECT src, dst FROM coedges WHERE src < dst),
{",".join(iters)}
SELECT src, dst, support FROM {prev}
"""
    )


def q_kg_ktruss(spark, sf_dir: str) -> DataFrame:
    return kg_ktruss(q_kg_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# degree distribution — the log2-bucket histogram that sizes everything else
# ---------------------------------------------------------------------------


def kg_degree_distribution(edges: DataFrame) -> DataFrame:
    """(bucket, n_vertices, min_degree, max_degree) — co-occurrence degree
    histogram in power-of-two buckets (bucket = ⌊log2 degree⌋).

    The first diagnostic run on any new corpus: the tail buckets are what
    choose broadcast-vs-salted joins, CELL_CAP splits and truss/core
    depths. Bucketing uses the binary-representation length rather than
    float log2 so the bucket edges are integer-exact on both engines
    (log2(2^k) can land on either side of k in floating point)."""
    deg = (
        cooccurrence_edges(edges)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    bucket = (F.length(F.expr("bin(degree)")) - 1).cast("int")
    return (
        deg.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vertices"),
            F.min("degree").cast("long").alias("min_degree"),
            F.max("degree").cast("long").alias("max_degree"),
        )
    )


def kg_degree_distribution_oracle_sql() -> str:
    return (
        _kg_edges_named_sql()
        + f""",
{_COEDGES_SQL.lstrip()},
deg AS (SELECT src, COUNT(*) AS degree FROM coedges GROUP BY src)
SELECT CAST(length(printf('%b', degree)) - 1 AS INTEGER) AS bucket,
       CAST(COUNT(*) AS BIGINT)  AS n_vertices,
       CAST(MIN(degree) AS BIGINT) AS min_degree,
       CAST(MAX(degree) AS BIGINT) AS max_degree
FROM deg GROUP BY 1
"""
    )


def q_kg_degree_distribution(spark, sf_dir: str) -> DataFrame:
    return kg_degree_distribution(q_kg_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# edge evidence — per co-occurrence edge provenance (the lineage a KG
# consumer uses to weigh or audit an edge)
# ---------------------------------------------------------------------------


def kg_edge_evidence(edges: DataFrame) -> DataFrame:
    """(src, dst, n_convs, support, first_established, last_refreshed) —
    canonical (src < dst) co-occurrence edges with their provenance:
    how many conversations assert the edge, the bounded per-conversation
    co-mention support (min of the two endpoints' mention counts, so a
    vertex spammed 10^6 times in one conversation cannot inflate the
    edge), the earliest turn_idx at which BOTH endpoints had appeared in
    some conversation (when the edge was first established) and the
    latest turn_idx that re-asserted it.

    Same distinct-first shape as ``cooccurrence_edges`` — one aggregation
    to (conv, vertex) granularity, one within-conversation self-join
    bounded by (entities-per-conversation)², one final edge-keyed
    aggregation."""
    cv = (
        edges.where(F.col("obj_vertex").isNotNull())
        .groupBy("conv_id", F.col("obj_vertex").alias("v"))
        .agg(
            F.min("turn_idx").alias("first_turn"),
            F.max("turn_idx").alias("last_turn"),
            F.count(F.lit(1)).alias("n_m"),
        )
    )
    a, b = cv.alias("a"), cv.alias("b")
    pairs = (
        a.join(b, on="conv_id")
        .where(F.col("a.v") < F.col("b.v"))
        .select(
            F.col("a.v").alias("src"),
            F.col("b.v").alias("dst"),
            F.greatest("a.first_turn", "b.first_turn").alias("est_turn"),
            F.greatest("a.last_turn", "b.last_turn").alias("ref_turn"),
            F.least("a.n_m", "b.n_m").alias("sup"),
        )
    )
    return pairs.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("long").alias("n_convs"),
        F.sum("sup").cast("long").alias("support"),
        F.min("est_turn").cast("long").alias("first_established"),
        F.max("ref_turn").cast("long").alias("last_refreshed"),
    )


def kg_edge_evidence_oracle_sql() -> str:
    return (
        _kg_edges_named_sql()
        + """,
cv AS (
  SELECT conv_id, obj_vertex AS v,
         MIN(turn_idx) AS first_turn, MAX(turn_idx) AS last_turn,
         COUNT(*) AS n_m
  FROM kge WHERE obj_vertex IS NOT NULL
  GROUP BY conv_id, obj_vertex
),
pairs AS (
  SELECT a.v AS src, b.v AS dst,
         GREATEST(a.first_turn, b.first_turn) AS est_turn,
         GREATEST(a.last_turn, b.last_turn)   AS ref_turn,
         LEAST(a.n_m, b.n_m)                  AS sup
  FROM cv a JOIN cv b ON a.conv_id = b.conv_id AND a.v < b.v
)
SELECT src, dst,
       CAST(COUNT(*) AS BIGINT)    AS n_convs,
       CAST(SUM(sup) AS BIGINT)    AS support,
       CAST(MIN(est_turn) AS BIGINT) AS first_established,
       CAST(MAX(ref_turn) AS BIGINT) AS last_refreshed
FROM pairs GROUP BY src, dst
"""
    )


def q_kg_edge_evidence(spark, sf_dir: str) -> DataFrame:
    return kg_edge_evidence(q_kg_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# N-Triples serialization — the standard KG interchange dump
# ---------------------------------------------------------------------------

NT_BASE = "http://kg.local"
NT_LABEL_PRED = "http://www.w3.org/2000/01/rdf-schema#label"


def _nt_iri_enc(c: F.Column) -> F.Column:
    """Percent-encode the reserved characters our identifiers can carry.

    '%' first (so the escape char itself round-trips), then '#' (subj ids
    are conv#turn#mention) and space. Plain ``replace`` — identical
    non-overlapping left-to-right semantics in Spark and DuckDB, unlike
    url_encode whose space handling differs between the engines.
    """
    c = F.replace(c, F.lit("%"), F.lit("%25"))
    c = F.replace(c, F.lit("#"), F.lit("%23"))
    return F.replace(c, F.lit(" "), F.lit("%20"))


def _nt_lit_esc(c: F.Column) -> F.Column:
    """N-Triples literal escaping: backslash, then quote, then LF/CR
    (STRING_LITERAL_QUOTE forbids unescaped 0x0A and 0x0D)."""
    c = F.replace(c, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit('"'), F.lit('\\"'))
    c = F.replace(c, F.lit("\n"), F.lit("\\n"))
    return F.replace(c, F.lit("\r"), F.lit("\\r"))


def kg_ntriples(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """(part, line) — the canonical KG serialized as N-Triples lines.

    Two line classes: one ``<mention> <pred> <vertex>`` triple per
    canonicalized edge, and one ``rdfs:label`` literal triple per vertex.
    Both are pure projections (the edge side never shuffles — the dump is
    a map-only pass over the 10^12-row edge stream, so a writer can stream
    it partition-by-partition straight to object storage); the union is a
    plan-level concat, not an exchange.
    """
    edge_lines = edges.where(F.col("obj_vertex").isNotNull()).select(
        F.lit("edge").alias("part"),
        F.concat(
            F.lit(f"<{NT_BASE}/mention/"),
            _nt_iri_enc(F.col("subj")),
            F.lit(f"> <{NT_BASE}/pred/"),
            _nt_iri_enc(F.col("pred")),
            F.lit(f"> <{NT_BASE}/vertex/"),
            _nt_iri_enc(F.col("obj_vertex").cast("string")),
            F.lit("> ."),
        ).alias("line"),
    )
    label_lines = vertices.select(
        F.lit("label").alias("part"),
        F.concat(
            F.lit(f"<{NT_BASE}/vertex/"),
            _nt_iri_enc(F.col("vertex_id").cast("string")),
            F.lit(f"> <{NT_LABEL_PRED}> \""),
            _nt_lit_esc(F.col("canonical_name")),
            F.lit('" .'),
        ).alias("line"),
    )
    return edge_lines.unionByName(label_lines)


def kg_ntriples_oracle_sql() -> str:
    enc = (
        "replace(replace(replace({x}, '%', '%25'), '#', '%23'), ' ', '%20')"
    )
    esc = (
        "replace(replace(replace(replace({x}, '\\', '\\\\'), '\"', '\\\"'),"
        " chr(10), '\\n'), chr(13), '\\r')"
    )
    return (
        _kg_edges_named_sql()
        + f""",
vert AS (
  SELECT component AS vertex_id,
         substr(MIN(CASE WHEN node LIKE 'e:%' THEN node END), 3) AS canonical_name
  FROM comp GROUP BY component
)
SELECT 'edge' AS part,
       '<{NT_BASE}/mention/' || {enc.format(x='subj')} ||
       '> <{NT_BASE}/pred/' || {enc.format(x='pred')} ||
       '> <{NT_BASE}/vertex/' || {enc.format(x="CAST(obj_vertex AS VARCHAR)")} ||
       '> .' AS line
FROM kge WHERE obj_vertex IS NOT NULL
UNION ALL
SELECT 'label' AS part,
       '<{NT_BASE}/vertex/' || {enc.format(x="CAST(vertex_id AS VARCHAR)")} ||
       '> <{NT_LABEL_PRED}> "' || {esc.format(x='canonical_name')} || '" .' AS line
FROM vert
"""
    )


def q_kg_ntriples(spark, sf_dir: str) -> DataFrame:
    return kg_ntriples(q_kg_edges(spark, sf_dir), q_kg_vertices(spark, sf_dir))


# ---------------------------------------------------------------------------
# multi-source BFS hop distance from the hub seeds
# ---------------------------------------------------------------------------

BFS_MAX_HOPS = 3
BFS_N_SEEDS = 3


def kg_bfs_hops(edges: DataFrame) -> DataFrame:
    """(vertex_id, hops) — min hop distance (≤ BFS_MAX_HOPS) from the
    BFS_N_SEEDS highest-degree co-occurrence vertices (ties → smaller id).

    Frontier-parallel BFS: each level is one join frontier ⋈ edges plus an
    anti-join against the visited set — the standard distributed BFS shape
    (level-synchronous, no per-vertex driver loop). Frontiers are persisted
    per level so the lineage doesn't re-expand exponentially; at cluster
    scale the edge table would be co-partitioned on src once and reused
    across all levels, which is exactly what the single persist gives.
    """
    from ed_twitter_spark.caching import persist_tracked

    e = persist_tracked(cooccurrence_edges(edges))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    seeds = (
        deg.orderBy(F.desc("deg"), F.asc("src"))
        .limit(BFS_N_SEEDS)
        .select(F.col("src").alias("v"))
    )
    visited = seeds.select("v", F.lit(0).alias("hops"))
    frontier = seeds
    for h in range(1, BFS_MAX_HOPS + 1):
        nxt = persist_tracked(
            frontier.withColumnRenamed("v", "src")
            .join(e, on="src")
            .select(F.col("dst").alias("v"))
            .distinct()
            .join(visited.select("v"), on="v", how="left_anti")
        )
        visited = visited.unionByName(nxt.select("v", F.lit(h).alias("hops")))
        frontier = nxt
    return visited.select(
        F.col("v").alias("vertex_id"), F.col("hops").cast("int").alias("hops")
    )


def kg_bfs_hops_oracle_sql() -> str:
    levels = ["d0 AS MATERIALIZED (SELECT v, 0 AS hops FROM seeds)"]
    union = ["SELECT v, hops FROM d0"]
    seen = "SELECT v FROM d0"
    for h in range(1, BFS_MAX_HOPS + 1):
        levels.append(
            f"""d{h} AS MATERIALIZED (
  SELECT DISTINCT e.dst AS v, {h} AS hops
  FROM coedges e JOIN d{h - 1} f ON f.v = e.src
  WHERE e.dst NOT IN ({seen})
)"""
        )
        union.append(f"SELECT v, hops FROM d{h}")
        seen += f" UNION ALL SELECT v FROM d{h}"
    return (
        _kg_edges_named_sql()
        + f""",
{_COEDGES_SQL.lstrip()},
deg AS (SELECT src, COUNT(*) AS deg FROM coedges GROUP BY src),
seeds AS (SELECT src AS v FROM deg ORDER BY deg DESC, src LIMIT {BFS_N_SEEDS}),
{",".join(levels)}
SELECT v AS vertex_id, CAST(hops AS INTEGER) AS hops
FROM ({" UNION ALL ".join(union)}) levels
"""
    )


def q_kg_bfs_hops(spark, sf_dir: str) -> DataFrame:
    return kg_bfs_hops(q_kg_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# eigenvector centrality (max-normalized power iteration)
# ---------------------------------------------------------------------------

EIGEN_ITERS = 3


def kg_eigencentrality(edges: DataFrame) -> DataFrame:
    """(vertex_id, centrality) — EIGEN_ITERS max-normalized power-iteration
    steps over the co-occurrence adjacency (the undirected analog of HITS:
    on a symmetric graph hubs ≡ authorities ≡ the dominant eigenvector).

    Per iteration: one edge join + one sum-by-dst aggregation, then a
    max-normalization whose scalar rides a broadcast singleton — same
    dataflow shape as :func:`kg_pagerank` but without the degree division,
    so hub mass concentrates instead of being split. Deterministic
    iteration count → oracle-checkable via unrolled SQL.
    """
    from ed_twitter_spark.caching import persist_tracked

    e = persist_tracked(cooccurrence_edges(edges))
    nodes = e.select(F.col("src").alias("v")).distinct()
    x = nodes.select("v", F.lit(1.0).alias("x"))
    for _ in range(EIGEN_ITERS):
        s = (
            x.withColumnRenamed("v", "src")
            .join(e, on="src")
            .groupBy(F.col("dst").alias("v"))
            .agg(F.sum("x").alias("s"))
        )
        mx = s.agg(F.max("s").alias("mx"))
        x = s.crossJoin(F.broadcast(mx)).select(
            "v", (F.col("s") / F.col("mx")).alias("x")
        )
    return x.select(F.col("v").alias("vertex_id"), F.round("x", 6).alias("centrality"))


def kg_eigencentrality_oracle_sql() -> str:
    prev = "x0"
    its = []
    for i in range(1, EIGEN_ITERS + 1):
        its.append(
            f"""s{i} AS MATERIALIZED (
  SELECT e.dst AS v, SUM(p.x) AS s
  FROM coedges e JOIN {prev} p ON p.v = e.src GROUP BY e.dst
),
x{i} AS MATERIALIZED (SELECT v, s / (SELECT MAX(s) FROM s{i}) AS x FROM s{i})"""
        )
        prev = f"x{i}"
    return (
        _kg_edges_named_sql()
        + f""",
{_COEDGES_SQL.lstrip()},
x0 AS MATERIALIZED (SELECT DISTINCT src AS v, 1.0 AS x FROM coedges),
{",".join(its)}
SELECT v AS vertex_id, ROUND(x, 6) AS centrality FROM {prev}
"""
    )


def q_kg_eigencentrality(spark, sf_dir: str) -> DataFrame:
    return kg_eigencentrality(q_kg_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# per-conversation entity salience
# ---------------------------------------------------------------------------


def entity_salience(edges: DataFrame) -> DataFrame:
    """(conv_id, vertex_id, n_mentions, first_turn, salience) — how central
    an entity is to one conversation: mention share discounted by how late
    it first appears (salience = share / (1 + first_turn)).

    One map-side-combined aggregation keyed (conv_id, vertex) plus a
    conversation-total join keyed conv_id — both shuffles are on the
    conversation key the transcript tables are already clustered by, so at
    scale AQE plans them as a single co-partitioned exchange.
    """
    per = (
        edges.where(F.col("obj_vertex").isNotNull())
        .groupBy("conv_id", F.col("obj_vertex").alias("vertex_id"))
        .agg(
            F.count(F.lit(1)).alias("n_mentions"),
            F.min("turn_idx").alias("first_turn"),
        )
    )
    tot = per.groupBy("conv_id").agg(F.sum("n_mentions").alias("m_tot"))
    return per.join(tot, on="conv_id").select(
        "conv_id",
        "vertex_id",
        "n_mentions",
        "first_turn",
        F.round(
            F.col("n_mentions") / F.col("m_tot") / (F.lit(1) + F.col("first_turn")),
            6,
        ).alias("salience"),
    )


def entity_salience_oracle_sql() -> str:
    return (
        _kg_edges_named_sql()
        + """,
per AS (
  SELECT conv_id, obj_vertex AS vertex_id,
         CAST(COUNT(*) AS BIGINT) AS n_mentions,
         MIN(turn_idx) AS first_turn
  FROM kge WHERE obj_vertex IS NOT NULL
  GROUP BY conv_id, obj_vertex
),
tot AS (SELECT conv_id, SUM(n_mentions) AS m_tot FROM per GROUP BY conv_id)
SELECT per.conv_id, vertex_id, n_mentions, first_turn,
       ROUND(n_mentions * 1.0 / m_tot / (1 + first_turn), 6) AS salience
FROM per JOIN tot ON tot.conv_id = per.conv_id
"""
    )


def q_entity_salience(spark, sf_dir: str) -> DataFrame:
    return entity_salience(q_kg_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# typed predicates from turn provenance
# ---------------------------------------------------------------------------


def kg_typed_edges(edges: DataFrame, transcripts: DataFrame) -> DataFrame:
    """kg_edges with the constant ``links_to`` predicate refined by turn
    provenance: ``mentioned_in_<tool>`` for tool-call turns, else
    ``mentioned_by_<role>`` — the pred-typing step that turns the flat
    link table into a typed KG edge set.

    One equi-join on (conv_id, turn_idx): both sides derive from the same
    transcript table and are clustered by conversation, so at scale this
    is a co-partitioned shuffle join (AQE), not a broadcast of the
    10^12-row turn table.
    """
    t = transcripts.select("conv_id", "turn_idx", "role", "tool")
    pred = F.when(
        F.col("tool").isNotNull(), F.concat(F.lit("mentioned_in_"), F.col("tool"))
    ).otherwise(F.concat(F.lit("mentioned_by_"), F.col("role")))
    return edges.drop("pred").join(t, on=["conv_id", "turn_idx"]).select(
        "subj",
        pred.alias("pred"),
        "obj",
        "obj_vertex",
        "conv_id",
        "turn_idx",
        "mention_idx",
    )


def kg_entity_channels(edges: DataFrame, transcripts: DataFrame) -> DataFrame:
    """(vertex_id, n_user, n_assistant, n_tool, n_total, n_preds,
    dominant_pred) — per canonical entity, WHERE it surfaces: mention
    counts by channel (user turns, assistant turns, tool calls), the
    distinct predicate count, and the single most frequent typed predicate
    (ties → lexicographically-first, a total order). The profile that
    decides whether an entity is user-vocabulary, assistant-vocabulary or
    tool-surfaced — the feature KG consumers filter on before trusting an
    edge for grounding.

    Plan shape: ONE (vertex, pred) map-side-combined count over the typed
    edge stream (the typing join is the same co-partitioned
    (conv_id, turn_idx) exchange ``kg_typed_edges`` pays), then a
    vertex-keyed rollup and a window argmax over the (vertex, pred)
    table — both orders of magnitude below the edge count. No extra scan
    of the 10^12-row side.
    """
    typed = kg_typed_edges(edges, transcripts)
    per = (
        typed.where(F.col("obj_vertex").isNotNull())
        .groupBy(F.col("obj_vertex").alias("vertex_id"), "pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    agg = per.groupBy("vertex_id").agg(
        F.sum(
            F.when(F.col("pred") == "mentioned_by_user", F.col("n")).otherwise(0)
        ).cast("bigint").alias("n_user"),
        F.sum(
            F.when(F.col("pred") == "mentioned_by_assistant", F.col("n"))
            .otherwise(0)
        ).cast("bigint").alias("n_assistant"),
        F.sum(
            F.when(F.col("pred").like("mentioned_in_%"), F.col("n")).otherwise(0)
        ).cast("bigint").alias("n_tool"),
        F.sum("n").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_preds"),
    )
    w = Window.partitionBy("vertex_id").orderBy(F.desc("n"), F.asc("pred"))
    dom = (
        per.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vertex_id", F.col("pred").alias("dominant_pred"))
    )
    return agg.join(dom, on="vertex_id")


def kg_entity_channels_oracle_sql() -> str:
    from ed_twitter_spark import synth

    return (
        _kg_edges_named_sql()
        + f""",
tr AS ({synth.TRANSCRIPTS_SQL}),
typed AS (
  SELECT CASE WHEN t.tool IS NOT NULL THEN 'mentioned_in_' || t.tool
              ELSE 'mentioned_by_' || t.role END AS pred,
         k.obj_vertex
  FROM kge k JOIN tr t ON t.conv_id = k.conv_id AND t.turn_idx = k.turn_idx
  WHERE k.obj_vertex IS NOT NULL
),
per AS (
  SELECT obj_vertex AS vertex_id, pred, COUNT(*) AS n
  FROM typed GROUP BY obj_vertex, pred
),
agg AS (
  SELECT vertex_id,
         CAST(SUM(CASE WHEN pred = 'mentioned_by_user' THEN n ELSE 0 END) AS BIGINT) AS n_user,
         CAST(SUM(CASE WHEN pred = 'mentioned_by_assistant' THEN n ELSE 0 END) AS BIGINT) AS n_assistant,
         CAST(SUM(CASE WHEN pred LIKE 'mentioned_in_%' THEN n ELSE 0 END) AS BIGINT) AS n_tool,
         CAST(SUM(n) AS BIGINT) AS n_total,
         CAST(COUNT(*) AS BIGINT) AS n_preds
  FROM per GROUP BY vertex_id
),
dom AS (
  SELECT vertex_id, pred AS dominant_pred
  FROM (SELECT vertex_id, pred,
               ROW_NUMBER() OVER (PARTITION BY vertex_id ORDER BY n DESC, pred) AS rn
        FROM per)
  WHERE rn = 1
)
SELECT agg.vertex_id, n_user, n_assistant, n_tool, n_total, n_preds, dominant_pred
FROM agg JOIN dom ON dom.vertex_id = agg.vertex_id
"""
    )


def q_kg_entity_channels(spark, sf_dir: str) -> DataFrame:
    from ed_twitter_spark import synth

    return kg_entity_channels(
        q_kg_edges(spark, sf_dir), synth.transcripts(spark, sf_dir)
    )


def kg_typed_edges_oracle_sql() -> str:
    from ed_twitter_spark import synth

    return (
        _kg_edges_named_sql()
        + f""",
tr AS ({synth.TRANSCRIPTS_SQL})
SELECT k.subj,
       CASE WHEN t.tool IS NOT NULL THEN 'mentioned_in_' || t.tool
            ELSE 'mentioned_by_' || t.role END AS pred,
       k.obj, k.obj_vertex, k.conv_id, k.turn_idx, k.mention_idx
FROM kge k JOIN tr t ON t.conv_id = k.conv_id AND t.turn_idx = k.turn_idx
"""
    )


def q_kg_typed_edges(spark, sf_dir: str) -> DataFrame:
    from ed_twitter_spark import synth

    return kg_typed_edges(q_kg_edges(spark, sf_dir), synth.transcripts(spark, sf_dir))


# ---------------------------------------------------------------------------
# deterministic random walks (node2vec-style corpus generation)
# ---------------------------------------------------------------------------

WALK_LEN = 3


def kg_random_walks(edges: DataFrame) -> DataFrame:
    """(vertex_id, v1, v2, v3) — one WALK_LEN-step walk from every vertex
    over the co-occurrence graph, with hash-greedy transitions: from the
    current vertex, the next is the neighbor minimizing
    h32(start '|' step '|' neighbor) (ties by neighbor id).

    This is the walk-corpus generator DeepWalk/node2vec feed to their
    skip-gram trainer, made DETERMINISTIC: the md5-derived key is a
    per-(start, step) pseudo-random draw both engines compute
    identically, so the walks are reproducible, oracle-checkable, and
    stable under partitioning — the property sampled walks lack. The
    step index re-keys each draw, so walks explore rather than lock onto
    one neighbor.

    Scale shape: the frontier is exactly one row per start vertex at
    every step, so a step is ONE join against the adjacency (fan-out
    bounded by the current vertex's degree) and ONE map-side-combinable
    min-struct aggregation back to vertex-sized; WALK_LEN steps = a
    fixed pipeline of bounded jobs, no driver state, no recursion. Walks
    never strand: every co-occurrence vertex has ≥1 neighbor and the
    graph is symmetric.
    """
    from ed_twitter_spark.functions.hashing import h32_col

    e = cooccurrence_edges(edges)
    acc = e.select(F.col("src").alias("start")).distinct().withColumn(
        "cur", F.col("start")
    )
    prev_cols: list[str] = []
    for step in range(1, WALK_LEN + 1):
        hv = h32_col(
            F.concat_ws(
                "|",
                F.col("start").cast("string"),
                F.lit(str(step)),
                F.col("dst").cast("string"),
            )
        )
        cand = acc.join(e, acc["cur"] == e["src"]).select(
            "start", *prev_cols, F.col("dst"), hv.alias("hv")
        )
        # one row per start going in -> the grouped min IS the walk step
        pick = cand.groupBy("start", *prev_cols).agg(
            F.min(F.struct("hv", "dst")).alias("m")
        )
        acc = pick.select(
            "start", *prev_cols, F.col("m.dst").alias(f"v{step}")
        ).withColumn("cur", F.col(f"v{step}"))
        prev_cols.append(f"v{step}")
    return acc.select(F.col("start").alias("vertex_id"), *prev_cols)


def kg_random_walks_oracle_sql() -> str:
    from ed_twitter_spark.functions.hashing import h32_sql

    def hv(step: int, dst: str) -> str:
        return h32_sql(
            f"CAST(start AS VARCHAR) || '|{step}|' || CAST({dst} AS VARCHAR)"
        )

    steps = []
    prev_v, prev_tbl = "start", "s0"
    carried = ""
    for step in range(1, WALK_LEN + 1):
        steps.append(
            f"""n{step} AS (
  SELECT {prev_tbl}.start{carried}, e.dst, {hv(step, 'e.dst')} AS hv
  FROM {prev_tbl} JOIN coedges e ON e.src = {prev_tbl}.{prev_v}
),
p{step} AS (
  SELECT start{carried}, dst AS v{step}
  FROM (SELECT *, row_number() OVER (PARTITION BY start ORDER BY hv, dst) AS rn
        FROM n{step})
  WHERE rn = 1
)"""
        )
        carried += f", v{step}"
        prev_v, prev_tbl = f"v{step}", f"p{step}"
    walk_cols = ", ".join(f"v{k}" for k in range(1, WALK_LEN + 1))
    return (
        _kg_edges_named_sql()
        + ",\n"
        + _COEDGES_SQL.lstrip()
        + ",\ns0 AS (SELECT DISTINCT src AS start FROM coedges),\n"
        + ",\n".join(steps)
        + f"\nSELECT start AS vertex_id, {walk_cols} FROM p{WALK_LEN} ORDER BY vertex_id"
    )


def q_kg_random_walks(spark, sf_dir: str) -> DataFrame:
    return kg_random_walks(q_kg_edges(spark, sf_dir))


# node2vec return / in-out parameters (Grover & Leskovec 2016 §3.2.2).
# p > 1 discourages returning, q < 1 pushes outward (DFS-like): the bias
# classes ranked by descending α = [distance-2 (1/q=2), distance-1 (1),
# return (1/p=0.5)] — the determinized walk picks the best class first.
N2V_P = 2.0
N2V_Q = 0.5


def kg_node2vec_walks(edges: DataFrame) -> DataFrame:
    """(vertex_id, v1, v2, v3) — one WALK_LEN-step SECOND-ORDER biased walk
    per vertex: node2vec's (p, q) transition bias, determinized the same
    way ``kg_random_walks`` determinizes DeepWalk's uniform draw.

    node2vec weights a candidate x from (prev → cur) by α: 1/p if
    x = prev, 1 if x is a neighbor of prev, 1/q otherwise. The
    determinization picks the best α CLASS outright (with p=2, q=0.5:
    distance-2 > distance-1 > return, i.e. maximally outward/DFS-like)
    and hash-greedily within the class via the same
    h32(start|step|dst) draw — reproducible, partitioning-stable,
    oracle-checkable. Step 1 has no prev, so it is the plain hash-greedy
    first-order step, exactly as in the uniform walk.

    Scale shape adds ONE piece to the first-order walk's per-step cost:
    classifying each candidate needs an edge-existence probe
    (prev, dst) ∈ E — a LEFT join of the Σdeg(cur)-sized candidate set
    against the adjacency on its natural key, co-partitioned with the
    very join that produced the candidates. Frontier stays one row per
    start vertex; WALK_LEN steps = a fixed pipeline of bounded jobs.
    """
    from ed_twitter_spark.functions.hashing import h32_col

    from ed_twitter_spark.caching import persist_tracked

    e = persist_tracked(cooccurrence_edges(edges))

    def hv(step: int) -> F.Column:
        return h32_col(
            F.concat_ws(
                "|",
                F.col("start").cast("string"),
                F.lit(str(step)),
                F.col("dst").cast("string"),
            )
        )

    # step 1: first-order hash-greedy (no prev to bias against)
    acc = e.select(F.col("src").alias("start")).distinct().withColumn(
        "cur", F.col("start")
    )
    cand = acc.join(e, acc["cur"] == e["src"]).select(
        "start", F.col("dst"), hv(1).alias("hv")
    )
    acc = (
        cand.groupBy("start")
        .agg(F.min(F.struct("hv", "dst")).alias("m"))
        .select("start", F.col("m.dst").alias("v1"))
        .withColumn("prev", F.col("start"))
        .withColumn("cur", F.col("v1"))
    )
    prev_cols = ["v1"]
    nbr = e.select(
        F.col("src").alias("prev"), F.col("dst").alias("dst"),
        F.lit(1).alias("is_nbr"),
    )
    for step in range(2, WALK_LEN + 1):
        cand = acc.join(e, acc["cur"] == e["src"]).select(
            "start", *prev_cols, "prev", F.col("dst"), hv(step).alias("hv")
        )
        marked = cand.join(nbr, on=["prev", "dst"], how="left")
        # α class rank (ascending = preferred): dist-2 → 0, dist-1 → 1,
        # return → 2 (the descending-α order for p=2, q=0.5)
        cls = (
            F.when(F.col("dst") == F.col("prev"), F.lit(2))
            .when(F.col("is_nbr") == 1, F.lit(1))
            .otherwise(F.lit(0))
        )
        pick = (
            marked.select(
                "start", *prev_cols, "dst", "hv", cls.alias("cls")
            )
            .groupBy("start", *prev_cols)
            .agg(F.min(F.struct("cls", "hv", "dst")).alias("m"))
        )
        new_v = f"v{step}"
        acc = (
            pick.select("start", *prev_cols, F.col("m.dst").alias(new_v))
            .withColumn("prev", F.col(prev_cols[-1]))
            .withColumn("cur", F.col(new_v))
        )
        prev_cols.append(new_v)
    return acc.select(F.col("start").alias("vertex_id"), *prev_cols)


def kg_node2vec_walks_oracle_sql() -> str:
    from ed_twitter_spark.functions.hashing import h32_sql

    def hv(step: int, dst: str) -> str:
        return h32_sql(
            f"CAST(start AS VARCHAR) || '|{step}|' || CAST({dst} AS VARCHAR)"
        )

    steps = [
        f"""n1 AS (
  SELECT s0.start, e.dst, {hv(1, 'e.dst')} AS hv
  FROM s0 JOIN coedges e ON e.src = s0.start
),
p1 AS (
  SELECT start, start AS prev, dst AS v1
  FROM (SELECT *, row_number() OVER (PARTITION BY start ORDER BY hv, dst) AS rn
        FROM n1)
  WHERE rn = 1
)"""
    ]
    prev_v, prev_tbl = "v1", "p1"
    carried = ", v1"
    for step in range(2, WALK_LEN + 1):
        steps.append(
            f"""n{step} AS (
  SELECT {prev_tbl}.start{carried}, {prev_tbl}.prev, e.dst, {hv(step, 'e.dst')} AS hv,
         CASE WHEN e.dst = {prev_tbl}.prev THEN 2
              WHEN nb.src IS NOT NULL THEN 1 ELSE 0 END AS cls
  FROM {prev_tbl}
  JOIN coedges e ON e.src = {prev_tbl}.{prev_v}
  LEFT JOIN coedges nb ON nb.src = {prev_tbl}.prev AND nb.dst = e.dst
),
p{step} AS (
  SELECT start{carried}, {prev_v} AS prev, dst AS v{step}
  FROM (SELECT *, row_number() OVER (PARTITION BY start ORDER BY cls, hv, dst) AS rn
        FROM n{step})
  WHERE rn = 1
)"""
        )
        carried += f", v{step}"
        prev_v, prev_tbl = f"v{step}", f"p{step}"
    walk_cols = ", ".join(f"v{k}" for k in range(1, WALK_LEN + 1))
    return (
        _kg_edges_named_sql()
        + ",\n"
        + _COEDGES_SQL.lstrip()
        + ",\ns0 AS (SELECT DISTINCT src AS start FROM coedges),\n"
        + ",\n".join(steps)
        + f"\nSELECT start AS vertex_id, {walk_cols} FROM p{WALK_LEN} ORDER BY vertex_id"
    )


def q_kg_node2vec_walks(spark, sf_dir: str) -> DataFrame:
    return kg_node2vec_walks(q_kg_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# personalized PageRank (random walk with restart from the hub)
# ---------------------------------------------------------------------------

PPR_ITERS = 3
PPR_DAMPING = 0.85


def kg_ppr(edges: DataFrame) -> DataFrame:
    """(vertex_id, ppr) — personalized PageRank seeded at the KG's hub
    vertex (highest co-occurrence degree, ties to the smaller id): the
    "entities related to X" ranking, i.e. random walk with restart where
    ALL teleport mass returns to the seed instead of spreading uniformly.

    Same fixed-PPR_ITERS dataflow shape as :func:`kg_pagerank` (one
    rank⋈edges join + one sum per iteration, vertex-sized rank table,
    unrolled-CTE oracle); the only differences are the point-mass init
    and the seed-only restart term. The seed pick is one driver-side
    scalar from a vertex-sized aggregate — the same budget class as
    PageRank's ``n = nodes.count()``.
    """
    from ed_twitter_spark.caching import persist_tracked

    e = persist_tracked(cooccurrence_edges(edges))
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = persist_tracked(out_deg.select(F.col("src").alias("v"), "deg"))
    seed = nodes.orderBy(F.desc("deg"), F.asc("v")).first()["v"]
    d = PPR_DAMPING
    rank = nodes.select(
        "v", "deg", F.when(F.col("v") == seed, 1.0).otherwise(0.0).alias("pr")
    )
    for _ in range(PPR_ITERS):
        contrib = (
            rank.select(F.col("v").alias("src"), (F.col("pr") / F.col("deg")).alias("w"))
            .join(e, on="src")
            .groupBy(F.col("dst").alias("v"))
            .agg(F.sum("w").alias("mass"))
        )
        rank = nodes.join(contrib, on="v", how="left").select(
            "v",
            "deg",
            (
                F.when(F.col("v") == seed, F.lit(1.0 - d)).otherwise(F.lit(0.0))
                + F.lit(d) * F.coalesce("mass", F.lit(0.0))
            ).alias("pr"),
        )
    return rank.select(F.col("v").alias("vertex_id"), F.round("pr", 8).alias("ppr"))


def kg_ppr_oracle_sql() -> str:
    d = PPR_DAMPING
    iters = []
    prev = "ppr0"
    for i in range(1, PPR_ITERS + 1):
        iters.append(
            f"""ppr{i} AS (
  SELECT n.v, n.deg,
         CASE WHEN n.v = (SELECT v FROM seed) THEN {1.0 - d} ELSE 0.0 END
         + {d} * COALESCE((SELECT SUM(p.pr / p.deg)
                           FROM coedges e JOIN {prev} p ON p.v = e.src
                           WHERE e.dst = n.v), 0.0) AS pr
  FROM nodes2 n
)"""
        )
        prev = f"ppr{i}"
    return (
        _kg_edges_named_sql()
        + f""",
cv AS (SELECT DISTINCT conv_id, obj_vertex AS v FROM kge WHERE obj_vertex IS NOT NULL),
coedges AS (
  SELECT DISTINCT a.v AS src, b.v AS dst
  FROM cv a JOIN cv b ON a.conv_id = b.conv_id AND a.v <> b.v
),
nodes2 AS (SELECT src AS v, CAST(COUNT(*) AS DOUBLE) AS deg FROM coedges GROUP BY src),
seed AS (SELECT v FROM nodes2 ORDER BY deg DESC, v LIMIT 1),
ppr0 AS (
  SELECT v, deg, CASE WHEN v = (SELECT v FROM seed) THEN 1.0 ELSE 0.0 END AS pr
  FROM nodes2
),
{",".join(iters)}
SELECT v AS vertex_id, ROUND(pr, 8) AS ppr FROM {prev}
"""
    )


def q_kg_ppr(spark, sf_dir: str) -> DataFrame:
    return kg_ppr(q_kg_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# KG growth curve — how much of the final graph exists by X% of each
# conversation (the ingest-planning signal: early-saturating graphs can
# emit edges from streaming prefixes; late-binding ones cannot)
# ---------------------------------------------------------------------------


def kg_snapshot_growth(edges: DataFrame) -> DataFrame:
    """(decile, new_edges, cum_edges) — canonical co-occurrence edges
    bucketed by the conversation-relative decile at which they were FIRST
    established (both endpoints seen; earliest across asserting
    conversations), with the running total.

    Same (conv, vertex) aggregation + bounded self-join as
    ``kg_edge_evidence``; the cumulative sum runs over ≤10 rows, so the
    final window is driver-trivial at any corpus size."""
    per_conv_max = edges.where(F.col("obj_vertex").isNotNull()).groupBy(
        "conv_id"
    ).agg(F.max("turn_idx").alias("mt"))
    cv = (
        edges.where(F.col("obj_vertex").isNotNull())
        .groupBy("conv_id", F.col("obj_vertex").alias("v"))
        .agg(F.min("turn_idx").alias("first_turn"))
    )
    a, b = cv.alias("a"), cv.alias("b")
    est = (
        a.join(b, on="conv_id")
        .where(F.col("a.v") < F.col("b.v"))
        .join(per_conv_max, on="conv_id")
        .select(
            F.col("a.v").alias("src"),
            F.col("b.v").alias("dst"),
            F.floor(
                F.lit(10)
                * F.greatest("a.first_turn", "b.first_turn")
                / (F.col("mt") + 1)
            ).cast("int").alias("decile"),
        )
        .groupBy("src", "dst")
        .agg(F.min("decile").alias("decile"))
    )
    per_decile = est.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("new_edges")
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return per_decile.select(
        "decile",
        "new_edges",
        F.sum("new_edges").over(w).cast("long").alias("cum_edges"),
    )


def kg_snapshot_growth_oracle_sql() -> str:
    return (
        _kg_edges_named_sql()
        + """,
pcm AS (SELECT conv_id, MAX(turn_idx) AS mt FROM kge
        WHERE obj_vertex IS NOT NULL GROUP BY conv_id),
cv AS (
  SELECT conv_id, obj_vertex AS v, MIN(turn_idx) AS first_turn
  FROM kge WHERE obj_vertex IS NOT NULL GROUP BY conv_id, obj_vertex
),
est AS (
  SELECT a.v AS src, b.v AS dst,
         MIN(CAST(FLOOR(10 * GREATEST(a.first_turn, b.first_turn)
                        / (m.mt + 1)) AS INTEGER)) AS decile
  FROM cv a
  JOIN cv b ON a.conv_id = b.conv_id AND a.v < b.v
  JOIN pcm m ON m.conv_id = a.conv_id
  GROUP BY a.v, b.v
),
pd AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS new_edges
       FROM est GROUP BY decile)
SELECT decile, new_edges,
       CAST(SUM(new_edges) OVER (ORDER BY decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_edges
FROM pd
"""
    )


def q_kg_snapshot_growth(spark, sf_dir: str) -> DataFrame:
    return kg_snapshot_growth(q_kg_edges(spark, sf_dir))


def kg_asof_snapshot(edges: DataFrame, transcripts: DataFrame) -> DataFrame:
    """(src, dst, est_ts_epoch) — the co-occurrence edge set AS OF the
    corpus-median linked-mention timestamp: the point-in-time temporal-KG
    query ("what did the graph look like at time T?") that a continuously
    maintained KG must serve for audits and time-travel joins.

    An edge (src < dst) is established at the earliest moment some single
    conversation had seen BOTH endpoints — min over conversations of
    max(first-seen ts of src, first-seen ts of dst) — the same bounded
    (entities-per-conversation)² self-join as ``kg_edge_evidence``; the
    cutoff is the EXACT interpolated median (Spark ``percentile`` ≡
    DuckDB ``quantile_cont``), computed in one scalar aggregate and
    broadcast back, so the only per-edge work is one comparison. At
    10^12 turns the timestamp attach is the same (conv_id, turn_idx)
    co-partitioned join the lifetimes query already pays.
    """
    t = transcripts.select(
        "conv_id", "turn_idx", F.unix_timestamp("ts").alias("ts_epoch")
    )
    lm = (
        edges.where(F.col("obj_vertex").isNotNull())
        .join(t, on=["conv_id", "turn_idx"])
    )
    cutoff = lm.agg(F.expr("percentile(ts_epoch, 0.5)").alias("cutoff"))
    cv = lm.groupBy("conv_id", F.col("obj_vertex").alias("v")).agg(
        F.min("ts_epoch").alias("first_ts")
    )
    a, b = cv.alias("a"), cv.alias("b")
    est = (
        a.join(b, on="conv_id")
        .where(F.col("a.v") < F.col("b.v"))
        .select(
            F.col("a.v").alias("src"),
            F.col("b.v").alias("dst"),
            F.greatest("a.first_ts", "b.first_ts").alias("est"),
        )
        .groupBy("src", "dst")
        .agg(F.min("est").cast("bigint").alias("est_ts_epoch"))
    )
    return (
        est.crossJoin(F.broadcast(cutoff))
        .where(F.col("est_ts_epoch") <= F.col("cutoff"))
        .select("src", "dst", "est_ts_epoch")
        .orderBy("src", "dst")
    )


def kg_asof_snapshot_oracle_sql() -> str:
    from ed_twitter_spark import synth

    return (
        _kg_edges_named_sql()
        + f""",
tr AS ({synth.TRANSCRIPTS_SQL}),
lm AS (
  SELECT k.conv_id, k.obj_vertex AS v, CAST(epoch(tr.ts) AS BIGINT) AS ts_epoch
  FROM kge k JOIN tr ON tr.conv_id = k.conv_id AND tr.turn_idx = k.turn_idx
  WHERE k.obj_vertex IS NOT NULL
),
cut AS (SELECT quantile_cont(ts_epoch, 0.5) AS cutoff FROM lm),
cv AS (
  SELECT conv_id, v, MIN(ts_epoch) AS first_ts FROM lm GROUP BY conv_id, v
),
est AS (
  SELECT a.v AS src, b.v AS dst,
         CAST(MIN(GREATEST(a.first_ts, b.first_ts)) AS BIGINT) AS est_ts_epoch
  FROM cv a JOIN cv b ON a.conv_id = b.conv_id AND a.v < b.v
  GROUP BY a.v, b.v
)
SELECT src, dst, est_ts_epoch FROM est CROSS JOIN cut
WHERE est_ts_epoch <= cutoff
ORDER BY src, dst
"""
    )


def q_kg_asof_snapshot(spark, sf_dir: str) -> DataFrame:
    from ed_twitter_spark import synth

    return kg_asof_snapshot(
        q_kg_edges(spark, sf_dir), synth.transcripts(spark, sf_dir)
    )


def kg_assortativity(edges: DataFrame) -> DataFrame:
    """One-row (m_edges, sum_deg, sum_deg_sq, sum_deg_prod, assortativity):
    Newman's degree-assortativity coefficient of the co-occurrence graph —
    do hubs link to hubs (r > 0, social-network shape) or to leaves
    (r < 0, hub-and-spoke shape)? The single scalar that tells a KG
    operator which join-skew regime the graph is in.

    Over the symmetric directed edge list with x = deg(src), y = deg(dst):
    r = (m·Σxy − Σx·Σy) / (m·Σx² − (Σx)²)  — the Pearson correlation of
    endpoint degrees; symmetry gives Σx = Σy and Σx² = Σy², collapsing the
    usual sqrt denominator. The three sums are one map-side-combined
    aggregation over the edge list after two vertex-table-sized broadcast
    joins attach endpoint degrees — the 10^12-row side shuffles zero times
    beyond the co-occurrence build itself. Sums are exact BIGINTs; the
    final combination happens in DOUBLE on both engines (identical inputs
    → identical rounded output; at extreme scale the combination is
    double-precision-limited either way, so the contract is explicit).
    A degree-regular graph has zero variance → assortativity NULL.
    """
    e = cooccurrence_edges(edges)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ex = e.join(F.broadcast(deg), on="src").join(
        F.broadcast(
            deg.select(F.col("src").alias("dst"), F.col("deg").alias("deg_dst"))
        ),
        on="dst",
    )
    agg = ex.agg(
        F.count(F.lit(1)).alias("m_edges"),
        F.sum("deg").alias("sum_deg"),
        F.sum(F.col("deg") * F.col("deg")).alias("sum_deg_sq"),
        F.sum(F.col("deg") * F.col("deg_dst")).alias("sum_deg_prod"),
    )
    m = F.col("m_edges").cast("double")
    sx = F.col("sum_deg").cast("double")
    sxx = F.col("sum_deg_sq").cast("double")
    sxy = F.col("sum_deg_prod").cast("double")
    den = m * sxx - sx * sx
    return agg.select(
        "m_edges",
        "sum_deg",
        "sum_deg_sq",
        "sum_deg_prod",
        F.when(den != 0, F.round((m * sxy - sx * sx) / den, 6)).alias(
            "assortativity"
        ),
    )


def kg_assortativity_oracle_sql() -> str:
    return (
        _kg_edges_named_sql()
        + """,
cv AS (SELECT DISTINCT conv_id, obj_vertex AS v FROM kge WHERE obj_vertex IS NOT NULL),
coedges AS (
  SELECT DISTINCT a.v AS src, b.v AS dst
  FROM cv a JOIN cv b ON a.conv_id = b.conv_id AND a.v <> b.v
),
degs AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM coedges GROUP BY src),
ex AS (
  SELECT d1.deg AS x, d2.deg AS y
  FROM coedges e JOIN degs d1 ON d1.src = e.src JOIN degs d2 ON d2.src = e.dst
),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT)    AS m_edges,
         CAST(SUM(x) AS BIGINT)      AS sum_deg,
         CAST(SUM(x * x) AS BIGINT)  AS sum_deg_sq,
         CAST(SUM(x * y) AS BIGINT)  AS sum_deg_prod
  FROM ex
)
SELECT m_edges, sum_deg, sum_deg_sq, sum_deg_prod,
       CASE WHEN CAST(m_edges AS DOUBLE) * CAST(sum_deg_sq AS DOUBLE)
                 - CAST(sum_deg AS DOUBLE) * CAST(sum_deg AS DOUBLE) <> 0
            THEN ROUND((CAST(m_edges AS DOUBLE) * CAST(sum_deg_prod AS DOUBLE)
                        - CAST(sum_deg AS DOUBLE) * CAST(sum_deg AS DOUBLE))
                       / (CAST(m_edges AS DOUBLE) * CAST(sum_deg_sq AS DOUBLE)
                          - CAST(sum_deg AS DOUBLE) * CAST(sum_deg AS DOUBLE)), 6)
       END AS assortativity
FROM sums
"""
    )


def q_kg_assortativity(spark, sf_dir: str) -> DataFrame:
    return kg_assortativity(q_kg_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# Betweenness centrality: Brandes from sampled seeds, depth-truncated
# ---------------------------------------------------------------------------

BETW_SEEDS = 4  # sampled sources (Brandes–Pich); lowest vertex ids = deterministic
BETW_DEPTH = 3  # shortest-path truncation radius, matching BFS_MAX_HOPS


def kg_betweenness(
    graph_edges: DataFrame, n_seeds: int = BETW_SEEDS, depth: int = BETW_DEPTH
) -> DataFrame:
    """(vertex_id, betweenness) — Brandes dependency accumulation from
    ``n_seeds`` sampled sources, truncated at ``depth`` hops (Brandes &
    Pich 2007 "Centrality Estimation in Large Networks": exact Brandes
    from every source is O(n·m) — the sampled + bounded variant is the
    form that survives web scale). The last classic centrality beside
    PageRank / eigenvector / k-core in the analytics battery.

    ``graph_edges`` is a generic symmetric (src, dst) edge list. NOT the
    entity co-occurrence graph: that one is complete at every synthetic
    SF (density 1.0 — measured), so every shortest path is a direct edge
    and betweenness is structurally zero there; the gate query runs over
    the provenance graph instead (see :func:`q_kg_betweenness`).

    Per source s (all seeds advance together, keyed by (s, v)):
    forward BFS computes dist and σ (shortest-path counts: σ(v) = Σ σ(u)
    over dist-(t−1) neighbours); the backward pass accumulates
    δ(v) = Σ_{w ∈ N(v), dist(w)=dist(v)+1} σ(v)/σ(w) · (1 + δ(w)), and
    betweenness(v) = Σ_s δ_s(v), v ≠ s. Each level is ONE edge join +
    ONE aggregation over a (seeds × frontier)-sized frame — K seeds bound
    every stage at K·m rows regardless of graph size. Seeds are the
    n_seeds lexicographically-lowest vertex ids, so both engines pick the
    identical sample; δ sums are rounded at 6 dp.
    """
    from ed_twitter_spark.caching import persist_tracked

    e = persist_tracked(graph_edges.select("src", "dst").distinct())
    seeds = (
        e.select(F.col("src").alias("v"))
        .distinct()
        .orderBy("v")
        .limit(n_seeds)
        .select(F.col("v").alias("s"))
    )
    # forward: levels[t] = (s, v, sigma) at dist t; known = visited set
    lvl = seeds.select("s", F.col("s").alias("v"), F.lit(1).cast("long").alias("sigma"))
    levels = [persist_tracked(lvl)]
    known = levels[0].select("s", "v")
    for _ in range(depth):
        cand = (
            levels[-1]
            .join(e, levels[-1]["v"] == e["src"])
            .select("s", F.col("dst").alias("v"), "sigma")
            .groupBy("s", "v")
            .agg(F.sum("sigma").alias("sigma"))
            .join(known, on=["s", "v"], how="left_anti")
        )
        levels.append(persist_tracked(cand.localCheckpoint()))
        known = known.union(levels[-1].select("s", "v"))
    # backward: delta[t] over levels[t], from depth-1 down to 1
    delta = levels[depth].select("s", "v", F.lit(0.0).alias("delta"))
    acc = None
    for t in range(depth - 1, 0, -1):
        nxt = delta.select(
            "s",
            F.col("v").alias("w"),
            "delta",
        ).join(
            levels[t + 1].select("s", F.col("v").alias("w"), F.col("sigma").alias("sigma_w")),
            on=["s", "w"],
        )
        contrib = (
            levels[t]
            .join(e, levels[t]["v"] == e["src"])
            .select("s", "v", "sigma", F.col("dst").alias("w"))
            .join(nxt, on=["s", "w"])
            .groupBy("s", "v")
            .agg(
                F.sum(
                    F.col("sigma").cast("double")
                    / F.col("sigma_w")
                    * (F.lit(1.0) + F.col("delta"))
                ).alias("delta")
            )
        )
        delta = (
            levels[t]
            .join(contrib, on=["s", "v"], how="left")
            .select("s", "v", F.coalesce("delta", F.lit(0.0)).alias("delta"))
        )
        acc = delta if acc is None else acc.unionByName(delta)
    if acc is None:  # depth < 2: no interior vertices
        return seeds.select(
            F.col("s").alias("vertex_id"), F.lit(0.0).alias("betweenness")
        ).limit(0)
    return (
        acc.where(F.col("v") != F.col("s"))
        .groupBy(F.col("v").alias("vertex_id"))
        .agg(F.round(F.sum("delta"), 6).alias("betweenness"))
        .where(F.col("betweenness") > 0)
    )


def _provenance_edges_sql() -> str:
    """The undirected provenance graph as a coedges-named CTE: every
    (s, o) pair of the BGP triple store, symmetrized — mention ids tie a
    vertex to its conversation, so conv and entity nodes broker real
    multi-hop shortest paths (unlike the complete co-occurrence graph)."""
    from ed_twitter_spark.operators.bgp import _trip_sql

    return (
        _trip_sql()
        + """,
und AS (SELECT DISTINCT s AS src, o AS dst FROM trip),
coedges AS MATERIALIZED (
  SELECT src, dst FROM und UNION SELECT dst AS src, src AS dst FROM und
)"""
    )


def kg_betweenness_oracle_sql(
    n_seeds: int = BETW_SEEDS, depth: int = BETW_DEPTH
) -> str:
    fwd = [
        f"""l0 AS (
  SELECT s, s AS v, CAST(1 AS BIGINT) AS sigma
  FROM (SELECT DISTINCT src AS s FROM coedges ORDER BY s LIMIT {n_seeds})
)"""
    ]
    known = "SELECT s, v FROM l0"
    for t in range(1, depth + 1):
        fwd.append(
            f"""l{t} AS MATERIALIZED (
  SELECT p.s, e.dst AS v, SUM(p.sigma) AS sigma
  FROM l{t - 1} p JOIN coedges e ON e.src = p.v
  WHERE NOT EXISTS (SELECT 1 FROM ({known}) k WHERE k.s = p.s AND k.v = e.dst)
  GROUP BY p.s, e.dst
)"""
        )
        known += f" UNION ALL SELECT s, v FROM l{t}"
    bwd = [f"d{depth} AS (SELECT s, v, 0.0 AS delta FROM l{depth})"]
    for t in range(depth - 1, 0, -1):
        bwd.append(
            f"""d{t} AS (
  SELECT l.s, l.v,
         COALESCE((
           SELECT SUM(CAST(l.sigma AS DOUBLE) / w.sigma * (1.0 + dw.delta))
           FROM coedges e
           JOIN l{t + 1} w ON w.s = l.s AND w.v = e.dst
           JOIN d{t + 1} dw ON dw.s = l.s AND dw.v = e.dst
           WHERE e.src = l.v
         ), 0.0) AS delta
  FROM l{t} l
)"""
        )
    acc = " UNION ALL ".join(
        f"SELECT s, v, delta FROM d{t}" for t in range(depth - 1, 0, -1)
    )
    return (
        _provenance_edges_sql()
        + ",\n"
        + ",\n".join(fwd)
        + ",\n"
        + ",\n".join(bwd)
        + f"""
SELECT v AS vertex_id, ROUND(SUM(delta), 6) AS betweenness
FROM ({acc}) a
WHERE v <> s
GROUP BY v
HAVING ROUND(SUM(delta), 6) > 0
"""
    )


def q_kg_betweenness(spark, sf_dir: str) -> DataFrame:
    """Gate query: Brandes over the PROVENANCE graph (the BGP triple
    store's (s, o) pairs, symmetrized) — mention → entity-vertex and
    mention → conversation edges make conv/vertex nodes real brokers."""
    from ed_twitter_spark import synth
    from ed_twitter_spark.operators import bgp as bgp_ops

    typed = kg_typed_edges(
        q_kg_edges(spark, sf_dir), synth.transcripts(spark, sf_dir)
    )
    und = (
        bgp_ops.kg_triple_store(typed)
        .select(F.col("s").alias("src"), F.col("o").alias("dst"))
        .distinct()
    )
    sym = und.union(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return kg_betweenness(sym)


# ---------------------------------------------------------------------------
# Shortest-path extraction: "how are X and Y related"
# ---------------------------------------------------------------------------


def kg_shortest_path(
    graph_edges: DataFrame,
    source: str,
    target: str,
    max_hops: int = BETW_DEPTH,
) -> DataFrame:
    """(step, node) — one shortest path from ``source`` to ``target``
    (≤ ``max_hops``), or 0 rows if unreachable. The canonical KG
    explanation query: the path names the broker nodes that connect two
    entities.

    Forward BFS records, per newly-visited node, the MINIMUM predecessor
    id (deterministic tie-break, so both engines reconstruct the same
    path); each level is one edge join + one min-aggregation +
    one anti-join, the same bounded frontier shape as kg_bfs_hops.
    Backtracking walks ≤ max_hops single-row lookups on the driver —
    O(path length) tiny jobs, not a distributed concern.
    """
    from ed_twitter_spark.caching import persist_tracked

    spark = graph_edges.sparkSession
    e = persist_tracked(graph_edges.select("src", "dst").distinct())
    visited = spark.createDataFrame(
        [(source, 0, None)], "v string, dist int, parent string"
    )
    frontier = visited.select("v")
    found_dist = None
    for t in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["v"] == e["src"])
            .select(F.col("dst").alias("nv"), F.col("src").alias("parent"))
            .groupBy("nv")
            .agg(F.min("parent").alias("parent"))
            .join(visited.select(F.col("v").alias("nv")), on="nv", how="left_anti")
            .select(F.col("nv").alias("v"), F.lit(t).alias("dist"), "parent")
        )
        nxt = persist_tracked(nxt.localCheckpoint())
        if nxt.where(F.col("v") == target).count() > 0:
            found_dist = t
        visited = visited.unionByName(nxt)
        frontier = nxt.select("v")
        if found_dist is not None:
            break
    if found_dist is None and source != target:
        return spark.createDataFrame([], "step int, node string")
    # driver backtrack: ≤ max_hops one-row filters
    path = [target]
    cur = target
    for _ in range(found_dist or 0):
        cur = visited.where(F.col("v") == cur).collect()[0]["parent"]
        path.append(cur)
    path.reverse()
    return spark.createDataFrame(
        list(enumerate(path)), "step int, node string"
    )


def q_kg_path_between(spark, sf_dir: str) -> DataFrame:
    """Gate query: the shortest path between the two busiest entity
    vertices of the provenance graph. Vertex nodes only ever touch
    mention/conv nodes there (namespaces are disjoint), so the path is
    structurally vertex–broker–vertex (distance exactly 2) and the
    min-parent rule makes the broker the MIN common neighbour — which is
    what the DuckDB twin computes."""
    from ed_twitter_spark import synth
    from ed_twitter_spark.operators import bgp as bgp_ops

    typed = kg_typed_edges(
        q_kg_edges(spark, sf_dir), synth.transcripts(spark, sf_dir)
    )
    trip = bgp_ops.kg_triple_store(typed)
    und = trip.select(F.col("s").alias("src"), F.col("o").alias("dst")).distinct()
    sym = und.union(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    top2 = [
        r["o"]
        for r in trip.where(F.col("p").startswith("mentioned_"))
        .groupBy("o")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("o"))
        .limit(2)
        .collect()
    ]
    return kg_shortest_path(sym, top2[0], top2[1])


def kg_path_between_oracle_sql() -> str:
    return (
        _provenance_edges_sql()
        + """,
tops AS (
  SELECT o, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, o) AS rn
  FROM trip WHERE p LIKE 'mentioned_%' GROUP BY o
),
s AS (SELECT o FROM tops WHERE rn = 1),
t AS (SELECT o FROM tops WHERE rn = 2),
from_s AS (SELECT dst FROM coedges WHERE src = (SELECT o FROM s)),
to_t AS (SELECT src FROM coedges WHERE dst = (SELECT o FROM t)),
broker AS (
  -- pre-filtered neighbor lists, then an intersection: the former
  -- coedges⋈coedges wedge join with scalar-subquery WHEREs made DuckDB
  -- materialize the full wedge set at sf0.1 (minutes); these CTEs keep
  -- it at two filtered scans + one degree-sized semi-join
  SELECT MIN(dst) AS b FROM from_s WHERE dst IN (SELECT src FROM to_t)
)
SELECT 0 AS step, (SELECT o FROM s) AS node
UNION ALL SELECT 1, (SELECT b FROM broker)
UNION ALL SELECT 2, (SELECT o FROM t)
"""
    )


# ---------------------------------------------------------------------------
# reciprocity of the mention-succession graph — do conversations return
# to earlier entities?
# ---------------------------------------------------------------------------


def kg_reciprocity(edges: DataFrame) -> DataFrame:
    """One row (n_events, n_edges, n_recip, reciprocity) over the
    mention-SUCCESSION graph: a directed edge u→v for every consecutive
    pair of mention events inside one conversation (events ordered by
    (turn_idx, mention_idx), vertices canonical, self-loops dropped).
    Reciprocity = |{(u,v) : (v,u) also an edge}| / |edges| — the classic
    directed-graph diagnostic (Newman §7.7): high means conversations
    circle back to earlier entities (topic return), low means they drift
    monotonically. The co-occurrence graph can't measure this (it is
    symmetric by construction); succession is the repo's one natively
    DIRECTED entity graph.

    Plan shape: the lag window is partitioned by conv_id — per-
    conversation state, the same key the transcript table is clustered
    on, so the 10^12-event stream never converges on one partition. The
    distinct edge set and its reversed self-semi-join are vertex-pair-
    table-sized (≪ events); the final row is one aggregate. Ordering tie
    break: (turn_idx, mention_idx, obj_vertex) — a total order shared
    with the DuckDB twin, so lag sequences are engine-invariant even if
    a turn emits duplicate mention indices.
    """
    ev = edges.where(F.col("obj_vertex").isNotNull()).select(
        "conv_id", "turn_idx", "mention_idx", "obj_vertex"
    )
    w = Window.partitionBy("conv_id").orderBy(
        "turn_idx", "mention_idx", "obj_vertex"
    )
    succ = (
        ev.withColumn("src", F.lag("obj_vertex").over(w))
        .where(F.col("src").isNotNull() & (F.col("src") != F.col("obj_vertex")))
        .select("src", F.col("obj_vertex").alias("dst"))
    )
    n_events = ev.agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    e = succ.distinct()
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = e.join(rev, on=["src", "dst"], how="left_semi")
    return (
        n_events.crossJoin(e.agg(F.count(F.lit(1)).cast("long").alias("n_edges")))
        .crossJoin(recip.agg(F.count(F.lit(1)).cast("long").alias("n_recip")))
        .select(
            "n_events",
            "n_edges",
            "n_recip",
            F.when(
                F.col("n_edges") > 0,
                F.round(F.col("n_recip") / F.col("n_edges"), 6),
            ).alias("reciprocity"),
        )
    )


def kg_reciprocity_oracle_sql() -> str:
    return (
        _kg_edges_named_sql()
        + """,
ev AS (
  SELECT conv_id, turn_idx, mention_idx, obj_vertex
  FROM kge WHERE obj_vertex IS NOT NULL
),
succ AS (
  SELECT src, obj_vertex AS dst FROM (
    SELECT obj_vertex,
           LAG(obj_vertex) OVER (
             PARTITION BY conv_id
             ORDER BY turn_idx, mention_idx, obj_vertex
           ) AS src
    FROM ev
  ) WHERE src IS NOT NULL AND src <> obj_vertex
),
e AS (SELECT DISTINCT src, dst FROM succ),
stats AS (
  SELECT (SELECT COUNT(*) FROM ev)  AS n_events,
         (SELECT COUNT(*) FROM e)   AS n_edges,
         (SELECT COUNT(*) FROM e a
          WHERE EXISTS (SELECT 1 FROM e b
                        WHERE b.src = a.dst AND b.dst = a.src)) AS n_recip
)
SELECT CAST(n_events AS BIGINT) AS n_events,
       CAST(n_edges AS BIGINT)  AS n_edges,
       CAST(n_recip AS BIGINT)  AS n_recip,
       CASE WHEN n_edges > 0
            THEN ROUND(n_recip * 1.0 / n_edges, 6) END AS reciprocity
FROM stats
"""
    )


def q_kg_reciprocity(spark, sf_dir: str) -> DataFrame:
    return kg_reciprocity(q_kg_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# conductance of the LPA communities — the cut-quality companion to
# modularity
# ---------------------------------------------------------------------------


def kg_conductance(edges: DataFrame) -> DataFrame:
    """(community, n_vertices, volume, cut_edges, conductance) — per LPA
    community, φ(C) = cut(C) / min(vol(C), vol(V)−vol(C)) over the
    co-occurrence graph: the fraction of a community's edge volume that
    leaks out. Modularity says whether the partition beats chance;
    conductance says which individual communities are SAFE to use as
    processing units — a low-φ community can be colocated on one
    partition / used as an entity-blocking key with bounded cross-talk,
    a high-φ one cannot. Directed counts throughout (the symmetric edge
    list double-counts cut and volume identically, so φ is unchanged).

    Plan shape: identical to kg_modularity — two vertex-table broadcast
    label attaches into the edge stream, community-keyed map-side
    aggregates, one scalar total broadcast back; exact BIGINT counts, the
    single division in double. φ is NULL for a partition with one
    community (the complement volume is zero and the measure is
    undefined).

    Fixture check (two triangles bridged by one edge, LPA-labeled as the
    two triangles): each side has vol 2·3+1, cut 1 → φ = 1/7.
    """
    from ed_twitter_spark.caching import persist_tracked

    e = persist_tracked(cooccurrence_edges(edges))
    labels = persist_tracked(kg_label_propagation(edges))
    lab_src = labels.select(
        F.col("vertex_id").alias("src"), F.col("community").alias("c_src")
    )
    lab_dst = labels.select(
        F.col("vertex_id").alias("dst"), F.col("community").alias("c_dst")
    )
    vol_tot = e.agg(F.count(F.lit(1)).cast("bigint").alias("vol_tot"))
    cut = (
        e.join(F.broadcast(lab_src), on="src")
        .join(F.broadcast(lab_dst), on="dst")
        .where(F.col("c_src") != F.col("c_dst"))
        .groupBy(F.col("c_src").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cut_edges"))
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    degc = (
        deg.join(F.broadcast(lab_src), on="src")
        .groupBy(F.col("c_src").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vertices"),
            F.sum("deg").cast("bigint").alias("volume"),
        )
    )
    comp_vol = F.col("vol_tot") - F.col("volume")
    denom = F.least(F.col("volume"), comp_vol)
    return (
        degc.join(cut, on="community", how="left")
        .na.fill({"cut_edges": 0})
        .crossJoin(F.broadcast(vol_tot))
        .select(
            "community",
            "n_vertices",
            "volume",
            "cut_edges",
            F.when(denom > 0, F.round(F.col("cut_edges") / denom, 6)).alias(
                "conductance"
            ),
        )
    )


def kg_conductance_oracle_sql() -> str:
    frag, prev = _lpa_ctes_sql()
    return (
        _kg_edges_named_sql()
        + f""",
{_COEDGES_SQL.lstrip()},
{frag},
lab AS (SELECT v AS vertex_id, lbl AS community FROM {prev}),
vtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS vol_tot FROM coedges),
cut AS (
  SELECT la.community AS community, CAST(COUNT(*) AS BIGINT) AS cut_edges
  FROM coedges e
  JOIN lab la ON la.vertex_id = e.src
  JOIN lab lb ON lb.vertex_id = e.dst
  WHERE la.community <> lb.community
  GROUP BY la.community
),
deg AS (SELECT src, COUNT(*) AS deg FROM coedges GROUP BY src),
degc AS (
  SELECT la.community AS community,
         CAST(COUNT(*) AS BIGINT) AS n_vertices,
         CAST(SUM(d.deg) AS BIGINT) AS volume
  FROM deg d JOIN lab la ON la.vertex_id = d.src
  GROUP BY la.community
)
SELECT degc.community, n_vertices, volume,
       COALESCE(cut.cut_edges, 0) AS cut_edges,
       CASE WHEN LEAST(volume, vtot.vol_tot - volume) > 0
            THEN ROUND(COALESCE(cut.cut_edges, 0) * 1.0
                       / LEAST(volume, vtot.vol_tot - volume), 6)
       END AS conductance
FROM degc LEFT JOIN cut ON cut.community = degc.community CROSS JOIN vtot
"""
    )


def q_kg_conductance(spark, sf_dir: str) -> DataFrame:
    return kg_conductance(q_kg_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# strongly connected components of the mention-succession graph
# ---------------------------------------------------------------------------

SCC_MAX_ROUNDS = 12  # FW-BW refinement rounds; drain asserted below


def _succession_edges(edges: DataFrame) -> DataFrame:
    """Distinct directed (src, dst) succession edges: u→v for every
    consecutive pair of linked-mention events inside one conversation,
    ordered by (turn_idx, mention_idx, obj_vertex), self-loops dropped —
    the same construction :func:`kg_reciprocity` documents (the repo's one
    natively DIRECTED entity graph)."""
    ev = edges.where(F.col("obj_vertex").isNotNull()).select(
        "conv_id", "turn_idx", "mention_idx", "obj_vertex"
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "mention_idx", "obj_vertex")
    return (
        ev.withColumn("src", F.lag("obj_vertex").over(w))
        .where(F.col("src").isNotNull() & (F.col("src") != F.col("obj_vertex")))
        .select("src", F.col("obj_vertex").alias("dst"))
        .distinct()
    )


def _scc_min_prop(lab: DataFrame, e: DataFrame, reverse: bool) -> DataFrame:
    """Fixpoint min-label propagation along class-internal directed edges.

    ``lab`` is (v, cls, m) with m initialized to v; ``e`` is
    (src, dst, cls). Each pass joins the label table into the edge
    stream and takes the per-destination min — after convergence
    m(v) = min vertex id in {v} ∪ {ancestors of v within its class}
    (descendants when ``reverse``). min is associative/commutative, so
    the fixpoint is partitioning-invariant; ``localCheckpoint`` per pass
    cuts the iterative lineage exactly like the k-means/PageRank loops.
    Pass count is bounded by the class diameter — at cluster scale the
    standard upgrade is pointer-doubling on the reachability relation
    (O(log d) passes), which this loop's join shape admits without
    changing the algebra.
    """
    from ed_twitter_spark.caching import persist_tracked

    a, b = ("dst", "src") if reverse else ("src", "dst")
    lab = persist_tracked(lab)
    while True:
        upd = (
            e.join(
                lab.select(F.col("v").alias(a), "cls", "m"),
                on=[a, "cls"],
            )
            .groupBy(F.col(b).alias("v"), "cls")
            .agg(F.min("m").alias("m_in"))
        )
        new = persist_tracked(
            lab.join(upd, on=["v", "cls"], how="left")
            .select(
                "v",
                "cls",
                F.least(F.col("m"), F.coalesce("m_in", "m")).alias("m"),
            )
            .localCheckpoint()
        )
        changed = (
            new.alias("n")
            .join(lab.select("v", F.col("m").alias("m_old")), on="v")
            .where(F.col("m") != F.col("m_old"))
            .count()
        )
        lab = new
        if changed == 0:
            return lab


def kg_scc(edges: DataFrame) -> DataFrame:
    """(vertex_id, scc_id) — strongly connected components of the directed
    mention-succession graph: the cycle structure reciprocity only counts.
    An SCC is a set of entities a conversation stream can circle through
    in BOTH directions — topic loops — while the condensation (SCCs
    contracted) is the DAG of irreversible topic drift; scc_id is the
    smallest member id, so labels are engine-invariant.

    Algorithm: multi-pivot forward-backward coloring (the distributed
    SCC scheme of Orzan 2004 / Slota et al. 2014, with min-vertex-id as
    the per-class pivot). Each round, within every active class:

    1. fwd(v) = min id over {v} ∪ ancestors-in-class (min-propagation);
    2. bwd(v) = the same along reversed edges;
    3. vertices with fwd(v) = bwd(v) = m are EXACTLY SCC(m) — m reaches
       v and v reaches m — and retire with scc_id = m (every class
       retires at least its pivot's SCC: mutual reachability forces
       equal (fwd, bwd) pairs, so an SCC never straddles classes);
    4. survivors refine their class key to (cls, fwd, bwd) and iterate —
       all classes proceed IN PARALLEL as rows of one DataFrame, which
       is what keeps chain-of-SCCs graphs from degenerating into
       per-SCC sequential peeling.

    Plan shape per round: two fixpoint min-propagations (edge join +
    min-aggregate per pass, vertex-table-sized state, localCheckpoint
    lineage cuts) plus one class-key refinement join — no collect, no
    per-vertex driver work; at 10^12 turns the succession-edge table is
    vertex-pair-bounded (≪ events) and every join is keyed on (v, cls).
    Rounds are capped at SCC_MAX_ROUNDS with a hard assert, so a
    non-drained run fails loudly rather than emitting a partial set.
    """
    from ed_twitter_spark.caching import persist_tracked

    e0 = persist_tracked(_succession_edges(edges))
    verts = (
        e0.select(F.col("src").alias("v"))
        .union(e0.select(F.col("dst").alias("v")))
        .distinct()
    )
    active = persist_tracked(verts.select("v", F.lit("").alias("cls")))
    act_e = persist_tracked(e0.withColumn("cls", F.lit("")))
    done_frames: list[DataFrame] = []
    for _ in range(SCC_MAX_ROUNDS):
        if active.count() == 0:
            break
        init = active.select("v", "cls", F.col("v").alias("m"))
        fwd = _scc_min_prop(init, act_e, reverse=False).withColumnRenamed("m", "fwd")
        bwd = _scc_min_prop(init, act_e, reverse=True).withColumnRenamed("m", "bwd")
        lab = persist_tracked(fwd.join(bwd, on=["v", "cls"]).localCheckpoint())
        done_frames.append(
            lab.where(F.col("fwd") == F.col("bwd")).select(
                "v", F.col("fwd").alias("scc_id")
            )
        )
        active = persist_tracked(
            lab.where(F.col("fwd") != F.col("bwd"))
            .select(
                "v",
                F.concat_ws("|", "cls", "fwd", "bwd").alias("cls"),
            )
            .localCheckpoint()
        )
        act_e = persist_tracked(
            e0.join(active.select(F.col("v").alias("src"), "cls"), on="src")
            .join(
                active.select(F.col("v").alias("dst"), F.col("cls").alias("cls2")),
                on="dst",
            )
            .where(F.col("cls") == F.col("cls2"))
            .select("src", "dst", "cls")
            .localCheckpoint()
        )
    if active.count() != 0:
        raise RuntimeError(
            f"kg_scc did not drain in {SCC_MAX_ROUNDS} FW-BW rounds"
        )
    if not done_frames:  # edge-free input: no vertices, typed empty output
        done_frames.append(verts.select("v", F.col("v").alias("scc_id")))
    out = done_frames[0]
    for f in done_frames[1:]:
        out = out.unionByName(f)
    return out.select(F.col("v").alias("vertex_id"), "scc_id").orderBy("vertex_id")


def kg_scc_oracle_sql() -> str:
    """Twin: full transitive closure via a recursive CTE, then
    scc_id(v) = min over {v} ∪ {u : u↔v}. Exponentially simpler than the
    engine's coloring rounds — and exactly what coloring must reproduce."""
    return (
        _kg_edges_named_sql()
        + """,
sev AS (
  SELECT conv_id, turn_idx, mention_idx, obj_vertex
  FROM kge WHERE obj_vertex IS NOT NULL
),
ssucc AS (
  SELECT src, obj_vertex AS dst FROM (
    SELECT obj_vertex,
           LAG(obj_vertex) OVER (
             PARTITION BY conv_id
             ORDER BY turn_idx, mention_idx, obj_vertex
           ) AS src
    FROM sev
  ) WHERE src IS NOT NULL AND src <> obj_vertex
),
se AS (SELECT DISTINCT src, dst FROM ssucc),
sverts AS (SELECT src AS v FROM se UNION SELECT dst FROM se),
sreach AS (
  SELECT src, dst FROM se
  UNION
  SELECT r.src, e.dst FROM sreach r JOIN se e ON e.src = r.dst
),
smutual AS (
  SELECT a.src AS u, a.dst AS v
  FROM sreach a JOIN sreach b ON a.src = b.dst AND a.dst = b.src
)
SELECT sverts.v AS vertex_id,
       LEAST(sverts.v, COALESCE(MIN(smutual.u), sverts.v)) AS scc_id
FROM sverts LEFT JOIN smutual ON smutual.v = sverts.v
GROUP BY sverts.v
ORDER BY vertex_id
"""
    )


def q_kg_scc(spark, sf_dir: str) -> DataFrame:
    return kg_scc(q_kg_edges(spark, sf_dir))


def kg_condensation(edges: DataFrame) -> DataFrame:
    """(scc_id, n_members, n_out, n_in) — the condensation of the
    succession graph: every SCC from :func:`kg_scc` contracted to one
    node, profiled with its member count and its distinct out-/in-edges
    to OTHER components. The contracted graph is acyclic by
    construction — the DAG of irreversible topic drift; components with
    n_out = n_in = 0 are drift-closed (every succession path that
    enters stays), which is what the synthetic corpus's dense
    conversation loops produce. Plan: the SCC label table
    (vertex-sized) attaches to the succession edge list via two
    broadcast-scale joins; cross-component pairs dedup on the
    contracted key and two small aggregates join back onto the
    per-component member counts.
    """
    labels = kg_scc(edges)
    e = _succession_edges(edges)
    members = labels.groupBy("scc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    cross = (
        e.join(
            labels.select(
                F.col("vertex_id").alias("src"), F.col("scc_id").alias("src_scc")
            ),
            on="src",
        )
        .join(
            labels.select(
                F.col("vertex_id").alias("dst"), F.col("scc_id").alias("dst_scc")
            ),
            on="dst",
        )
        .where(F.col("src_scc") != F.col("dst_scc"))
        .select("src_scc", "dst_scc")
        .distinct()
    )
    n_out = cross.groupBy(F.col("src_scc").alias("scc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_out")
    )
    n_in = cross.groupBy(F.col("dst_scc").alias("scc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_in")
    )
    return (
        members.join(n_out, on="scc_id", how="left")
        .join(n_in, on="scc_id", how="left")
        .na.fill({"n_out": 0, "n_in": 0})
        .select("scc_id", "n_members", "n_out", "n_in")
        .orderBy("scc_id")
    )


def kg_condensation_oracle_sql() -> str:
    """Twin: the closure-label block from kg_scc's oracle, re-joined onto
    the raw succession edges, contracted, and profiled per component."""
    return (
        _kg_edges_named_sql()
        + """,
sev AS (
  SELECT conv_id, turn_idx, mention_idx, obj_vertex
  FROM kge WHERE obj_vertex IS NOT NULL
),
ssucc AS (
  SELECT src, obj_vertex AS dst FROM (
    SELECT obj_vertex,
           LAG(obj_vertex) OVER (
             PARTITION BY conv_id
             ORDER BY turn_idx, mention_idx, obj_vertex
           ) AS src
    FROM sev
  ) WHERE src IS NOT NULL AND src <> obj_vertex
),
se AS (SELECT DISTINCT src, dst FROM ssucc),
sverts AS (SELECT src AS v FROM se UNION SELECT dst FROM se),
sreach AS (
  SELECT src, dst FROM se
  UNION
  SELECT r.src, e.dst FROM sreach r JOIN se e ON e.src = r.dst
),
smutual AS (
  SELECT a.src AS u, a.dst AS v
  FROM sreach a JOIN sreach b ON a.src = b.dst AND a.dst = b.src
),
slab AS (
  SELECT sverts.v AS vertex_id,
         LEAST(sverts.v, COALESCE(MIN(smutual.u), sverts.v)) AS scc_id
  FROM sverts LEFT JOIN smutual ON smutual.v = sverts.v
  GROUP BY sverts.v
),
smembers AS (
  SELECT scc_id, CAST(COUNT(*) AS BIGINT) AS n_members
  FROM slab GROUP BY scc_id
),
scross AS (
  SELECT DISTINCT ls.scc_id AS src_scc, ld.scc_id AS dst_scc
  FROM se
  JOIN slab ls ON ls.vertex_id = se.src
  JOIN slab ld ON ld.vertex_id = se.dst
  WHERE ls.scc_id <> ld.scc_id
),
souts AS (SELECT src_scc AS scc_id, CAST(COUNT(*) AS BIGINT) AS n_out
          FROM scross GROUP BY src_scc),
sins AS (SELECT dst_scc AS scc_id, CAST(COUNT(*) AS BIGINT) AS n_in
         FROM scross GROUP BY dst_scc)
SELECT m.scc_id, m.n_members,
       COALESCE(souts.n_out, 0) AS n_out,
       COALESCE(sins.n_in, 0)   AS n_in
FROM smembers m
LEFT JOIN souts ON souts.scc_id = m.scc_id
LEFT JOIN sins  ON sins.scc_id = m.scc_id
ORDER BY m.scc_id
"""
    )


def q_kg_condensation(spark, sf_dir: str) -> DataFrame:
    return kg_condensation(q_kg_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# open relation extraction — verb-slot predicates between co-mentioned pairs
# ---------------------------------------------------------------------------

REL_MAX_GAP = 4  # max token positions between the two mentions


def kg_open_relations(edges: DataFrame, transcripts: DataFrame) -> DataFrame:
    """(subj_vertex, pred, obj_vertex, n, n_convs) — open-IE-lite relation
    triples: for every ADJACENT pair of linked mentions inside one turn
    with 1..REL_MAX_GAP-1 tokens between them, the predicate is the first
    connecting token (ReVerb-style "arg1 relphrase arg2" with the
    relation phrase truncated to its head slot), and both arguments are
    the CANONICAL vertices the linker+CC already produced. This is the
    step that upgrades the KG from provenance-typed mention edges
    (kg_typed_edges: who said it) to content predicates (what the text
    asserts BETWEEN two entities); n / n_convs are the corpus-wide
    support counts a downstream triple-confidence gate thresholds on.

    Plan shape: one LEAD window per (conv_id, turn_idx) over the
    already-built linked-mention events (no new scan of the turn text
    beyond one co-partitioned (conv_id, turn_idx) join to fetch the
    token array), then a (subj, pred, obj)-keyed aggregate. Everything
    is clustered on the transcript table's own conversation key; the
    pair fan-out is ≤ mentions-per-turn, linear not quadratic, because
    only ADJACENT mention pairs form candidates (the standard open-IE
    locality assumption).
    """
    t = transcripts.select(
        "conv_id", "turn_idx", toks_col().alias("toks")
    )
    ev = edges.where(F.col("obj_vertex").isNotNull()).select(
        "conv_id", "turn_idx", "mention_idx", "obj_vertex"
    )
    w = Window.partitionBy("conv_id", "turn_idx").orderBy("mention_idx")
    pairs = (
        ev.withColumn("next_idx", F.lead("mention_idx").over(w))
        .withColumn("next_vertex", F.lead("obj_vertex").over(w))
        .where(
            F.col("next_idx").isNotNull()
            & (F.col("next_idx") - F.col("mention_idx") >= 2)
            & (F.col("next_idx") - F.col("mention_idx") <= REL_MAX_GAP)
            & (F.col("obj_vertex") != F.col("next_vertex"))
        )
    )
    rel = pairs.join(t, on=["conv_id", "turn_idx"]).select(
        F.col("obj_vertex").alias("subj_vertex"),
        # try_ variant: a mention event whose offset does not index into
        # its turn's tokens (malformed upstream row) yields NULL and is
        # dropped below, instead of aborting the job — DuckDB's toks[i]
        # is NULL-silent out of range, so the filter keeps parity
        F.try_element_at("toks", F.col("mention_idx") + 2).alias("pred"),
        F.col("next_vertex").alias("obj_vertex"),
        "conv_id",
    ).where(F.col("pred").isNotNull())
    return (
        rel.groupBy("subj_vertex", "pred", "obj_vertex")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct("conv_id").cast("bigint").alias("n_convs"),
        )
        .orderBy("subj_vertex", "pred", "obj_vertex")
    )


def kg_open_relations_oracle_sql() -> str:
    from ed_twitter_spark import synth

    return (
        _kg_edges_named_sql()
        + f""",
reltr AS (
  SELECT conv_id, turn_idx, {TOKS_SQL} AS toks
  FROM ({synth.TRANSCRIPTS_SQL})
),
relev AS (
  SELECT conv_id, turn_idx, mention_idx, obj_vertex,
         LEAD(mention_idx) OVER (PARTITION BY conv_id, turn_idx
                                 ORDER BY mention_idx) AS next_idx,
         LEAD(obj_vertex) OVER (PARTITION BY conv_id, turn_idx
                                ORDER BY mention_idx) AS next_vertex
  FROM kge WHERE obj_vertex IS NOT NULL
),
relpairs AS (
  SELECT p.obj_vertex AS subj_vertex,
         t.toks[p.mention_idx + 2] AS pred,
         p.next_vertex AS obj_vertex,
         p.conv_id
  FROM relev p
  JOIN reltr t ON t.conv_id = p.conv_id AND t.turn_idx = p.turn_idx
  WHERE p.next_idx IS NOT NULL
    AND p.next_idx - p.mention_idx BETWEEN 2 AND {REL_MAX_GAP}
    AND p.obj_vertex <> p.next_vertex
    AND t.toks[p.mention_idx + 2] IS NOT NULL
)
SELECT subj_vertex, pred, obj_vertex,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_convs
FROM relpairs
GROUP BY subj_vertex, pred, obj_vertex
ORDER BY subj_vertex, pred, obj_vertex
"""
    )


def q_kg_open_relations(spark, sf_dir: str) -> DataFrame:
    from ed_twitter_spark import synth

    return kg_open_relations(
        q_kg_edges(spark, sf_dir), synth.transcripts(spark, sf_dir)
    )


# ---------------------------------------------------------------------------
# the resolver dictionary — the pipeline's exportable entity-resolution map
# ---------------------------------------------------------------------------


def kg_resolver_dict(
    mentions: DataFrame, kb: DataFrame, components: DataFrame
) -> DataFrame:
    """(mention, n_occurrences, top_entity, top_prior, canonical) — the
    artifact a consumer of the whole pipeline actually exports: one row
    per observed mention surface with its corpus evidence count, the
    prior-argmax KB entity and its p(e|m), and the CANONICAL vertex the
    CC pass resolved the surface to (NULL for surfaces the linker never
    grounded). Serving systems load this dictionary to resolve incoming
    text without re-running the pipeline; it is also the join key set
    for federating this KG with an external one.

    Plan shape: one surface-keyed aggregate over the mention stream
    (map-side combined — the surface domain is vocabulary-bounded, tiny
    next to 10^12 mention events), then two broadcast attaches
    (rank-1 KB row, CC label). Nothing here shuffles more than once.
    """
    surf = mentions.groupBy("mention").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences")
    )
    kb1 = kb.where(F.col("rank") == 1).select(
        "mention",
        F.col("ent_name").alias("top_entity"),
        F.round("prior", 6).alias("top_prior"),
    )
    lab = components.select(
        F.col("node"), F.col("component").alias("canonical")
    )
    return (
        surf.join(F.broadcast(kb1), on="mention", how="left")
        .join(
            F.broadcast(lab),
            F.concat(F.lit("m:"), F.col("mention")) == F.col("node"),
            "left",
        )
        .select("mention", "n_occurrences", "top_entity", "top_prior", "canonical")
        .orderBy("mention")
    )


def kg_resolver_dict_oracle_sql() -> str:
    return (
        _graph_base_sql()
        + """,
surf AS (
  SELECT mention, CAST(COUNT(*) AS BIGINT) AS n_occurrences
  FROM m GROUP BY mention
)
SELECT s.mention,
       s.n_occurrences,
       kb1.ent_name            AS top_entity,
       ROUND(kb1.prior, 6)     AS top_prior,
       c.component             AS canonical
FROM surf s
LEFT JOIN (SELECT * FROM kb WHERE rank = 1) kb1 ON s.mention = kb1.mention
LEFT JOIN comp c ON c.node = 'm:' || s.mention
ORDER BY s.mention
"""
    )


def q_kg_resolver_dict(spark, sf_dir: str) -> DataFrame:
    from ed_twitter_spark import synth
    from ed_twitter_spark.operators.canonicalize import components_for
    from ed_twitter_spark.operators.mentions import detect_mentions

    m = detect_mentions(synth.transcripts(spark, sf_dir))
    return kg_resolver_dict(
        m, synth.kb_alias(spark, sf_dir), components_for(spark, sf_dir)
    )


def kg_relations_partial(edges: DataFrame, transcripts: DataFrame) -> DataFrame:
    """Per-batch partial state for the relation table: (subj_vertex,
    pred, obj_vertex, n, n_convs) over ONE conversation slice. Both
    counts are additive across slices because the LEAD window never
    crosses a conversation (a conversation lives wholly in one daily
    ingest batch), so the fold below is a plain SUM — the same
    partial-count contract as ``kb_alias_partial_counts``."""
    return kg_open_relations(edges, transcripts)


def kg_relations_fold(a: DataFrame, b: DataFrame) -> DataFrame:
    """Fold two partial relation states: SUM of both counters on the
    (subj, pred, obj) key. Associative and commutative, so daily batches
    fold in any order and the result is bit-equal to a full recompute."""
    return (
        a.unionByName(b)
        .groupBy("subj_vertex", "pred", "obj_vertex")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("n_convs").cast("bigint").alias("n_convs"),
        )
        .orderBy("subj_vertex", "pred", "obj_vertex")
    )


def q_kg_relations_incremental(spark, sf_dir: str) -> DataFrame:
    """Registry query: the relation table built INCREMENTALLY — the even
    conv-hash slice's partial state folded with the odd slice's — must
    equal the from-scratch ``kg_open_relations`` (oracle = that SQL
    verbatim, the incremental-≡-full contract every state table here
    honors). The slice key is the md5 of conv_id, the same
    arrival-batch surrogate ``plans/incremental.py`` uses."""
    from ed_twitter_spark import synth

    t = synth.transcripts(spark, sf_dir)
    e = q_kg_edges(spark, sf_dir)
    even = F.expr("conv(substring(md5(conv_id), 1, 4), 16, 10) % 2 = 0")
    parts = [
        kg_relations_partial(
            e.where(cond), t.where(cond)
        )
        for cond in (even, ~even)
    ]
    return kg_relations_fold(parts[0], parts[1])


# ---------------------------------------------------------------------------
# the one-row KG datasheet — the graph-side analog of corpus_datasheet
# ---------------------------------------------------------------------------


def kg_summary(edges: DataFrame) -> DataFrame:
    """(n_triples, n_entities, n_vertices, n_convs, n_coedges, max_degree,
    density) — the single-row overview a KG release note leads with:
    linked-triple volume, raw and canonical entity counts, asserting
    conversations, the undirected co-occurrence edge count, the hub
    degree, and graph density 2E/(V(V−1)) (directed coedge count is
    already 2E). Everything is two aggregates over tables the analytics
    suite derives anyway: one over the linked-edge stream, one over the
    vertex-pair-sized co-occurrence edge list; the scalar rows cross-join
    at the end. VoID gives the per-predicate breakdown; this is the
    headline row above it.
    """
    from ed_twitter_spark.caching import persist_tracked

    lk = edges.where(F.col("obj_vertex").isNotNull())
    base = lk.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triples"),
        F.countDistinct("obj").cast("bigint").alias("n_entities"),
        F.countDistinct("obj_vertex").cast("bigint").alias("n_vertices"),
        F.countDistinct("conv_id").cast("bigint").alias("n_convs"),
    )
    e = persist_tracked(cooccurrence_edges(edges))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    co = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_coedges")).crossJoin(
        deg.agg(F.max("deg").cast("bigint").alias("max_degree"))
    )
    return (
        base.crossJoin(F.broadcast(co))
        .select(
            "n_triples",
            "n_entities",
            "n_vertices",
            "n_convs",
            "n_coedges",
            "max_degree",
            F.when(
                F.col("n_vertices") > 1,
                F.round(
                    F.col("n_coedges")
                    / (F.col("n_vertices") * (F.col("n_vertices") - 1)),
                    6,
                ),
            ).alias("density"),
        )
    )


def kg_summary_oracle_sql() -> str:
    return (
        _kg_edges_named_sql()
        + f""",
{_COEDGES_SQL.lstrip()},
base AS (
  SELECT CAST(COUNT(*) AS BIGINT)                   AS n_triples,
         CAST(COUNT(DISTINCT obj) AS BIGINT)        AS n_entities,
         CAST(COUNT(DISTINCT obj_vertex) AS BIGINT) AS n_vertices,
         CAST(COUNT(DISTINCT conv_id) AS BIGINT)    AS n_convs
  FROM kge WHERE obj_vertex IS NOT NULL
),
deg AS (SELECT src, COUNT(*) AS deg FROM coedges GROUP BY src),
co AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM coedges) AS n_coedges,
         (SELECT CAST(MAX(deg) AS BIGINT) FROM deg)     AS max_degree
)
SELECT n_triples, n_entities, n_vertices, n_convs, n_coedges, max_degree,
       CASE WHEN n_vertices > 1
            THEN ROUND(n_coedges * 1.0 / (n_vertices * (n_vertices - 1)), 6)
       END AS density
FROM base CROSS JOIN co
"""
    )


def q_kg_summary(spark, sf_dir: str) -> DataFrame:
    return kg_summary(q_kg_edges(spark, sf_dir))
