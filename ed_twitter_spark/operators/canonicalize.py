"""Canonicalization: connected components over surface-form equivalence.

The reference's canonicalization signal is surface containment (coref,
`dataset.py:184-217`) + redirect/alias unification (`wiki_redirects_index.py`,
`ent_name_id.py:117-135`). The north rule generalizes this to connected
components over an equivalence-edge list (SURVEY.md §2.11). No GraphFrames
in this environment, so CC is **hash-min label propagation**: every node
starts labeled with itself; each round every node takes the min label among
itself and its neighbours; converges in O(graph diameter) rounds, each round
one shuffle join. Lineage is cut per round with ``localCheckpoint`` so the
plan stays flat (SURVEY.md §4 risk (e)).

At 100 TB scale: edges are symmetrized once; each round is
join(edges, labels) + groupBy-min — both shuffle on node id and AQE handles
skewed hub nodes. The loop terminates by an aggregate change count, not a
fixed iteration cap, and the label table stays (n_nodes × 2 strings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ed_twitter_spark.session import arrow_frame


# Below this many (distinct, symmetrized) edges the whole graph fits on the
# driver and a local union-find beats O(diameter) rounds of shuffle jobs by
# orders of magnitude. The equivalence graph is KB-sized (surfaces +
# entities), not stream-sized, so most deployments take the local path; the
# iterative loop is the correctness-identical big-graph fallback.
DRIVER_CC_MAX_EDGES = 2_000_000
# Edge count alone is blind to node-id width: 2M edges of pathological
# multi-KB surface strings would still land GBs on the driver. The local
# path additionally requires the summed string payload to fit this budget
# (256 MB of raw characters — a few× that after Python object overhead,
# well inside a standard driver heap).
DRIVER_CC_MAX_BYTES = 256 * 1024 * 1024


def _local_union_find(pairs: list[tuple[str, str]]) -> dict[str, str]:
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min keeps the hash-min labeling: root = min member
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    src: str = "src",
    dst: str = "dst",
    driver_max_edges: int = DRIVER_CC_MAX_EDGES,
    algorithm: str = "hashmin",
    stats: dict | None = None,
    driver_max_bytes: int = DRIVER_CC_MAX_BYTES,
) -> DataFrame:
    """(node string, component string) — component = min node id reachable.

    ``edges`` is an undirected edge list (direction ignored). Graphs up to
    ``driver_max_edges`` distinct edges AND ``driver_max_bytes`` of summed
    node-string payload run as a driver-side union-find (same labeling:
    component = min member); larger graphs run a distributed loop:

    * ``algorithm="hashmin"`` — classic min-label propagation, one shuffle
      round per hop: O(diameter) rounds. Right for the low-diameter
      surface-equivalence graphs the pipeline produces.
    * ``algorithm="star"`` — alternating large-star/small-star contraction
      (Kiveris et al., "Connected Components in MapReduce and Beyond"):
      every round re-points whole subtrees at their minimum, so rounds are
      O(log n) even on a path graph. Right for high-diameter graphs where
      hash-min would pay thousands of shuffle rounds.

    ``stats['rounds']`` records the executed round count when a dict is
    passed (the chain-graph benchmark in tests asserts star ≪ hashmin).
    """
    spark = edges.sparkSession
    # persisted: the size probe, the collect (or the loop's symmetrize)
    # all read one materialization instead of rebuilding the upstream plan.
    # Tracked so the distributed paths (which return lazily and cannot
    # unpersist inline) are released by the harness after the action.
    from ed_twitter_spark.caching import persist_tracked

    dedup = persist_tracked(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).distinct()
    )
    if dedup.limit(driver_max_edges + 1).count() <= driver_max_edges:
        # count gate passed → the byte probe is a cheap agg over ≤ max_edges
        # rows; it guards against few-but-huge node strings (VERDICT r3 §3)
        payload = dedup.agg(
            F.sum(F.length("a") + F.length("b")).alias("chars")
        ).first()["chars"]
        if payload is not None and payload > driver_max_bytes:
            if algorithm == "star":
                return _star_components(dedup, max_iter, stats)
            return _hashmin_components(dedup, max_iter, stats)
        pairs = [(r["a"], r["b"]) for r in dedup.collect()]
        dedup.unpersist()
        labels = _local_union_find(pairs)
        if stats is not None:
            stats["rounds"] = 0
        nodes = sorted(labels)
        return arrow_frame(
            spark,
            {"node": nodes, "component": [labels[n] for n in nodes]},
            "node string, component string",
        )
    if algorithm == "star":
        return _star_components(dedup, max_iter, stats)
    return _hashmin_components(dedup, max_iter, stats)


def _hashmin_components(
    dedup: DataFrame, max_iter: int, stats: dict | None = None
) -> DataFrame:
    sym = (
        dedup.select("a", "b")
        .union(dedup.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
    )
    nodes = sym.select(F.col("a").alias("node")).distinct()
    labels = nodes.withColumn("component", F.col("node")).localCheckpoint()

    rounds = 0
    for _ in range(max_iter):
        # candidate labels: own + min over neighbours
        neigh = (
            sym.join(labels, sym["b"] == labels["node"], "inner")
            .select(F.col("a").alias("node"), "component")
        )
        new_labels = (
            neigh.union(labels.select("node", "component"))
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        rounds += 1
        if changed == 0:
            break
    else:
        raise RuntimeError(f"hash-min components did not converge in {max_iter} rounds")
    if stats is not None:
        stats["rounds"] = rounds
    return labels


def _star_components(
    dedup: DataFrame, max_iter: int, stats: dict | None = None
) -> DataFrame:
    """Alternating large-star/small-star min-contraction.

    Invariant: the edge set always connects the same components as the
    input. Each round:

    * **large-star**: per node u with m = min(Γ(u) ∪ {u}), re-point every
      strictly larger neighbour at m;
    * **small-star**: per node u over its ≤ neighbours, re-point them (and
      u) at the minimum of that closed set.

    Fixpoint = every edge already points at its component minimum (a star);
    detected when small-star leaves the edge set unchanged (count + content
    check via exceptAll on the tiny contracted set).
    """
    # work on (hi, lo) ordered pairs; self-loops dropped
    e = (
        dedup.where(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    rounds = 0
    for _ in range(max_iter):
        # large-star over the symmetrized view
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.union(sym.select("u", F.col("u").alias("v")))
            .groupBy("u")
            .agg(F.min("v").alias("m"))
        )
        e1 = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over the (hi → lo) edges
        mins2 = (
            e1.union(e1.select("u", F.col("u").alias("v")))
            .groupBy("u")
            .agg(F.min("v").alias("m"))
        )
        e2 = (
            e1.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .distinct()
            .localCheckpoint()
        )
        rounds += 1
        unchanged = (
            e2.exceptAll(e).count() == 0 and e.exceptAll(e2).count() == 0
        )
        e = e2
        if unchanged:
            break
    else:
        raise RuntimeError(f"star components did not converge in {max_iter} rounds")
    if stats is not None:
        stats["rounds"] = rounds
    # at the fixpoint every (u, v) is node→component-min; roots self-label
    nodes = dedup.select(F.col("a").alias("node")).union(
        dedup.select(F.col("b").alias("node"))
    ).distinct()
    return (
        nodes.join(e.select(F.col("u").alias("node"), "v"), "node", "left")
        .select(
            "node", F.coalesce("v", F.col("node")).alias("component")
        )
    )


def surface_equivalence_edges(triples: DataFrame, kb: DataFrame) -> DataFrame:
    """Edge list for canonicalization:

    * mention surface ↔ predicted entity  (shared-surface equivalence, J6 analog)
    * top-2 alias entities of a surface   (redirect-pair analog, J3)

    Nodes are namespaced 'm:<surface>' / 'e:<entity>'.
    """
    m_e = triples.where(F.col("obj") != "NIL").select(
        F.concat(F.lit("m:"), F.col("mention")).alias("src"),
        F.concat(F.lit("e:"), F.col("obj")).alias("dst"),
    )
    a = kb.where(F.col("rank") == 1).select("mention", F.col("ent_name").alias("e1"))
    b = kb.where(F.col("rank") == 2).select("mention", F.col("ent_name").alias("e2"))
    redirects = a.join(b, "mention").select(
        F.concat(F.lit("e:"), F.col("e1")).alias("src"),
        F.concat(F.lit("e:"), F.col("e2")).alias("dst"),
    )
    return m_e.union(redirects).distinct()


CANONICALIZE_ORACLE_TEMPLATE = """
WITH m AS ({mentions_sql}),
kb AS ({kb_sql}),
triple AS (
  SELECT m.mention, COALESCE(kb1.ent_name, 'NIL') AS obj
  FROM m LEFT JOIN (SELECT * FROM kb WHERE rank = 1) kb1 ON m.mention = kb1.mention
),
edges0 AS (
  SELECT DISTINCT 'm:' || mention AS src, 'e:' || obj AS dst
  FROM triple WHERE obj <> 'NIL'
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
)
SELECT node, MIN(r) AS component FROM reach GROUP BY node
"""


def canonicalize_oracle_sql() -> str:
    from ed_twitter_spark import synth
    from ed_twitter_spark.operators.mentions import mentions_sql

    sql = CANONICALIZE_ORACLE_TEMPLATE.format(
        mentions_sql=mentions_sql(), kb_sql=synth.KB_ALIAS_SQL
    ).lstrip()
    return "WITH RECURSIVE" + sql[len("WITH") :]


def prior_triples(spark, sf_dir: str) -> DataFrame:
    """The prior-argmax triple table at sf_dir — the shared upstream of
    canonicalization, graph materialization, and evaluation. Registered in
    the opt-in derivation cache so pipeline-semantics harnesses (bench,
    production DAG) build the mention→candidate→argmax chain once."""
    from ed_twitter_spark import synth
    from ed_twitter_spark.operators import candidates as cand_ops
    from ed_twitter_spark.operators import mentions as mention_ops

    def build():
        m = mention_ops.detect_mentions(synth.transcripts(spark, sf_dir))
        kb = synth.kb_alias(spark, sf_dir)
        return cand_ops.link_prior_argmax(cand_ops.gen_candidates(m, kb))

    return synth.shared("prior_triples", sf_dir, build)


def components_for(spark, sf_dir: str) -> DataFrame:
    """CC labels over the prior-linker triples at sf_dir (shared-cached:
    canonicalize and every kg_* materialization read one label build)."""
    from ed_twitter_spark import synth

    def build():
        triples = prior_triples(spark, sf_dir)
        kb = synth.kb_alias(spark, sf_dir)
        return connected_components(surface_equivalence_edges(triples, kb))

    return synth.shared("kg_components", sf_dir, build)


def canonicalize(spark, sf_dir: str) -> DataFrame:
    """Registry query: CC labels over the prior-linker triples at sf_dir."""
    return components_for(spark, sf_dir)


# ---------------------------------------------------------------------------
# Fuzzy canonicalization: SymSpell deletion-neighborhood blocking
# ---------------------------------------------------------------------------
#
# Exact surface equivalence (above) misses near-identical spellings —
# typos, singular/plural, numbered alias variants. The classic
# KG-construction fix is alias merging under a small edit distance. An
# all-pairs levenshtein join is O(n²) and dies at KB scale; SymSpell-style
# deletion blocking is the scalable shape: two surfaces are within
# edit distance 1 iff their deletion-1 neighborhoods (the string itself +
# every single-character deletion) intersect. Each surface fans out to
# len+1 variants (bounded: surfaces are short), candidate pairs come from
# ONE equi-join on the variant key, and a cheap levenshtein post-filter
# removes the false candidates the intersection admits (e.g. transposed
# pairs like "ab"/"ba" share deletion variants but are distance 2).
# At 10⁹ surfaces this is Σ|surface| join rows instead of n² — the same
# bucketed-not-all-pairs discipline as the dedup ladder.


def fuzzy_alias_pairs(surfaces: DataFrame) -> DataFrame:
    """(src, dst) with src < dst and levenshtein(src, dst) <= 1, from a
    (surface string) DataFrame. Deletion-blocked, never all-pairs."""
    s = F.col("surface")
    deletions = F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda i: F.concat(
            F.substring(s, F.lit(1), i - F.lit(1)),
            F.substring(s, i + F.lit(1), F.length(s)),
        ),
    )
    variants = surfaces.select(
        "surface",
        F.explode(F.array_union(F.array(s), deletions)).alias("variant"),
    )
    a = variants.select(F.col("surface").alias("src"), "variant")
    b = variants.select(F.col("surface").alias("dst"), "variant")
    return (
        a.join(b, "variant")
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
        .where(F.levenshtein("src", "dst") <= 1)
    )


def fuzzy_canonical_labels(surfaces: DataFrame) -> DataFrame:
    """(surface, canonical) — canonical = min surface of the connected
    component under edit-distance-1 alias edges; singletons map to
    themselves (left join + coalesce, so the label table covers the whole
    universe, not just surfaces that found a fuzzy partner)."""
    labels = connected_components(fuzzy_alias_pairs(surfaces))
    return (
        surfaces.join(
            labels.select(F.col("node").alias("surface"), "component"),
            "surface",
            "left",
        )
        .select("surface", F.coalesce("component", F.col("surface")).alias("canonical"))
    )


CANONICALIZE_FUZZY_ORACLE_TEMPLATE = """
WITH kb AS ({kb_sql}),
u AS (
  SELECT DISTINCT mention AS surface FROM kb
  UNION
  SELECT DISTINCT ent_name AS surface FROM kb
),
edges0 AS (
  SELECT a.surface AS src, b.surface AS dst
  FROM u a JOIN u b ON a.surface < b.surface
  WHERE levenshtein(a.surface, b.surface) <= 1
),
edges AS (
  SELECT src, dst FROM edges0
  UNION
  SELECT dst AS src, src AS dst FROM edges0
),
reach AS (
  SELECT src AS node, src AS r FROM edges
  UNION
  SELECT e.src AS node, reach.r
  FROM edges e JOIN reach ON e.dst = reach.node
),
labels AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
SELECT u.surface AS surface,
       COALESCE(labels.component, u.surface) AS canonical
FROM u LEFT JOIN labels ON u.surface = labels.node
"""


def canonicalize_fuzzy_oracle_sql() -> str:
    from ed_twitter_spark import synth

    sql = CANONICALIZE_FUZZY_ORACLE_TEMPLATE.format(
        kb_sql=synth.KB_ALIAS_SQL
    ).lstrip()
    return "WITH RECURSIVE" + sql[len("WITH") :]


def canonicalize_fuzzy(spark, sf_dir: str) -> DataFrame:
    """Registry query: fuzzy alias merging over the KB surface universe
    (mention surfaces ∪ entity names — near-identical spellings denote one
    canonical form; on the synthetic KB this merges each token's E0_/E1_
    candidate entities, the redirect-map analog the exact path can't see)."""
    from ed_twitter_spark import synth

    kb = synth.kb_alias(spark, sf_dir)
    surfaces = (
        kb.select(F.col("mention").alias("surface"))
        .union(kb.select(F.col("ent_name").alias("surface")))
        .distinct()
    )
    return fuzzy_canonical_labels(surfaces)


# ---------------------------------------------------------------------------
# Incremental canonicalization: fold new edges into an existing label table
# ---------------------------------------------------------------------------


def incremental_components(labels: DataFrame, new_edges: DataFrame) -> DataFrame:
    """(node, component) — the label table after newly-landed equivalence
    edges are folded in, WITHOUT recomputing CC from the full edge history.

    An existing label table is a contracted view of every edge ever seen:
    (node → component) edges preserve exactly the old partition. CC over
    (label edges ∪ new edges) therefore equals CC over (all old edges ∪
    new edges), but the input is |nodes| + |new| rows instead of the full
    history, and the effective diameter is ~2 (old structure is pre-
    contracted stars), so the distributed loop converges in a couple of
    rounds no matter how deep the historical graph was. This is the daily
    ingest shape: labels live in the warehouse, each increment folds only
    the new day's edges (the CC twin of `plans/incremental.py`'s triple
    partial-fold).
    """
    label_edges = labels.select(
        F.col("node").alias("src"), F.col("component").alias("dst")
    )
    return connected_components(
        label_edges.union(new_edges.select("src", "dst"))
    )


def canonicalize_incremental(spark, sf_dir: str) -> DataFrame:
    """Registry query: build labels from the even-doc half of the corpus,
    then fold the odd-doc half's equivalence edges in incrementally. The
    per-mention argmax is row-local given the (global) KB, so the two
    halves' triple sets partition the full triple set and the folded
    result must equal the full recompute — the oracle is `canonicalize`'s
    full-history SQL verbatim."""
    from ed_twitter_spark import synth
    from ed_twitter_spark.operators import candidates as cand_ops
    from ed_twitter_spark.operators import mentions as mention_ops

    turns = synth.transcripts(spark, sf_dir)
    kb = synth.kb_alias(spark, sf_dir)

    def half_edges(parity: int) -> DataFrame:
        triples = cand_ops.link_prior_argmax(
            cand_ops.gen_candidates(
                mention_ops.detect_mentions(turns.where(f"doc_id % 2 = {parity}")),
                kb,
            )
        )
        return surface_equivalence_edges(triples, kb)

    base = connected_components(half_edges(0))
    return incremental_components(base, half_edges(1))
