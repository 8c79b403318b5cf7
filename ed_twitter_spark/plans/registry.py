"""Query registry: every implemented operator as a (Spark builder, oracle SQL) pair.

The driver runs each Spark query at sf=0.01 and the oracle SQL in DuckDB on
the same parquet tables, comparing row count + schema + order-insensitive
value hash. Column names and types are aligned on both sides; float columns
are rounded identically in both engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ed_twitter_spark import synth
from ed_twitter_spark.functions.hashing import TOKS_SQL, toks_col
from ed_twitter_spark.operators import candidates as cand_ops
from ed_twitter_spark.operators import eval as eval_ops
from ed_twitter_spark.operators import mentions as mention_ops

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _gate_order(names) -> list[str]:
    """Enumeration order for the driver's correctness gate, which samples a
    prefix-biased ~50 of these per round: queries never driver-checked come
    first (anything registered after round 4 lands here automatically),
    then those whose latest driver check is oldest (r3-last before r4-last),
    then the rest — so every query earns a driver CORRECTNESS row within two
    rounds (VERDICT r3 item 4). Insertion order is preserved within each tier."""

    def tier(n: str) -> int:
        if n in _DRIVER_CHECKED_R4:
            return 3
        if n in _DRIVER_CHECKED_R3:
            return 2
        if n in _DRIVER_CHECKED_EVER:
            return 1
        return 0

    return sorted(names, key=tier)


def queries() -> dict[str, QueryFn]:
    return {n: _QUERIES[n] for n in _gate_order(_QUERIES)}


def oracle_sql() -> dict[str, str]:
    return {n: _ORACLES[n] for n in _gate_order(_QUERIES) if n in _ORACLES}


# Driver CORRECTNESS_r0{1,2,3}.json coverage snapshots (static: the artifacts
# are driver-owned and may not ship with a deployed package).
_DRIVER_CHECKED_R3 = {
    "transcripts", "kb_alias", "mentions", "candidates", "candidates_salted",
    "candidates_bucketed", "mention_skew", "link_prior_argmax", "link_cosine",
    "link_embed", "canonicalize", "ent_counts", "word_counts", "doc_word_repr",
    "kg_vertices", "kg_edges", "kg_degrees", "kg_pagerank",
    "kg_cooccurrence_pmi", "kg_triangles", "kg_two_hop", "kg_component_sizes",
    "kg_local_clustering", "kg_neighbor_jaccard", "kg_adamic_adar",
    "kg_edge_lifetimes", "kg_label_propagation", "kg_k_core", "kg_ntriples",
    "kg_bfs_hops", "kg_eigencentrality", "entity_salience", "kg_typed_edges",
    "text_stats", "corpus_quantiles", "token_counts", "doc_fingerprint",
    "quality_repetition", "quality_gopher", "lang_id_ngram", "tfidf_top_terms",
    "quality_unigram_ppl", "dedup_exact", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "dedup_simhash", "dedup_simhash_pairs",
    "dedup_clusters", "dedup_embed_neardup", "conv_dedup",
}
_DRIVER_CHECKED_EVER = _DRIVER_CHECKED_R3 | {
    "ann_cosine_topk", "ann_ivf_topk", "embed_cosine_pairs", "mm_assets",
    "mm_decode_features", "pii_redact", "dataset_split", "decontaminate",
    "kb_alias_merged", "ent_name_normalize", "mention_normalize",
    "rltd_filter", "bio_span_merge", "coref_containment", "relatedness_eval",
    "mention_windows", "event_sessions", "conversation_stats", "tool_usage",
    "role_transitions", "negative_sampling", "ent_vec_init", "anchor_parse",
    "anchor_parse_marked", "doc_titles", "events_props", "hyperlink_contexts",
    "eval_micro_f1",
}
# CORRECTNESS_r04.json keys (all 50 green): these have the FRESHEST driver
# check, so they enumerate last — never-checked round-5 queries and the
# r1/r2-stale tier fill the driver's ~50-query sample first.
_DRIVER_CHECKED_R4 = {
    "anchor_parse", "anchor_parse_marked", "ann_cosine_topk",
    "ann_ivf_centroids", "ann_ivf_topk", "ann_recall", "asof_view_purchase",
    "bio_span_merge", "candidates", "candidates_salted", "conversation_stats",
    "coref_containment", "dataset_sample", "dataset_split", "decontaminate",
    "doc_titles", "embed_cosine_pairs", "ent_name_normalize", "ent_vec_init",
    "eval_micro_f1", "event_sessions", "events_props", "hyperlink_contexts",
    "kb_alias", "kb_alias_merged", "mention_normalize", "mention_windows",
    "mentions", "mm_assets", "mm_decode_features", "negative_sampling",
    "pii_redact", "rank_train_steps", "relatedness_eval", "rltd_dataset",
    "rltd_filter", "rltd_metrics_val", "rltd_union", "role_transitions",
    "stream_link", "stream_sessions", "tool_usage", "train_entity_epoch",
    "train_entity_epoch_nce", "train_epoch_loss", "train_epochs",
    "train_epochs_adagrad", "train_epochs_vectors", "train_loss_variants",
    "transcripts",
}


# ---------------------------------------------------------------------------
# 1. transcripts derivation — the pipeline input (per-turn text equality)
# ---------------------------------------------------------------------------

_TRANSCRIPTS_ORACLE = f"""
WITH transcripts AS ({synth.TRANSCRIPTS_SQL})
SELECT conv_id, turn_idx, role, text, tool,
       CAST(epoch(ts) AS BIGINT) AS ts_epoch
FROM transcripts
"""


@register("transcripts", _TRANSCRIPTS_ORACLE)
def q_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = synth.transcripts(spark, sf_dir)
    return t.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.unix_timestamp("ts").alias("ts_epoch"),
    )


# ---------------------------------------------------------------------------
# 2. kb_alias — p(e|m) construction (A1 count, A2 merge, A3 normalize, T1/T2)
# ---------------------------------------------------------------------------


@register("kb_alias", synth.KB_ALIAS_SQL)
def q_kb_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    return synth.kb_alias(spark, sf_dir)


# ---------------------------------------------------------------------------
# 3. mentions — tokenize (P3) + turn-local context split (W1 tweets variant)
# ---------------------------------------------------------------------------


@register("mentions", mention_ops.mentions_sql())
def q_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mention_ops.detect_mentions(synth.transcripts(spark, sf_dir))


# ---------------------------------------------------------------------------
# 4. candidates — J1 broadcast alias join, ranked
# ---------------------------------------------------------------------------

_CANDIDATES_ORACLE = f"""
WITH m AS ({mention_ops.mentions_sql()}),
kb AS ({synth.KB_ALIAS_SQL})
SELECT m.conv_id, m.turn_idx, m.mention_idx, m.mention,
       kb.ent_id, kb.ent_name, kb.prior, kb.rank, m.doc_id
FROM m LEFT JOIN kb ON m.mention = kb.mention
"""


@register("candidates", _CANDIDATES_ORACLE)
def q_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = mention_ops.detect_mentions(synth.transcripts(spark, sf_dir))
    kb = synth.kb_alias(spark, sf_dir)
    return cand_ops.gen_candidates(m, kb)


@register("candidates_salted", _CANDIDATES_ORACLE)
def q_candidates_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The broadcast-vs-shuffle selection's large-KB arm (forced with a
    zero broadcast limit): same rows as `candidates`, produced by the
    salted shuffle-hash join (head-mention skew split across SALT_BUCKETS
    reducers). Same oracle — the arms must be value-identical."""
    m = mention_ops.detect_mentions(synth.transcripts(spark, sf_dir))
    kb = synth.kb_alias(spark, sf_dir)
    return cand_ops.gen_candidates(m, kb, broadcast_limit_bytes=0)


@register("candidates_bucketed", _CANDIDATES_ORACLE)
def q_candidates_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 via co-located bucketed storage: both sides written
    ``bucketBy(8, mention)``, then joined with zero Exchange — the layout
    for a join that recurs across pipeline stages (the shuffle is paid once
    at write time). Same oracle — all three join strategies are
    value-identical."""
    from ed_twitter_spark.plans import bucketing

    return bucketing.bucketed_candidates(spark, sf_dir)


register("mention_skew", cand_ops.mention_skew_oracle_sql())(cand_ops.q_mention_skew)


# ---------------------------------------------------------------------------
# 5. link_prior_argmax — T7 argmax over p(e|m) → triples
# ---------------------------------------------------------------------------

_LINK_PRIOR_ORACLE = f"""
WITH m AS ({mention_ops.mentions_sql()}),
kb AS ({synth.KB_ALIAS_SQL})
SELECT m.conv_id || '#' || CAST(m.turn_idx AS VARCHAR) || '#' ||
       CAST(m.mention_idx AS VARCHAR)            AS subj,
       'links_to'                                AS pred,
       COALESCE(kb.ent_name, 'NIL')              AS obj,
       COALESCE(kb.prior, 0.0)                   AS score,
       m.conv_id, m.turn_idx, m.mention_idx, m.mention, m.doc_id
FROM m LEFT JOIN (SELECT * FROM kb WHERE rank = 1) kb
  ON m.mention = kb.mention
"""


@register("link_prior_argmax", _LINK_PRIOR_ORACLE)
def q_link_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ed_twitter_spark.operators.canonicalize import prior_triples

    return prior_triples(spark, sf_dir)


# ---------------------------------------------------------------------------
# 6. eval_micro_f1 — A8/J7 metrics of the prior linker vs planted gold
# ---------------------------------------------------------------------------

_EVAL_ORACLE = f"""
WITH m AS ({mention_ops.mentions_sql()}),
kb AS ({synth.KB_ALIAS_SQL}),
pred AS (
  SELECT m.conv_id || '#' || CAST(m.turn_idx AS VARCHAR) || '#' ||
         CAST(m.mention_idx AS VARCHAR) AS subj,
         COALESCE(kb.ent_name, 'NIL')   AS obj
  FROM m LEFT JOIN (SELECT * FROM kb WHERE rank = 1) kb
    ON m.mention = kb.mention
),
gold AS (
  SELECT conv_id || '#' || CAST(turn_idx AS VARCHAR) || '#' ||
         CAST(mention_idx AS VARCHAR) AS subj,
         'E' || CAST({synth.gold_suffix_sql('doc_id', 'mention_idx')} AS VARCHAR)
             || '_' || mention        AS gold_obj
  FROM m
),
j AS (SELECT gold.gold_obj, pred.obj FROM gold LEFT JOIN pred USING (subj))
SELECT CAST(SUM(CASE WHEN obj = gold_obj AND obj <> 'NIL' THEN 1 ELSE 0 END) AS BIGINT) AS true_pos,
       CAST(SUM(CASE WHEN obj <> 'NIL' THEN 1 ELSE 0 END) AS BIGINT)                    AS n_pred,
       CAST(COUNT(*) AS BIGINT)                                                         AS n_gold,
       ROUND(SUM(CASE WHEN obj = gold_obj AND obj <> 'NIL' THEN 1 ELSE 0 END)
             * 1.0 / SUM(CASE WHEN obj <> 'NIL' THEN 1 ELSE 0 END), 6)                  AS precision,
       ROUND(SUM(CASE WHEN obj = gold_obj AND obj <> 'NIL' THEN 1 ELSE 0 END)
             * 1.0 / COUNT(*), 6)                                                       AS recall,
       ROUND(2.0 * (SUM(CASE WHEN obj = gold_obj AND obj <> 'NIL' THEN 1 ELSE 0 END)
             * 1.0 / SUM(CASE WHEN obj <> 'NIL' THEN 1 ELSE 0 END))
             * (SUM(CASE WHEN obj = gold_obj AND obj <> 'NIL' THEN 1 ELSE 0 END)
             * 1.0 / COUNT(*))
             / ((SUM(CASE WHEN obj = gold_obj AND obj <> 'NIL' THEN 1 ELSE 0 END)
             * 1.0 / SUM(CASE WHEN obj <> 'NIL' THEN 1 ELSE 0 END))
             + (SUM(CASE WHEN obj = gold_obj AND obj <> 'NIL' THEN 1 ELSE 0 END)
             * 1.0 / COUNT(*))), 6)                                                     AS f1
FROM j
"""


# ---------------------------------------------------------------------------
# 7. link_cosine — embedding-similarity scoring, SQL-expressible distillation
# ---------------------------------------------------------------------------


def _register_cosine():
    from ed_twitter_spark.operators.cosine_linker import (
        link_cosine,
        link_cosine_oracle_sql,
    )

    register("link_cosine", link_cosine_oracle_sql())(link_cosine)


_register_cosine()


# ---------------------------------------------------------------------------
# 8. link_embed — full-fidelity K1-K6 linker (non-SQL-expressible: LBP +
#    attention; rows-only driver check, parity tested vs a sequential
#    single-process run in tests/test_linker_embed.py)
# ---------------------------------------------------------------------------


def _register_embed():
    from ed_twitter_spark.operators.linker import link_embed

    register("link_embed", None)(link_embed)


_register_embed()


# ---------------------------------------------------------------------------
# 9. canonicalize — connected components over surface-form equivalence
#    (iterative hash-min label propagation; recursive-CTE oracle)
# ---------------------------------------------------------------------------


def _register_canonicalize():
    from ed_twitter_spark.operators.canonicalize import (
        canonicalize,
        canonicalize_fuzzy,
        canonicalize_fuzzy_oracle_sql,
        canonicalize_oracle_sql,
    )

    register("canonicalize", canonicalize_oracle_sql())(canonicalize)
    register("canonicalize_fuzzy", canonicalize_fuzzy_oracle_sql())(
        canonicalize_fuzzy
    )
    # incremental fold of new equivalence edges into an existing label
    # table; must equal the full-history recompute → same oracle verbatim
    from ed_twitter_spark.operators.canonicalize import canonicalize_incremental

    register("canonicalize_incremental", canonicalize_oracle_sql())(
        canonicalize_incremental
    )


_register_canonicalize()


# ---------------------------------------------------------------------------
# 10-12. KB-build aggregations: A4 entity counts, A5 word unigram counts,
#        A6 per-page word repr (gen_ent_wiki_w_repr.py:79-103 analog)
# ---------------------------------------------------------------------------

_ENT_COUNTS_ORACLE = f"""
WITH anchors AS ({synth.ANCHORS_SQL})
SELECT ent_name,
       {synth.ent_id_expr_sql("ent_name")} AS ent_id,
       CAST(COUNT(*) AS BIGINT) AS freq
FROM anchors
GROUP BY ent_name
HAVING COUNT(*) >= 10
"""


@register("ent_counts", _ENT_COUNTS_ORACLE)
def q_ent_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: entity → total anchor count, filter ≥10 (e_freq_gen.py:46-67)."""
    return (
        synth.anchors(spark, sf_dir)
        .groupBy("ent_name")
        .agg(F.count(F.lit(1)).alias("freq"))
        .where(F.col("freq") >= 10)
        .select("ent_name", synth.ent_id_col(F.col("ent_name")).alias("ent_id"), "freq")
    )


_WORD_COUNTS_ORACLE = f"""
WITH tok AS (
  SELECT unnest({TOKS_SQL}) AS word FROM documents
)
SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
FROM tok GROUP BY word HAVING COUNT(*) >= 10
"""


@register("word_counts", _WORD_COUNTS_ORACLE)
def q_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: word unigram counts, filter ≥10 (w_freq_gen.py:19-49)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.select(F.explode(toks_col()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .where(F.col("freq") >= 10)
    )


_DOC_WORD_REPR_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKS_SQL}) AS word FROM documents
)
SELECT doc_id,
       array_to_string(list_sort(list(DISTINCT word)), ' ') AS words,
       CAST(COUNT(DISTINCT word) AS BIGINT) AS n_distinct
FROM tok GROUP BY doc_id
"""


@register("doc_word_repr", _DOC_WORD_REPR_ORACLE)
def q_doc_word_repr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: per-page word aggregation (gen_ent_wiki_w_repr.py:79-103); emitted
    as sorted-distinct for order-stable comparison."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tok = docs.select("doc_id", F.explode(toks_col()).alias("word"))
    return tok.groupBy("doc_id").agg(
        F.array_join(F.array_sort(F.collect_set("word")), " ").alias("words"),
        F.countDistinct("word").alias("n_distinct"),
    )


# ---------------------------------------------------------------------------
# 13-14. graph materialization: KG vertex/edge tables (north-star final stage)
# ---------------------------------------------------------------------------


def _register_graph():
    from ed_twitter_spark.operators import graph as graph_ops

    register("kg_vertices", graph_ops.kg_vertices_oracle_sql())(graph_ops.q_kg_vertices)
    register("kg_edges", graph_ops.kg_edges_oracle_sql())(graph_ops.q_kg_edges)
    register("kg_degrees", graph_ops.kg_degrees_oracle_sql())(graph_ops.q_kg_degrees)
    register("kg_pagerank", graph_ops.kg_pagerank_oracle_sql())(graph_ops.q_kg_pagerank)
    register("kg_cooccurrence_pmi", graph_ops.kg_cooccurrence_pmi_oracle_sql())(
        graph_ops.q_kg_cooccurrence_pmi
    )
    register("kg_triangles", graph_ops.kg_triangles_oracle_sql())(
        graph_ops.q_kg_triangles
    )
    register("kg_two_hop", graph_ops.kg_two_hop_oracle_sql())(graph_ops.q_kg_two_hop)
    register("kg_component_sizes", graph_ops.kg_component_sizes_oracle_sql())(
        graph_ops.q_kg_component_sizes
    )
    register("kg_local_clustering", graph_ops.kg_local_clustering_oracle_sql())(
        graph_ops.q_kg_local_clustering
    )
    register("kg_neighbor_jaccard", graph_ops.kg_neighbor_jaccard_oracle_sql())(
        graph_ops.q_kg_neighbor_jaccard
    )
    register("kg_adamic_adar", graph_ops.kg_adamic_adar_oracle_sql())(
        graph_ops.q_kg_adamic_adar
    )
    register("kg_edge_lifetimes", graph_ops.kg_edge_lifetimes_oracle_sql())(
        graph_ops.q_kg_edge_lifetimes
    )
    register("kg_label_propagation", graph_ops.kg_label_propagation_oracle_sql())(
        graph_ops.q_kg_label_propagation
    )
    register("kg_modularity", graph_ops.kg_modularity_oracle_sql())(
        graph_ops.q_kg_modularity
    )
    register("kg_k_core", graph_ops.kg_k_core_oracle_sql())(graph_ops.q_kg_k_core)
    register("kg_ktruss", graph_ops.kg_ktruss_oracle_sql())(graph_ops.q_kg_ktruss)
    register("kg_degree_distribution", graph_ops.kg_degree_distribution_oracle_sql())(
        graph_ops.q_kg_degree_distribution
    )
    register("kg_edge_evidence", graph_ops.kg_edge_evidence_oracle_sql())(
        graph_ops.q_kg_edge_evidence
    )
    register("kg_snapshot_growth", graph_ops.kg_snapshot_growth_oracle_sql())(
        graph_ops.q_kg_snapshot_growth
    )
    register("kg_entity_channels", graph_ops.kg_entity_channels_oracle_sql())(
        graph_ops.q_kg_entity_channels
    )
    register("kg_node2vec_walks", graph_ops.kg_node2vec_walks_oracle_sql())(
        graph_ops.q_kg_node2vec_walks
    )
    register("kg_asof_snapshot", graph_ops.kg_asof_snapshot_oracle_sql())(
        graph_ops.q_kg_asof_snapshot
    )
    register("kg_assortativity", graph_ops.kg_assortativity_oracle_sql())(
        graph_ops.q_kg_assortativity
    )
    register("kg_reciprocity", graph_ops.kg_reciprocity_oracle_sql())(
        graph_ops.q_kg_reciprocity
    )
    register("kg_scc", graph_ops.kg_scc_oracle_sql())(graph_ops.q_kg_scc)
    register("kg_condensation", graph_ops.kg_condensation_oracle_sql())(
        graph_ops.q_kg_condensation
    )
    register("kg_open_relations", graph_ops.kg_open_relations_oracle_sql())(
        graph_ops.q_kg_open_relations
    )
    register("kg_resolver_dict", graph_ops.kg_resolver_dict_oracle_sql())(
        graph_ops.q_kg_resolver_dict
    )
    register("kg_summary", graph_ops.kg_summary_oracle_sql())(
        graph_ops.q_kg_summary
    )
    register(
        "kg_relations_incremental", graph_ops.kg_open_relations_oracle_sql()
    )(graph_ops.q_kg_relations_incremental)
    register("kg_conductance", graph_ops.kg_conductance_oracle_sql())(
        graph_ops.q_kg_conductance
    )
    register("kg_betweenness", graph_ops.kg_betweenness_oracle_sql())(
        graph_ops.q_kg_betweenness
    )
    register("kg_path_between", graph_ops.kg_path_between_oracle_sql())(
        graph_ops.q_kg_path_between
    )
    register("kg_ntriples", graph_ops.kg_ntriples_oracle_sql())(graph_ops.q_kg_ntriples)
    register("kg_bfs_hops", graph_ops.kg_bfs_hops_oracle_sql())(graph_ops.q_kg_bfs_hops)
    register("kg_eigencentrality", graph_ops.kg_eigencentrality_oracle_sql())(
        graph_ops.q_kg_eigencentrality
    )
    register("entity_salience", graph_ops.entity_salience_oracle_sql())(
        graph_ops.q_entity_salience
    )
    register("kg_typed_edges", graph_ops.kg_typed_edges_oracle_sql())(
        graph_ops.q_kg_typed_edges
    )
    register("kg_random_walks", graph_ops.kg_random_walks_oracle_sql())(
        graph_ops.q_kg_random_walks
    )
    register("kg_ppr", graph_ops.kg_ppr_oracle_sql())(graph_ops.q_kg_ppr)
    register("kg_star_query", graph_ops.kg_star_query_oracle_sql())(
        graph_ops.q_kg_star_query
    )
    from ed_twitter_spark.operators import bgp as bgp_ops

    register("kg_bgp_query", bgp_ops.kg_bgp_query_oracle_sql())(bgp_ops.kg_bgp_query)
    register("kg_bgp_topk", bgp_ops.kg_bgp_topk_oracle_sql())(bgp_ops.kg_bgp_topk)
    register("kg_bgp_ask", bgp_ops.kg_bgp_ask_oracle_sql())(bgp_ops.kg_bgp_ask)
    register("kg_bgp_describe", bgp_ops.kg_bgp_describe_oracle_sql())(
        bgp_ops.kg_bgp_describe
    )
    register("kg_bgp_optional", bgp_ops.kg_bgp_optional_oracle_sql())(
        bgp_ops.kg_bgp_optional
    )
    register("kg_bgp_union", bgp_ops.kg_bgp_union_oracle_sql())(bgp_ops.kg_bgp_union)
    register("kg_bgp_minus", bgp_ops.kg_bgp_minus_oracle_sql())(bgp_ops.kg_bgp_minus)
    register("kg_bgp_exists", bgp_ops.kg_bgp_exists_oracle_sql())(
        bgp_ops.kg_bgp_exists
    )
    register("kg_void_stats", bgp_ops.kg_void_stats_oracle_sql())(
        bgp_ops.kg_void_stats
    )
    register("kg_bgp_aggregate", bgp_ops.kg_bgp_aggregate_oracle_sql())(
        bgp_ops.kg_bgp_aggregate
    )
    register("kg_bgp_construct", bgp_ops.kg_bgp_construct_oracle_sql())(
        bgp_ops.kg_bgp_construct
    )
    register("kg_bgp_path", bgp_ops.kg_bgp_path_oracle_sql())(bgp_ops.kg_bgp_path)
    register("kg_rdfs_inference", bgp_ops.kg_rdfs_inference_oracle_sql())(
        bgp_ops.kg_rdfs_inference
    )
    from ed_twitter_spark.operators import kg_embed as kg_embed_ops

    register("kg_embed_transe", kg_embed_ops.kg_embed_transe_oracle_sql())(
        kg_embed_ops.kg_embed_transe
    )
    register(
        "kg_embed_transe_vectors", kg_embed_ops.kg_embed_transe_vectors_oracle_sql()
    )(kg_embed_ops.kg_embed_transe_vectors)
    register(
        "kg_embed_transe_eval", kg_embed_ops.kg_embed_transe_eval_oracle_sql()
    )(kg_embed_ops.kg_embed_transe_eval)
    from ed_twitter_spark.operators import hyperball as hyperball_ops

    register("kg_effective_diameter", hyperball_ops.kg_effective_diameter_oracle_sql())(
        hyperball_ops.q_kg_effective_diameter
    )
    register("kg_hyperball", hyperball_ops.kg_hyperball_oracle_sql())(
        hyperball_ops.kg_hyperball
    )
    from ed_twitter_spark.operators import kg_quality as kg_quality_ops

    register("kg_shacl_validate", kg_quality_ops.kg_shacl_validate_oracle_sql())(
        kg_quality_ops.kg_shacl_validate
    )
    register("kg_edge_churn", kg_quality_ops.kg_edge_churn_oracle_sql())(
        kg_quality_ops.kg_edge_churn
    )


_register_graph()


# ---------------------------------------------------------------------------
# 15-25. training-data pipeline operators (text analysis, dedup ladder,
#        similarity search, multimodal plumbing) — SURVEY.md-adjacent ops a
#        100 TB corpus pipeline needs; all but mm_decode oracle-checked
# ---------------------------------------------------------------------------


def _register_corpus_ops():
    from ed_twitter_spark.operators import dedup as dd
    from ed_twitter_spark.operators import multimodal as mm
    from ed_twitter_spark.operators import similarity as sim
    from ed_twitter_spark.operators import textstats as ts

    register("text_stats", ts.TEXT_STATS_SQL)(ts.text_stats)
    register("corpus_quantiles", ts.CORPUS_QUANTILES_SQL)(ts.corpus_quantiles)
    register("token_counts", ts.TOKEN_COUNTS_SQL)(ts.token_counts)
    register("zipf_fit", ts.ZIPF_FIT_SQL)(ts.zipf_fit)
    register("corpus_datasheet", ts.corpus_datasheet_oracle_sql())(
        ts.corpus_datasheet
    )
    register("doc_fingerprint", ts.DOC_FINGERPRINT_SQL)(ts.doc_fingerprint)
    register("quality_repetition", ts.QUALITY_REPETITION_SQL)(ts.quality_repetition)
    register("quality_gopher", ts.QUALITY_GOPHER_SQL)(ts.quality_gopher)
    register("lang_id_ngram", ts.LANG_ID_NGRAM_SQL)(ts.lang_id_ngram)
    register("lang_audit", ts.LANG_AUDIT_SQL)(ts.lang_audit)
    register("tfidf_top_terms", ts.TFIDF_SQL)(ts.tfidf_top_terms)
    register("quality_unigram_ppl", ts.QUALITY_PPL_SQL)(ts.quality_unigram_ppl)
    register("quality_bigram_kn_ppl", ts.QUALITY_KN_PPL_SQL)(
        ts.quality_bigram_kn_ppl
    )
    register("corpus_ppl_buckets", ts.CORPUS_PPL_BUCKETS_SQL)(
        ts.corpus_ppl_buckets
    )
    register("dedup_exact", dd.DEDUP_EXACT_SQL)(dd.dedup_exact)
    register("dedup_minhash_lsh", dd.DEDUP_MINHASH_SQL)(dd.dedup_minhash_lsh)
    register("source_similarity", dd.SOURCE_SIMILARITY_SQL)(dd.source_similarity)
    register("doc_novelty", dd.DOC_NOVELTY_SQL)(dd.doc_novelty)
    register("dedup_cluster_stats", dd.DEDUP_CLUSTER_STATS_SQL)(
        dd.dedup_cluster_stats
    )
    register("dedup_ngram_jaccard", dd.DEDUP_JACCARD_SQL)(dd.dedup_ngram_jaccard)
    register("dedup_containment", dd.DEDUP_CONTAINMENT_SQL)(dd.dedup_containment)
    register("dedup_simhash", dd.DEDUP_SIMHASH_SQL)(dd.dedup_simhash)
    register("dedup_simhash_pairs", dd.DEDUP_SIMHASH_PAIRS_SQL)(dd.dedup_simhash_pairs)
    register("dedup_clusters", dd.DEDUP_CLUSTERS_SQL)(dd.dedup_clusters)
    register("dedup_substring", dd.DEDUP_SUBSTRING_SQL)(dd.dedup_substring)
    register("dedup_substring_clean", dd.DEDUP_SUBSTRING_CLEAN_SQL)(
        dd.dedup_substring_clean
    )

    from ed_twitter_spark.operators import sketches as skt

    register("heavy_hitters_cms", skt.heavy_hitters_sql())(skt.heavy_hitters_cms)
    register("distinct_sketch", skt.distinct_sketch_sql())(skt.distinct_sketch)

    from ed_twitter_spark.operators import bpe as bpe_ops

    register("bpe_train", bpe_ops.bpe_train_oracle_sql())(bpe_ops.bpe_train)
    register("bpe_encode", bpe_ops.bpe_encode_oracle_sql())(bpe_ops.bpe_encode)
    register("bpe_vocab", bpe_ops.bpe_vocab_oracle_sql())(bpe_ops.bpe_vocab)

    from ed_twitter_spark.operators import packing as pk

    register("chunk_documents", pk.CHUNK_DOCUMENTS_SQL)(pk.chunk_documents)
    register("dataset_pack", pk.DATASET_PACK_SQL)(pk.dataset_pack)
    register("dataset_interleave", pk.DATASET_INTERLEAVE_SQL)(pk.dataset_interleave)

    from ed_twitter_spark.operators import corpus_pipeline as cpl

    register("corpus_pipeline", cpl.CORPUS_PIPELINE_SQL)(cpl.corpus_pipeline)

    from ed_twitter_spark.operators import doc_embed as de

    register("dedup_embed_neardup", de.DEDUP_EMBED_SQL)(de.dedup_embed_neardup)

    from ed_twitter_spark.operators import semdedup as sdd

    register("dedup_semantic", sdd.DEDUP_SEMANTIC_SQL)(sdd.dedup_semantic)

    from ed_twitter_spark.operators import conv_dedup as cdd

    register("conv_dedup", cdd.CONV_DEDUP_SQL)(cdd.conv_dedup)

    from ed_twitter_spark.operators import asof

    register("asof_view_purchase", asof.ASOF_VIEW_PURCHASE_SQL)(asof.asof_view_purchase)
    register("ann_cosine_topk", sim.ANN_COSINE_SQL)(sim.ann_cosine_topk)
    register("ann_ivf_centroids", sim.ANN_IVF_CENTROIDS_SQL)(sim.ivf_centroids)
    register("ann_ivf_topk", sim.ANN_IVF_SQL)(sim.ann_ivf_topk)
    register("ann_recall", sim.ANN_RECALL_SQL)(sim.ann_recall)
    register("ann_recall_derived", sim.ANN_RECALL_DERIVED_SQL)(sim.ann_recall_derived)
    register("ann_ivf_cell_stats", sim.ANN_IVF_CELL_STATS_SQL)(sim.ann_ivf_cell_stats)
    register("ann_pq_codes", sim.ANN_PQ_CODES_SQL)(sim.ann_pq_codes)
    register("embed_quantize_int8", sim.EMBED_QUANTIZE_INT8_SQL)(
        sim.embed_quantize_int8
    )
    register("ann_pq_topk", sim.ANN_PQ_TOPK_SQL)(sim.ann_pq_topk)
    register("ann_ivfadc_topk", sim.ANN_IVFADC_SQL)(sim.ann_ivfadc_topk)
    register("ann_ivfadc_recall", sim.ANN_IVFADC_RECALL_SQL)(
        sim.ann_ivfadc_recall
    )
    register("ann_pq_recall", sim.ANN_PQ_RECALL_SQL)(sim.ann_pq_recall)
    register("embed_cosine_pairs", sim.EMBED_PAIRS_SQL)(sim.embed_cosine_pairs)
    register("mm_assets", mm.MM_ASSETS_SQL)(mm.mm_assets)
    register("mm_decode_features", mm.MM_DECODE_SQL)(mm.mm_decode_features)

    from ed_twitter_spark.operators import corpus_filters as cf

    register("pii_redact", cf.PII_REDACT_SQL)(cf.pii_redact)
    register("dataset_split", cf.DATASET_SPLIT_SQL)(cf.dataset_split)
    register("dataset_sample", cf.dataset_sample_oracle_sql())(cf.dataset_sample)
    register("decontaminate", cf.DECONTAMINATE_SQL)(cf.decontaminate)
    register("decontaminate_bloom", cf.DECONTAMINATE_BLOOM_SQL)(
        cf.decontaminate_bloom
    )
    register("dataset_sample_temperature", cf.DATASET_SAMPLE_TEMP_SQL)(
        cf.dataset_sample_temperature
    )
    register("dataset_curriculum", cf.dataset_curriculum_oracle_sql())(
        cf.dataset_curriculum
    )

    from ed_twitter_spark.operators import embed_pca as pca_ops

    register("embed_pca", pca_ops.embed_pca_oracle_sql())(pca_ops.embed_pca)
    register("embed_pca_scores", pca_ops.embed_pca_scores_oracle_sql())(
        pca_ops.embed_pca_scores
    )

    from ed_twitter_spark.operators import quality_classifier as qc_ops

    register(
        "quality_classifier_train", qc_ops.quality_classifier_train_oracle_sql()
    )(qc_ops.quality_classifier_train)
    register(
        "quality_classifier_score", qc_ops.quality_classifier_score_oracle_sql()
    )(qc_ops.quality_classifier_score)
    register(
        "quality_classifier_eval", qc_ops.quality_classifier_eval_oracle_sql()
    )(qc_ops.quality_classifier_eval)

    from ed_twitter_spark.operators import dsir as dsir_ops

    register("dataset_dsir", dsir_ops.DATASET_DSIR_SQL)(dsir_ops.q_dataset_dsir)


_register_corpus_ops()


# ---------------------------------------------------------------------------
# 26-29. KB-build chain: multi-source prior merge (U1/A2/A3), normalization
#        (P1/P2/J3), restricted-set filter (J4)
# ---------------------------------------------------------------------------


def _register_kb_build():
    from ed_twitter_spark.operators import kb_build as kbb

    register("kb_alias_merged", kbb.KB_MERGED_SQL)(kbb.kb_alias_merged)
    # additive partial-count fold + finalize must be bit-equal to the
    # from-scratch build → the full kb_alias SQL verbatim as its oracle
    register("kb_alias_incremental", synth.KB_ALIAS_SQL)(kbb.kb_alias_incremental)
    register("ent_name_normalize", kbb.ENT_NORMALIZE_SQL)(kbb.ent_name_normalize)
    register("mention_normalize", kbb.mention_normalize_sql())(kbb.mention_normalize)
    register("rltd_filter", kbb.rltd_filter_sql())(kbb.rltd_filter)


_register_kb_build()


# ---------------------------------------------------------------------------
# 30-31. W6 span merge + K10 relatedness metrics
# ---------------------------------------------------------------------------


def _register_spans_rel():
    from ed_twitter_spark.operators import spans as sp
    from ed_twitter_spark.operators.similarity import RELATEDNESS_SQL, relatedness_eval

    register("bio_span_merge", sp.BIO_SPAN_SQL)(sp.bio_span_merge)
    register("coref_containment", sp.coref_containment_sql())(sp.coref_containment)
    register("relatedness_eval", RELATEDNESS_SQL)(relatedness_eval)


_register_spans_rel()


# ---------------------------------------------------------------------------
# 31b. K10 ingestion — reference relatedness format reader + RLTD union
# (relatedness.py:39-110,160-199). All three queries route through the
# serialized txt/CSV fixtures and the READERS, so parse semantics sit
# inside the oracle-checked path; the DuckDB twins derive the same values
# straight from the embeddings table.
# ---------------------------------------------------------------------------


def _register_relatedness_sources():
    from ed_twitter_spark.operators.similarity import _COS_SQL
    from ed_twitter_spark.sources import relatedness as rel

    @register(
        "rltd_dataset",
        f"SELECT query_id, e1, e2, label FROM ({rel.PAIRS_SQL})",
    )
    def q_rltd_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
        val_dir, test_dir = rel.write_reference_relatedness(spark, sf_dir)
        return rel.read_relatedness_txt(spark, val_dir).unionByName(
            rel.read_relatedness_txt(spark, test_dir)
        )

    @register(
        "rltd_union",
        f"""
WITH pairs AS ({rel.PAIRS_SQL}),
ids AS (
  SELECT e1 AS ent_wikiid FROM pairs
  UNION SELECT e2 FROM pairs
  UNION SELECT CAST(vec_id * 3 + 5 AS BIGINT) FROM embeddings
        WHERE vec_id < {rel.N_ED_CSV_DOCS}
  UNION SELECT CAST(vec_id * 5 + 2 AS BIGINT) FROM embeddings
        WHERE vec_id < {rel.N_ED_CSV_DOCS}
  UNION SELECT CAST({rel.UNK_ENT_WIKIID} AS BIGINT)
)
SELECT ent_wikiid,
       CAST(ROW_NUMBER() OVER (ORDER BY ent_wikiid) - 1 AS INTEGER) AS rltd_id
FROM ids
""",
    )
    def q_rltd_union(spark: SparkSession, sf_dir: str) -> DataFrame:
        val_dir, test_dir = rel.write_reference_relatedness(spark, sf_dir)
        csv_path = rel.write_reference_ed_csv(spark, sf_dir)
        return rel.rltd_entity_union(
            rel.read_relatedness_txt(spark, val_dir),
            rel.read_relatedness_txt(spark, test_dir),
            rel.ed_candidate_wikiids(spark, csv_path),
        ).select("ent_wikiid", F.col("rltd_id").cast("int").alias("rltd_id"))

    @register(
        "rltd_metrics_val",
        f"""
WITH pairs AS (SELECT * FROM ({rel.PAIRS_SQL}) WHERE e1 % 2 = 0),
scored AS (
  SELECT p.query_id, p.e2, p.label, {_COS_SQL} AS score
  FROM pairs p
  JOIN embeddings q ON q.vec_id = p.e1
  JOIN embeddings c ON c.vec_id = p.e2
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, e2) AS rn,
         SUM(label) OVER (PARTITION BY query_id ORDER BY score DESC, e2
                          ROWS UNBOUNDED PRECEDING) AS cum_rel
  FROM scored
),
per_q AS (
  SELECT query_id,
         SUM(label * cum_rel * 1.0 / rn) / SUM(label) AS ap,
         SUM(CASE WHEN rn <= 1  THEN label / log2(GREATEST(rn, 2)) ELSE 0 END) AS dcg1,
         SUM(CASE WHEN rn <= 5  THEN label / log2(GREATEST(rn, 2)) ELSE 0 END) AS dcg5,
         SUM(CASE WHEN rn <= 10 THEN label / log2(GREATEST(rn, 2)) ELSE 0 END) AS dcg10,
         SUM(label) AS n_rel
  FROM ranked GROUP BY query_id
),
norm AS (
  SELECT query_id, ap,
         dcg1  / list_sum(list_transform(range(1, CAST(LEAST(1,  n_rel) AS BIGINT) + 1),
                  i -> 1.0 / log2(GREATEST(i, 2)))) AS ndcg1,
         dcg5  / list_sum(list_transform(range(1, CAST(LEAST(5,  n_rel) AS BIGINT) + 1),
                  i -> 1.0 / log2(GREATEST(i, 2)))) AS ndcg5,
         dcg10 / list_sum(list_transform(range(1, CAST(LEAST(10, n_rel) AS BIGINT) + 1),
                  i -> 1.0 / log2(GREATEST(i, 2)))) AS ndcg10
  FROM per_q
  WHERE n_rel > 0
)
SELECT ROUND(AVG(ap), 6)     AS map,
       ROUND(AVG(ndcg1), 6)  AS ndcg1,
       ROUND(AVG(ndcg5), 6)  AS ndcg5,
       ROUND(AVG(ndcg10), 6) AS ndcg10
FROM norm
""",
    )
    def q_rltd_metrics_val(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ed_twitter_spark.operators.similarity import _cos

        val_dir, _ = rel.write_reference_relatedness(spark, sf_dir)
        pairs = rel.read_relatedness_txt(spark, val_dir)
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        # the relatedness set is an eval artifact (thousands of pairs);
        # the embedding corpus is not. Scan emb once per side with the
        # TINY id set broadcast into it, then broadcast the resulting
        # slim vector lookups back onto the pairs — emb itself is never
        # broadcast or shuffled.
        qvecs = emb.join(
            F.broadcast(pairs.select(F.col("e1").alias("vec_id")).distinct()), "vec_id"
        ).select(F.col("vec_id").alias("e1"), F.col("embedding").alias("qe"))
        cvecs = emb.join(
            F.broadcast(pairs.select(F.col("e2").alias("vec_id")).distinct()), "vec_id"
        ).select(F.col("vec_id").alias("e2"), F.col("embedding").alias("ce"))
        scored = (
            pairs.join(F.broadcast(qvecs), "e1")
            .join(F.broadcast(cvecs), "e2")
            .select(
                "query_id", "e2", "label", _cos(F.col("qe"), F.col("ce")).alias("score")
            )
        )
        return rel.relatedness_metrics(scored)


_register_relatedness_sources()


# ---------------------------------------------------------------------------
# 32. W1/W3 conversation windows under the oracle (linker stage-1 semantics)
# ---------------------------------------------------------------------------


def _register_windows():
    from ed_twitter_spark.operators.window_query import (
        MENTION_WINDOWS_SQL,
        mention_windows,
    )

    register("mention_windows", MENTION_WINDOWS_SQL)(mention_windows)


_register_windows()


# ---------------------------------------------------------------------------
# 33. gap-based sessionization over the events stream table
# ---------------------------------------------------------------------------


def _register_sessions():
    from ed_twitter_spark.operators.sessions import EVENT_SESSIONS_SQL, event_sessions

    register("event_sessions", EVENT_SESSIONS_SQL)(event_sessions)

    # SFT-pair mining + chat-template rendering over the transcript table
    from ed_twitter_spark.operators import sft as sft_ops

    register("sft_pairs", sft_ops.SFT_PAIRS_SQL)(sft_ops.sft_pairs)
    register("chat_render", sft_ops.CHAT_RENDER_SQL)(sft_ops.chat_render)
    register("preference_pairs", sft_ops.PREFERENCE_PAIRS_SQL)(
        sft_ops.preference_pairs
    )
    register("tool_grounding", sft_ops.TOOL_GROUNDING_SQL)(sft_ops.tool_grounding)
    register("sft_pipeline", sft_ops.SFT_PIPELINE_SQL)(sft_ops.sft_pipeline)

    from ed_twitter_spark.operators.transcript_stats import (
        CONV_CONTEXT_BUDGET_SQL,
        TURN_LATENCY_SQL,
        conv_context_budget,
        turn_latency,
    )

    register("turn_latency", TURN_LATENCY_SQL)(turn_latency)
    register("conv_context_budget", CONV_CONTEXT_BUDGET_SQL)(conv_context_budget)

    from ed_twitter_spark.operators import funnels as fnl

    register("event_funnel", fnl.EVENT_FUNNEL_SQL)(fnl.event_funnel)
    register("event_retention", fnl.EVENT_RETENTION_SQL)(fnl.event_retention)
    register("event_anomaly", fnl.EVENT_ANOMALY_SQL)(fnl.event_anomaly)

    # streaming twin: applyInPandasWithState per-user session state machine,
    # bounded single-batch replay so the emitted (append-mode) set is
    # deterministic and oracle-checkable (sessionize.py module docstring)
    from ed_twitter_spark.streaming import sessionize as ssz

    import uuid

    def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
        return ssz.run_sessionize(
            spark, sf_dir, query_name=f"stream_sessions_{uuid.uuid4().hex[:8]}"
        )

    register("stream_sessions", ssz.STREAM_SESSIONS_SQL)(q_stream_sessions)

    # streaming linker: stateless stream-static broadcast join, so the
    # replayed stream's cumulative output is value-identical to the batch
    # link_prior_argmax — same oracle, multi-micro-batch replay
    from ed_twitter_spark.streaming import link as slink

    register("stream_link", _LINK_PRIOR_ORACLE)(slink.stream_link_query)

    # the whole KG-construction chain (mentions → candidates → argmax →
    # canonical edge re-pointing) as one stateless streaming plan; oracle =
    # the batch kg_edges SQL verbatim (batch ≡ stream end to end)
    from ed_twitter_spark.operators import graph as _graph_ops

    register("stream_kg_edges", _graph_ops.kg_edges_oracle_sql())(
        slink.stream_kg_edges_query
    )

    # stateful streaming twin of distinct_sketch: the 256-register HLL
    # table maintained as streaming-aggregation state; oracle = the batch
    # estimate algebra (batch ≡ stream across micro-batch splits)
    from ed_twitter_spark.streaming import sketch as ssketch

    register("stream_distinct", ssketch.STREAM_DISTINCT_SQL)(
        ssketch.stream_distinct_query
    )
    # stateful streaming GROUP BY dedup; the oracle is the batch
    # dedup_exact SQL verbatim — (COUNT, MIN) state merges are
    # order-independent, so the final state table must equal the batch
    from ed_twitter_spark.operators.dedup import DEDUP_EXACT_SQL

    register("stream_dedup", DEDUP_EXACT_SQL)(ssketch.stream_dedup_query)
    # additive counterpart: CMS counters as streaming state; the oracle is
    # the BATCH heavy-hitters SQL verbatim — streamed counters summed
    # across micro-batches must equal the batch sketch
    from ed_twitter_spark.operators.sketches import heavy_hitters_sql

    register("stream_heavy_hitters", heavy_hitters_sql())(
        ssketch.stream_heavy_hitters_query
    )
    # append-mode watermark finalization under out-of-order arrival: a
    # two-micro-batch replay with held-back late rows must reproduce the
    # batch tumbling counts, withholding windows past the final watermark
    from ed_twitter_spark.streaming import late_window as slate

    register("stream_late_window", slate.STREAM_LATE_WINDOW_SQL)(
        slate.stream_late_window_query
    )


_register_sessions()


# ---------------------------------------------------------------------------
# transcript-table analytics over the input_hint columns (role, tool, ts)
# ---------------------------------------------------------------------------


def _register_transcript_stats():
    from ed_twitter_spark.operators import transcript_stats as tst

    register("conversation_stats", tst.CONVERSATION_STATS_SQL)(tst.conversation_stats)
    register("tool_usage", tst.TOOL_USAGE_SQL)(tst.tool_usage)
    register("role_transitions", tst.ROLE_TRANSITIONS_SQL)(tst.role_transitions)
    register("conv_loop_detect", tst.conv_loop_detect_oracle_sql())(
        tst.conv_loop_detect
    )
    register("conv_echo", tst.conv_echo_oracle_sql())(tst.conv_echo)
    register("conv_key_turns", tst.conv_key_turns_oracle_sql())(
        tst.conv_key_turns
    )
    register("conv_summary_render", tst.conv_summary_render_oracle_sql())(
        tst.conv_summary_render
    )


_register_transcript_stats()


# ---------------------------------------------------------------------------
# 34-35. K8 deterministic negative sampling + K9 entity-vector init
# ---------------------------------------------------------------------------


def _register_sampling():
    from ed_twitter_spark.operators import sampling as smp

    register("negative_sampling", smp.NEGATIVE_SAMPLING_SQL)(smp.negative_sampling)
    register("ent_vec_init", smp.ENT_VEC_INIT_SQL)(smp.ent_vec_init)


_register_sampling()


# ---------------------------------------------------------------------------
# 36-37. S2 anchor-markup parser + JSON props extraction
# ---------------------------------------------------------------------------


def _register_parse():
    from ed_twitter_spark.operators import anchors_parse as ap

    register("anchor_parse", ap.ANCHOR_PARSE_SQL)(ap.anchor_parse)
    register("anchor_parse_marked", ap.ANCHOR_MARKED_SQL)(ap.anchor_parse_marked)
    register("doc_titles", ap.doc_titles_sql())(ap.doc_titles)
    register("events_props", ap.EVENTS_PROPS_SQL)(ap.events_props)


_register_parse()


# ---------------------------------------------------------------------------
# 38. W5 hyperlink-context training-data emitter (gen_wiki_hyp_train_data)
# ---------------------------------------------------------------------------


def _register_hyperlinks():
    from ed_twitter_spark.operators import hyperlinks as hl

    register("hyperlink_contexts", hl.HYPERLINK_CONTEXTS_SQL)(hl.hyperlink_contexts)


_register_hyperlinks()


# ---------------------------------------------------------------------------
# 39-40. K7 deterministic entity-embedding training epoch (max-margin)
# ---------------------------------------------------------------------------


def _register_training():
    from ed_twitter_spark.operators import training as tr

    register("train_epoch_loss", tr.train_epoch_loss_sql())(tr.train_epoch_loss)
    register("train_entity_epoch", tr.train_entity_epoch_sql())(tr.train_entity_epoch)
    # K7 full scope: the chained N-epoch loop (epoch k+1 consumes epoch k's
    # checkpointed vectors; per-epoch loss sequence pins the whole chain)
    register("train_epochs", tr.train_epochs_sql())(tr.train_epochs)
    # final chained vectors, component-exact (the loss rows pin the chain
    # only at aggregate level; this hashes every (ent, dim) value)
    register("train_epochs_vectors", tr.train_epochs_vectors_sql())(
        tr.train_epochs_vectors
    )
    # the reference's actual optimizer: Adagrad accumulators carried
    # across epochs as checkpointed state (learn_a.py:112-113)
    register("train_epochs_adagrad", tr.train_epochs_adagrad_sql())(
        tr.train_epochs_adagrad
    )
    # the ranker's Adam training loop, distilled to the linear scorer
    # over (ctx_dot, ln prior) — margin 0.01, per-step micro-F1, monotone
    # best-F1 LR drop (ed_ranker.py:262-369, main.py:73-98)
    from ed_twitter_spark.operators import ranker_train as rk

    register("rank_train_steps", rk.rank_train_steps_sql())(rk.rank_train_steps)
    # K7 loss variants: neg/nce/is beside maxm over the shared slot scores
    # (model_a.py:81-93), plus the entity step under the NCE criterion
    register("train_loss_variants", tr.train_loss_variants_sql())(
        tr.train_loss_variants
    )
    register("train_entity_epoch_nce", tr.train_entity_epoch_nce_sql())(
        tr.train_entity_epoch_nce
    )
    # FULL-model ranker training: the local model's real trainable surface
    # (attention diagonals + combiner MLP, local_ctx_att_ranker.py:22-28)
    # with hand gradients under applyInPandas. Non-SQL-expressible
    # (attention top-k/softmax backward) → no oracle twin, like
    # link_embed; pinned instead by finite-difference gradcheck,
    # sequential-transcription equality, and the argmax-moves fixture in
    # tests/test_ranker_full.py.
    from ed_twitter_spark.operators import ranker_full as rkf

    register("rank_train_full", None)(rkf.rank_train_full)


_register_training()


def gold_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted gold links for every mention occurrence (closed-form)."""
    m = mention_ops.detect_mentions(synth.transcripts(spark, sf_dir))
    suffix = synth.gold_suffix_col(F.col("doc_id"), F.col("mention_idx"))
    return m.select(
        F.concat_ws("#", "conv_id", "turn_idx", "mention_idx").alias("subj"),
        F.concat(F.lit("E"), suffix.cast("string"), F.lit("_"), F.col("mention")).alias(
            "gold_obj"
        ),
    )


@register("eval_micro_f1", _EVAL_ORACLE)
def q_eval_micro_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ed_twitter_spark.operators.canonicalize import prior_triples

    pred = prior_triples(spark, sf_dir).select("subj", "obj")
    gold = gold_triples(spark, sf_dir)
    return eval_ops.micro_prf(pred, gold)


def _register_eval_bootstrap():
    # Poisson(1)-bootstrap error bars on the prior linker's micro-F1 —
    # same pred/gold frames as eval_micro_f1, deterministic integer-
    # threshold multiplicity draws (operators/eval.py rationale).
    from ed_twitter_spark.operators.eval import _POISSON1_T, BOOTSTRAP_REPS

    w_sql = "CASE " + " ".join(
        f"WHEN u < {t} THEN {k}" for k, t in enumerate(_POISSON1_T)
    ) + " ELSE 6 END"
    sql = f"""
WITH m AS ({mention_ops.mentions_sql()}),
kb AS ({synth.KB_ALIAS_SQL}),
pred AS (
  SELECT m.conv_id || '#' || CAST(m.turn_idx AS VARCHAR) || '#' ||
         CAST(m.mention_idx AS VARCHAR) AS subj,
         COALESCE(kb.ent_name, 'NIL')   AS obj
  FROM m LEFT JOIN (SELECT * FROM kb WHERE rank = 1) kb
    ON m.mention = kb.mention
),
gold AS (
  SELECT conv_id || '#' || CAST(turn_idx AS VARCHAR) || '#' ||
         CAST(mention_idx AS VARCHAR) AS subj,
         'E' || CAST({synth.gold_suffix_sql('doc_id', 'mention_idx')} AS VARCHAR)
             || '_' || mention        AS gold_obj
  FROM m
),
base AS (
  SELECT g.subj,
         CASE WHEN p.obj = g.gold_obj AND p.obj <> 'NIL' THEN 1 ELSE 0 END AS c,
         CASE WHEN p.obj <> 'NIL' THEN 1 ELSE 0 END AS p
  FROM gold g LEFT JOIN pred p USING (subj)
),
point AS (
  SELECT ROUND(2.0 * (SUM(c) * 1.0 / SUM(p)) * (SUM(c) * 1.0 / COUNT(*))
               / ((SUM(c) * 1.0 / SUM(p)) + (SUM(c) * 1.0 / COUNT(*))), 6)
           AS point_f1
  FROM base
),
draws AS (
  SELECT b, c, p, {w_sql} AS w
  FROM (
    SELECT t.b, base.c, base.p,
           CAST(('0x' || substr(md5(base.subj || '#' || CAST(t.b AS VARCHAR)), 1, 12))
                AS BIGINT) AS u
    FROM base, UNNEST(range(0, {BOOTSTRAP_REPS})) AS t(b)
  )
),
per_rep AS (
  SELECT ROUND(2.0 * (SUM(w * c) * 1.0 / SUM(w * p)) * (SUM(w * c) * 1.0 / SUM(w))
               / ((SUM(w * c) * 1.0 / SUM(w * p)) + (SUM(w * c) * 1.0 / SUM(w))), 6)
           AS f1
  FROM draws
  GROUP BY b
  HAVING SUM(w * p) > 0 AND SUM(w) > 0
),
summary AS (
  SELECT CAST(COUNT(*) AS INTEGER) AS n_reps,
         ROUND(CAST(SUM(CAST(f1 AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
           AS f1_mean,
         ROUND(quantile_cont(f1, 0.05), 6) AS f1_p05,
         ROUND(quantile_cont(f1, 0.95), 6) AS f1_p95
  FROM per_rep WHERE f1 IS NOT NULL
)
SELECT s.n_reps, pt.point_f1, s.f1_mean, s.f1_p05, s.f1_p95
FROM summary s CROSS JOIN point pt
"""

    @register("eval_bootstrap_ci", sql)
    def q_eval_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ed_twitter_spark.operators.canonicalize import prior_triples

        pred = prior_triples(spark, sf_dir).select("subj", "obj")
        gold = gold_triples(spark, sf_dir)
        return eval_ops.eval_bootstrap_ci(pred, gold)


_register_eval_bootstrap()


def _register_link_calibration():
    # reliability diagram of the cosine linker's score vs planted gold —
    # the "can I threshold triples on this score" answer (eval.py
    # docstring has the scale rationale for equal-width, not ntile, bins)
    from ed_twitter_spark.operators.cosine_linker import (
        link_cosine,
        link_cosine_oracle_sql,
    )

    sql = f"""
WITH lc AS ({link_cosine_oracle_sql()}),
mg AS ({mention_ops.mentions_sql()}),
gold AS (
  SELECT conv_id || '#' || CAST(turn_idx AS VARCHAR) || '#' ||
         CAST(mention_idx AS VARCHAR) AS subj,
         'E' || CAST({synth.gold_suffix_sql('doc_id', 'mention_idx')} AS VARCHAR)
             || '_' || mention        AS gold_obj
  FROM mg
),
j AS (
  SELECT g.gold_obj, lc.obj, lc.score_r4
  FROM gold g JOIN lc ON lc.subj = g.subj
),
rng AS (SELECT MIN(score_r4) AS smin, MAX(score_r4) AS smax FROM j),
b AS (
  SELECT j.*,
         CASE WHEN r.smax = r.smin THEN 0
              ELSE LEAST(9, CAST(FLOOR((j.score_r4 - r.smin)
                                       / (r.smax - r.smin) * 10) AS INTEGER))
         END AS bucket
  FROM j CROSS JOIN rng r
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN obj = gold_obj THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       ROUND(SUM(CASE WHEN obj = gold_obj THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
         AS accuracy,
       ROUND(CAST(SUM(CAST(score_r4 AS DECIMAL(28,4))) AS DOUBLE) / COUNT(*), 6)
         AS avg_score
FROM b GROUP BY bucket
"""

    @register("link_calibration", sql)
    def q_link_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
        pred = link_cosine(spark, sf_dir).select("subj", "obj", "score_r4")
        gold = gold_triples(spark, sf_dir)
        return eval_ops.link_calibration(pred, gold)


_register_link_calibration()


def _register_eval_ablation():
    # the reference's headline comparison as ONE table: micro-P/R/F1 of
    # the p(e|m)-prior argmax baseline vs the cosine-embedding linker on
    # the same gold (deep-ed's "prior baseline vs full model" ablation,
    # mulrel-nel/nel/ed_ranker.py eval loop). Both pred frames are
    # SQL-expressible, so unlike link_embed's rows-only pin this
    # ablation is value-exact cross-engine; the LBP linker's own P/R
    # lives in the golden-hash suite. On the SYNTHETIC corpus the
    # expected ordering is prior > cosine (sf0.01: 0.799 vs 0.684) —
    # the hash-seeded fixture embeddings carry no disambiguation signal,
    # so the context dot is noise added to a clean planted prior; on
    # real data the same table is where the reference's "embeddings
    # beat the prior" claim would be read off. Plan: the two linkers'
    # existing plans plus one gold left-join each and one 2-group
    # aggregate — nothing new shuffles.
    from ed_twitter_spark.operators.cosine_linker import (
        link_cosine,
        link_cosine_oracle_sql,
    )

    tp = "SUM(CASE WHEN obj = gold_obj AND obj <> 'NIL' THEN 1 ELSE 0 END)"
    np_ = "SUM(CASE WHEN obj <> 'NIL' THEN 1 ELSE 0 END)"
    sql = f"""
WITH m AS ({mention_ops.mentions_sql()}),
kb AS ({synth.KB_ALIAS_SQL}),
gold AS (
  SELECT conv_id || '#' || CAST(turn_idx AS VARCHAR) || '#' ||
         CAST(mention_idx AS VARCHAR) AS subj,
         'E' || CAST({synth.gold_suffix_sql('doc_id', 'mention_idx')} AS VARCHAR)
             || '_' || mention        AS gold_obj
  FROM m
),
prior_pred AS (
  SELECT m.conv_id || '#' || CAST(m.turn_idx AS VARCHAR) || '#' ||
         CAST(m.mention_idx AS VARCHAR) AS subj,
         COALESCE(kb.ent_name, 'NIL')   AS obj
  FROM m LEFT JOIN (SELECT * FROM kb WHERE rank = 1) kb
    ON m.mention = kb.mention
),
cos_pred AS (SELECT subj, obj FROM ({link_cosine_oracle_sql()})),
j AS (
  SELECT 'prior' AS variant, gold.gold_obj, prior_pred.obj
  FROM gold LEFT JOIN prior_pred USING (subj)
  UNION ALL
  SELECT 'cosine' AS variant, gold.gold_obj, cos_pred.obj
  FROM gold LEFT JOIN cos_pred USING (subj)
)
SELECT variant,
       CAST({tp} AS BIGINT)  AS true_pos,
       CAST({np_} AS BIGINT) AS n_pred,
       CAST(COUNT(*) AS BIGINT) AS n_gold,
       ROUND({tp} * 1.0 / {np_}, 6) AS precision,
       ROUND({tp} * 1.0 / COUNT(*), 6) AS recall,
       ROUND(2.0 * ({tp} * 1.0 / {np_}) * ({tp} * 1.0 / COUNT(*))
             / (({tp} * 1.0 / {np_}) + ({tp} * 1.0 / COUNT(*))), 6) AS f1
FROM j GROUP BY variant
ORDER BY variant
"""

    @register("eval_ablation", sql)
    def q_eval_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ed_twitter_spark.operators.canonicalize import prior_triples

        gold = gold_triples(spark, sf_dir)
        prior = prior_triples(spark, sf_dir).select("subj", "obj")
        cos = link_cosine(spark, sf_dir).select("subj", "obj")
        a = eval_ops.micro_prf(prior, gold).select(
            F.lit("prior").alias("variant"), "*"
        )
        b = eval_ops.micro_prf(cos, gold).select(
            F.lit("cosine").alias("variant"), "*"
        )
        return a.unionByName(b).orderBy("variant")


_register_eval_ablation()
