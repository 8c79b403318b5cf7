"""Hand-computed fixtures for the co-occurrence analytics.

The DuckDB oracle proves Spark ≡ SQL on the synthetic corpus; these pin
the *semantics* on a graph small enough to verify on paper, including the
orientation-invariance claim the triangle census rests on.

Fixture conversations: {1,2,3}, {3,4}, {4,5} → co-occurrence graph is the
triangle 1-2-3 plus the path 3-4-5.
"""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def fake_edges(spark):
    rows = [
        ("cA", v) for v in (1, 2, 3)
    ] + [("cB", v) for v in (3, 4)] + [("cC", v) for v in (4, 5)]
    # kg_edges schema slice the analytics consume; duplicate mentions per
    # conversation must not change any count (distinct-first guard)
    dup = rows + rows
    return spark.createDataFrame(
        [(c, v, f"{c}#t#{i}", 0.5) for i, (c, v) in enumerate(dup)],
        "conv_id string, obj_vertex bigint, subj string, score double",
    )


def test_triangle_census_by_hand(fake_edges):
    from ed_twitter_spark.operators.graph import kg_triangles

    row = kg_triangles(fake_edges).collect()[0]
    # one triangle (1-2-3); wedges: deg = [2,2,3,2,1] → 1+1+3+1+0 = 6
    assert row["n_triangles"] == 1
    assert row["n_wedges"] == 6
    assert row["clustering_coeff"] == pytest.approx(0.5)


def test_two_hop_by_hand(fake_edges):
    from ed_twitter_spark.operators.graph import kg_two_hop

    got = {
        r["vertex_id"]: (r["n_1hop"], r["n_within_2hop"])
        for r in kg_two_hop(fake_edges).collect()
    }
    assert got == {
        1: (2, 3),  # {2,3} then +4
        2: (2, 3),
        3: (3, 4),  # {1,2,4} then +5
        4: (2, 4),  # {3,5} then +1,2
        5: (1, 2),  # {4} then +3
    }


def test_pmi_by_hand(fake_edges):
    import math

    from ed_twitter_spark.operators.graph import kg_cooccurrence_pmi

    got = {
        (r["src"], r["dst"]): (r["n_ab"], r["pmi"])
        for r in kg_cooccurrence_pmi(fake_edges).collect()
    }
    # 3 conversations; e.g. pair (3,4): n_ab=1, n_3=2, n_4=2 → ln(3/4)
    assert got[(3, 4)] == (1, pytest.approx(round(math.log(3 / 4), 6)))
    # pair (1,2): n_ab=1, n_1=1, n_2=1 → ln(3)
    assert got[(1, 2)] == (1, pytest.approx(round(math.log(3.0), 6)))
    assert len(got) == 5  # (1,2),(1,3),(2,3),(3,4),(4,5)


def test_local_clustering_by_hand(fake_edges):
    from ed_twitter_spark.operators.graph import kg_local_clustering

    got = {
        r["vertex_id"]: (r["n_neighbors"], r["n_triangles"], r["local_cc"])
        for r in kg_local_clustering(fake_edges).collect()
    }
    # triangle 1-2-3 credits each of its vertices once; 4 and 5 see none
    assert got == {
        1: (2, 1, pytest.approx(1.0)),
        2: (2, 1, pytest.approx(1.0)),
        3: (3, 1, pytest.approx(round(1 / 3, 6))),
        4: (2, 0, pytest.approx(0.0)),
        5: (1, 0, pytest.approx(0.0)),  # deg < 2 → coefficient undefined → 0
    }


def test_neighbor_jaccard_by_hand(fake_edges):
    from ed_twitter_spark.operators.graph import kg_neighbor_jaccard

    got = {
        (r["src"], r["dst"]): (r["n_shared"], r["jaccard"])
        for r in kg_neighbor_jaccard(fake_edges).collect()
    }
    # N(1)={2,3} N(2)={1,3} N(3)={1,2,4} N(4)={3,5} N(5)={4};
    # every pair below shares exactly one witness middle
    third = pytest.approx(round(1 / 3, 6))
    assert got == {
        (1, 2): (1, third),  # share 3; 1/(2+2-1)
        (1, 3): (1, pytest.approx(0.25)),  # share 2
        (2, 3): (1, pytest.approx(0.25)),  # share 1
        (1, 4): (1, third),  # share 3
        (2, 4): (1, third),  # share 3
        (3, 5): (1, third),  # share 4; 1/(3+1-1)
    }


def test_adamic_adar_by_hand(fake_edges):
    import math

    from ed_twitter_spark.operators.graph import kg_adamic_adar

    got = {
        (r["src"], r["dst"]): (r["n_shared"], r["adamic_adar"])
        for r in kg_adamic_adar(fake_edges).collect()
    }
    # each pair has one witness; weight = 1/ln(deg(witness))
    w_deg2 = pytest.approx(round(1 / math.log(2), 6))
    w_deg3 = pytest.approx(round(1 / math.log(3), 6))
    assert got == {
        (1, 2): (1, w_deg3),  # witness 3 (deg 3)
        (1, 3): (1, w_deg2),  # witness 2
        (2, 3): (1, w_deg2),  # witness 1
        (1, 4): (1, w_deg3),  # witness 3
        (2, 4): (1, w_deg3),  # witness 3
        (3, 5): (1, w_deg2),  # witness 4
    }


def test_edge_lifetimes_by_hand(spark, fake_edges):
    from datetime import datetime

    from ed_twitter_spark.operators.graph import kg_edge_lifetimes

    # fake_edges has no turn_idx column; build a matching slice with it
    edges = spark.createDataFrame(
        [
            ("cA", 0, 1), ("cA", 1, 2), ("cA", 2, 1),
            ("cB", 0, 3),
        ],
        "conv_id string, turn_idx int, obj_vertex bigint",
    )
    t = spark.createDataFrame(
        [
            ("cA", 0, datetime(2026, 1, 1, 0, 0, 0)),
            ("cA", 1, datetime(2026, 1, 1, 0, 0, 10)),
            ("cA", 2, datetime(2026, 1, 1, 0, 0, 20)),
            ("cB", 0, datetime(2026, 1, 2, 0, 0, 0)),
        ],
        "conv_id string, turn_idx int, ts timestamp",
    )
    base = 1767225600  # 2026-01-01 00:00:00 UTC
    got = {
        r["vertex_id"]: (
            r["first_ts_epoch"], r["last_ts_epoch"], r["n_obs"], r["n_convs"]
        )
        for r in kg_edge_lifetimes(edges, t).collect()
    }
    assert got == {
        1: (base, base + 20, 2, 1),
        2: (base + 10, base + 10, 1, 1),
        3: (base + 86400, base + 86400, 1, 1),
    }


def test_label_propagation_by_hand(fake_edges, spark):
    """Self-vote LPA, 3 synchronous iterations, min-label tie-break.
    Connected fixture → one community; two disconnected cliques → one
    community each (and no 2-cycle oscillation on the bipartite pair)."""
    from ed_twitter_spark.operators.graph import kg_label_propagation

    got = {
        r["vertex_id"]: r["community"]
        for r in kg_label_propagation(fake_edges).collect()
    }
    assert got == {v: 1 for v in (1, 2, 3, 4, 5)}

    rows = [("cA", v) for v in (10, 11, 12)] + [("cB", v) for v in (20, 21)]
    two = spark.createDataFrame(
        [(c, v, f"{c}#t#{i}", 0.5) for i, (c, v) in enumerate(rows)],
        "conv_id string, obj_vertex bigint, subj string, score double",
    )
    got2 = {
        r["vertex_id"]: r["community"] for r in kg_label_propagation(two).collect()
    }
    assert got2 == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_modularity_by_hand(fake_edges, spark):
    """Single-community partition → Q = m/m − (2m/2m)² = 0 exactly; the
    two-clique fixture → 0.1875 per community, Q = 0.375 (hand-computed
    in the operator docstring)."""
    from ed_twitter_spark.operators.graph import kg_modularity

    rows = kg_modularity(fake_edges).collect()
    assert len(rows) == 1  # LPA labels the whole connected fixture 1
    r = rows[0]
    # triangle + path: 5 undirected edges, deg_sum = 2m = 10, all intra
    assert (r["community"], r["n_vertices"], r["intra_edges"], r["deg_sum"]) == (
        1, 5, 5, 10,
    )
    assert r["q_contrib"] == pytest.approx(0.0)

    two_rows = [("cA", v) for v in (10, 11, 12)] + [("cB", v) for v in (20, 21)]
    two = spark.createDataFrame(
        [(c, v, f"{c}#t#{i}", 0.5) for i, (c, v) in enumerate(two_rows)],
        "conv_id string, obj_vertex bigint, subj string, score double",
    )
    got = {
        r["community"]: (r["n_vertices"], r["intra_edges"], r["deg_sum"], r["q_contrib"])
        for r in kg_modularity(two).collect()
    }
    assert got == {
        10: (3, 3, 6, pytest.approx(0.1875)),
        20: (2, 1, 2, pytest.approx(0.1875)),
    }


def test_asof_snapshot_by_hand(spark):
    """Median linked-mention ts of {100,200,300,1000,2000} = 300; the
    (3,4) edge is established at 2000 in cB and must NOT appear; (1,3)
    and (2,3) land exactly ON the cutoff (inclusive)."""
    import datetime as dt

    from ed_twitter_spark.operators.graph import kg_asof_snapshot

    def ts(sec):
        return dt.datetime.fromtimestamp(sec, dt.timezone.utc).replace(tzinfo=None)

    edges = spark.createDataFrame(
        [("cA", 0, 1), ("cA", 1, 2), ("cA", 2, 3), ("cB", 0, 3), ("cB", 1, 4)],
        "conv_id string, turn_idx int, obj_vertex bigint",
    )
    transcripts = spark.createDataFrame(
        [("cA", 0, ts(100)), ("cA", 1, ts(200)), ("cA", 2, ts(300)),
         ("cB", 0, ts(1000)), ("cB", 1, ts(2000))],
        "conv_id string, turn_idx int, ts timestamp",
    )
    got = [tuple(r) for r in kg_asof_snapshot(edges, transcripts).collect()]
    assert got == [(1, 2, 200), (1, 3, 300), (2, 3, 300)]


def test_k_core_by_hand(fake_edges):
    """2-core of triangle 1-2-3 + path 3-4-5: round 1 peels 5, round 2
    peels 4, the triangle survives with residual degree 2."""
    from ed_twitter_spark.operators.graph import kg_k_core

    got = {r["vertex_id"]: r["degree"] for r in kg_k_core(fake_edges).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_ntriples_escaping(spark):
    """IRI percent-encoding and literal escaping on hostile identifiers:
    '%' must round-trip (encoded first), '#'/' ' percent-encode, and
    label literals escape backslash, quote, and newline."""
    from ed_twitter_spark.operators.graph import kg_ntriples

    edges = spark.createDataFrame(
        [("c1#0#0", "links to", "E1 x", "v 100%", 0.5)],
        "subj string, pred string, obj string, obj_vertex string, score double",
    )
    vertices = spark.createDataFrame(
        [("v 100%", 'na"me\\with\nnasty', 1, 1, 0)],
        "vertex_id string, canonical_name string, n_members long,"
        " n_entities long, n_surfaces long",
    )
    lines = {r["part"]: r["line"] for r in kg_ntriples(edges, vertices).collect()}
    assert lines["edge"] == (
        "<http://kg.local/mention/c1%230%230> "
        "<http://kg.local/pred/links%20to> "
        "<http://kg.local/vertex/v%20100%25> ."
    )
    assert lines["label"] == (
        "<http://kg.local/vertex/v%20100%25> "
        '<http://www.w3.org/2000/01/rdf-schema#label> '
        '"na\\"me\\\\with\\nnasty" .'
    )


def test_bfs_hops_by_hand(fake_edges):
    from ed_twitter_spark.operators.graph import kg_bfs_hops

    got = {r["vertex_id"]: r["hops"] for r in kg_bfs_hops(fake_edges).collect()}
    # degrees: 3→3, {1,2,4}→2, 5→1; seeds = top-3 by (deg desc, id asc)
    # = {3, 1, 2} at hop 0; frontier {1,2,3} reaches 4 at hop 1; 5 at hop 2
    assert got == {1: 0, 2: 0, 3: 0, 4: 1, 5: 2}


def test_eigencentrality_by_hand(fake_edges):
    import pytest as pt

    from ed_twitter_spark.operators.graph import kg_eigencentrality

    got = {
        r["vertex_id"]: r["centrality"]
        for r in kg_eigencentrality(fake_edges).collect()
    }
    # x0=1; s1=deg=[2,2,3,2,1]/3; s2=[5/3,5/3,2,4/3,2/3]/2;
    # s3=[11/6,11/6,7/3,4/3,2/3]/(7/3) → [11/14,11/14,1,4/7,2/7]
    exp = {1: 11 / 14, 2: 11 / 14, 3: 1.0, 4: 4 / 7, 5: 2 / 7}
    assert got.keys() == exp.keys()
    for v, x in exp.items():
        assert got[v] == pt.approx(round(x, 6), abs=1e-6)


def test_entity_salience_by_hand(spark):
    import pytest as pt

    from ed_twitter_spark.operators.graph import entity_salience

    edges = spark.createDataFrame(
        [("cA", 1, 0), ("cA", 1, 1), ("cA", 2, 1), ("cB", 2, 5), ("cB", None, 0)],
        "conv_id string, obj_vertex bigint, turn_idx int",
    )
    got = {
        (r["conv_id"], r["vertex_id"]): (r["n_mentions"], r["first_turn"], r["salience"])
        for r in entity_salience(edges).collect()
    }
    # cA: v1 share 2/3 at first_turn 0 → 2/3; v2 share 1/3 at turn 1 → 1/6
    # cB: the NULL-vertex row is excluded, so v2 has share 1 at turn 5 → 1/6
    assert got == {
        ("cA", 1): (2, 0, pt.approx(round(2 / 3, 6))),
        ("cA", 2): (1, 1, pt.approx(round(1 / 6, 6))),
        ("cB", 2): (1, 5, pt.approx(round(1 / 6, 6))),
    }


def test_typed_edges_by_hand(spark):
    from ed_twitter_spark.operators.graph import kg_typed_edges

    edges = spark.createDataFrame(
        [("c1#0#0", "links_to", "E1", 7, "c1", 0, 0),
         ("c1#1#0", "links_to", "E2", 8, "c1", 1, 0)],
        "subj string, pred string, obj string, obj_vertex long,"
        " conv_id string, turn_idx int, mention_idx int",
    )
    transcripts = spark.createDataFrame(
        [("c1", 0, "user", None), ("c1", 1, "tool", "search"), ("c1", 2, "assistant", None)],
        "conv_id string, turn_idx int, role string, tool string",
    )
    got = {r["subj"]: r["pred"] for r in kg_typed_edges(edges, transcripts).collect()}
    assert got == {"c1#0#0": "mentioned_by_user", "c1#1#0": "mentioned_in_search"}


def test_star_query_by_hand(spark):
    from ed_twitter_spark.operators.graph import kg_star_query

    # vertex 7 has 3 incident edges, vertex 8 has 2 → hub is 7; a 2-2 tie
    # would break toward the smaller vertex id (covered below)
    edges = spark.createDataFrame(
        [("c1#0#0", "links_to", "E1", 7, 0.5, "c1", 0, 0),
         ("c1#1#0", "links_to", "E1", 7, 0.5, "c1", 1, 0),
         ("c2#0#0", "links_to", "E3", 7, 0.5, "c2", 0, 0),
         ("c2#1#0", "links_to", "E2", 8, 0.5, "c2", 1, 0),
         ("c3#0#0", "links_to", "E2", 8, 0.5, "c3", 0, 0)],
        "subj string, pred string, obj string, obj_vertex long, score double,"
        " conv_id string, turn_idx int, mention_idx int",
    )
    got = kg_star_query(edges).collect()
    assert {r["obj_vertex"] for r in got} == {7}
    assert sorted(r["subj"] for r in got) == ["c1#0#0", "c1#1#0", "c2#0#0"]

    # deterministic tie-break: equal counts → smaller vertex id
    tied = edges.where("subj <> 'c1#0#0'")
    got_tied = kg_star_query(tied).collect()
    assert {r["obj_vertex"] for r in got_tied} == {7}


def test_ppr_matches_numpy_power_iteration(fake_edges):
    from ed_twitter_spark.operators.graph import PPR_DAMPING, PPR_ITERS, kg_ppr

    adj = {1: [2, 3], 2: [1, 3], 3: [1, 2, 4], 4: [3, 5], 5: [4]}
    seed = 3  # highest degree
    pr = {v: (1.0 if v == seed else 0.0) for v in adj}
    for _ in range(PPR_ITERS):
        mass = {v: 0.0 for v in adj}
        for u, nbrs in adj.items():
            for w in nbrs:
                mass[w] += pr[u] / len(nbrs)
        pr = {
            v: (1.0 - PPR_DAMPING if v == seed else 0.0) + PPR_DAMPING * mass[v]
            for v in adj
        }
    got = {r["vertex_id"]: r["ppr"] for r in kg_ppr(fake_edges).collect()}
    assert got == {v: round(p, 8) for v, p in pr.items()}
    # restart returns all teleport mass to the seed: total mass stays 1
    assert sum(got.values()) == pytest.approx(1.0)
    assert max(got, key=got.get) == seed


def test_random_walks_by_hand(fake_edges):
    import hashlib

    from ed_twitter_spark.operators.graph import WALK_LEN, kg_random_walks

    # transcribe the hash-greedy rule on the paper graph
    adj = {1: [2, 3], 2: [1, 3], 3: [1, 2, 4], 4: [3, 5], 5: [4]}

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    expected = {}
    for start in adj:
        cur, walk = start, []
        for step in range(1, WALK_LEN + 1):
            cur = min(adj[cur], key=lambda d: (h32(f"{start}|{step}|{d}"), d))
            walk.append(cur)
        expected[start] = tuple(walk)

    got = kg_random_walks(fake_edges).collect()
    assert {r["vertex_id"]: (r["v1"], r["v2"], r["v3"]) for r in got} == expected
    # structural: every consecutive pair is a real edge
    for r in got:
        path = [r["vertex_id"], r["v1"], r["v2"], r["v3"]]
        for a, b in zip(path, path[1:]):
            assert b in adj[a]


def test_node2vec_walks_by_hand(fake_edges):
    """Second-order transcription on the paper graph: class rank
    dist-2 < dist-1 < return (p=2, q=0.5), hash tie-break within class."""
    import hashlib

    from ed_twitter_spark.operators.graph import WALK_LEN, kg_node2vec_walks

    adj = {1: [2, 3], 2: [1, 3], 3: [1, 2, 4], 4: [3, 5], 5: [4]}

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    expected = {}
    for start in adj:
        prev, cur, walk = None, start, []
        for step in range(1, WALK_LEN + 1):
            if prev is None:
                nxt = min(adj[cur], key=lambda d: (h32(f"{start}|{step}|{d}"), d))
            else:
                def cls(d, prev=prev):
                    if d == prev:
                        return 2
                    return 1 if d in adj[prev] else 0

                nxt = min(
                    adj[cur],
                    key=lambda d: (cls(d), h32(f"{start}|{step}|{d}"), d),
                )
            prev, cur = cur, nxt
            walk.append(cur)
        expected[start] = tuple(walk)

    got = kg_node2vec_walks(fake_edges).collect()
    assert {r["vertex_id"]: (r["v1"], r["v2"], r["v3"]) for r in got} == expected
    # the q<1 outward bias is visible: from 5 the walk runs 4→3→{1|2},
    # never bouncing back to 5 or 4 (the uniform walk may)
    by_start = {r["vertex_id"]: (r["v1"], r["v2"], r["v3"]) for r in got}
    assert by_start[5][0] == 4 and by_start[5][1] == 3 and by_start[5][2] in (1, 2)
    for r in got:
        path = [r["vertex_id"], r["v1"], r["v2"], r["v3"]]
        for a, b in zip(path, path[1:]):
            assert b in adj[a]


# ---------------------------------------------------------------------------
# BGP compiler
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def tiny_triples(spark):
    # Two conversations; E1 is user+search-mentioned in c1 (the demo BGP
    # match), E2 is user-mentioned in c1 but search-mentioned only in c2.
    rows = [
        ("c1#0#0", "mentioned_by_user", "e:E1"),
        ("c1#2#0", "mentioned_in_search", "e:E1"),
        ("c1#0#1", "mentioned_by_user", "e:E2"),
        ("c2#2#0", "mentioned_in_search", "e:E2"),
        ("c1#0#0", "in_conv", "c1"),
        ("c1#2#0", "in_conv", "c1"),
        ("c1#0#1", "in_conv", "c1"),
        ("c2#2#0", "in_conv", "c2"),
        ("c1", "mentions", "e:E1"),
        ("c1", "mentions", "e:E2"),
        ("c2", "mentions", "e:E2"),
    ]
    return spark.createDataFrame(rows, "s string, p string, o string")


def test_bgp_single_pattern_constant_filter(tiny_triples):
    from ed_twitter_spark.operators.bgp import bgp_query

    got = bgp_query(tiny_triples, [("?m", "mentioned_by_user", "?e")]).collect()
    assert {(r["m"], r["e"]) for r in got} == {
        ("c1#0#0", "e:E1"), ("c1#0#1", "e:E2")
    }


def test_bgp_demo_pattern_by_hand(tiny_triples):
    from ed_twitter_spark.operators.bgp import BGP_DEMO_PATTERNS, bgp_query

    got = bgp_query(tiny_triples, BGP_DEMO_PATTERNS, select=["c", "e"]).collect()
    # E1: user+search both in c1 → match. E2: user in c1, search in c2 → no.
    assert {(r["c"], r["e"]) for r in got} == {("c1", "e:E1")}


def test_bgp_distinct_projection(tiny_triples):
    from ed_twitter_spark.operators.bgp import bgp_query

    # project away ?m: two user mentions in c1 collapse to one (?c) row
    got = bgp_query(
        tiny_triples,
        [("?m", "mentioned_by_user", "?e"), ("?m", "in_conv", "?c")],
        select=["c"],
    ).collect()
    assert [r["c"] for r in got] == ["c1"]


def test_bgp_repeated_var_in_one_pattern(spark):
    from ed_twitter_spark.operators.bgp import bgp_query

    triples = spark.createDataFrame(
        [("a", "same_as", "a"), ("a", "same_as", "b")],
        "s string, p string, o string",
    )
    got = bgp_query(triples, [("?x", "same_as", "?x")]).collect()
    assert [r["x"] for r in got] == ["a"]


def test_bgp_filter_on_required_group(tiny_triples):
    from ed_twitter_spark.operators.bgp import bgp_query

    got = bgp_query(
        tiny_triples,
        [("?m", "mentioned_by_user", "?e")],
        filters=["e = 'e:E2'"],
    ).collect()
    assert {(r["m"], r["e"]) for r in got} == {("c1#0#1", "e:E2")}


def test_bgp_optional_left_join_semantics(tiny_triples):
    from ed_twitter_spark.operators.bgp import bgp_query

    got = bgp_query(
        tiny_triples,
        [("?m1", "mentioned_by_user", "?e"), ("?m1", "in_conv", "?c")],
        select=["c", "e", "m2"],
        optional=[("?m2", "mentioned_in_search", "?e"), ("?m2", "in_conv", "?c")],
    ).collect()
    # E1 has a same-conv search mention; E2's search mention is in the
    # OTHER conversation, so its required binding survives with m2 NULL
    assert {(r["c"], r["e"], r["m2"]) for r in got} == {
        ("c1", "e:E1", "c1#2#0"),
        ("c1", "e:E2", None),
    }


def test_bgp_optional_filter_scoped_to_group(tiny_triples):
    from ed_twitter_spark.operators.bgp import (
        BGP_OPT_FILTERS,
        BGP_OPT_GROUP,
        BGP_OPT_REQUIRED,
        bgp_query,
    )

    got = bgp_query(
        tiny_triples,
        BGP_OPT_REQUIRED,
        select=["c", "e", "pt"],
        optional=BGP_OPT_GROUP,
        optional_filters=BGP_OPT_FILTERS,
    ).collect()
    # the predicate VARIABLE binds only tool-mention predicates (the
    # FILTER scopes inside the optional group); a filter that emptied the
    # group must not delete the required row — it NULLs the binding
    assert {(r["c"], r["e"], r["pt"]) for r in got} == {
        ("c1", "e:E1", "mentioned_in_search"),
        ("c1", "e:E2", None),
    }


def test_bgp_union_set_semantics(tiny_triples):
    from ed_twitter_spark.operators.bgp import BGP_UNION_BRANCHES, bgp_union

    got = bgp_union(tiny_triples, BGP_UNION_BRANCHES, select=["c", "e"]).collect()
    # user channel: (c1,E1),(c1,E2); tool channel: (c1,E1),(c2,E2) —
    # the shared (c1,E1) binding appears ONCE (set union)
    assert {(r["c"], r["e"]) for r in got} == {
        ("c1", "e:E1"),
        ("c1", "e:E2"),
        ("c2", "e:E2"),
    }
    assert len(got) == 3


def test_bgp_union_rejects_bad_args(tiny_triples):
    from ed_twitter_spark.operators.bgp import bgp_union

    with pytest.raises(ValueError, match="no branches"):
        bgp_union(tiny_triples, [], select=["e"])
    with pytest.raises(ValueError, match="explicit select"):
        bgp_union(
            tiny_triples,
            [{"patterns": [("?m", "in_conv", "?c")]}],
            select=[],
        )
    with pytest.raises(ValueError, match="not bound"):
        bgp_union(
            tiny_triples,
            [{"patterns": [("?m", "in_conv", "?c")]}],
            select=["e"],
        )


def test_bgp_aggregate_count_distinct(tiny_triples):
    from ed_twitter_spark.operators.bgp import BGP_OPT_REQUIRED, bgp_aggregate

    got = bgp_aggregate(
        tiny_triples,
        BGP_OPT_REQUIRED,
        group_by=["c"],
        count_distinct="e",
        alias="n_entities",
    ).collect()
    # c1 has user mentions of E1 and E2; duplicates of the same binding
    # must not inflate the DISTINCT count
    assert {(r["c"], r["n_entities"]) for r in got} == {("c1", 2)}
    with pytest.raises(ValueError, match="not bound"):
        bgp_aggregate(
            tiny_triples,
            [("?m", "in_conv", "?c")],
            group_by=["c"],
            count_distinct="zz",
        )


def test_bgp_minus_semantics(tiny_triples):
    from ed_twitter_spark.operators.bgp import (
        BGP_MINUS_GROUP,
        BGP_OPT_FILTERS,
        BGP_OPT_REQUIRED,
        bgp_query,
    )

    got = bgp_query(
        tiny_triples,
        BGP_OPT_REQUIRED,
        select=["c", "e"],
        minus=BGP_MINUS_GROUP,
        minus_filters=BGP_OPT_FILTERS,
    ).collect()
    # E1 has a same-conv search mention -> removed; E2's is in c2 -> kept
    assert {(r["c"], r["e"]) for r in got} == {("c1", "e:E2")}


def test_bgp_minus_disjoint_removes_nothing(tiny_triples):
    # SPARQL 1.1 §8.3.3: MINUS with no shared variable keeps every row
    from ed_twitter_spark.operators.bgp import bgp_query

    got = bgp_query(
        tiny_triples,
        [("?m", "mentioned_by_user", "?e")],
        select=["e"],
        minus=[("?x", "in_conv", "?y")],
    ).collect()
    assert {r["e"] for r in got} == {"e:E1", "e:E2"}


def test_void_stats_by_hand(tiny_triples, spark):
    """Hand-count on the tiny store: mentioned_by_user has 2 triples,
    2 distinct subjects and objects; in_conv has 4 triples over 4 subjects
    and 2 conversations (in_fanout 2.0)."""
    from ed_twitter_spark.operators.bgp import void_stats

    got = {r["p"]: tuple(r)[1:] for r in void_stats(tiny_triples).collect()}
    assert got["mentioned_by_user"] == (2, 2, 2, 1.0, 1.0)
    assert got["mentioned_in_search"] == (2, 2, 2, 1.0, 1.0)
    assert got["in_conv"] == (4, 4, 2, 1.0, 2.0)
    assert got["mentions"] == (3, 2, 2, 1.5, 1.5)


def test_bgp_exists_correlates_on_shared_vars(tiny_triples):
    """EXISTS on ?e alone: both E1 and E2 have SOME search mention, so both
    survive — contrast with MINUS on (?e, ?c) which removes E1 only."""
    from ed_twitter_spark.operators.bgp import (
        BGP_EXISTS_GROUP,
        BGP_OPT_FILTERS,
        BGP_OPT_REQUIRED,
        bgp_query,
    )

    got = bgp_query(
        tiny_triples,
        BGP_OPT_REQUIRED,
        select=["c", "e"],
        exists=BGP_EXISTS_GROUP,
        exists_filters=BGP_OPT_FILTERS,
    ).collect()
    assert {(r["c"], r["e"]) for r in got} == {("c1", "e:E1"), ("c1", "e:E2")}

    # NOT EXISTS, same-conversation correlation on (?e, ?c): removes E1
    # (its search mention is in c1), keeps E2 (search mention is in c2) —
    # here NOT EXISTS and MINUS agree because variables are shared
    got2 = bgp_query(
        tiny_triples,
        BGP_OPT_REQUIRED,
        select=["c", "e"],
        not_exists=[("?m2", "?pt", "?e"), ("?m2", "in_conv", "?c")],
        not_exists_filters=BGP_OPT_FILTERS,
    ).collect()
    assert {(r["c"], r["e"]) for r in got2} == {("c1", "e:E2")}


def test_bgp_exists_disjoint_is_scalar_gate(tiny_triples):
    """SPARQL 1.1 divergence: disjoint NOT EXISTS over a non-empty group
    removes EVERYTHING (vs MINUS removing nothing); disjoint EXISTS over
    an empty group removes everything too."""
    from ed_twitter_spark.operators.bgp import bgp_query

    base = [("?m", "mentioned_by_user", "?e")]
    # inner group non-empty → NOT EXISTS kills all rows
    got = bgp_query(
        tiny_triples, base, select=["e"],
        not_exists=[("?x", "in_conv", "?y")],
    ).collect()
    assert got == []
    # inner group empty → EXISTS kills all rows
    got2 = bgp_query(
        tiny_triples, base, select=["e"],
        exists=[("?x", "never_seen_pred", "?y")],
    ).collect()
    assert got2 == []
    # inner group non-empty → EXISTS keeps all rows
    got3 = bgp_query(
        tiny_triples, base, select=["e"],
        exists=[("?x", "in_conv", "?y")],
    ).collect()
    assert {r["e"] for r in got3} == {"e:E1", "e:E2"}


def test_bgp_optional_rejects_disconnected_group(tiny_triples):
    from ed_twitter_spark.operators.bgp import bgp_query

    with pytest.raises(ValueError, match="OPTIONAL group shares no variable"):
        bgp_query(
            tiny_triples,
            [("?m", "mentioned_by_user", "?e")],
            optional=[("?x", "in_conv", "?y")],
        )


def test_bgp_rejects_disconnected_and_unbound(tiny_triples):
    from ed_twitter_spark.operators.bgp import bgp_query

    with pytest.raises(ValueError, match="disconnected"):
        bgp_query(
            tiny_triples,
            [("?a", "mentioned_by_user", "?b"), ("?x", "in_conv", "?y")],
        )
    with pytest.raises(ValueError, match="not bound"):
        bgp_query(tiny_triples, [("?m", "in_conv", "?c")], select=["zz"])
    with pytest.raises(ValueError, match="empty"):
        bgp_query(tiny_triples, [])


def test_triple_store_by_hand(spark):
    from ed_twitter_spark.operators.bgp import kg_triple_store

    typed = spark.createDataFrame(
        [
            ("c1#0#0", "mentioned_by_user", "E1", "e:E1", "c1", 0, 0),
            ("c1#1#0", "mentioned_by_assistant", "E1", "e:E1", "c1", 1, 0),
            ("c1#2#0", "mentioned_in_search", "E2", None, "c1", 2, 0),
        ],
        "subj string, pred string, obj string, obj_vertex string,"
        " conv_id string, turn_idx int, mention_idx int",
    )
    got = {(r["s"], r["p"], r["o"]) for r in kg_triple_store(typed).collect()}
    # the NULL-vertex edge is dropped; conv-level 'mentions' is distinct
    assert got == {
        ("c1#0#0", "mentioned_by_user", "e:E1"),
        ("c1#1#0", "mentioned_by_assistant", "e:E1"),
        ("c1#0#0", "in_conv", "c1"),
        ("c1#1#0", "in_conv", "c1"),
        ("c1", "mentions", "e:E1"),
    }


def test_bgp_randomized_vs_bruteforce(spark):
    """Seeded randomized parity: the compiled join plan must equal a
    brute-force backtracking matcher on every random (store, pattern)
    case — the compiler's join-order heuristic can never change the
    answer, only the plan."""
    import random

    from ed_twitter_spark.operators.bgp import bgp_query

    def brute(triples, patterns):
        def extend(binding, pats):
            if not pats:
                yield binding
                return
            s, p, o = pats[0]
            for ts, tp, to in triples:
                b = dict(binding)
                ok = True
                for term, val in ((s, ts), (p, tp), (o, to)):
                    if term.startswith("?"):
                        v = term[1:]
                        if b.get(v, val) != val:
                            ok = False
                            break
                        b[v] = val
                    elif term != val:
                        ok = False
                        break
                if ok:
                    yield from extend(b, pats[1:])

        return extend({}, patterns)

    rng = random.Random(42)
    ents = ["a", "b", "c", "d"]
    preds = ["p", "q"]
    n_checked = 0
    for case in range(30):
        triples = sorted(
            {
                (rng.choice(ents), rng.choice(preds), rng.choice(ents))
                for _ in range(rng.randint(3, 10))
            }
        )
        pats = []
        for _ in range(rng.randint(1, 3)):
            pats.append(
                tuple(
                    rng.choice(["?x", "?y", "?z"] + pool)
                    for pool in (ents, preds, ents)
                )
            )
        allvars = sorted({t[1:] for pat in pats for t in pat if t.startswith("?")})
        df = spark.createDataFrame(triples, "s string, p string, o string")
        try:
            got = {
                tuple(r[v] for v in allvars)
                for r in bgp_query(df, pats, select=allvars).collect()
            }
        except ValueError as exc:
            assert "disconnected" in str(exc) or (
                "empty" in str(exc) and not pats
            ), exc
            # brute force ignores connectivity; the compiler's rejection is
            # a policy choice (no cartesian products), not a wrong answer
            continue
        want = {tuple(b[v] for v in allvars) for b in brute(triples, pats)}
        assert got == want, (case, triples, pats)
        n_checked += 1
    assert n_checked >= 15  # the generator must mostly produce connected BGPs


def test_bgp_construct_template_instantiation(tiny_triples):
    from ed_twitter_spark.operators.bgp import (
        BGP_CONSTRUCT_FILTERS,
        BGP_CONSTRUCT_PATTERNS,
        BGP_CONSTRUCT_TEMPLATE,
        bgp_construct,
    )

    got = bgp_construct(
        tiny_triples,
        BGP_CONSTRUCT_PATTERNS,
        BGP_CONSTRUCT_TEMPLATE,
        filters=BGP_CONSTRUCT_FILTERS,
    ).collect()
    # only c1 mentions two entities; both template directions come back,
    # and the constant predicate is minted
    assert {(r["s"], r["p"], r["o"]) for r in got} == {
        ("e:E1", "co_mentioned_with", "e:E2"),
        ("e:E2", "co_mentioned_with", "e:E1"),
    }


def test_bgp_construct_rejects_unbound_template_var(tiny_triples):
    import pytest as _pytest

    from ed_twitter_spark.operators.bgp import bgp_construct

    with _pytest.raises(ValueError, match="not bound"):
        bgp_construct(
            tiny_triples,
            [("?c", "mentions", "?e")],
            [("?zz", "p", "?e")],
        )


def test_path_edges_sequence_and_inverse(tiny_triples):
    from ed_twitter_spark.operators.bgp import path_edges

    # mentions/^mentions = conv -> conv via a shared entity (incl. self)
    got = {
        (r["src"], r["dst"])
        for r in path_edges(tiny_triples, ["mentions", "^mentions"]).collect()
    }
    assert got == {("c1", "c1"), ("c1", "c2"), ("c2", "c1"), ("c2", "c2")}


def test_bgp_path_closure_min_hops(spark):
    from ed_twitter_spark.operators.bgp import bgp_path_closure

    # chain a-p->b-p->c-p->d-p->e: hops bound at 3 stops before e
    rows = [("a", "p", "b"), ("b", "p", "c"), ("c", "p", "d"), ("d", "p", "e")]
    trip = spark.createDataFrame(rows, "s string, p string, o string")
    start = spark.createDataFrame([("a",)], "x string")
    got = {
        (r["x"], r["hops"])
        for r in bgp_path_closure(trip, ["p"], start, max_hops=3).collect()
    }
    assert got == {("a", 0), ("b", 1), ("c", 2), ("d", 3)}


def test_rdfs_closure_and_inference(spark):
    from ed_twitter_spark.operators.bgp import (
        rdfs_infer,
        rdfs_subproperty_closure,
    )

    closure = {
        (r["sub"], r["sup"]) for r in rdfs_subproperty_closure(spark).collect()
    }
    # rdfs5: the transitive pairs through the intermediates must appear
    assert ("mentioned_by_user", "mentioned") in closure
    assert ("mentioned_in_search", "mentioned") in closure
    assert len(closure) == 8

    trip = spark.createDataFrame(
        [("m1", "mentioned_by_user", "e:E1"), ("m1", "in_conv", "c1")],
        "s string, p string, o string",
    )
    got = {
        (r["s"], r["p"], r["o"])
        for r in rdfs_infer(trip, rdfs_subproperty_closure(spark)).collect()
    }
    # rdfs7 fires only on ontology predicates; in_conv passes through untouched
    assert got == {
        ("m1", "mentioned_directly", "e:E1"),
        ("m1", "mentioned", "e:E1"),
    }


# ---------------------------------------------------------------------------
# HyperBall neighborhood function
# ---------------------------------------------------------------------------


def test_hyperball_converges_to_full_ball(spark):
    """On a connected graph with iters >= diameter, every vertex's sketch
    equals the sketch of the whole vertex set, so nf = n * est(V); and the
    curve is monotone nondecreasing in t."""
    from pyspark.sql import functions as F

    from ed_twitter_spark.operators.hyperball import hyperball_nf
    from ed_twitter_spark.operators.sketches import hll_estimate, hll_register_cols

    # star: center X, leaves A B C (diameter 2), via shared-conv edges
    kg = spark.createDataFrame(
        [("c1", "e:X"), ("c1", "e:A"), ("c2", "e:X"), ("c2", "e:B"),
         ("c3", "e:X"), ("c3", "e:C")],
        "conv_id string, obj_vertex string",
    )
    curve = {r["t"]: r["nf"] for r in hyperball_nf(kg, iters=2).collect()}
    assert curve[0] <= curve[1] <= curve[2]

    nodes = spark.createDataFrame(
        [("e:X",), ("e:A",), ("e:B",), ("e:C",)], "v string"
    )
    register, rank = hll_register_cols(F.col("v"))
    regs = (
        nodes.select(register.alias("register"), rank.alias("rank"))
        .groupBy("register")
        .agg(F.max("rank").alias("m"))
    )
    est_all = hll_estimate(regs).collect()[0]["hll_raw_estimate"]
    assert abs(curve[2] - round(4 * est_all, 4)) < 1e-6


# ---------------------------------------------------------------------------
# KG quality: SHACL validation + edge churn
# ---------------------------------------------------------------------------


def test_shacl_validate_counts_violations(spark):
    from ed_twitter_spark.operators.kg_quality import shacl_validate

    trip = spark.createDataFrame(
        [
            ("conv_1#0#0", "mentioned_by_user", "e:E1"),   # clean
            ("BADSUBJ", "mentioned_by_user", "e:E2"),       # subj violation
            ("conv_1#2#0", "mentioned_in_search", "nope"),  # obj violation
            ("conv_1#0#0", "in_conv", "conv_1"),            # clean
            ("conv_1#0#0", "in_conv", "conv_2"),            # cardinality >1
            ("conv_1", "mentions", "e:E1"),                 # clean
        ],
        "s string, p string, o string",
    )
    got = {r["shape_id"]: r.asDict() for r in shacl_validate(spark, trip).collect()}
    ml = got["mention-link"]
    assert (ml["n_focus"], ml["n_subj_viol"], ml["n_obj_viol"]) == (3, 1, 1)
    mp = got["mention-prov"]
    assert (mp["n_focus"], mp["n_card_viol"]) == (2, 1)
    cm = got["conv-mentions"]
    assert (cm["n_focus"], cm["n_subj_viol"], cm["n_obj_viol"], cm["n_card_viol"]) == (
        1, 0, 0, 0,
    )


def test_edge_churn_half_classification(spark):
    from ed_twitter_spark.operators.kg_quality import edge_churn

    # conv with max turn 4 -> mid 2: first = turns 0-2, second = 3-4
    edges = spark.createDataFrame(
        [
            ("c1", 0, "e:A"),  # first only -> removed
            ("c1", 1, "e:B"),  # both -> stable
            ("c1", 4, "e:B"),
            ("c1", 3, "e:C"),  # second only -> added
            ("c1", 4, None),   # null vertex dropped
        ],
        "conv_id string, turn_idx int, obj_vertex string",
    )
    got = {r["status"]: r["n_edges"] for r in edge_churn(edges).collect()}
    assert got == {"removed": 1, "stable": 1, "added": 1}


def test_ktruss_peels_path_keeps_triangle(fake_edges):
    """Triangle 1-2-3 + path 3-4-5: the path edges close no triangle, so
    3-truss peeling (support ≥ 1) drops them round 1; the triangle's
    edges each keep support 1 through every round."""
    from ed_twitter_spark.operators.graph import kg_ktruss

    got = {(r["src"], r["dst"]): r["support"] for r in kg_ktruss(fake_edges).collect()}
    assert got == {(1, 2): 1, (1, 3): 1, (2, 3): 1}


def test_degree_distribution_buckets_by_hand(fake_edges):
    """Degrees 1:2, 2:2, 3:3, 4:2, 5:1 → bucket 1 holds the four vertices
    with degree 2-3, bucket 0 the lone degree-1 vertex."""
    from ed_twitter_spark.operators.graph import kg_degree_distribution

    got = {
        r["bucket"]: (r["n_vertices"], r["min_degree"], r["max_degree"])
        for r in kg_degree_distribution(fake_edges).collect()
    }
    assert got == {0: (1, 1, 1), 1: (4, 2, 3)}


def test_edge_evidence_provenance_by_hand(spark):
    """conv cA asserts 1-2 at turns (0,1) with mention counts (1,2);
    conv cB re-asserts it later — n_convs, bounded support and the
    established/refreshed turn range all follow by hand."""
    from ed_twitter_spark.operators.graph import kg_edge_evidence

    rows = [
        ("cA", 1, 0), ("cA", 2, 1), ("cA", 2, 3),
        ("cB", 1, 5), ("cB", 2, 7),
    ]
    edges = spark.createDataFrame(
        [(c, v, t, f"{c}#{t}", 0.5) for c, v, t in rows],
        "conv_id string, obj_vertex bigint, turn_idx int, subj string, score double",
    )
    out = kg_edge_evidence(edges).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["src"], r["dst"]) == (1, 2)
    assert r["n_convs"] == 2
    assert r["support"] == 1 + 1  # min(1,2) in cA + min(1,1) in cB
    assert r["first_established"] == 1  # max(0,1) in cA
    assert r["last_refreshed"] == 7  # max(5,7) in cB


def test_snapshot_growth_deciles_by_hand(spark):
    """One 10-turn conv: vertices 1,2 appear at turn 0, vertex 3 at turn
    9 → edge (1,2) established decile 0; (1,3),(2,3) at decile 9
    (floor(10·9/10)); cumulative 1 → 3."""
    from ed_twitter_spark.operators.graph import kg_snapshot_growth

    rows = [("c", 1, 0), ("c", 2, 0), ("c", 3, 9)]
    edges = spark.createDataFrame(
        [(c, v, t, f"{c}#{t}", 0.5) for c, v, t in rows],
        "conv_id string, obj_vertex bigint, turn_idx int, subj string, score double",
    )
    got = {
        r["decile"]: (r["new_edges"], r["cum_edges"])
        for r in kg_snapshot_growth(edges).collect()
    }
    assert got == {0: (1, 1), 9: (2, 3)}


def _assort_edges(spark, convs):
    rows = [
        (c, v, f"{c}#s#{i}", 0.5)
        for i, (c, vs) in enumerate(convs)
        for v in vs
    ]
    return spark.createDataFrame(
        rows, "conv_id string, obj_vertex bigint, subj string, score double"
    )


def test_assortativity_star_is_minus_one(spark):
    from ed_twitter_spark.operators.graph import kg_assortativity

    # K1,3 star: hub 0 co-occurs with each leaf in its own conversation.
    # Endpoint-degree pairs (3,1)x3 and (1,3)x3 -> r = -1 exactly.
    e = _assort_edges(spark, [("c1", [0, 1]), ("c2", [0, 2]), ("c3", [0, 3])])
    row = kg_assortativity(e).collect()[0]
    assert row["m_edges"] == 6
    assert row["assortativity"] == pytest.approx(-1.0)


def test_assortativity_equal_degree_components_is_plus_one(spark):
    from ed_twitter_spark.operators.graph import kg_assortativity

    # triangle (deg 2) + disjoint edge (deg 1): every edge joins equal
    # degrees but degrees vary across the graph -> r = +1 exactly.
    e = _assort_edges(spark, [("c1", [0, 1, 2]), ("c2", [7, 8])])
    row = kg_assortativity(e).collect()[0]
    assert row["m_edges"] == 8
    assert row["assortativity"] == pytest.approx(1.0)


def test_assortativity_regular_graph_is_null(spark):
    from ed_twitter_spark.operators.graph import kg_assortativity

    # single triangle: all degrees equal -> zero variance -> NULL
    e = _assort_edges(spark, [("c1", [0, 1, 2])])
    row = kg_assortativity(e).collect()[0]
    assert row["assortativity"] is None


def test_effective_diameter_interpolation(spark):
    from ed_twitter_spark.operators.hyperball import kg_effective_diameter

    # hand curve: plateau 100; 0.9*100=90 first reached between t=1 (60)
    # and t=2 (95) -> 1 + (90-60)/(95-60) = 1.8571
    nf = spark.createDataFrame(
        [(0, 10.0), (1, 60.0), (2, 95.0), (3, 100.0)], "t int, nf double"
    )
    row = kg_effective_diameter(nf).collect()[0]
    assert row["nf_max"] == 100.0
    assert row["threshold"] == 90.0
    assert row["eff_diameter"] == pytest.approx(1.8571)


def test_effective_diameter_degenerate_zero(spark):
    from ed_twitter_spark.operators.hyperball import kg_effective_diameter

    # nf(0) already >= 90% of the plateau (near-edgeless graph) -> 0.0
    nf = spark.createDataFrame(
        [(0, 98.0), (1, 99.0), (2, 100.0), (3, 100.0)], "t int, nf double"
    )
    row = kg_effective_diameter(nf).collect()[0]
    assert row["eff_diameter"] == 0.0


def test_bgp_solution_modifiers(tiny_triples):
    from ed_twitter_spark.operators.bgp import bgp_query

    # all mention triples, ordered by entity then mention desc, paged
    ordered = bgp_query(
        tiny_triples,
        [("?m", "mentioned_by_user", "?e"), ("?m", "in_conv", "?c")],
        select=["e", "m"],
        order_by=["e", "-m"],
    ).collect()
    assert [(r["e"], r["m"]) for r in ordered] == [
        ("e:E1", "c1#0#0"),
        ("e:E2", "c1#0#1"),
    ]
    page = bgp_query(
        tiny_triples,
        [("?m", "?p", "?o")],
        select=["m", "p", "o"],
        order_by=["m", "p", "o"],
        limit=2,
        offset=1,
    ).collect()
    full = bgp_query(
        tiny_triples, [("?m", "?p", "?o")], select=["m", "p", "o"],
        order_by=["m", "p", "o"],
    ).collect()
    assert page == full[1:3]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        bgp_query(
            tiny_triples,
            [("?m", "mentioned_by_user", "?e")],
            select=["e"],
            order_by=["m"],  # not in the projection
        )


def test_bgp_topk_plan_is_take_ordered(tiny_triples):
    """ORDER BY + LIMIT must compile to TakeOrderedAndProject, not a
    global Exchange+Sort of the full solution set."""
    from ed_twitter_spark.operators.bgp import bgp_query

    df = bgp_query(
        tiny_triples,
        [("?m", "?p", "?o")],
        select=["m", "p", "o"],
        order_by=["m", "p", "o"],
        limit=3,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_bgp_ask_both_branches(tiny_triples):
    from ed_twitter_spark.operators.bgp import BGP_DEMO_PATTERNS, bgp_ask

    assert bgp_ask(tiny_triples, BGP_DEMO_PATTERNS).collect()[0]["matched"]
    assert not bgp_ask(
        tiny_triples, [("?m", "no_such_predicate", "?e")]
    ).collect()[0]["matched"]
    # FILTER participates in the probe
    assert not bgp_ask(
        tiny_triples,
        [("?m", "mentioned_by_user", "?e")],
        filters=["e = 'e:NOPE'"],
    ).collect()[0]["matched"]


def test_fuzzy_pair_join_is_hash_not_cartesian(spark):
    """The deletion-blocked candidate join must compile to an equi hash
    join — never CartesianProduct / BroadcastNestedLoop."""
    from ed_twitter_spark.operators.canonicalize import fuzzy_alias_pairs

    df = fuzzy_alias_pairs(
        spark.createDataFrame([("abc",), ("abd",), ("xyz",)], ["surface"])
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def _sym(spark, pairs):
    rows = pairs + [(b, a) for a, b in pairs]
    return spark.createDataFrame(rows, "src string, dst string")


def test_betweenness_star_by_hand(spark):
    from ed_twitter_spark.operators.graph import kg_betweenness

    # K1,3: every leaf-leaf shortest path crosses the hub; Brandes over
    # ordered pairs gives bc(hub) = 6, leaves 0 (filtered)
    e = _sym(spark, [("h", "a"), ("h", "b"), ("h", "c")])
    got = {r["vertex_id"]: r["betweenness"] for r in kg_betweenness(e).collect()}
    assert got == {"h": 6.0}


def test_betweenness_path_by_hand(spark):
    from ed_twitter_spark.operators.graph import kg_betweenness

    # path a-b-c-d: interior vertices each broker 4 ordered pairs
    e = _sym(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    got = {r["vertex_id"]: r["betweenness"] for r in kg_betweenness(e).collect()}
    assert got == {"b": 4.0, "c": 4.0}


def test_betweenness_clique_is_empty(spark):
    from ed_twitter_spark.operators.graph import kg_betweenness

    # complete graph: all shortest paths are direct edges -> no brokers
    nodes = ["a", "b", "c", "d"]
    e = _sym(spark, [(x, y) for i, x in enumerate(nodes) for y in nodes[i + 1:]])
    assert kg_betweenness(e).count() == 0


def test_bgp_describe_symmetric_incidence(tiny_triples, spark):
    from ed_twitter_spark.operators.bgp import bgp_describe

    r = spark.createDataFrame([("c1",)], ["r"])
    got = {(x["s"], x["p"], x["o"]) for x in bgp_describe(tiny_triples, r).collect()}
    # c1 as object (in_conv) and as subject (mentions) — both sides kept
    assert ("c1#0#0", "in_conv", "c1") in got
    assert ("c1", "mentions", "e:E1") in got
    assert all("c1" in (s, o) for s, _, o in got)
    # nothing about c2
    assert not any("c2" in (s, o) for s, _, o in got)


def test_shortest_path_on_path_graph(spark):
    from ed_twitter_spark.operators.graph import kg_shortest_path

    e = _sym(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    got = [(r["step"], r["node"]) for r in kg_shortest_path(e, "a", "d").collect()]
    assert got == [(0, "a"), (1, "b"), (2, "c"), (3, "d")]


def test_shortest_path_min_parent_tiebreak(spark):
    from ed_twitter_spark.operators.graph import kg_shortest_path

    # two brokers b1/b2 between s and t -> the min one is chosen
    e = _sym(spark, [("s", "b2"), ("s", "b1"), ("b2", "t"), ("b1", "t")])
    got = [(r["step"], r["node"]) for r in kg_shortest_path(e, "s", "t").collect()]
    assert got == [(0, "s"), (1, "b1"), (2, "t")]


def test_shortest_path_unreachable_is_empty(spark):
    from ed_twitter_spark.operators.graph import kg_shortest_path

    e = _sym(spark, [("a", "b"), ("x", "y")])
    assert kg_shortest_path(e, "a", "y").count() == 0


def test_entity_channels_by_hand(spark):
    """Channel rollup + dominant-predicate argmax with the lexicographic
    tie-break, on a 2-entity fixture."""
    import datetime as dt

    from ed_twitter_spark.operators.graph import kg_entity_channels

    edges = spark.createDataFrame(
        [("cA", 0, 1), ("cA", 1, 1), ("cA", 2, 1), ("cA", 0, 2), ("cA", 3, 2)],
        "conv_id string, turn_idx int, obj_vertex bigint",
    ).selectExpr(
        "concat(conv_id, '#', turn_idx, '#0') AS subj",
        "'links_to' AS pred", "CAST(obj_vertex AS STRING) AS obj",
        "obj_vertex", "conv_id", "turn_idx", "0 AS mention_idx",
    )
    ts0 = dt.datetime(2026, 1, 1)
    transcripts = spark.createDataFrame(
        [("cA", 0, "user", None, ts0), ("cA", 1, "assistant", None, ts0),
         ("cA", 2, "assistant", "search", ts0), ("cA", 3, "user", None, ts0)],
        "conv_id string, turn_idx int, role string, tool string, ts timestamp",
    )
    got = {r["vertex_id"]: tuple(r)[1:] for r in
           kg_entity_channels(edges, transcripts).collect()}
    # v1: user@t0, assistant@t1, search-tool@t2 → tie at 1 each →
    # lexicographic min = mentioned_by_assistant
    assert got[1] == (1, 1, 1, 3, 3, "mentioned_by_assistant")
    # v2: user@t0 and user@t3 → dominant user
    assert got[2] == (2, 0, 0, 2, 1, "mentioned_by_user")


def _succ_edges(spark, convs):
    """Mention-event frames for kg_reciprocity: convs = [(conv_id,
    [vertex, ...] in event order)]."""
    rows = [
        (c, t, 0, v)
        for c, vs in convs
        for t, v in enumerate(vs)
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, mention_idx int, obj_vertex bigint"
    )


def test_reciprocity_topic_return_is_one(spark):
    from ed_twitter_spark.operators.graph import kg_reciprocity

    # a->b->a: succession edges {a->b, b->a}, both reciprocated.
    e = _succ_edges(spark, [("c1", [1, 2, 1])])
    row = kg_reciprocity(e).collect()[0]
    assert row["n_events"] == 3
    assert row["n_edges"] == 2
    assert row["n_recip"] == 2
    assert row["reciprocity"] == pytest.approx(1.0)


def test_reciprocity_monotone_drift_is_zero(spark):
    from ed_twitter_spark.operators.graph import kg_reciprocity

    # a->b->c in one conversation, c->d in another: no reverse edges.
    e = _succ_edges(spark, [("c1", [1, 2, 3]), ("c2", [3, 4])])
    row = kg_reciprocity(e).collect()[0]
    assert row["n_edges"] == 3
    assert row["n_recip"] == 0
    assert row["reciprocity"] == pytest.approx(0.0)


def test_reciprocity_dedups_repeats_and_drops_self_loops(spark):
    from ed_twitter_spark.operators.graph import kg_reciprocity

    # a->a self-loop dropped; a->b twice counts once; cross-conversation
    # pairs never become edges (the lag restarts per conv_id).
    e = _succ_edges(spark, [("c1", [1, 1, 2, 1, 2]), ("c2", [9])])
    row = kg_reciprocity(e).collect()[0]
    assert row["n_events"] == 6
    assert row["n_edges"] == 2  # {1->2, 2->1}
    assert row["n_recip"] == 2
    assert row["reciprocity"] == pytest.approx(1.0)


def test_conductance_bridged_triangles(spark):
    from ed_twitter_spark.operators.graph import kg_conductance

    # two triangles bridged by one edge: LPA splits them at the bridge;
    # each side: volume 2*3+1 = 7, cut 1 -> phi = 1/7
    e = _assort_edges(
        spark, [("c1", [1, 2, 3]), ("c2", [4, 5, 6]), ("c3", [3, 4])]
    )
    got = {r["community"]: r for r in kg_conductance(e).collect()}
    assert set(got) == {1, 4}
    for c in (1, 4):
        assert got[c]["n_vertices"] == 3
        assert got[c]["volume"] == 7
        assert got[c]["cut_edges"] == 1
        assert got[c]["conductance"] == pytest.approx(round(1 / 7, 6))


def test_conductance_single_community_is_null(spark):
    from ed_twitter_spark.operators.graph import kg_conductance

    # one triangle: one community, complement volume 0 -> undefined
    e = _assort_edges(spark, [("c1", [1, 2, 3])])
    got = kg_conductance(e).collect()
    assert len(got) == 1
    assert got[0]["conductance"] is None
    assert got[0]["cut_edges"] == 0


def _scc_map(df):
    return {r["vertex_id"]: r["scc_id"] for r in df.collect()}


def test_scc_two_cycles_one_way_bridge(spark):
    from ed_twitter_spark.operators.graph import kg_scc

    # 1<->2 and 3<->4 joined by the one-way bridge 2->3: two nontrivial
    # SCCs that must NOT merge across the bridge.
    e = _succ_edges(spark, [("c1", [1, 2, 1]), ("c2", [3, 4, 3]), ("c3", [2, 3])])
    assert _scc_map(kg_scc(e)) == {1: 1, 2: 1, 3: 3, 4: 3}


def test_scc_dag_chain_is_all_trivial(spark):
    from ed_twitter_spark.operators.graph import kg_scc

    # pure drift 1->2->3->4: every SCC is a singleton — the chain case
    # that forces the FW-BW class refinement to run more than one round
    # and proves classes retire in parallel, not by sequential peeling.
    e = _succ_edges(spark, [("c1", [1, 2, 3, 4])])
    assert _scc_map(kg_scc(e)) == {1: 1, 2: 2, 3: 3, 4: 4}


def test_scc_full_cycle_and_chained_components(spark):
    from ed_twitter_spark.operators.graph import kg_scc

    # one 5-cycle collapses to a single SCC labeled by its min vertex
    e = _succ_edges(spark, [("c1", [1, 2, 3, 4, 5, 1])])
    assert _scc_map(kg_scc(e)) == {v: 1 for v in (1, 2, 3, 4, 5)}
    # chain of 2-cycles 1<->2 -> 3<->4 -> 5<->6: three SCCs in a line
    e2 = _succ_edges(spark, [("c1", [1, 2, 1, 3, 4, 3, 5, 6, 5])])
    assert _scc_map(kg_scc(e2)) == {1: 1, 2: 1, 3: 3, 4: 3, 5: 5, 6: 5}


@pytest.mark.parametrize(
    "convs", [[], [("c1", [7])], [("c1", [7, 7]), ("c2", [8])]], ids=["empty", "single", "self_loops"]
)
def test_scc_edge_free_input_is_typed_empty(spark, convs):
    from ed_twitter_spark.operators.graph import kg_scc

    # no succession edge survives (no events, one event per conversation,
    # self-loops only): an empty (vertex_id, scc_id) frame, not a crash
    out = kg_scc(_succ_edges(spark, convs))
    assert out.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("vertex_id", "bigint"),
        ("scc_id", "bigint"),
    ]


def test_condensation_contracts_cycles_into_a_dag(spark):
    from ed_twitter_spark.operators.graph import kg_condensation

    # 1<->2 -> 3<->4 with TWO raw cross-edges (2->3 from c1, 1->4 from
    # c3): one contracted edge 1->3 with n_edges = 2; in-SCC edges gone.
    e = _succ_edges(
        spark,
        [
            ("c1", [1, 2, 1, 3, 4, 3]),
            ("c3", [1, 4]),
        ],
    )
    got = {
        r["scc_id"]: (r["n_members"], r["n_out"], r["n_in"])
        for r in kg_condensation(e).collect()
    }
    # contracted DAG: {1,2} -> {3,4}; the two raw cross-edges dedup to
    # ONE distinct contracted edge
    assert got == {1: (2, 1, 0), 3: (2, 0, 1)}


def test_open_relations_extracts_connective_predicates(spark):
    from ed_twitter_spark.operators.graph import kg_open_relations

    # turn text: "table scan big merge join" with linked mentions at
    # positions 0 (table->v1), 1 (scan->v2), 4 (join->v3):
    #   (v1,v2) adjacent with gap 1: NO token between -> dropped
    #   (v2,v3) gap 3: first connective token is 'big' -> (v2, big, v3)
    t = spark.createDataFrame(
        [("c1", 0, "table scan big merge join"),
         ("c2", 0, "table scan big merge join")],
        "conv_id string, turn_idx int, text string",
    )
    t2 = spark.createDataFrame(
        [("c3", 0, "table scan big merge join")],
        "conv_id string, turn_idx int, text string",
    )
    e = spark.createDataFrame(
        [("c1", 0, 0, 1), ("c1", 0, 1, 2), ("c1", 0, 4, 3),
         ("c2", 0, 1, 2), ("c2", 0, 4, 3),
         # self-relation (same canonical vertex twice) must be dropped
         ("c3", 0, 0, 9), ("c3", 0, 2, 9)],
        "conv_id string, turn_idx int, mention_idx int, obj_vertex bigint",
    )
    t = t.unionByName(t2)
    got = [
        (r["subj_vertex"], r["pred"], r["obj_vertex"], r["n"], r["n_convs"])
        for r in kg_open_relations(e, t).collect()
    ]
    assert got == [(2, "big", 3, 2, 2)]


def test_scc_randomized_vs_kosaraju_transcription(spark):
    """Seeded randomized parity: the distributed FW-BW coloring must equal
    a pure-Python Kosaraju SCC on 20 random digraphs (n <= 8, varying
    density) — the same brute-force-vs-plan pattern as the BGP test."""
    import random

    from ed_twitter_spark.operators.graph import kg_scc

    def kosaraju(verts, edges):
        fwd, bwd = {}, {}
        for v in verts:
            fwd.setdefault(v, []), bwd.setdefault(v, [])
        for s, d in edges:
            fwd[s].append(d), bwd[d].append(s)
        order, seen = [], set()

        def dfs1(v):
            stack = [(v, iter(fwd[v]))]
            seen.add(v)
            while stack:
                node, it = stack[-1]
                adv = next((w for w in it if w not in seen), None)
                if adv is None:
                    order.append(node)
                    stack.pop()
                else:
                    seen.add(adv)
                    stack.append((adv, iter(fwd[adv])))

        for v in sorted(verts):
            if v not in seen:
                dfs1(v)
        label, assigned = {}, set()
        for v in reversed(order):
            if v in assigned:
                continue
            comp, stack = [], [v]
            assigned.add(v)
            while stack:
                u = stack.pop()
                comp.append(u)
                for w in bwd[u]:
                    if w not in assigned:
                        assigned.add(w)
                        stack.append(w)
            m = min(comp)
            for u in comp:
                label[u] = m
        return label

    rng = random.Random(4242)
    for case in range(20):
        n = rng.randint(2, 8)
        density = rng.choice([0.15, 0.3, 0.5])
        edges = [
            (u, v)
            for u in range(n)
            for v in range(n)
            if u != v and rng.random() < density
        ]
        if not edges:
            edges = [(0, 1)]
        verts = sorted({x for e in edges for x in e})
        # feed the raw edge list through the succession builder's input
        # shape: one synthetic conversation per edge
        ev = spark.createDataFrame(
            [(f"c{i}", 0, 0, s) for i, (s, d) in enumerate(edges)]
            + [(f"c{i}", 1, 0, d) for i, (s, d) in enumerate(edges)],
            "conv_id string, turn_idx int, mention_idx int, obj_vertex bigint",
        )
        got = {r["vertex_id"]: r["scc_id"] for r in kg_scc(ev).collect()}
        want = kosaraju(verts, edges)
        assert got == want, f"case {case}: {got} != {want} (edges={edges})"


def test_resolver_dict_covers_grounded_and_ungrounded_surfaces(spark):
    from ed_twitter_spark.operators.graph import kg_resolver_dict

    m = spark.createDataFrame(
        [("c1", 0, 0, "table"), ("c1", 0, 1, "table"), ("c1", 1, 0, "ghost")],
        "conv_id string, turn_idx int, mention_idx int, mention string",
    )
    kb = spark.createDataFrame(
        [("table", "E1_table", 0.9, 1), ("table", "E2_table", 0.1, 2)],
        "mention string, ent_name string, prior double, rank int",
    )
    comp = spark.createDataFrame(
        [("m:table", "E1_table"), ("e:E1_table", "E1_table")],
        "node string, component string",
    )
    got = {r["mention"]: r for r in kg_resolver_dict(m, kb, comp).collect()}
    assert set(got) == {"table", "ghost"}
    t = got["table"]
    assert (t["n_occurrences"], t["top_entity"], t["top_prior"], t["canonical"]) == (
        2, "E1_table", 0.9, "E1_table",
    )
    g = got["ghost"]  # never in the KB: exported with NULL resolution
    assert g["n_occurrences"] == 1
    assert g["top_entity"] is None and g["canonical"] is None


def test_relations_fold_equals_full_recompute(spark):
    from ed_twitter_spark.operators.graph import (
        kg_open_relations,
        kg_relations_fold,
        kg_relations_partial,
    )

    t = spark.createDataFrame(
        [("c1", 0, "table scan big merge join"),
         ("c2", 0, "table scan big merge join")],
        "conv_id string, turn_idx int, text string",
    )
    e = spark.createDataFrame(
        [("c1", 0, 1, 2), ("c1", 0, 4, 3), ("c2", 0, 1, 2), ("c2", 0, 4, 3)],
        "conv_id string, turn_idx int, mention_idx int, obj_vertex bigint",
    )
    full = kg_open_relations(e, t).collect()
    folded = kg_relations_fold(
        kg_relations_partial(
            e.where("conv_id = 'c1'"), t.where("conv_id = 'c1'")
        ),
        kg_relations_partial(
            e.where("conv_id = 'c2'"), t.where("conv_id = 'c2'")
        ),
    ).collect()
    assert sorted(map(tuple, folded)) == sorted(map(tuple, full))
    assert folded[0]["n"] == 2 and folded[0]["n_convs"] == 2


def test_kg_summary_counts_on_hand_fixture(spark):
    from ed_twitter_spark.operators.graph import kg_summary

    # two conversations: c1 links e1,e2 (verts 1,2); c2 links e2,e3
    # (verts 2,3). Co-occurrence edges (directed): {1-2, 2-3} x2 = 4;
    # hub vertex 2 has degree 2; density 4/(3*2) = 0.666667.
    e = spark.createDataFrame(
        [("c1", 0, 0, "e1", 1), ("c1", 1, 0, "e2", 2),
         ("c2", 0, 0, "e2", 2), ("c2", 1, 0, "e3", 3),
         ("c2", 2, 0, "NILX", None)],
        "conv_id string, turn_idx int, mention_idx int, obj string, obj_vertex bigint",
    )
    row = kg_summary(e).collect()[0]
    assert (row["n_triples"], row["n_entities"], row["n_vertices"]) == (4, 3, 3)
    assert (row["n_convs"], row["n_coedges"], row["max_degree"]) == (2, 4, 2)
    assert row["density"] == 0.666667
