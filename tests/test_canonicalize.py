"""Connected-components correctness vs a union-find oracle."""

from __future__ import annotations

import random

from ed_twitter_spark.operators.canonicalize import connected_components


class UF:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


def _check(spark, edges):
    uf = UF()
    for a, b in edges:
        uf.union(a, b)
    expected = {}
    comp_min = {}
    for n in uf.p:
        r = uf.find(n)
        comp_min.setdefault(r, []).append(n)
    root_to_min = {r: min(ns) for r, ns in comp_min.items()}
    for n in uf.p:
        expected[n] = root_to_min[uf.find(n)]

    df = spark.createDataFrame(edges, ["src", "dst"])
    # both execution paths must agree with the oracle: driver-side
    # union-find (default for small graphs) and the distributed hash-min
    # loop (forced via a zero threshold)
    got_local = {r["node"]: r["component"] for r in connected_components(df).collect()}
    got_dist = {
        r["node"]: r["component"]
        for r in connected_components(df, driver_max_edges=0).collect()
    }
    got_star = {
        r["node"]: r["component"]
        for r in connected_components(
            df, driver_max_edges=0, algorithm="star"
        ).collect()
    }
    assert got_local == expected
    assert got_dist == expected
    assert got_star == expected


def test_cc_random_graph(spark):
    rng = random.Random(42)
    nodes = [f"n{i:03d}" for i in range(120)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(90)]
    _check(spark, edges)


def test_cc_long_chain(spark):
    """Path graph of diameter 40 — exercises multi-round convergence."""
    edges = [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(40)]
    _check(spark, edges)


def test_cc_disjoint_components(spark):
    edges = [("a", "b"), ("b", "c"), ("x", "y"), ("z", "z")]
    _check(spark, edges)


def test_cc_edge_free_input_is_typed_empty_without_python_workers(spark):
    """No edges: the driver path returns an empty ``(node string, component
    string)`` frame built JVM-side; reading it runs no Spark job, so no
    Python worker (an empty pandas frame would skip Arrow and go pickled)."""
    from conftest import jobs_of

    edges = spark.range(0).selectExpr("cast(id as string) src", "cast(id as string) dst")
    stats = {}
    cc = connected_components(edges, stats=stats)
    assert stats["rounds"] == 0
    assert cc.schema.simpleString() == "struct<node:string,component:string>"
    rows, n_jobs = jobs_of(spark, cc.collect)
    assert rows == []
    assert n_jobs == 0
    assert "PythonRDD" not in cc._jdf.queryExecution().toRdd().toDebugString()


def test_star_beats_hashmin_on_chain(spark):
    """The alternating large-/small-star contraction must produce the same
    labels as hash-min on a path graph while converging in O(log n) rounds
    instead of O(diameter) — the scale case for high-diameter graphs."""
    edges = [(f"p{i:03d}", f"p{i + 1:03d}") for i in range(24)]
    df = spark.createDataFrame(edges, ["src", "dst"])

    s_hash, s_star = {}, {}
    hm = {
        r["node"]: r["component"]
        for r in connected_components(
            df, driver_max_edges=0, stats=s_hash
        ).collect()
    }
    st = {
        r["node"]: r["component"]
        for r in connected_components(
            df, driver_max_edges=0, algorithm="star", stats=s_star
        ).collect()
    }
    assert hm == st
    assert set(hm.values()) == {"p000"}
    # diameter 24 → hash-min pays ~24 rounds; star contracts in O(log n)
    assert s_hash["rounds"] >= 20
    assert s_star["rounds"] <= 8
    assert s_star["rounds"] < s_hash["rounds"] / 2


def test_cc_fails_loudly_without_convergence(spark):
    """A distributed loop that runs out of rounds raises instead of
    returning partial labels: the 24-edge chain needs more than 5 rounds
    on both arms."""
    import pytest

    edges = [(f"p{i:03d}", f"p{i + 1:03d}") for i in range(24)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    for algorithm in ("hashmin", "star"):
        with pytest.raises(RuntimeError, match="did not converge in 5 rounds"):
            connected_components(
                df, driver_max_edges=0, max_iter=5, algorithm=algorithm
            )


def test_cc_byte_gate_forces_distributed(spark):
    """Few edges but oversized node strings must skip the driver collect:
    the byte probe routes to the distributed loop (rounds > 0) and labels
    stay correct. Same edge set under the default budget stays local
    (rounds == 0)."""
    big = "x" * 4000
    edges = [(f"{big}{i}", f"{big}{i + 1}") for i in range(6)]
    df = spark.createDataFrame(edges, ["src", "dst"])

    s_forced, s_local = {}, {}
    forced = {
        r["node"]: r["component"]
        for r in connected_components(
            df, driver_max_bytes=1024, stats=s_forced
        ).collect()
    }
    local = {
        r["node"]: r["component"]
        for r in connected_components(df, stats=s_local).collect()
    }
    assert s_forced["rounds"] > 0  # distributed path executed
    assert s_local["rounds"] == 0  # default budget keeps the local path
    assert forced == local
    assert set(forced.values()) == {f"{big}0"}


def test_pagerank_mass_conservation(spark):
    """With no dangling nodes (symmetric co-occurrence edges), total rank
    mass stays 1 after every iteration — the standard PageRank invariant."""
    from conftest import SF_SMOKE

    from ed_twitter_spark.operators import graph as g

    ranks = g.q_kg_pagerank(spark, SF_SMOKE)
    total = ranks.agg({"pagerank": "sum"}).first()[0]
    assert abs(total - 1.0) < 1e-6
    assert ranks.where("pagerank <= 0").count() == 0


def test_kg_degrees_single_shuffle(spark):
    """Hub stats shuffle the edge stream exactly once (on vertex_id); the
    countDistinct expand is planned without an extra edge-side Exchange."""
    from conftest import SF_SMOKE

    from ed_twitter_spark.operators import graph as g

    plan_str = g.kg_degrees(g.q_kg_edges(spark, SF_SMOKE))._jdf.queryExecution().executedPlan().toString()
    # partial (map-side) aggregation must be present before the exchange
    assert "partial" in plan_str.lower()


# ---------------------------------------------------------------------------
# fuzzy canonicalization (SymSpell deletion blocking + levenshtein filter)
# ---------------------------------------------------------------------------


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_fuzzy_pairs_edit_kinds(spark):
    """Blocking must find substitution, insertion and deletion pairs, and
    the post-filter must reject transpositions (distance 2) that share
    deletion variants."""
    from ed_twitter_spark.operators.canonicalize import fuzzy_alias_pairs

    surfaces = ["abc", "axc", "abxc", "ab", "ba", "zzz"]
    df = spark.createDataFrame([(s,) for s in surfaces], ["surface"])
    got = {tuple(r) for r in fuzzy_alias_pairs(df).collect()}
    expected = {
        tuple(sorted((a, b)))
        for i, a in enumerate(surfaces)
        for b in surfaces[i + 1 :]
        if _lev(a, b) <= 1
    }
    assert ("ab", "ba") not in got  # transposition: distance 2
    assert got == expected


def test_fuzzy_pairs_match_brute_force(spark):
    """Deletion-neighborhood blocking is complete for distance <= 1: on a
    random short-string universe the blocked join equals all-pairs."""
    rng = random.Random(7)
    alpha = "abcd"
    surfaces = sorted(
        {"".join(rng.choice(alpha) for _ in range(rng.randint(1, 5))) for _ in range(60)}
    )
    from ed_twitter_spark.operators.canonicalize import fuzzy_alias_pairs

    df = spark.createDataFrame([(s,) for s in surfaces], ["surface"])
    got = {tuple(r) for r in fuzzy_alias_pairs(df).collect()}
    expected = {
        (a, b)
        for i, a in enumerate(surfaces)
        for b in surfaces[i + 1 :]
        if _lev(a, b) <= 1
    }
    assert got == expected


def test_fuzzy_labels_cover_singletons(spark):
    from ed_twitter_spark.operators.canonicalize import fuzzy_canonical_labels

    df = spark.createDataFrame(
        [("kitten",), ("sitten",), ("sitting",), ("lonely",)], ["surface"]
    )
    labels = dict(fuzzy_canonical_labels(df).collect())
    # kitten<->sitten merge (substitution); sitting is distance 2 from both
    assert labels == {
        "kitten": "kitten",
        "sitten": "kitten",
        "sitting": "sitting",
        "lonely": "lonely",
    }


def test_incremental_components_equal_full_recompute(spark):
    """Folding a second batch of edges into contracted labels must equal
    CC over the union — including merges that join two old components."""
    from ed_twitter_spark.operators.canonicalize import (
        connected_components,
        incremental_components,
    )

    old_edges = [("a", "b"), ("c", "d"), ("x", "y")]
    new_edges = [("b", "c"), ("y", "z"), ("p", "q")]  # merge, extend, new
    base = connected_components(spark.createDataFrame(old_edges, ["src", "dst"]))
    inc = dict(
        incremental_components(
            base, spark.createDataFrame(new_edges, ["src", "dst"])
        ).collect()
    )
    full = dict(
        connected_components(
            spark.createDataFrame(old_edges + new_edges, ["src", "dst"])
        ).collect()
    )
    assert inc == full
    assert inc["d"] == "a"  # the cross-component merge propagated
