"""Temporal joins (as-of, range) and iterative analytics (PageRank)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from gsuites_gcp_graphdb_spark.graph.algorithms import pagerank
from gsuites_gcp_graphdb_spark.graph.literal import edges_of, vertices_of
from gsuites_gcp_graphdb_spark.graph.traversal import Graph
from gsuites_gcp_graphdb_spark.operators.joins import as_of_join, range_join


def _ts(minute):
    return dt.datetime(2024, 1, 1, 0, minute)


def test_as_of_join(spark):
    left = spark.createDataFrame(
        [(1, _ts(10)), (1, _ts(30)), (2, _ts(5)), (3, _ts(20))],
        "user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, _ts(8), 100), (1, _ts(25), 101), (2, _ts(5), 102)],
        "user_id long, ts timestamp, ref long",
    )
    out = {
        (r.user_id, r.ts.minute): r.ref_asof
        for r in as_of_join(left, right, key="user_id").collect()
    }
    assert out[(1, 10)] == 100  # latest before 00:10 is 00:08
    assert out[(1, 30)] == 101  # 00:25 supersedes 00:08
    assert out[(2, 5)] == 102  # exactly-simultaneous row matches
    assert out[(3, 20)] is None  # no right rows for user 3


def test_range_join(spark):
    left = spark.createDataFrame(
        [(1, _ts(10)), (1, _ts(50)), (2, _ts(10))],
        "user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, _ts(0), _ts(20), 7),
            (1, _ts(5), _ts(15), 8),  # overlapping interval
            (2, _ts(30), _ts(40), 9),
        ],
        "user_id long, start_ts timestamp, end_ts timestamp, iv long",
    )
    out = range_join(
        left, right, key="user_id", left_ts="ts",
        right_start="start_ts", right_end="end_ts",
    ).collect()
    matches = {(r.user_id, r.ts.minute, r.iv) for r in out}
    # 00:10 falls in both user-1 intervals; 00:50 and user-2 in none
    assert matches == {(1, 10, 7), (1, 10, 8)}


def test_shortest_paths(spark):
    from gsuites_gcp_graphdb_spark.graph.algorithms import shortest_paths

    v = vertices_of(
        spark, [("user", "a"), ("group", "b"), ("group", "c"), ("role", "d")]
    )
    e = edges_of(
        spark,
        [
            ("user", "a", "group", "b"),
            ("group", "b", "group", "c"),
            ("group", "c", "role", "d"),
            ("user", "a", "group", "c"),  # shortcut: c at distance 1
        ],
    )
    g = Graph(v, e)
    src = g.V().hasLabel("user").id_()
    d = {
        r.key: r.distance
        for r in shortest_paths(g, src)
        .join(v, ["id"])
        .select(F.coalesce("email", "name").alias("key"), "distance")
        .collect()
    }
    assert d == {"a": 0, "b": 1, "c": 1, "d": 2}


def test_pagerank(spark):
    # star: everyone points at 'hub' -> hub has max rank; ranks sum ~ n
    v = vertices_of(
        spark,
        [("user", "a"), ("user", "b"), ("user", "c"), ("role", "hub")],
    )
    e = edges_of(
        spark,
        [
            ("user", "a", "role", "hub"),
            ("user", "b", "role", "hub"),
            ("user", "c", "role", "hub"),
        ],
    )
    g = Graph(v, e)
    pr = pagerank(g, iterations=10)
    rows = pr.join(v, ["id"]).select(
        F.coalesce("email", "name").alias("k"), "rank"
    ).collect()
    ranks = {r.k: r.rank for r in rows}
    assert ranks["hub"] == max(ranks.values())
    assert abs(sum(ranks.values()) - 4.0) < 1e-6


def test_label_propagation_sync_semantics(spark):
    """Two triangles linked by one bridge edge: LPA must pull each
    triangle to its min member label and not merge across the weak
    bridge; isolated vertices keep their own label."""
    from gsuites_gcp_graphdb_spark.graph.algorithms import label_propagation

    v = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 12, 99)], "id long"
    )
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)],
        "src long, dst long",
    )
    out = {r.v: r.lbl for r in label_propagation(v, e, rounds=4).collect()}
    assert out[99] == 99  # isolated keeps its label
    # communities are coherent: each triangle's non-bridge members
    # agree (the bridge endpoints may adopt a label leaked across)
    assert out[1] == out[2]
    assert out[11] == out[12]
    assert len(out) == 7 and all(lbl is not None for lbl in out.values())
    # pure function of the graph: a second run is bit-identical
    again = {
        r.v: r.lbl for r in label_propagation(v, e, rounds=4).collect()
    }
    assert again == out


def test_personalized_pagerank_semantics(spark):
    """PPR on a path a->b->c plus an unreachable island {x,y}: mass
    stays in the source's cone (island exactly 0), total mass sums to
    1, and the source outranks its descendants."""
    from gsuites_gcp_graphdb_spark.graph.algorithms import (
        personalized_pagerank,
    )
    from gsuites_gcp_graphdb_spark.graph.traversal import Graph

    v = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 7, 8)], "id long"
    )
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "src long, dst long"
    )
    src = spark.createDataFrame([(1,)], "id long")
    g = Graph(v.selectExpr("id", "'x' label", "null email", "null name",
                           "null projectid", "cast(null as boolean) is_external"), e)
    pr = {r.id: r.rank for r in personalized_pagerank(g, src, iterations=8).collect()}
    assert pr[7] == 0.0 and pr[8] == 0.0
    assert abs(sum(pr.values()) - 1.0) < 1e-9
    assert pr[1] > pr[2] > 0 and pr[3] > 0


def test_weighted_shortest_paths(spark):
    # weight can beat hop count: a->c direct costs 10, a->b->c costs 3
    from gsuites_gcp_graphdb_spark.graph.algorithms import (
        weighted_shortest_paths,
    )

    v = vertices_of(
        spark, [("user", "a"), ("group", "b"), ("group", "c"), ("role", "d")]
    )
    e = edges_of(
        spark,
        [
            ("user", "a", "group", "b"),
            ("group", "b", "group", "c"),
            ("group", "c", "role", "d"),
            ("user", "a", "group", "c"),
        ],
    ).withColumn(
        "weight",
        F.when(F.col("label").isNotNull(), F.lit(1.0)),  # placeholder
    )
    # per-edge weights: direct a->c is expensive (10), the rest cost 1/2
    w = {
        ("user:a", "group:b"): 1.0,
        ("group:b", "group:c"): 2.0,
        ("group:c", "role:d"): 1.0,
        ("user:a", "group:c"): 10.0,
    }
    sk = vertices_of(
        spark, [("user", "a"), ("group", "b"), ("group", "c"), ("role", "d")]
    ).select(
        "id",
        F.concat("label", F.lit(":"), F.coalesce("email", "name")).alias(
            "nk"
        ),
    )
    wdf = spark.createDataFrame(
        [(a, b, c) for (a, b), c in w.items()],
        "snk string, dnk string, weight double",
    )
    e = (
        e.drop("weight")
        .join(sk.select(F.col("id").alias("src"), F.col("nk").alias("snk")), "src")
        .join(sk.select(F.col("id").alias("dst"), F.col("nk").alias("dnk")), "dst")
        .join(wdf, ["snk", "dnk"])
        .select("src", "dst", "label", "weight")
    )
    g = Graph(v, e)
    src = g.V().hasLabel("user").id_()
    d = {
        r.key: r.dist
        for r in weighted_shortest_paths(g, src)
        .join(v, ["id"])
        .select(F.coalesce("email", "name").alias("key"), "dist")
        .collect()
    }
    # a->b (1) -> c (3) -> d (4); the 10-cost shortcut loses
    assert d == {"a": 0.0, "b": 1.0, "c": 3.0, "d": 4.0}


def test_weighted_equals_bfs_on_unit_weights(spark):
    # property (round-4 verdict item 7): on unit weights the weighted
    # Bellman-Ford distances coincide with BFS hop counts.
    from gsuites_gcp_graphdb_spark.graph.algorithms import (
        shortest_paths,
        weighted_shortest_paths,
    )

    verts = [
        ("user", "a"), ("user", "b"), ("group", "g1"), ("group", "g2"),
        ("group", "g3"), ("role", "r1"), ("role", "r2"),
        ("project", "p1"),
    ]
    edges = [
        ("user", "a", "group", "g1"),
        ("user", "b", "group", "g2"),
        ("group", "g1", "group", "g2"),
        ("group", "g2", "group", "g3"),
        ("group", "g1", "role", "r1"),
        ("role", "r1", "project", "p1"),
        ("role", "r2", "project", "p1"),
        ("group", "g3", "role", "r2"),
    ]
    v = vertices_of(spark, verts)
    e = edges_of(spark, edges)
    g = Graph(v, e)
    src = g.V().hasLabel("user").id_()
    bfs = {r.id: r.distance for r in shortest_paths(g, src).collect()}
    wsp = {r.id: r.dist for r in weighted_shortest_paths(g, src).collect()}
    assert set(bfs) == set(wsp)
    assert all(float(bfs[i]) == wsp[i] for i in bfs)


def test_k_core_semantics(spark):
    from gsuites_gcp_graphdb_spark.graph.algorithms import k_core

    # triangle a-b-c (the 2-core) with pendant chain c-d-e: peeling
    # degree-<2 removes e, which drops d to degree 1, which peels in
    # the NEXT round — exercises the cascade, not just one pass.
    v = vertices_of(
        spark,
        [("group", x) for x in "abcde"],
    )
    e = edges_of(
        spark,
        [
            ("group", "a", "group", "b"),
            ("group", "b", "group", "c"),
            ("group", "c", "group", "a"),
            ("group", "c", "group", "d"),
            ("group", "d", "group", "e"),
        ],
    )
    g = Graph(v, e)
    core = {
        r.key: r.core_deg
        for r in k_core(g, k=2)
        .join(v, ["id"])
        .select(F.coalesce("email", "name").alias("key"), "core_deg")
        .collect()
    }
    assert core == {"a": 2, "b": 2, "c": 2}
    # 3-core of this graph is empty (triangle degrees are exactly 2)
    assert k_core(g, k=3).count() == 0


def test_coreness_hand_computed(spark):
    """Coreness on a hand graph: K4 (coreness 3 each) with a
    2-vertex tail hanging off one corner (coreness 1 each)."""
    from gsuites_gcp_graphdb_spark.graph.algorithms import coreness
    from gsuites_gcp_graphdb_spark.graph.traversal import Graph as _G

    verts = spark.createDataFrame(
        [(i,) for i in range(6)], "id long"
    )
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = spark.createDataFrame(
        k4 + [(3, 4), (4, 5)], "src long, dst long"
    )
    got = {
        r.id: r.coreness for r in coreness(_G(verts, edges)).collect()
    }
    assert got == {0: 3, 1: 3, 2: 3, 3: 3, 4: 1, 5: 1}


def test_coreness_converges_within_oracle_bound(spark, sf_dir):
    """The g_coreness oracle unrolls exactly 8 H-index rounds; the
    engine runs to fixpoint. Pin convergence within the bound at the
    driver's scale factors by asserting round-8 == round-9 of the
    H-index iteration (also re-checked in DuckDB: rounds 8 == 11 at
    sf0.001 and sf0.01 when the oracle was written)."""
    from gsuites_gcp_graphdb_spark.graph.algorithms import coreness
    from gsuites_gcp_graphdb_spark.plans import graph_queries as gq

    g = gq._graph(spark, sf_dir)
    bounded = coreness(g, max_iter=8)
    free = coreness(g, max_iter=50)
    assert sorted(map(tuple, bounded.collect())) == sorted(
        map(tuple, free.collect())
    )


def test_kcore_converges_within_oracle_bound(spark, sf_dir):
    """The g_kcore oracle unrolls exactly 6 peel rounds; the engine
    runs to fixpoint. They agree iff the peel converges within the
    bound at the driver's scale factors — pin that here by asserting
    round-6 == round-7 of the brute peel."""
    from gsuites_gcp_graphdb_spark.plans import graph_queries as gq

    g = gq._graph(spark, sf_dir)
    und = (
        g.edges.select("src", "dst")
        .unionByName(
            g.edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    k = 3
    rounds_needed = None
    for i in range(1, 8):
        deg = und.groupBy("src").agg(F.count("*").alias("d"))
        if not deg.filter(F.col("d") < k).take(1):
            rounds_needed = i - 1
            break
        keep = deg.filter(F.col("d") >= k).select("src")
        und = (
            und.join(keep, ["src"], "left_semi")
            .join(keep.select(F.col("src").alias("dst")), ["dst"], "left_semi")
            .localCheckpoint(eager=True)
        )
    assert rounds_needed is not None and rounds_needed <= 6, (
        f"k-core peel needs {rounds_needed} rounds; the SQL oracle "
        "unrolls only 6 — raise _kcore_sql(rounds=...)"
    )


def test_diameter_double_sweep_on_path(spark):
    """On a path graph the double sweep is exact: sweep 1 from any
    vertex reaches one end, sweep 2 spans the whole path."""
    from gsuites_gcp_graphdb_spark.graph.algorithms import shortest_paths

    names = list("abcdef")
    v = vertices_of(spark, [("group", x) for x in names])
    e = edges_of(
        spark,
        [("group", a, "group", b) for a, b in zip(names, names[1:])],
    )
    und = Graph(
        v,
        e.select("src", "dst").unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ),
    )
    # start mid-path at 'c': farthest is 'f' (d=3); from 'f' ecc = 5
    src = v.filter(F.col("email") == "c").select("id")
    d1 = shortest_paths(und, src, edge_label=None).join(v, ["id"])
    far = d1.orderBy(F.col("distance").desc(), "email").limit(1)
    far_row = far.collect()[0]
    assert far_row.email == "f" and far_row.distance == 3
    d2 = shortest_paths(und, far.select("id"), edge_label=None)
    assert max(r.distance for r in d2.collect()) == 5


def test_diameter_within_oracle_cap(spark, sf_dir):
    """g_diameter's oracle caps both sweeps at depth 12; the engine's
    sweeps must converge inside that, or the recursive CTE would
    truncate distances and diverge."""
    from gsuites_gcp_graphdb_spark.plans.graph_queries import (
        diameter_estimate,
    )

    row = diameter_estimate(spark, sf_dir).collect()[0]
    assert row.diameter_lb < 12


def test_link_prediction_semantics(spark):
    from gsuites_gcp_graphdb_spark.graph.algorithms import link_prediction

    v = vertices_of(
        spark,
        [("user", u) for u in ("u1", "u2", "u3")]
        + [("role", r) for r in ("r1", "r2")],
    )
    e = edges_of(
        spark,
        [
            ("user", "u1", "role", "r1"),
            ("user", "u1", "role", "r2"),
            ("user", "u2", "role", "r1"),
            ("user", "u2", "role", "r2"),
            ("user", "u3", "role", "r1"),
        ],
    )
    g = Graph(v, e)
    out = {
        (r.u_key, r.v_key): (r.common, r.jaccard)
        for r in link_prediction(g, min_common=2).collect()
    }
    # u1,u2 share r1+r2 and are not adjacent -> common=2, jaccard=1.0
    assert out[("u1", "u2")] == (2, 1.0)
    # u3 shares only r1 with the others -> below min_common
    assert all("u3" not in k for pair in out for k in pair)
    # r1,r2 share u1+u2 -> also a predicted pair (common=2); their
    # degrees are 3 and 2 -> jaccard = 2/(3+2-2)
    assert out[("r1", "r2")] == (2, round(2 / 3, 6))
    # adding the u1-u2 edge removes the pair (adjacent now)
    e2 = e.unionByName(edges_of(spark, [("user", "u1", "user", "u2")]))
    out2 = {
        (r.u_key, r.v_key)
        for r in link_prediction(Graph(v, e2), min_common=2).collect()
    }
    assert ("u1", "u2") not in out2


def test_edit_distance_join_blocking(spark):
    """Fuzzy join finds within-distance pairs inside a block, never
    across blocks (the explicit blocking tradeoff), and never forms
    the cross product of unrelated keys."""
    from gsuites_gcp_graphdb_spark.operators.joins import edit_distance_join

    left = spark.createDataFrame(
        [("abc123",), ("abc124",), ("zzz999",)], "k string"
    )
    right = spark.createDataFrame(
        [("abc125",), ("abd123",), ("zzz990",)], "k string"
    )
    got = {
        (r.left_key, r.right_key): r.edit_dist
        for r in edit_distance_join(
            left, right, "k", "k", max_dist=1, block_len=3
        ).collect()
    }
    # abd123 is 1 edit from abc123 but in block 'abd' — blocked away
    assert got == {
        ("abc123", "abc125"): 1,
        ("abc124", "abc125"): 1,
        ("zzz999", "zzz990"): 1,
    }


def test_skyline2d(spark):
    """Skyline semantics on literal points (minimize x, maximize y):
    dominated points drop, coordinate-duplicate frontier points BOTH
    survive (ties dominate neither way), and a point dominated only
    across floor-band boundaries is still caught (the banded prefix
    factorization must equal the quadratic definition)."""
    from gsuites_gcp_graphdb_spark.functions.ranking import skyline2d

    rows = [
        (1, 1.0, 10),   # frontier (cheapest, big)
        (2, 1.0, 10),   # exact duplicate of 1 -> also frontier
        (3, 1.5, 10),   # dominated by 1 (same y, pricier)
        (4, 2.0, 12),   # frontier (bigger than anything cheaper)
        (5, 2.5, 12),   # dominated by 4 (same-band prefix)
        (6, 9.0, 11),   # dominated by 4 ACROSS bands (9 vs 2)
        (7, 9.5, 13),   # frontier (largest overall)
        (8, 0.5, 1),    # frontier (cheapest overall)
    ]
    df = spark.createDataFrame(rows, "id long, price double, size long")
    got = {r.id for r in skyline2d(df, "price", "size").collect()}
    assert got == {1, 2, 4, 7, 8}


def test_random_walks_deterministic_and_valid(spark):
    """Walks follow real edges only, stop at sinks, and are bit-
    reproducible across runs (hash-driven choice, no RNG)."""
    from gsuites_gcp_graphdb_spark.graph.algorithms import random_walks

    v = vertices_of(
        spark,
        [("user", "u1"), ("user", "u2"), ("group", "g1"),
         ("group", "g2"), ("role", "r1")],
    )
    e = edges_of(
        spark,
        [("user", "u1", "group", "g1"), ("user", "u1", "role", "r1"),
         ("user", "u2", "group", "g1"), ("group", "g1", "group", "g2")],
    )
    g = Graph(v, e)
    starts = v.filter(F.col("label") == "user").select("id")
    out = random_walks(g, starts, length=3).collect()
    again = random_walks(g, starts, length=3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    by_walk = {}
    for r in sorted(out, key=lambda r: (r.walk_key, r.step)):
        by_walk.setdefault(r.walk_key, []).append((r.label, r.key))
    assert set(by_walk) == {"u1", "u2"}
    edges_nk = {("user", "u1"): {("group", "g1"), ("role", "r1")},
                ("user", "u2"): {("group", "g1")},
                ("group", "g1"): {("group", "g2")}}
    for wk, path in by_walk.items():
        assert path[0] == ("user", wk)
        for a, b in zip(path, path[1:]):
            assert b in edges_nk.get(a, set())  # every hop is an edge
        # terminal vertex is a sink or the walk used all 3 steps
        assert path[-1] not in edges_nk or len(path) == 4


def test_stress_centrality_hand_computed(spark):
    """Diamond + tail graph, one seed: stress (number of shortest
    seed->target paths through each interior vertex) matches the
    hand count; targets with nothing downstream don't appear."""
    from gsuites_gcp_graphdb_spark.graph.algorithms import stress_centrality

    v = vertices_of(
        spark,
        [("user", "u1"), ("group", "a"), ("group", "b"),
         ("group", "c"), ("group", "d")],
    )
    e = edges_of(
        spark,
        [("user", "u1", "group", "a"), ("user", "u1", "group", "b"),
         ("group", "a", "group", "c"), ("group", "b", "group", "c"),
         ("group", "c", "group", "d")],
    )
    g = Graph(v, e)
    seeds = v.filter(F.col("label") == "user").select(
        F.col("id").alias("seed")
    )
    # group vertices carry their natural key in `email` (schema
    # NATURAL_KEY: group -> email), not `name`
    keys = {r.id: r.email for r in v.select("id", "email").collect()}
    out = {
        keys[r.id]: r.stress
        for r in stress_centrality(g, seeds).collect()
    }
    # through a: u1-a-c, u1-a-c-d = 2; same for b; through c: 2 paths
    # to d; d is never interior (stress 0 -> filtered)
    assert out == {"a": 2, "b": 2, "c": 2}


def test_interval_overlap_join(spark):
    """Half-open overlap semantics on literal intervals: genuine
    overlaps match once (even when they share several buckets),
    touching endpoints do NOT match, and different keys never match."""
    from gsuites_gcp_graphdb_spark.operators.joins import (
        interval_overlap_join,
    )

    L = spark.createDataFrame(
        [(1, "a1", _ts(0), _ts(30)),   # long: spans many 5-min buckets
         (1, "a2", _ts(40), _ts(45)),
         (2, "a3", _ts(0), _ts(10))],
        "k long, lid string, ls timestamp, le timestamp",
    )
    R = spark.createDataFrame(
        [(1, "b1", _ts(20), _ts(50)),  # overlaps a1 (20-30) and a2
         (1, "b2", _ts(30), _ts(35)),  # touches a1 at 30 -> NO match
         (2, "b3", _ts(50), _ts(55))], # same key, disjoint
        "k long, rid string, rs timestamp, re timestamp",
    )
    got = {
        (r.lid, r.rid)
        for r in interval_overlap_join(
            L, R, "k", "ls", "le", "rs", "re", bucket_seconds=300
        ).collect()
    }
    assert got == {("a1", "b1"), ("a2", "b1")}


def test_interval_overlap_pre_epoch_and_autosize(spark):
    """Pins the round-7 bucket-id floor fix: for pre-1970 timestamps
    truncating division assigns bucket 0 to (-bucket, 0) — the same
    bucket as (0, bucket) — while flooring separates them; an overlap
    straddling the epoch must still match, and auto-sized buckets
    (no bucket_seconds) must find the same pairs as an explicit
    width."""
    from gsuites_gcp_graphdb_spark.operators.joins import (
        interval_overlap_join,
    )

    L = spark.createDataFrame(
        [(1, "a", "1969-12-31 23:00:00", "1969-12-31 23:40:00"),
         (1, "b", "1969-12-31 23:50:00", "1970-01-01 00:30:00")],
        "k long, lid string, ls string, le string",
    ).selectExpr(
        "k", "lid", "CAST(ls AS TIMESTAMP) ls", "CAST(le AS TIMESTAMP) le"
    )
    R = spark.createDataFrame(
        [(1, "x", "1969-12-31 23:30:00", "1970-01-01 00:10:00")],
        "k long, rid string, rs string, re string",
    ).selectExpr(
        "k", "rid", "CAST(rs AS TIMESTAMP) rs", "CAST(re AS TIMESTAMP) re"
    )
    for kwargs in ({"bucket_seconds": 600}, {}):
        got = {
            (r.lid, r.rid)
            for r in interval_overlap_join(
                L, R, "k", "ls", "le", "rs", "re", **kwargs
            ).collect()
        }
        assert got == {("a", "x"), ("b", "x")}, (kwargs, got)


def test_skew_join_auto_regimes(spark):
    """skew_join_auto must (a) broadcast-plain when the dim side fits
    the threshold — identical rows to the plain join, broadcast in
    the plan; (b) fall back to the salted spelling when broadcasting
    is disabled — identical rows, no broadcast of the dim side."""
    from gsuites_gcp_graphdb_spark.operators.joins import (
        salted_join,
        skew_join_auto,
    )

    left = spark.range(0, 1000).select(
        (F.col("id") % 5).alias("k"), "id"
    )
    right = spark.createDataFrame(
        [(i, f"v{i}") for i in range(5)], "k long, val string"
    )
    expected = sorted(map(tuple, left.join(right, "k").collect()))

    out = skew_join_auto(left, right, "k")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert sorted(map(tuple, out.collect())) == expected

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out2 = skew_join_auto(left, right, "k")
        plan2 = out2._jdf.queryExecution().executedPlan().toString()
        assert "__salt" in plan2  # the salted fallback was chosen
        assert sorted(map(tuple, out2.collect())) == expected
        manual = sorted(
            map(tuple, salted_join(left, right, "k").collect())
        )
        assert manual == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_skew_join_auto_estimates(spark):
    """With broadcasting off, both regimes come from Catalyst's size
    estimates: a big right side goes PLAIN (replicating a big dim 16x
    buried the AQE skew-split win 13x on the x64-hub traversal probe),
    while a small right side against a big left goes salted."""
    from gsuites_gcp_graphdb_spark.operators.joins import skew_join_auto

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        left = spark.range(0, 100).select((F.col("id") % 3).alias("k"), "id")
        big_right = spark.range(0, 100_000).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
        expected = sorted(map(tuple, left.join(big_right, "k").collect()))
        out = skew_join_auto(left, big_right, "k")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "__salt" not in plan  # big dim: plain + AQE, never 16x'd
        assert sorted(map(tuple, out.collect())) == expected

        big_left = spark.range(0, 1_000_000).select(
            (F.col("id") % 3).alias("k"), "id"
        )
        small_right = spark.range(0, 3).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
        out2 = skew_join_auto(big_left, small_right, "k")
        plan2 = out2._jdf.queryExecution().executedPlan().toString()
        assert "__salt" in plan2  # replication cheap vs left: salted
        assert out2.count() == big_left.join(small_right, "k").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_table_diff_classification(spark):
    """Every change class plus null-safety: NULL -> value counts as a
    change (IS DISTINCT FROM), absent-side rows classify as
    inserted/deleted with an empty mask."""
    from gsuites_gcp_graphdb_spark.operators.cdc import table_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, "d", 40.0)],
        "k long, s string, p double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "cc", 31.0), (5, "e", 50.0)],
        "k long, s string, p double",
    )
    rows = {
        r.k: (r.change_type, r.changed_cols)
        for r in table_diff(old, new, ["k"], ["s", "p"]).collect()
    }
    assert rows == {
        1: ("unchanged", ""),
        2: ("updated", "p"),       # NULL -> 20.0 is a change
        3: ("updated", "p,s"),     # mask sorted by column name
        4: ("deleted", ""),
        5: ("inserted", ""),
    }


def test_ivm_join_maintained_view_equals_recompute(spark, sf_dir):
    """r9 VERDICT item 1: the catalog entry now ships an O(1)
    checksum receipt, so the FULL-VIEW equality (maintenance ==
    direct recompute, row for row) is pinned here at sf0.001 where
    collecting the whole view is cheap."""
    import pyspark.sql.functions as F
    from gsuites_gcp_graphdb_spark.plans.relational_queries import (
        ivm_join_maintenance,
    )
    from gsuites_gcp_graphdb_spark.sources.fixtures import load_table

    maintained = ivm_join_maintenance(spark, sf_dir)

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )

    def h(salt: str):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("o_orderkey").cast("string"), F.lit(salt)
                    )
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("bigint")

    survivors = orders.filter(h(":cdc_del") >= 1966)
    v2 = survivors.select(
        "o_orderkey",
        "o_custkey",
        F.when(
            h(":cdc_upd") < 6554, F.col("o_totalprice") + F.lit(1.0)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    ).unionByName(
        survivors.filter(h(":cdc_ins") < 1311).select(
            (F.col("o_orderkey") + F.lit(100000000000)).alias(
                "o_orderkey"
            ),
            "o_custkey",
            "o_totalprice",
        )
    )
    recomputed = v2.join(
        customer, v2.o_custkey == customer.c_custkey
    ).select(
        "o_orderkey",
        F.col("c_nationkey").cast("bigint").alias("c_nationkey"),
        "o_totalprice",
    )

    got = sorted(
        (r.o_orderkey, r.c_nationkey, round(r.o_totalprice, 2))
        for r in maintained.collect()
    )
    want = sorted(
        (r.o_orderkey, r.c_nationkey, round(r.o_totalprice, 2))
        for r in recomputed.collect()
    )
    assert len(got) > 100 and got == want
