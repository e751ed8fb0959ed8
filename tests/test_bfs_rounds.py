"""BFS loops (graph.algorithms._bfs_levels and its callers) and the
one-hop expansion steps (Traversal.outE/inE and the where_inV_hasId
semi-join) against a Python BFS and edge list on the sf0.001 fixture
graph.

Every case runs three times: with the session's plans, with broadcast
joins off, and with AQE off, so the semi-join round and the single
expansion join are shown not to depend on the physical plan they
get."""

from __future__ import annotations

from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from gsuites_gcp_graphdb_spark.graph.algorithms import (
    reachable_from,
    reaching_to,
    shortest_paths,
)
from gsuites_gcp_graphdb_spark.graph.build import build_graph
from gsuites_gcp_graphdb_spark.graph.schema import EDGE_SCHEMA
from gsuites_gcp_graphdb_spark.graph.traversal import Graph, Traversal

PLAN_MODES = {
    "default": {},
    "no_broadcast": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    "no_aqe": {"spark.sql.adaptive.enabled": "false"},
}


@pytest.fixture(params=sorted(PLAN_MODES))
def plan_mode(request, spark):
    conf = PLAN_MODES[request.param]
    old = {k: spark.conf.get(k) for k in conf}
    for k, val in conf.items():
        spark.conf.set(k, val)
    yield request.param
    for k, val in old.items():
        spark.conf.set(k, val)


def py_levels(adj, sources):
    """BFS levels: the sources, then the ids first reached per hop."""
    levels = [set(sources)]
    seen = set(sources)
    while True:
        nxt = {d for s in levels[-1] for d in adj[s]} - seen
        if not nxt:
            return levels
        levels.append(nxt)
        seen |= nxt


class Fixture:
    def __init__(self, spark, sf_dir):
        v, e = build_graph(spark, sf_dir)
        self.spark = spark
        self.v, self.e = v.cache(), e.cache()
        self.g = Graph(self.v, self.e)
        self.pairs = pairs = [
            (r.src, r.dst) for r in self.e.select("src", "dst").collect()
        ]
        self.labels = {r.id: r.label for r in self.v.select("id", "label").collect()}
        self.adj = defaultdict(set)
        self.radj = defaultdict(set)
        for s, d in pairs:
            self.adj[s].add(d)
            self.radj[d].add(s)
        users = sorted(i for i, lbl in self.labels.items() if lbl == "user")
        # the user with the deepest reach; ties to the smallest id
        self.user = max(users, key=lambda u: (len(py_levels(self.adj, [u])), -u))
        self.user_levels = py_levels(self.adj, [self.user])
        self.sink = min(i for i in self.labels if not self.adj[i])

    def ids(self, ids):
        return self.spark.createDataFrame([(i,) for i in ids], "id bigint")


@pytest.fixture(scope="module")
def fx(spark, sf_dir):
    return Fixture(spark, sf_dir)


def ids_of(df):
    got = [r.id for r in df.collect()]
    assert len(got) == len(set(got)), "duplicate ids"
    return set(got)


def test_fixture_has_depth(fx):
    # the cases below need at least source -> 1 hop -> 2 hops
    assert len(fx.user_levels) >= 3


def test_reachable_from_multi_source(fx, plan_mode):
    """A source reached from another source stays out of the result
    unless include_sources."""
    hop1 = min(fx.user_levels[1])
    sources = [fx.user, hop1]
    want = set().union(*py_levels(fx.adj, sources)[1:])
    assert hop1 not in want
    src = fx.ids(sources)
    assert ids_of(reachable_from(fx.g, src)) == want
    assert ids_of(reachable_from(fx.g, src, include_sources=True)) == want | set(
        sources
    )


def test_reachable_from_cycle_back_to_source(fx, plan_mode):
    deepest = min(fx.user_levels[-1])
    back = fx.spark.createDataFrame([(deepest, fx.user, "in", 1)], EDGE_SCHEMA)
    # cached: every BFS round scans the edges, and an uncached union
    # rescans the local one-row relation each time (about 4x slower)
    edges = fx.e.unionByName(back).cache()
    g = Graph(fx.v, edges)
    adj = defaultdict(set, {k: set(s) for k, s in fx.adj.items()})
    adj[deepest].add(fx.user)
    want = set().union(*py_levels(adj, [fx.user])[1:])
    src = fx.ids([fx.user])
    assert fx.user not in want
    try:
        assert ids_of(reachable_from(g, src)) == want
        with_src = reachable_from(g, src, include_sources=True)
        assert ids_of(with_src) == want | {fx.user}
        dist = {r.id: r.distance for r in shortest_paths(g, src).collect()}
        assert dist[fx.user] == 0
    finally:
        edges.unpersist()


def test_reaching_to(fx, plan_mode):
    target = min(fx.user_levels[-1])
    want = set().union(*py_levels(fx.radj, [target])[1:])
    assert fx.user in want
    assert ids_of(reaching_to(fx.g, fx.ids([target]))) == want


def test_shortest_paths(fx, plan_mode):
    hop1 = min(fx.user_levels[1])
    sources = [fx.user, hop1]
    want = {i: d for d, lv in enumerate(py_levels(fx.adj, sources)) for i in lv}
    rows = shortest_paths(fx.g, fx.ids(sources)).collect()
    assert len(rows) == len(want), "duplicate ids"
    assert {r.id: r.distance for r in rows} == want


def test_empty_and_sink_sources(fx, plan_mode):
    empty = fx.v.select("id").limit(0)
    assert reachable_from(fx.g, empty).count() == 0
    assert reachable_from(fx.g, empty, include_sources=True).count() == 0
    assert shortest_paths(fx.g, empty).count() == 0
    sink = reachable_from(fx.g, fx.ids([fx.sink]))
    assert sink.count() == 0
    assert sink.schema["id"].dataType == LongType()
    assert ids_of(reachable_from(fx.g, fx.ids([fx.sink]), include_sources=True)) == {
        fx.sink
    }
    assert [(r.id, r.distance) for r in shortest_paths(fx.g, fx.ids([fx.sink])).collect()] == [
        (fx.sink, 0)
    ]


def test_repeat_out_until_predicate(fx, plan_mode):
    """The predicate form halts traversers at the first role: roles
    reached through non-role vertices only."""
    halted, seen, frontier = set(), {fx.user}, {fx.user}
    while frontier:
        nxt = {d for s in frontier for d in fx.adj[s]} - seen
        seen |= nxt
        halted |= {i for i in nxt if fx.labels.get(i) == "role"}
        frontier = {i for i in nxt if i in fx.labels and fx.labels[i] != "role"}
    start = Traversal(fx.g, fx.v.filter(F.col("id") == fx.user), "V")
    got = start.repeat_out_until("in", until=F.col("label") == "role").toDF()
    assert halted
    assert ids_of(got.select("id")) == halted


def test_expansion_outE_keeps_duplicate_traversers(fx, plan_mode):
    """outE yields one row per (traverser, edge): a frontier holding
    the same vertex twice doubles its edges (Gremlin bag semantics)."""
    hop1 = min(fx.user_levels[1])
    frontier = [fx.user, fx.user, hop1]
    want = Counter((s, d) for t in frontier for s, d in fx.pairs if s == t)
    t = Traversal(fx.g, fx.ids(frontier), "V").outE("in")
    got = Counter((r.src, r.dst) for r in t.toDF().collect())
    assert got[(fx.user, hop1)] == 2
    assert got == want


def test_expansion_who_can_access_chain(fx, plan_mode):
    """project.in_().hasLabel('role').in_().hasLabel('user'): one row
    per path before dedup, each user once after."""
    lbl = fx.labels

    def users_via_roles(p):
        return Counter(
            u
            for r in fx.radj[p]
            if lbl.get(r) == "role"
            for u in fx.radj[r]
            if lbl.get(u) == "user"
        )

    projects = sorted(i for i, x in lbl.items() if x == "project")
    project = max(projects, key=lambda p: (len(users_via_roles(p)), -p))
    want = users_via_roles(project)
    assert want
    start = Traversal(fx.g, fx.v.filter(F.col("id") == project), "V")
    t = start.in_("in").hasLabel("role").in_("in").hasLabel("user")
    assert Counter(r.id for r in t.id_().collect()) == want
    assert ids_of(t.dedup().id_()) == set(want)


def test_expansion_where_inV_hasId_outV(fx, plan_mode):
    """E().where_inV_hasId(ids).outV(): one tail vertex per edge into
    the id set."""
    roles = sorted(i for i, x in fx.labels.items() if x == "role")[:2]
    want = Counter(s for s, d in fx.pairs if d in roles and s in fx.labels)
    got = fx.g.E().where_inV_hasId(fx.ids(roles)).outV().id_()
    assert want
    assert Counter(r.id for r in got.collect()) == want
