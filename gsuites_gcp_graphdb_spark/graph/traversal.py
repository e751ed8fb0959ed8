"""Gremlin-flavoured traversal builder compiling to DataFrame plans.

The reference's whole query surface is Gremlin traversals (emitted at
main.go:205-211 etc., interactive examples README.md:331-349), e.g.::

    g.V().hasLabel('user').has('email','user1@x').out().valueMap()

This module provides the same fluent surface; each step appends stock
DataFrame operations (filter / join / select), so the "IR" is a
Catalyst logical plan and optimization (predicate pushdown, join
selection, AQE skew handling) is Catalyst's job — the Spark analog of
TinkerPop's strategy-rewrite phase (SURVEY.md §3 EP2). The
expansion steps (outE/inE, hence out/in_) are one plain join that
Catalyst and AQE plan. No step executes anything; terminal calls
(count/next/hasNext/toDF) do.

Semantics follow Gremlin bag semantics: ``out()`` yields one row per
traverser (duplicates preserved); ``dedup()`` collapses them.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .schema import EDGE_SCHEMA, VERTEX_SCHEMA, natural_key_col


class Traversal:
    """A lazy chain over a vertex- or edge-shaped DataFrame."""

    def __init__(self, graph: "Graph", df: DataFrame, kind: str):
        self._g = graph
        self._df = df
        self._kind = kind  # 'V' | 'E'

    # ---- filter steps -------------------------------------------------
    def hasLabel(self, *labels: str) -> "Traversal":
        """g.V().hasLabel('user') — label filter (main.go:206)."""
        return self._with(self._df.filter(F.col("label").isin(list(labels))))

    def has(self, key: str, value=None) -> "Traversal":
        """Property equality — has('email', v) (main.go:206); with one
        arg, property-existence — has('email')."""
        if value is None:
            return self._with(self._df.filter(F.col(key).isNotNull()))
        return self._with(self._df.filter(F.col(key) == F.lit(value)))

    def hasId(self, *ids: int) -> "Traversal":
        """Id equality filter (main.go:320)."""
        col = "id" if self._kind == "V" else "src"
        return self._with(self._df.filter(F.col(col).isin(list(ids))))

    def filter_(self, cond: Column) -> "Traversal":
        return self._with(self._df.filter(cond))

    def dedup(self) -> "Traversal":
        keys = (
            ["id"] if self._kind == "V" else ["src", "dst", "label"]
        )
        return self._with(self._df.dropDuplicates(keys))

    def limit(self, n: int) -> "Traversal":
        return self._with(self._df.limit(n))

    def order_by(self, *cols) -> "Traversal":
        return self._with(self._df.orderBy(*cols))

    def range_(self, start: int, end: int) -> "Traversal":
        """Gremlin `range(start, end)` paging — offset + limit. Pair
        with order_by for deterministic pages (Gremlin makes the same
        demand); Catalyst plans order+offset+limit as a bounded
        top-(end) selection, never a full materialized sort."""
        return self._with(self._df.offset(start).limit(end - start))

    # ---- expansion steps ----------------------------------------------
    def _edges(self, labels: Sequence[str]) -> DataFrame:
        e = self._g.edges
        if labels:
            e = e.filter(F.col("label").isin(list(labels)))
        return e

    def _expand(self, labels: Sequence[str], edge_key: str) -> DataFrame:
        """Frontier ⋈ edges on ``edge_key`` (src for outE, dst for
        inE): one stock join whose strategy Catalyst and AQE pick —
        broadcast for a small frontier, AQE's skew split for a hot
        key, and no stored-side Exchange on the bucketed store."""
        e = self._edges(labels)
        f = self._df.select("id").alias("f")
        ea = e.alias("e")
        return f.join(
            ea, F.col("f.id") == F.col(f"e.{edge_key}")
        ).select("e.*")

    def outE(self, *labels: str) -> "Traversal":
        """Vertex → out-edges (main.go:320; README.md:335-340)."""
        assert self._kind == "V"
        return Traversal(self._g, self._expand(labels, "src"), "E")

    def inE(self, *labels: str) -> "Traversal":
        assert self._kind == "V"
        return Traversal(self._g, self._expand(labels, "dst"), "E")

    def inV(self) -> "Traversal":
        """Edge → head vertex (main.go:320, 339, 426)."""
        assert self._kind == "E"
        e = self._df.alias("e")
        v = self._g.vertices.alias("v")
        out = e.join(v, F.col("e.dst") == F.col("v.id")).select("v.*")
        return Traversal(self._g, out, "V")

    def outV(self) -> "Traversal":
        assert self._kind == "E"
        e = self._df.alias("e")
        v = self._g.vertices.alias("v")
        out = e.join(v, F.col("e.src") == F.col("v.id")).select("v.*")
        return Traversal(self._g, out, "V")

    def out(self, *labels: str) -> "Traversal":
        """1-hop out-neighbour expansion (README.md:344-349)."""
        return self.outE(*labels).inV()

    def in_(self, *labels: str) -> "Traversal":
        return self.inE(*labels).outV()

    def both(self, *labels: str) -> "Traversal":
        o = self.out(*labels)
        i = self.in_(*labels)
        return self._with(o._df.unionByName(i._df))

    def repeat_out(self, times: int, *labels: str) -> "Traversal":
        """Bounded k-hop: out().out()... (README.md:15-32 flow)."""
        t = self
        for _ in range(times):
            t = t.out(*labels)
        return t

    def repeat_out_emit(self, times: int, *labels: str) -> "Traversal":
        """repeat(out()).emit().times(k): union of hops 1..k — 'every
        vertex within k steps', the bounded form of reachability."""
        t = self
        frames = []
        for _ in range(times):
            t = t.out(*labels)
            frames.append(t._df)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return self._with(out)

    def repeat_out_until(
        self,
        *labels: str,
        until: Column | None = None,
        max_iter: int = 50,
    ) -> "Traversal":
        """``repeat(out(labels)).until(...)`` — A17's UNBOUNDED form
        at the fluent surface (r9 VERDICT item 5: the reference's
        console ergonomics, README.md:331-349, without dropping into
        graph.algorithms by hand).

        ``until=None`` is ``until(out().count().is(0))`` — run to the
        empty-frontier fixpoint; the result is every vertex reachable
        in >= 1 step (Gremlin's emit-union minus the start set). This
        form COMPILES TO algorithms.reachable_from itself, so the
        physical plan is identical to the algorithms path by
        construction (two surfaces, one loop), plus one left_semi to
        re-attach vertex properties.

        ``until=<Column>`` is the predicate form: traversers HALT at
        the first vertex (depth >= 1, do-while like Gremlin's
        trailing until) where the predicate holds and stop expanding;
        the result is the halted set, bag-collapsed to distinct
        vertices. A NULL predicate value counts as not-matching
        (the traverser keeps going), Gremlin's filter semantics.

        Both forms run the BFS round of algorithms._bfs_levels: one
        semi-join expansion, deduped against the levels so far, and
        one checkpoint whose Observation is the convergence test — no
        other Spark action per round. The predicate form only drops
        halted vertices from the next frontier and filters the
        reached levels once at the end.

        Like reachable_from, at most one edge label is supported per
        loop (the reference's traversals always repeat over the
        single 'in' membership label)."""
        assert self._kind == "V"
        assert len(labels) <= 1, "repeat_out_until: one edge label max"
        from .algorithms import _bfs_reached, reachable_from

        label = labels[0] if labels else None
        verts = self._g.vertices
        if until is None:
            ids = reachable_from(
                self._g,
                self._df.select("id"),
                edge_label=label,
                max_iter=max_iter,
            )
            out = verts.join(ids, ["id"], "left_semi")
            return Traversal(self._g, out, "V")
        cond = F.coalesce(until, F.lit(False))
        reached = _bfs_reached(
            self._g,
            self._df,
            label,
            max_iter,
            advance=lambda new: verts.join(new, ["id"], "left_semi")
            .filter(~cond)
            .select("id"),
        )
        out = verts.filter(cond).join(reached, ["id"], "left_semi")
        return Traversal(self._g, out, "V")

    # ---- semi-join filters (the A14 pattern) ---------------------------
    def where_inV_hasId(self, ids) -> "Traversal":
        """``where(inV().hasId(x))`` — edge-existence semi-join
        (main.go:320, 339, 426...). ``ids`` is an int, a list, or a
        one-column DataFrame of ids (left_semi join — the batch form,
        SURVEY.md §2.3)."""
        assert self._kind == "E"
        if isinstance(ids, DataFrame):
            target = ids.toDF("id")
            out = self._df.join(
                target, self._df.dst == target.id, "left_semi"
            )
        else:
            idlist = ids if isinstance(ids, (list, tuple)) else [ids]
            out = self._df.filter(F.col("dst").isin(list(idlist)))
        return self._with(out)

    def where_out(self, labels, other: "Traversal") -> "Traversal":
        """Keep vertices having an out-edge whose head is in `other`
        — ``where(out('in').hasLabel(...)...)`` as a left_semi chain."""
        assert self._kind == "V"
        heads = other._df.select(F.col("id").alias("__tid"))
        e = self._edges(labels if isinstance(labels, (list, tuple)) else [labels])
        good_src = (
            e.join(heads, e.dst == F.col("__tid"), "left_semi")
            .select(F.col("src").alias("__sid"))
        )
        out = self._df.join(
            good_src, self._df.id == F.col("__sid"), "left_semi"
        )
        return self._with(out)

    # ---- projection steps ----------------------------------------------
    def group_count(self, key: str = "label") -> DataFrame:
        """groupCount().by(key) — traverser census per key value."""
        return self._df.groupBy(key).agg(
            F.count("*").cast("bigint").alias("count")
        )

    def id_(self) -> DataFrame:
        return self._df.select("id")

    def values(self, *keys: str) -> DataFrame:
        return self._df.select(*keys)

    def key(self) -> DataFrame:
        """Natural key of each matched vertex (email|name|projectid)."""
        assert self._kind == "V"
        return self._df.select(natural_key_col().alias("key"))

    def valueMap(self, with_ids: bool = False) -> DataFrame:
        """Project all properties as a map (README.md:344-349). Nulls
        (properties absent for the label) are omitted, matching
        Gremlin's sparse valueMap. ``with_ids=True`` is
        ``valueMap(true)``: the element id and label join the map under
        the reserved ``T.id``/``T.label`` keys (TinkerPop's tokens)."""
        assert self._kind == "V"
        pairs = []
        if with_ids:
            pairs.append(
                F.struct(
                    F.lit("T.id").alias("key"),
                    F.col("id").cast("string").alias("value"),
                )
            )
            pairs.append(
                F.struct(
                    F.lit("T.label").alias("key"),
                    F.col("label").cast("string").alias("value"),
                )
            )
        for c in ("email", "name", "projectid", "is_external"):
            pairs.append(
                F.when(
                    F.col(c).isNotNull(),
                    F.struct(F.lit(c).alias("key"), F.col(c).cast("string").alias("value")),
                )
            )
        return self._df.select(
            F.col("id"),
            F.col("label"),
            F.map_from_entries(
                F.filter(F.array(*pairs), lambda x: x.isNotNull())
            ).alias("value_map"),
        )

    # ---- terminal steps --------------------------------------------------
    def toDF(self) -> DataFrame:
        return self._df

    def count(self) -> int:
        """Traverser count (README.md:372-381 verification counts)."""
        return self._df.count()

    def hasNext(self) -> bool:
        """Existence probe (main.go:206 etc.). Per-row form; batch
        existence should use the upsert kernel's anti-join instead."""
        return bool(self._df.limit(1).take(1))

    def next(self):
        """First element (main.go:304)."""
        rows = self._df.limit(1).take(1)
        if not rows:
            raise StopIteration("traversal is empty")
        return rows[0]

    # ---- plumbing ---------------------------------------------------------
    def _with(self, df: DataFrame) -> "Traversal":
        return Traversal(self._g, df, self._kind)


class Graph:
    """A property graph = vertices + edges DataFrames (SURVEY.md §1.4)."""

    def __init__(self, vertices: DataFrame, edges: DataFrame):
        self.vertices = vertices
        self.edges = edges

    def V(self, *ids: int) -> Traversal:
        df = self.vertices
        if ids:
            df = df.filter(F.col("id").isin(list(ids)))
        return Traversal(self, df, "V")

    def E(self) -> Traversal:
        return Traversal(self, self.edges, "E")

    def subgraph(self, edge_cond: Column) -> "Graph":
        """Edge-induced subgraph — ``subgraph('sg').cap('sg')``
        (README.md:372-381): filtered edges + their endpoint vertices
        (left_semi against the union of endpoints)."""
        e = self.edges.filter(edge_cond)
        endpoints = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .dropDuplicates()
        )
        v = self.vertices.join(endpoints, ["id"], "left_semi")
        return Graph(v, e)

    def counts(self) -> tuple[int, int]:
        """tinkergraph[vertices:N edges:M]-style check (README.md:372).

        Each side is counted as the row count of its physical plan's
        RDD under an empty projection: one job per side and no
        shuffle, where ``DataFrame.count()`` is a global aggregate that
        AQE runs as a map job plus a result job. A parquet scan with no
        columns reads only its row groups' row counts, and the scan
        keeps its partition parallelism. The two jobs are independent,
        so they run concurrently (``session.run_concurrently``): on a
        freshly cached graph this is the call that fills both caches,
        completely, and the vertex fill would otherwise idle the box
        while the (bigger) edge fill waits its turn."""
        from ..session import run_concurrently

        def rows(df: DataFrame):
            plan = df.select()._jdf.queryExecution()
            return lambda: int(plan.toRdd().count())

        nv, ne = run_concurrently(rows(self.vertices), rows(self.edges))
        return nv, ne

    def cache(self) -> "Graph":
        self.vertices = self.vertices.cache()
        self.edges = self.edges.cache()
        return self

    def create_views(
        self, vertices_name: str = "vertices", edges_name: str = "edges"
    ) -> "Graph":
        """Register the graph as temp views so the whole surface is
        also queryable via spark.sql (the §2C SQL front door — the
        reference's only query language is Gremlin; we expose both)."""
        self.vertices.createOrReplaceTempView(vertices_name)
        self.edges.createOrReplaceTempView(edges_name)
        return self
