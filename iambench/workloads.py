"""The benchmark's workloads: seeded op streams over the package's API.

Each workload is a closed loop with one client. The seed defines its
warm-up ops (``warmups()``, part of set-up) and its timed cycles
(``cycle()``); the runner calls ``reset()`` untimed before each cycle,
runs a fixed number of cycles (``--seconds`` / ``cycle_s``), times
each op from outside and keeps the results, which ``verify`` checks
against the oracle after the timed phase. Each workload has four op types (``slots``), in a fixed
order, so every workload reports the same four latency metrics:
``op1_p50_s`` .. ``op4_p50_s`` are the p50 of ``slots[0]`` .. ``slots[3]``.

Spark calls go through ``ctx.call(layer, fn, ...)``, which is a plain
call in a timed run and a traced span (``probe.Tracer``) in a traced
run.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from dataclasses import dataclass

from .oracle import IamOracle, StoreModel


@dataclass
class Ctx:
    spark: object
    fixture_dir: str
    run_dir: str
    cores: int
    tracer: object = None

    def call(self, layer: str, fn, *args, **kwargs):
        if self.tracer is None:
            return fn(*args, **kwargs)
        return self.tracer.span(layer, fn, *args, **kwargs)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    nbytes = nfiles = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            nbytes += os.path.getsize(os.path.join(root, f))
            nfiles += 1
    return nbytes, nfiles


class IamRead:
    """The interactive audit path: traversals over the bucketed store
    of the sf0.01 IAM graph.

    Each cycle runs the four op types once, in a seeded order and with
    seeded parameters:
    who-can-access a project (user -in-> role -in-> project), the
    members of a role (the ``where(inV().hasId(r))`` semi-join), the
    out-neighbours of a user, and the unbounded reach of a user (BFS to
    fixpoint through ``algorithms.reachable_from``, about 20 jobs where
    the others take 4 to 6). Parameters are drawn from the graph's keys.
    """

    name = "iam_read"
    sf = 0.01
    # seconds per cycle measured on a 4-vCPU 2.0 GHz Xeon VM
    cycle_s = 3.1
    slots = ("who_can_access", "members_of_role", "out_neighbors", "reach")
    layers = {k: f"traversal.{k}" for k in slots}

    def __init__(self, seed: int, oracle: IamOracle):
        self.rng = random.Random(seed)
        self.oracle = oracle
        self.keys = {
            "who_can_access": oracle.keys("project"),
            "members_of_role": oracle.keys("role"),
            "out_neighbors": oracle.keys("user"),
            "reach": oracle.keys("user"),
        }

    def warmups(self):
        # four calls per op type: the first pays JIT and code generation,
        # and after two, latencies still fell through the timed phase
        return [op for _ in range(4) for op in self.cycle()]

    def cycle(self):
        order = list(self.slots)
        self.rng.shuffle(order)
        return [(k, self.rng.choice(self.keys[k])) for k in order]

    def reset(self, ctx) -> None:
        pass  # reads leave the store as it was

    # ---- set-up ----------------------------------------------------------
    def setup(self, ctx: Ctx) -> None:
        from gsuites_gcp_graphdb_spark.graph.build import build_graph
        from gsuites_gcp_graphdb_spark.graph.export import load_bucketed, save_bucketed
        from gsuites_gcp_graphdb_spark.graph.traversal import Graph
        from gsuites_gcp_graphdb_spark.plans.graph_queries import graph_store_prefix

        spark = ctx.spark
        par = spark.sparkContext.defaultParallelism

        # The build and bucket layout of plans.graph_queries._graph and
        # materialize_graph_store: an evened-out cached build, written
        # once as the dual-clustered bucketed store.
        def build():
            v, e = build_graph(spark, ctx.fixture_dir)
            g = Graph(v.repartition(max(8, par // 4)), e.repartition(max(16, par // 2))).cache()
            g.counts()
            return g

        g = ctx.call("build", build)
        prefix = graph_store_prefix(ctx.fixture_dir)
        ctx.call("export.save_bucketed", save_bucketed, g, prefix, buckets=max(8, par // 2))
        g.vertices.unpersist(True)
        g.edges.unpersist(True)
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        self.store_bytes = sum(
            dir_bytes(os.path.join(wh, f"{prefix}_{s}"))[0]
            for s in ("vertices", "edges", "edges_by_dst")
        )

        # edges clustered by dst serve in-expansion, edges clustered by
        # src serve out-expansion (export.load_bucketed)
        def load():
            g_in = load_bucketed(spark, prefix, edges_by="dst").cache()
            g_out = load_bucketed(spark, prefix, edges_by="src").cache()
            g_in.counts()
            g_out.edges.count()
            return g_in, g_out

        self.g_in, self.g_out = ctx.call("export.load_bucketed", load)

    # ---- ops -------------------------------------------------------------
    def run_op(self, ctx: Ctx, kind: str, param):
        from pyspark.sql import functions as F

        from gsuites_gcp_graphdb_spark.graph.schema import natural_key_col

        def keyed(t):
            return [tuple(r) for r in t.toDF().select("label", natural_key_col()).collect()]

        if kind == "who_can_access":

            def op():
                t = (
                    self.g_in.V()
                    .hasLabel("project")
                    .has("projectid", param)
                    .in_("in")
                    .hasLabel("role")
                    .in_("in")
                    .hasLabel("user")
                    .dedup()
                )
                return [r[0] for r in t.values("email").collect()]

        elif kind == "members_of_role":

            def op():
                role = self.g_in.V().hasLabel("role").has("name", param).id_()
                t = self.g_in.E().where_inV_hasId(role).outV().dedup()
                users = t.toDF().filter(F.col("label") == "user")
                return [r[0] for r in users.select("email").collect()]

        elif kind == "out_neighbors":

            def op():
                return keyed(self.g_out.V().hasLabel("user").has("email", param).out("in").dedup())

        else:

            def op():
                start = self.g_out.V().hasLabel("user").has("email", param)
                return keyed(start.repeat_out_until("in"))

        return ctx.call(self.layers[kind], op)

    def pre(self, ctx, kind, param):
        return None

    def post(self, ctx, kind, param, pre, result):
        return None

    # ---- verification ------------------------------------------------------
    def verify(self, records) -> list[str]:
        """Problems found in the recorded ops."""
        o = self.oracle
        want = {
            "who_can_access": o.who_can_access,
            "members_of_role": lambda r: {k for lbl, k in o.members_of_role(r) if lbl == "user"},
            "out_neighbors": lambda u: o.out_adj[("user", u)],
            "reach": o.reach,
        }
        bad = []
        for i, rec in enumerate(records):
            kind, param, got = rec["kind"], rec["param"], rec["value"]
            unique = isinstance(got, list) and len(got) == len(set(got))
            if not (unique and set(got) == want[kind](param)):
                bad.append(f"op {i} {kind}({param!r}) disagrees with the oracle")
        return bad


class IamIngest:
    """The load path: seeded batches of ``type:email`` -> role bindings
    merged into the snapshot store through
    ``streaming.ingest.merge_graph_into_store``.

    The store starts from a base commit of every user -> role binding
    of the sf0.01 graph, the output of one full IAM policy crawl. A
    batch binds members drawn uniformly from the graph's principals
    (users, service accounts and groups, so in the proportions the graph
    has them) to roles drawn uniformly from its roles. Each merge is
    followed by a fresh read (load the snapshot, list the members of a
    role the batch touched) and the snapshot's vertex and edge counts,
    both checked against a set model of the bindings.

    Set-up ends with the store at its base plus ``COMPACT_EVERY - 1``
    deltas. Every timed cycle starts from a copy of that state and
    merges the same seeded four batches: a commit that compacts the
    store into a new base, a replay of it (which must be a no-op), and
    two commits of deltas on the new base. So every timed op sees the
    same store state in every run, and the reads all see a base with at
    most two deltas.
    """

    name = "iam_ingest"
    sf = 0.01
    # seconds per cycle measured on a 4-vCPU 2.0 GHz Xeon VM
    cycle_s = 8.4
    slots = ("commit", "replay", "fresh_read", "counts")
    layers = {
        "commit": "ingest.commit",
        "replay": "ingest.replay",
        "fresh_read": "traversal.fresh_read",
        "counts": "traversal.counts",
    }
    BATCH = 500
    # the package compacts on every 8th commit
    # (streaming.ingest._COMPACT_EVERY); the cycle's first commit is it
    COMPACT_EVERY = 8

    def __init__(self, seed: int, oracle: IamOracle):
        rng = random.Random(seed)
        principals = [
            f"{label}:{key}"
            for label in ("user", "serviceAccount", "group")
            for key in oracle.keys(label)
        ]
        roles = oracle.keys("role")
        self.base = sorted(
            (f"user:{s[1]}", d[1]) for s, d in oracle.edges if s[0] == "user" and d[0] == "role"
        )
        # batch 0 warms up, batches 1 .. n_history bring the store to
        # COMPACT_EVERY - 1 deltas, the last three are the cycle's commits
        n_history = self.COMPACT_EVERY - 2
        self.batches = [
            [(rng.choice(principals), rng.choice(roles)) for _ in range(self.BATCH)]
            for _ in range(1 + n_history + 3)
        ]
        self._warmups = self._merge_step("commit", 0) + self._merge_step("replay", 0)
        self._warmups += [("commit", i) for i in range(1, 1 + n_history)]
        a, b, c = range(1 + n_history, len(self.batches))
        self._cycle = [
            op
            for kind, idx in (("commit", a), ("replay", a), ("commit", b), ("commit", c))
            for op in self._merge_step(kind, idx)
        ]
        self.io = {"bytes": 0, "files": 0, "new_edges": 0, "bindings": 0, "compactions": 0}

    def _merge_step(self, kind: str, idx: int):
        role = self.batches[idx][0][1]
        return [(kind, idx), ("fresh_read", role), ("counts", None)]

    def warmups(self):
        # a commit and a replay, each with its fresh read and counts,
        # then the set-up commits that bring the store to its cycle state
        return self._warmups

    def cycle(self):
        return self._cycle

    # ---- set-up ----------------------------------------------------------
    def _merge(self, spark, bindings) -> None:
        import pandas as pd

        from gsuites_gcp_graphdb_spark.streaming.ingest import (
            bindings_to_graph_parts,
            merge_graph_into_store,
        )

        # a pandas frame goes to the JVM as Arrow batches, with no
        # Python worker processes
        df = spark.createDataFrame(pd.DataFrame(bindings, columns=["member", "dst_key"]))
        v, e = bindings_to_graph_parts(df)
        merge_graph_into_store(spark, self.store, v, e)

    def setup(self, ctx: Ctx) -> None:
        self.store = os.path.join(ctx.run_dir, "store")
        self.cycle_start = os.path.join(ctx.run_dir, "store-cycle-start")
        ctx.call("ingest.base_commit", self._merge, ctx.spark, self.base)

    def reset(self, ctx: Ctx) -> None:
        """Put the store in its cycle-start state (untimed): the first
        reset, right after the warm-ups, keeps a copy of the store; the
        later ones restore it."""
        if not os.path.isdir(self.cycle_start):
            shutil.copytree(self.store, self.cycle_start)
            return
        shutil.rmtree(self.store)
        shutil.copytree(self.cycle_start, self.store)

    def manifest(self) -> dict:
        with open(os.path.join(self.store, "_CURRENT"), encoding="utf-8") as f:
            return json.loads(f.read())

    # ---- ops -------------------------------------------------------------
    def run_op(self, ctx: Ctx, kind: str, param):
        from gsuites_gcp_graphdb_spark.graph.schema import natural_key_col
        from gsuites_gcp_graphdb_spark.streaming.ingest import load_snapshot

        spark = ctx.spark
        if kind in ("commit", "replay"):
            return ctx.call(self.layers[kind], self._merge, spark, self.batches[param])
        g = ctx.call("export.load", load_snapshot, spark, self.store)
        if kind == "fresh_read":

            def op():
                t = g.V().hasLabel("role").has("name", param).in_("in")
                return [tuple(r) for r in t.toDF().select("label", natural_key_col()).collect()]

            return ctx.call(self.layers[kind], op)
        return ctx.call(self.layers[kind], g.counts)

    def pre(self, ctx, kind, param):
        if kind not in ("commit", "replay"):
            return None
        return self.manifest(), set(os.listdir(self.store))

    def post(self, ctx, kind, param, pre, result):
        """(seq before, seq after, bytes written, files written, compacted)
        of a merge: new store directories are immutable once written."""
        if pre is None:
            return None
        m0, before = pre
        m1 = self.manifest()
        nbytes = nfiles = 0
        for entry in set(os.listdir(self.store)) - before:
            b, n = dir_bytes(os.path.join(self.store, entry))
            nbytes += b
            nfiles += n
        compacted = m1["seq"] != m0["seq"] and not m1["deltas"]
        return m0["seq"], m1["seq"], nbytes, nfiles, compacted

    # ---- verification ------------------------------------------------------
    def verify(self, records) -> list[str]:
        """Replay the records against a set model of the store, and sum
        the timed merges' store writes into ``io``. Each timed cycle
        starts from the model of the store after the warm-ups."""
        model = StoreModel()
        model.apply(self.base)
        cycle_start, cycle = None, 0
        bad = []
        for i, rec in enumerate(records):
            kind, param = rec["kind"], rec["param"]
            if rec["cycle"] != cycle:
                cycle_start = cycle_start or model.copy()
                model, cycle = cycle_start.copy(), rec["cycle"]
            if kind in ("commit", "replay"):
                batch = self.batches[param]
                nv, ne = model.apply(batch)
                seq0, seq1, nbytes, nfiles, compacted = rec["post"]
                moved = seq1 != seq0
                ok = moved == bool(nv or ne)
                if kind == "replay":
                    ok = ok and not moved and nv == ne == 0
                if rec["timed"]:
                    for key, v in zip(self.io, (nbytes, nfiles, ne, len(batch), compacted)):
                        self.io[key] += v
            elif kind == "fresh_read":
                out = rec["value"]
                ok = (
                    isinstance(out, list)
                    and len(out) == len(set(out))
                    and set(out) == model.members_of_role(param)
                )
            else:
                ok = rec["value"] is not None and tuple(rec["value"]) == model.counts()
            if not ok:
                bad.append(f"op {i} {kind}({param!r}) disagrees with the store model")
        return bad


WORKLOADS = {w.name: w for w in (IamRead, IamIngest)}
