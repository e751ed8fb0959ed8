"""Streaming graph ingestion — the Structured-Streaming analog of the
reference's incremental crawl (main.go's rate-limited API walkers,
SURVEY.md §2B B12/B15).

A stream of membership events (member string + container key, i.e.
exactly the `type:email` bindings getIamPolicy emits) is parsed with
the total member parser and merged into the persisted graph inside
``foreachBatch`` using the idempotent upsert kernel. Because merges
are idempotent, micro-batch REPLAYS are safe — end-to-end
exactly-once graph state from an at-least-once source, with no
dedup bookkeeping.

Scale notes: each micro-batch does one anti-join against the current
snapshot keyed on the hashed id; `maxFilesPerTrigger`/rate limits
bound batch size (the streaming form of the reference's 4 rps
throttle, main.go:99-102). Per-batch WRITE I/O is O(delta), not
O(graph): the store appends only the anti-join survivors as a delta
dir and compacts to a full base every `_COMPACT_EVERY` commits
(round-4 verdict item 2 — the old store rewrote the entire graph
every micro-batch, a scale-killer at 100x).

Store directories are written once and never changed after a manifest
names them, so each one's read plan (``export.load``: two parquet
reads, each a file listing plus an analysis) is built once per session
and kept in ``_DIR_GRAPHS``; a load then only unions the kept plans.
Every hit is checked against a recursive (path, mtime, size) signature
of the directory, and Spark names part files with a per-write UUID, so
a directory rewritten at the same path misses. ``_swing_pointer`` drops
the entries of the directories it prunes, which bounds a store's
entries at about 2 x ``_COMPACT_EVERY``. The memo holds plans, no data:
every read still scans the parquet.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph.export import load, save
from ..graph.loaders import parse_member_bindings
from ..graph.schema import vertex_id
from ..graph.traversal import Graph
from ..graph.upsert import edge_delta, vertex_delta
from ..session import run_concurrently


def bindings_to_graph_parts(
    bindings: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """(member, dst_key) rows -> (vertices, edges) to merge: principal
    vertex + role vertex + principal->role edge."""
    parsed = parse_member_bindings(bindings)
    principal_v = parsed.select(
        vertex_id(F.col("src_label"), F.col("src_key")).alias("id"),
        F.col("src_label").alias("label"),
        F.when(
            F.col("src_label").isin("user", "group", "serviceAccount"),
            F.col("src_key"),
        ).alias("email"),
        F.lit(None).cast("string").alias("name"),
        F.lit(None).cast("string").alias("projectid"),
        F.lit(False).alias("is_external"),
    )
    role_v = parsed.select(
        vertex_id("role", F.col("dst_key")).alias("id"),
        F.lit("role").alias("label"),
        F.lit(None).cast("string").alias("email"),
        F.col("dst_key").alias("name"),
        F.lit(None).cast("string").alias("projectid"),
        F.lit(None).cast("boolean").alias("is_external"),
    )
    edges = parsed.select(
        vertex_id(F.col("src_label"), F.col("src_key")).alias("src"),
        vertex_id("role", F.col("dst_key")).alias("dst"),
        F.lit("in").alias("label"),
        F.lit(1).cast("int").alias("weight"),
    )
    return principal_v.unionByName(role_v), edges


_POINTER = "_CURRENT"

# Deltas accumulated before a commit rewrites a full base snapshot.
# Bounds both read fan-in (a load unions base + <=N delta dirs) and
# amortized write cost (O(|G|/N) per batch instead of O(|G|)).
_COMPACT_EVERY = 8


# (id of the SparkContext, absolute store dir) -> (signature, Graph):
# the read plan of one immutable store directory (module notes).
_DIR_GRAPHS: dict[tuple[int, str], tuple[tuple, Graph]] = {}


def _dir_sig(path: str) -> tuple:
    """(relative dir, name, mtime_ns, size) of every file under
    ``path``, walked recursively (vertices are partitioned by label
    into subdirectories)."""
    sig = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        rel = os.path.relpath(root, path)
        for fn in sorted(files):
            st = os.stat(os.path.join(root, fn))
            sig.append((rel, fn, st.st_mtime_ns, st.st_size))
    return tuple(sig)


def _load_dir(spark: SparkSession, path: str) -> Graph:
    """``export.load`` of one store directory, planned once per session
    and directory state. A hit must come from the same JVM session, so
    a second session never runs plans bound to the first one's conf."""
    key = (id(spark.sparkContext), os.path.abspath(path))
    sig = _dir_sig(path)
    hit = _DIR_GRAPHS.get(key)
    if hit is not None and hit[0] == sig:
        g = hit[1]
        if g.vertices.sparkSession._jsparkSession.equals(spark._jsparkSession):
            return g
    g = load(spark, path)
    _DIR_GRAPHS[key] = (sig, g)
    return g


def _read_manifest(graph_path: str) -> dict | None:
    """The _CURRENT pointer holds a JSON manifest
    {"base": "v3"|None, "deltas": ["d4", ...], "seq": 5}. A bare
    version string (the pre-round-5 format) upgrades in place to a
    zero-delta manifest, so old stores stay readable."""
    ptr = os.path.join(graph_path, _POINTER)
    if not os.path.exists(ptr):
        return None
    with open(ptr, encoding="utf-8") as f:
        txt = f.read().strip()
    if txt.startswith("{"):
        return json.loads(txt)
    return {"base": txt, "deltas": [], "seq": int(txt.lstrip("v"))}


def _graph_from_manifest(spark: SparkSession, graph_path: str, m: dict) -> Graph:
    from ..graph.build import empty_edges, empty_vertices

    if m["base"] is not None:
        # a new Graph: callers may rebind its frames (Graph.cache)
        base = _load_dir(spark, os.path.join(graph_path, m["base"]))
        g = Graph(base.vertices, base.edges)
    else:
        g = Graph(empty_vertices(spark), empty_edges(spark))
    for d in m["deltas"]:
        dg = _load_dir(spark, os.path.join(graph_path, d))
        # deltas are anti-join survivors vs the state they were
        # committed against, so they are disjoint from the base and
        # from each other — plain union IS the merge, no dedup read.
        g = Graph(
            g.vertices.unionByName(dg.vertices),
            g.edges.unionByName(dg.edges),
        )
    return g


def load_snapshot(spark: SparkSession, graph_path: str) -> Graph | None:
    """Load the graph the _CURRENT manifest designates, or None when
    no snapshot has ever been committed. Any error OTHER than an
    absent pointer propagates — a transient read failure must never be
    mistaken for 'graph does not exist yet'."""
    m = _read_manifest(graph_path)
    if m is None:
        return None
    return _graph_from_manifest(spark, graph_path, m)


def _swing_pointer(graph_path: str, m: dict, prev: dict | None) -> None:
    """Atomically publish manifest ``m`` (write-temp + rename), then
    prune version/delta dirs referenced by neither ``m`` nor the
    previous manifest — readers holding the prior manifest stay valid
    for one full commit cycle (the keep-2 discipline of the old
    full-snapshot store), and junk dirs from crashed writes vanish.
    The read plans of pruned dirs leave ``_DIR_GRAPHS`` with them."""
    import shutil

    tmp = os.path.join(graph_path, f"{_POINTER}.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(json.dumps(m))
    os.replace(tmp, os.path.join(graph_path, _POINTER))
    keep = {m["base"], *m["deltas"]}
    if prev is not None:
        keep |= {prev["base"], *prev["deltas"]}
    for entry in os.listdir(graph_path):
        path = os.path.join(graph_path, entry)
        if entry[:1] in ("v", "d") and entry not in keep and os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
            gone = os.path.abspath(path)
            for key in [k for k in list(_DIR_GRAPHS) if k[1] == gone]:
                _DIR_GRAPHS.pop(key, None)


def _commit_snapshot(g: Graph, graph_path: str, seq: int) -> None:
    """Full-base commit (first write, compaction, or legacy callers):
    write an immutable ``v{seq}`` snapshot dir, then atomically swing
    the manifest to it with zero deltas. The previous state stays
    intact until the pointer moves, so a crash mid-write leaves the
    prior manifest readable; a replayed commit rewrites its own
    version dir and re-points — idempotent."""
    os.makedirs(graph_path, exist_ok=True)
    prev = _read_manifest(graph_path)
    ver = f"v{seq}"
    save(g, os.path.join(graph_path, ver))
    _swing_pointer(graph_path, {"base": ver, "deltas": [], "seq": seq}, prev)


def _commit_delta(delta: Graph, graph_path: str, m: dict) -> None:
    """Append-only commit: write ONLY the delta rows as ``d{seq+1}``
    and swing the manifest to base + deltas + [new]. Write I/O is
    O(delta). Crash between the delta write and the swing leaves an
    orphan dir the retry overwrites (same seq, manifest unchanged);
    crash after the swing makes the retry's recomputed delta empty,
    which the caller skips — either way state is exactly-once."""
    seq = m["seq"] + 1
    name = f"d{seq}"
    save(delta, os.path.join(graph_path, name))
    _swing_pointer(
        graph_path,
        {"base": m["base"], "deltas": [*m["deltas"], name], "seq": seq},
        m,
    )


def start_binding_ingest(
    spark: SparkSession,
    stream: DataFrame,
    graph_path: str,
    checkpoint_path: str,
    query_name: str = "graph_ingest",
):
    """Run a binding stream into the delta-append graph snapshot store
    at ``graph_path`` (created if absent). Returns the StreamingQuery.

    Durability: state = immutable base + delta dirs named by an atomic
    JSON manifest pointer, never an in-place overwrite of a directory
    being read — a crash mid-commit cannot destroy accumulated state,
    and only a genuinely-absent pointer means 'start empty' (other
    load errors fail the batch and the checkpoint retries it). Each
    micro-batch writes O(delta); every ``_COMPACT_EVERY``-th commit
    compacts to a fresh full base. On an object store swap os.replace
    for a conditional-put of the pointer object."""

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        new_v, new_e = bindings_to_graph_parts(batch)
        _merge_parts_into_store(s, graph_path, new_v, new_e)

    return (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_path)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def _merge_parts_into_store(
    spark: SparkSession,
    graph_path: str,
    vertices: DataFrame,
    edges: DataFrame,
) -> Graph:
    """The MERGE kernel both the streaming sink and the batch API use:
    anti-join the incoming parts against the _CURRENT state to isolate
    the genuinely-new rows, then commit O(delta) — a delta append
    normally, a full compacted base on the first commit and every
    ``_COMPACT_EVERY``-th thereafter. An all-duplicate payload (a
    replay, from any checkpoint) produces an empty delta and commits
    NOTHING — exactly-once state from at-least-once delivery with no
    dedup bookkeeping. Returns the merged graph."""
    from pyspark.sql import Observation

    from ..graph.build import empty_edges, empty_vertices

    m = _read_manifest(graph_path)
    if m is None:
        g = Graph(empty_vertices(spark), empty_edges(spark))
    else:
        g = _graph_from_manifest(spark, graph_path, m)
    # r15 (guide §5 — fewer per-batch driver jobs): the replay probe
    # used to be two extra take(1) jobs after the two checkpoint jobs;
    # an Observation rides the checkpoint's own materialization and
    # yields the delta row counts for free (4 jobs/batch -> 2).
    obs_v, obs_e = Observation(), Observation()
    # r15 (guide §2.6 — overlap independent jobs): the two delta
    # materializations are independent (vertices vs edges over
    # disjoint relations), but each eager localCheckpoint is a driver
    # barrier, so running them sequentially idled the box through two
    # back-to-back single-job tails per micro-batch. run_concurrently
    # overlaps them; the checkpointed rows and both Observation
    # counters are identical to the sequential spelling (each
    # observation rides its own checkpoint's materialization).
    lazy_v = vertex_delta(g.vertices, vertices).observe(
        obs_v, F.count(F.lit(1)).alias("n")
    )
    lazy_e = edge_delta(g.edges, edges).observe(
        obs_e, F.count(F.lit(1)).alias("n")
    )
    delta_v, delta_e = run_concurrently(
        lazy_v.localCheckpoint, lazy_e.localCheckpoint
    )
    if m is not None and obs_v.get["n"] == 0 and obs_e.get["n"] == 0:
        return g  # replay / pure-duplicate batch: state already right
    merged = Graph(
        g.vertices.unionByName(delta_v), g.edges.unionByName(delta_e)
    )
    if m is None or len(m["deltas"]) + 1 >= _COMPACT_EVERY:
        # first commit, or compaction due: one full O(|G|) write every
        # _COMPACT_EVERY commits keeps read fan-in and dir count flat.
        _commit_snapshot(merged, graph_path, (m["seq"] + 1) if m else 0)
    else:
        _commit_delta(Graph(delta_v, delta_e), graph_path, m)
    return merged


def merge_graph_into_store(
    spark: SparkSession,
    graph_path: str,
    vertices: DataFrame,
    edges: DataFrame,
    version: int | None = None,
) -> Graph:
    """Batch MERGE INTO the versioned snapshot store — the Delta-style
    upsert sink, without a table format: anti-join against the
    _CURRENT state, append the delta (or compact), atomically swing
    the manifest. Re-running the same payload is a detected no-op (its
    delta is empty), so batch callers get the same exactly-once-state
    guarantee as the streaming ingest. ``version`` is accepted for API
    compatibility; the store sequences commits itself.

    Returns the merged Graph (as committed)."""
    return _merge_parts_into_store(spark, graph_path, vertices, edges)
