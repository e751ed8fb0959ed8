"""Graph export sinks (SURVEY.md §2A A21/A22).

- GraphML (A21): the reference exports an extracted subgraph for
  Cytoscape/Gephi via ``sg.io(IoCore.graphml()).writeGraph(...)``
  (README.md:383-388). Export is small-data by construction (you
  extract a subgraph first), so we serialize on the driver after a
  collect — mirroring the reference, whose subgraph also materializes
  in driver memory (TinkerGraph). Multi-valued properties are NOT
  representable in GraphML (README.md:474-482); we enforce the same
  limitation by only emitting scalar columns.
- GraphSON-style JSON (A22): distributed ``df.write.json`` of vertex
  and edge records (adjacency-free, line-delimited) — the
  multi-valued-capable path (README.md:484-489), safe at any scale.
- Parquet snapshots: the canonical persisted form (partitioned by
  label, SURVEY.md §4.4), written/read back by ``save/load``.
"""

from __future__ import annotations

import hashlib
from xml.sax.saxutils import escape

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .schema import EDGE_SCHEMA, VERTEX_SCHEMA
from .traversal import Graph

_GRAPHML_KEYS = (
    ("label", "string"),
    ("email", "string"),
    ("name", "string"),
    ("projectid", "string"),
    ("is_external", "boolean"),
)


# write_graphml/to_graphml serialize on the DRIVER (mirroring the
# reference, whose exported subgraph is a driver-memory TinkerGraph —
# README.md:383-388). That contract only holds for small, pre-extracted
# subgraphs, so the guard below refuses anything bigger instead of
# trusting the caller not to OOM the driver on a full graph.
GRAPHML_MAX_ELEMENTS = 500_000


def _guard_graphml_size(g: Graph, max_elements: int) -> None:
    """Fail fast when vertices+edges exceed the driver bound. The
    probe is `limit(max+1).count()` on each side — it never scans
    more than max+1 rows, so refusing a 10B-row graph is as cheap as
    admitting a 200-row one (a plain count() would itself be the
    full-scan the guard exists to avoid)."""
    probe = max_elements + 1
    n_v = g.vertices.limit(probe).count()
    n_e = g.edges.limit(max(probe - n_v, 1)).count()
    if n_v + n_e > max_elements:
        raise ValueError(
            f"GraphML export is a driver-side, small-subgraph path: "
            f"graph has > {max_elements} elements "
            f"(vertices+edges >= {n_v + n_e}). Extract a subgraph "
            f"first (Graph.subgraph), raise "
            f"max_elements explicitly, or use write_graphson() — the "
            f"distributed, any-scale export."
        )


def to_graphml(g: Graph, max_elements: int = GRAPHML_MAX_ELEMENTS) -> str:
    """Serialize a (small, pre-extracted) graph to GraphML XML.
    Refuses graphs above ``max_elements`` vertices+edges — see
    _guard_graphml_size."""
    _guard_graphml_size(g, max_elements)
    header = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<graphml xmlns="http://graphml.graphdrawing.org/xmlns">',
    ]
    for key, typ in _GRAPHML_KEYS:
        header.append(
            f'  <key id="{key}" for="node" attr.name="{key}" '
            f'attr.type="{typ}"/>'
        )
    header.append(
        '  <key id="weight" for="edge" attr.name="weight" attr.type="int"/>'
    )
    header.append('  <graph id="G" edgedefault="directed">')
    lines = header
    for row in g.vertices.toLocalIterator():
        lines.append(f'    <node id="n{row.id}">')
        for key, _typ in _GRAPHML_KEYS:
            val = getattr(row, key)
            if val is not None:
                lines.append(
                    f'      <data key="{key}">'
                    f"{escape(str(val).lower() if isinstance(val, bool) else str(val))}"
                    f"</data>"
                )
        lines.append("    </node>")
    for i, row in enumerate(g.edges.toLocalIterator()):
        lines.append(
            f'    <edge id="e{i}" source="n{row.src}" target="n{row.dst}" '
            f'label="{escape(row.label)}">'
        )
        lines.append(f'      <data key="weight">{row.weight}</data>')
        lines.append("    </edge>")
    lines.append("  </graph>")
    lines.append("</graphml>")
    return "\n".join(lines)


def write_graphml(
    g: Graph, path: str, max_elements: int = GRAPHML_MAX_ELEMENTS
) -> None:
    # serialize (and size-guard) BEFORE touching the path — a refused
    # export must not leave an empty file behind
    xml = to_graphml(g, max_elements=max_elements)
    with open(path, "w", encoding="utf-8") as f:
        f.write(xml)


def read_graphml(spark: SparkSession, path: str) -> Graph:
    """GraphML import — the inverse of ``write_graphml``, closing the
    A21 round-trip. The reference only ever *writes* GraphML
    (README.md:383-388: export for Cytoscape/Gephi), so import exists
    for interchange symmetry: GraphML is a small-subgraph format by
    construction (the reference's own export is a 183-vertex
    TinkerGraph held in driver memory), so parsing on the driver and
    parallelizing into DataFrames is the honest boundary — NOT a
    100 TB path; bulk graph I/O is the parquet ``save``/``load`` pair.

    Tolerant of foreign GraphML: unknown <data> keys are ignored,
    missing properties stay null, node ids accept our ``n<id>``
    convention and raw integers, and non-numeric ids (``a1``,
    ``node-7``) degrade to a stable 64-bit hash of the raw id string
    (the same id-is-a-hash discipline as schema.vertex_id, so equal
    foreign ids still join). Unparseable weights default to 1.
    """
    import xml.etree.ElementTree as ET

    ns = {"g": "http://graphml.graphdrawing.org/xmlns"}
    root = ET.parse(path).getroot()

    def _nid(raw: str) -> int:
        s = raw[1:] if raw and raw[0] == "n" else raw
        try:
            return int(s)
        except (TypeError, ValueError):
            # stable signed-64 hash of the raw id (NOT Python's
            # per-process-salted hash()) — foreign ids join by equality
            digest = hashlib.md5(str(raw).encode()).digest()
            return int.from_bytes(digest[:8], "big", signed=True)

    def _weight(raw: str) -> int:
        try:
            return int(float(raw))
        except (TypeError, ValueError):
            return 1

    v_rows, e_rows = [], []
    for node in root.iter("{%s}node" % ns["g"]):
        props = {
            d.get("key"): (d.text or "")
            for d in node.findall("g:data", ns)
        }
        ext = props.get("is_external")
        v_rows.append(
            (
                _nid(node.get("id")),
                props.get("label", "vertex"),
                props.get("email"),
                props.get("name"),
                props.get("projectid"),
                None if ext is None else ext == "true",
            )
        )
    for edge in root.iter("{%s}edge" % ns["g"]):
        props = {
            d.get("key"): (d.text or "")
            for d in edge.findall("g:data", ns)
        }
        e_rows.append(
            (
                _nid(edge.get("source")),
                _nid(edge.get("target")),
                edge.get("label", "in"),
                _weight(props.get("weight", "1")),
            )
        )
    return Graph(
        spark.createDataFrame(v_rows, VERTEX_SCHEMA),
        spark.createDataFrame(e_rows, EDGE_SCHEMA),
    )


def write_graphson(g: Graph, path: str) -> None:
    """Distributed JSON export: one record per element, tagged — scales
    to any graph size (no driver collect)."""
    v = g.vertices.select(
        F.lit("vertex").alias("kind"),
        F.col("id"),
        F.col("label"),
        F.to_json(
            F.struct("email", "name", "projectid", "is_external")
        ).alias("properties"),
    )
    e = g.edges.select(
        F.lit("edge").alias("kind"),
        F.col("src").alias("id"),
        F.col("label"),
        F.to_json(F.struct("src", "dst", "weight")).alias("properties"),
    )
    v.unionByName(e).write.mode("overwrite").json(path)


def read_graphson(spark: SparkSession, path: str) -> Graph:
    """GraphSON import — inverse of ``write_graphson`` (A22 becomes a
    true round-trip, not export-only). Fully distributed both ways:
    the export wrote one tagged JSON record per element, so the
    import is a JSON scan + from_json over the properties payload —
    no driver materialization, any graph size."""
    # explicit schema: skips the inference job (a full extra scan at
    # 100 TB) and keeps the columns resolvable when the export wrote
    # an EMPTY graph (inference over zero records yields no schema)
    raw = spark.read.schema(
        "kind string, id long, label string, properties string"
    ).json(path)
    v = (
        raw.filter(F.col("kind") == "vertex")
        .select(
            F.col("id").cast("long").alias("id"),
            "label",
            F.from_json(
                "properties",
                "email string, name string, projectid string,"
                " is_external boolean",
            ).alias("__p"),
        )
        .select(
            "id",
            "label",
            F.col("__p.email").alias("email"),
            F.col("__p.name").alias("name"),
            F.col("__p.projectid").alias("projectid"),
            F.col("__p.is_external").alias("is_external"),
        )
    )
    e = (
        raw.filter(F.col("kind") == "edge")
        .select(
            "label",
            F.from_json(
                "properties", "src long, dst long, weight int"
            ).alias("__p"),
        )
        .select(
            F.col("__p.src").alias("src"),
            F.col("__p.dst").alias("dst"),
            "label",
            F.col("__p.weight").alias("weight"),
        )
    )
    return Graph(v, e)


def save(g: Graph, path: str) -> None:
    """Parquet snapshot, scale layout: vertices partitioned by label
    (partition pruning for hasLabel), edges repartitioned by src
    (expansion joins read co-located data).

    The two sinks are independent and run CONCURRENTLY (guide §2.6,
    the save_bucketed discipline): the edge write's repartition
    shuffle back-fills the vertex write's small-file tail. Files are
    byte-identical to the sequential spelling — distinct output dirs,
    no shared state."""
    from ..session import run_concurrently

    def _wv():
        g.vertices.write.mode("overwrite").partitionBy("label").parquet(
            f"{path}/vertices"
        )

    def _we():
        g.edges.repartition("src").write.mode("overwrite").parquet(
            f"{path}/edges"
        )

    run_concurrently(_wv, _we)


def save_bucketed(
    g: Graph,
    table_prefix: str,
    buckets: int = 16,
) -> None:
    """Persist the graph as BUCKETED tables: vertices bucketed+sorted
    by id, edges by BOTH endpoints — one table clustered by src (out-
    expansion: out()/outE() joins e.src == v.id) and one by dst
    (in-expansion and containment walks: the flagship's
    e.dst == v.id hops). Joins keyed on the bucket column then read
    co-located data and skip the shuffle entirely (SortMergeJoin with
    zero Exchange — asserted in tests). The dual adjacency costs 2x
    edge storage — the standard graph-store trade for shuffle-free
    traversal in either direction; at 100 TB the shuffle it removes
    is the corpus-sized one, each step's frontier being the only
    moving side. Hash-cluster once at write time, join shuffle-free
    forever after (SURVEY.md §4.4)."""
    spark = g.vertices.sparkSession
    for suffix in ("vertices", "edges", "edges_by_dst"):
        name = f"{table_prefix}_{suffix}"
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        # a table dir can survive a dropped/never-registered table
        # (fresh metastore, old warehouse); clear it so overwrite works
        wh = spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")
        import shutil

        shutil.rmtree(f"{wh}/{name}", ignore_errors=True)
    # The three table writes are independent sinks over the (cached)
    # graph, so they run CONCURRENTLY (guide §2.6 — overlap
    # independent jobs): each write's bucket shuffle+sort leaves long
    # single-sink tails that the other writes back-fill. The catalog
    # registrations are serialized by Spark's thread-safe in-memory
    # catalog; the written tables are byte-identical to the
    # sequential spelling.
    from ..session import run_concurrently

    def _write(df, col, suffix):
        w = df.write.mode("overwrite").bucketBy(buckets, col).sortBy(col)
        return lambda: w.saveAsTable(f"{table_prefix}_{suffix}")

    run_concurrently(
        _write(g.vertices, "id", "vertices"),
        _write(g.edges, "src", "edges"),
        _write(g.edges, "dst", "edges_by_dst"),
    )


def load_bucketed(
    spark: SparkSession, table_prefix: str, edges_by: str = "src"
) -> Graph:
    """Open the bucketed layout; ``edges_by`` picks which edge
    clustering the Graph's edge frame reads ("src" for out-expansion
    workloads, "dst" for in-expansion/containment walks) — same rows
    either way, only the write-time clustering differs."""
    suffix = "edges" if edges_by == "src" else "edges_by_dst"
    return Graph(
        spark.table(f"{table_prefix}_vertices"),
        spark.table(f"{table_prefix}_{suffix}"),
    )


def save_format(g: Graph, path: str, fmt: str = "json") -> None:
    """Interchange sinks beyond parquet: json / csv / orc (SURVEY.md
    §2C file-format row). The graph schema is deliberately flat
    (scalar columns only), so even csv round-trips losslessly with an
    explicit schema on read. Same layout discipline as `save`:
    vertices partitioned by label, edges repartitioned by src."""
    vw = g.vertices.write.mode("overwrite").format(fmt).partitionBy("label")
    ew = g.edges.repartition("src").write.mode("overwrite").format(fmt)
    if fmt == "csv":
        vw = vw.option("header", True)
        ew = ew.option("header", True)
    vw.save(f"{path}/vertices")
    ew.save(f"{path}/edges")


def load_format(spark: SparkSession, path: str, fmt: str = "json") -> Graph:
    """Read a `save_format` snapshot back with the canonical schemas
    (csv/json infer nothing — the explicit StructType is the contract)."""
    vr = spark.read.schema(VERTEX_SCHEMA).format(fmt)
    er = spark.read.schema(EDGE_SCHEMA).format(fmt)
    if fmt == "csv":
        vr = vr.option("header", True)
        er = er.option("header", True)
    v = vr.load(f"{path}/vertices")
    e = er.load(f"{path}/edges")
    return Graph(v.select(*VERTEX_SCHEMA.fieldNames()), e)


def load(spark: SparkSession, path: str) -> Graph:
    v = spark.read.schema(VERTEX_SCHEMA).parquet(f"{path}/vertices")
    e = spark.read.schema(EDGE_SCHEMA).parquet(f"{path}/edges")
    # partitionBy moves `label` to directory keys; restore column order
    return Graph(v.select(*VERTEX_SCHEMA.fieldNames()), e)
