"""Named graph queries over the fixture-derived property graph.

Each function takes (spark, sf_dir) and returns a DataFrame; each has
a DuckDB-oracle SQL twin in ``catalog.py`` expressed directly over the
base tables (FIXTURES.md §2 derivation), so results project natural
keys (email/name/projectid), never internal hashed ids.

These cover SURVEY.md §2A rows: scans (A1/A2), label/property filters
(A3-A5), existence (A6), expansion (A12-A16), semi-join (A14), bounded
and unbounded multi-hop (A17), projection (A18), subgraph (A20), and
counting (A23).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph.algorithms import reachable_from
from ..graph.build import build_graph
from ..graph.schema import natural_key_col, vertex_id
from ..graph.traversal import Graph
from ..sources.fixtures import _path_sig


# Per-process graph cache: the derived graph is deterministic per
# sf_dir, so build it once, persist, and let every query reuse it —
# the deployed-system shape (graph materialized once, queried many
# times), and what makes a 40-query correctness sweep O(1) builds.
_GRAPH_CACHE: dict[tuple[int, str], Graph] = {}


def graph_store_prefix(sf_dir: str) -> str:
    """Canonical bucketed-store table prefix for a fixture dir. The
    hash covers the dir path AND the fixture files' (name, mtime,
    size) so a REGENERATED fixture can never be served by a stale
    store — the store silently misses and the build path runs."""
    import hashlib

    sig = [sf_dir.rstrip("/")]
    try:
        sig += [f"{fn}:{mt}:{sz}" for fn, mt, sz in _path_sig(sf_dir)]
    except OSError:
        pass
    h = hashlib.md5("|".join(sig).encode()).hexdigest()[:10]
    return f"graph_store_{h}"


def materialize_graph_store(
    spark: SparkSession, sf_dir: str, buckets: int | None = None
) -> str:
    """Write the graph as the canonical DUAL-CLUSTERED bucketed store
    (export.save_bucketed) for ``sf_dir`` and invalidate the in-memory
    cache, so every subsequent ``_graph()`` — and with it EVERY
    traversal query — reads the layout whose expansion joins carry no
    stored-side Exchange (r7 measured the flagship at parity locally;
    the killed Exchange is the corpus-sized shuffle at 100 TB).
    Returns the table prefix."""
    from ..graph.export import save_bucketed

    if buckets is None:
        # Bucket count is a LAYOUT knob: at cluster scale size it so
        # each bucket holds ~128MB-1GB; locally match the build path's
        # edge partitioning (par // 2) — the r8 A/B showed 32 buckets
        # on a 32-thread box doubles per-stage task count and costs
        # iterative queries (20+ edge scans) ~60% (hits 4.6 -> 7.4s),
        # while 16 restores parity with a slight win (4.27s).
        buckets = max(8, spark.sparkContext.defaultParallelism // 2)
    prefix = graph_store_prefix(sf_dir)
    # reuse the session's already-built (cached) graph when present —
    # the write is then pure layout cost, not a second build
    cached = _GRAPH_CACHE.get((id(spark.sparkContext), sf_dir))
    if cached is not None:
        save_bucketed(cached, prefix, buckets=buckets)
    else:
        v, e = build_graph(spark, sf_dir)
        save_bucketed(Graph(v, e), prefix, buckets=buckets)
    _GRAPH_CACHE.pop((id(spark.sparkContext), sf_dir), None)
    return prefix


def _graph(spark: SparkSession, sf_dir: str) -> Graph:
    key = (id(spark.sparkContext), sf_dir)
    g = _GRAPH_CACHE.get(key)
    if g is None:
        # Prefer the bucketed store when one was materialized for
        # EXACTLY this fixture state (prefix hash covers file mtimes):
        # dst-clustered edges + id-clustered vertices make every
        # in-expansion join exchange-free on the stored side. The
        # frames are cached on top — InMemoryTableScan preserves the
        # child scan's outputPartitioning, so the cache keeps the
        # zero-Exchange property (pinned by the bucketed plan test).
        prefix = graph_store_prefix(sf_dir)
        try:
            has_store = spark.catalog.tableExists(
                f"{prefix}_vertices"
            ) and spark.catalog.tableExists(f"{prefix}_edges_by_dst")
        except Exception:
            has_store = False
        if has_store:
            from ..graph.export import load_bucketed

            g = load_bucketed(spark, prefix, edges_by="dst").cache()
            _GRAPH_CACHE[key] = g
            return g
        v, e = build_graph(spark, sf_dir)
        # Round-robin repartition before caching: the raw build is a
        # union of per-label/per-relation pieces with wildly different
        # sizes, so cached partitions are skewed (one holds all users)
        # and every downstream scan straggles. Evening them out cut
        # the flagship query ~30% (measured at sf0.1).
        par = spark.sparkContext.defaultParallelism
        g = Graph(
            v.repartition(max(8, par // 4)),
            e.repartition(max(16, par // 2)),
        ).cache()
        _GRAPH_CACHE[key] = g
    return g


def count_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A3+A23: vertex census, the README.md:372-381 check."""
    g = _graph(spark, sf_dir)
    return (
        g.V()
        .toDF()
        .groupBy("label")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


def edge_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2+A23: edge census."""
    g = _graph(spark, sf_dir)
    return g.E().toDF().select(F.lit(1)).agg(
        F.count("*").cast("bigint").alias("n_edges")
    )


def user_by_email(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3+A4: g.V().hasLabel('user').has('email', X) point lookup
    (main.go:206). X = lexicographic-min customer name (deterministic
    across SFs)."""
    g = _graph(spark, sf_dir)
    users = g.V().hasLabel("user").toDF()
    target = users.agg(F.min("email").alias("email"))
    return (
        users.join(target, ["email"], "left_semi")
        .select("label", "email", "is_external")
    )


def user_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 hasNext(): existence probe as a count (the batch-checkable
    form)."""
    g = _graph(spark, sf_dir)
    users = g.V().hasLabel("user").toDF()
    target = users.agg(F.min("email").alias("email"))
    return (
        users.join(target, ["email"], "left_semi")
        .agg((F.count("*") > 0).alias("found"))
    )


def out_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12+A13+A16+A18: out-neighbours of the min-email user with their
    natural keys — the README.md:335-349 interactive query."""
    g = _graph(spark, sf_dir)
    users = g.V().hasLabel("user").toDF()
    target = users.agg(F.min("email").alias("email"))
    start = g.V().hasLabel("user")
    start = start._with(start.toDF().join(target, ["email"], "left_semi"))
    return (
        start.out("in")
        .dedup()
        .toDF()
        .select("label", natural_key_col().alias("key"))
        .orderBy("label", "key")
    )


def next_role(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 next(): first-element semantics with a deterministic
    tiebreak — g.V().hasLabel('role').order_by(name desc).next()
    (the reference grabs a traverser's single element the same way,
    main.go:304). next() genuinely collects ONE row on the driver
    (Catalyst plans order+limit(1) as a TakeOrdered, no full sort);
    the row is re-wrapped as a one-row DataFrame for the driver
    contract."""
    g = _graph(spark, sf_dir)
    t = g.V().hasLabel("role").order_by(F.col("name").desc())
    # hasNext() guard: next() on an empty traversal throws by Gremlin
    # contract; the QUERY degrades to zero rows (oracle: HAVING)
    if t.hasNext():
        row = t.next()
        rows = [(row["label"], row["name"])]
    else:
        rows = []
    return spark.createDataFrame(rows, "label string, name string")


def role_by_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15 hasId: point lookup by COMPUTED vertex id (main.go:320
    passes ids it got from a prior traversal the same way). The id of
    the min-name role is derived with the engine's own deterministic
    id function (graph/schema.py vertex_id = xxhash64(label, key)),
    then the lookup runs through g.V().hasId(id); the output projects
    the natural key so the oracle checks the lookup found exactly the
    intended vertex without needing to reproduce xxhash64 in SQL."""
    g = _graph(spark, sf_dir)
    # 1-row scalar fetches for parameter binding only (min role name,
    # then its engine-side id) — first(), not collect(), per the
    # bounded-driver-fetch discipline.
    target = g.V().hasLabel("role").toDF().agg(F.min("name")).first()[0]
    vid = (
        spark.range(1)
        .select(vertex_id("role", F.lit(target)).alias("i"))
        .first()[0]
    )
    return g.V().hasId(vid).toDF().select("label", "name")


def members_of_min_role(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 semi-join: principals with an edge into role R — the
    where(inV().hasId(r)) pattern (main.go:320 et al.), batch form."""
    g = _graph(spark, sf_dir)
    roles = g.V().hasLabel("role").toDF()
    target = roles.agg(F.min("name").alias("name"))
    role_ids = roles.join(target, ["name"], "left_semi").select("id")
    members = (
        g.E()
        .where_inV_hasId(role_ids)
        .outV()
        .dedup()
        .toDF()
        .filter(F.col("label") == "user")
    )
    return members.select(F.col("email")).orderBy("email")


def two_hop_users_in_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 bounded: users transitively inside the min-name region via
    nested groups (user -in-> group -in-> group), the nested-group
    scenario of README.md:15-32."""
    g = _graph(spark, sf_dir)
    # Region groups are identified STRUCTURALLY: they are the
    # top-level containers — group vertices with no outgoing edge
    # (nation groups nest into a region; regions nest into nothing).
    # No naming heuristic, so any fixture with the same shape works.
    groups = g.vertices.filter(F.col("label") == "group")
    regions = groups.join(
        g.edges.select(F.col("src").alias("id")), ["id"], "left_anti"
    )
    target = regions.agg(F.min("email").alias("email"))
    region_ids = regions.join(target, ["email"], "left_semi").select("id")
    e = g.edges.select("src", "dst")
    hop1 = e.join(region_ids, e.dst == region_ids.id, "left_semi").select(
        F.col("src").alias("id")
    )
    hop2 = e.join(hop1, e.dst == hop1.id, "left_semi").select(
        F.col("src").alias("id")
    )
    users = g.vertices.filter(F.col("label") == "user")
    return (
        users.join(hop2, ["id"], "left_semi").select("email").orderBy("email")
    )


def principals_with_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE FLAGSHIP (SURVEY.md §7.2): which users have (indirect)
    access to project P, and via which role — user -in-> role -in->
    project, the README.md:15-32 audit scenario. P = min projectid."""
    return principals_with_access_g(_graph(spark, sf_dir))


def principals_with_access_g(g: Graph) -> DataFrame:
    """Graph-parameterized flagship body — callable against any
    storage layout (in-memory build, parquet snapshot, or the
    bucketed tables: pass Graph(vertices, edges_by_dst) and the two
    dst-expansion joins run shuffle-free on the stored side)."""
    projects = g.V().hasLabel("project").toDF()
    target = projects.agg(F.min("projectid").alias("projectid"))
    project_v = projects.join(target, ["projectid"], "left_semi").select(
        "id", "projectid"
    )
    e = g.edges.select("src", "dst")
    # role -in-> project
    role_edge = e.join(project_v, e.dst == project_v.id).select(
        F.col("src").alias("role_id"), "projectid"
    )
    roles = g.vertices.filter(F.col("label") == "role").select(
        F.col("id").alias("role_id"), F.col("name").alias("role")
    )
    # Roles bound to ONE project — bounded by the role universe, never
    # the edge set, so broadcast explicitly (guide §3.1): the planner's
    # post-join size estimate picks SortMergeJoin here, which shuffles
    # AND sorts the full O(E) edge relation against this tiny side
    # (measured in plans/r14/g_principals_with_access_before.txt:
    # Exchange+Sort over e at nodes 80-81).
    # Size invariant (r15, VERDICT r14 item 9): |role_on_p| <= |role
    # vertices|, and the role universe is the distinct p_brand set —
    # structurally 25 values in TPC-H-shaped data at EVERY scale
    # factor (Brand#MN, M,N in 1..5), i.e. the hint can never exceed
    # a few KiB regardless of corpus size. Pinned by
    # test_r15_rewrites.test_broadcast_hint_side_is_role_bounded.
    role_on_p = F.broadcast(role_edge.join(roles, ["role_id"]))
    # user -in-> role
    user_edge = e.join(
        role_on_p, e.dst == role_on_p.role_id
    ).select(F.col("src").alias("user_id"), "role", "projectid")
    users = g.vertices.filter(F.col("label") == "user").select(
        F.col("id").alias("user_id"), "email"
    )
    return (
        user_edge.join(users, ["user_id"])
        .select("email", "role", "projectid")
        .dropDuplicates()
        .orderBy("email", "role")
    )


def who_can_access_min_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B10 marquee GCS scenario (README.md:34-39): which users can
    access bucket B, and via which role — user -in-> role -in-> bucket,
    the bucket-ACL audit the reference crawls getGCS for
    (main.go:384-524). B = min composite bucket key."""
    g = _graph(spark, sf_dir)
    buckets = g.vertices.filter(F.col("label") == "bucket").select(
        "id", natural_key_col().alias("bucket")
    )
    target = buckets.agg(F.min("bucket").alias("bucket"))
    bucket_v = buckets.join(target, ["bucket"], "left_semi")
    e = g.edges.select("src", "dst")
    # role -in-> bucket (containment edges have buckets as src, so the
    # dst-side semi-join selects only the IAM bindings)
    role_edge = e.join(bucket_v, e.dst == bucket_v.id).select(
        F.col("src").alias("role_id"), "bucket"
    )
    roles = g.vertices.filter(F.col("label") == "role").select(
        F.col("id").alias("role_id"), F.col("name").alias("role")
    )
    # Roles bound to ONE bucket — same bounded-side broadcast as the
    # flagship (guide §3.1): avoids an O(E) shuffle+sort SortMergeJoin.
    # Same size invariant as the flagship: bounded by the 25-value
    # brand/role universe at every SF (r15 item 9; pinned by
    # test_broadcast_hint_side_is_role_bounded).
    role_on_b = F.broadcast(role_edge.join(roles, ["role_id"]))
    # user -in-> role (permission->role edges drop out at the user join)
    user_edge = e.join(role_on_b, e.dst == role_on_b.role_id).select(
        F.col("src").alias("user_id"), "role", "bucket"
    )
    users = g.vertices.filter(F.col("label") == "user").select(
        F.col("id").alias("user_id"), "email"
    )
    return (
        user_edge.join(users, ["user_id"])
        .select("email", "role", "bucket")
        .dropDuplicates()
        .orderBy("email", "role")
    )


def reachable_from_min_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 unbounded: full reachable set of the min-email user —
    fixpoint BFS (graph/algorithms.py); oracle is a recursive CTE."""
    g = _graph(spark, sf_dir)
    users = g.V().hasLabel("user").toDF()
    target = users.agg(F.min("email").alias("email"))
    src = users.join(target, ["email"], "left_semi").select("id")
    reached = reachable_from(g, src, edge_label="in")
    return (
        g.vertices.join(reached, ["id"], "left_semi")
        .select("label", natural_key_col().alias("key"))
        .orderBy("label", "key")
    )


def reachable_until_min_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 unbounded, spelled through the FLUENT surface
    (Traversal.repeat_out_until — r9 VERDICT item 5): the same truth
    as g_reachable_from_user against the SAME recursive-CTE oracle,
    the g_motif_flagship two-surfaces-one-oracle pattern. The
    until=None (empty-frontier) form compiles to
    algorithms.reachable_from itself, and every BFS surface runs the
    one round of algorithms._bfs_levels (a semi-join expansion and
    one checkpoint, no other action), so the fixpoint plan cannot
    diverge between the surfaces by construction; what this entry
    pins is the builder wiring around it — start-set derivation,
    vertex property re-attach, natural-key projection (mirrors the
    reference's console ergonomics, README.md:331-349)."""
    from ..graph.traversal import Traversal

    g = _graph(spark, sf_dir)
    users = g.V().hasLabel("user").toDF()
    target = users.agg(F.min("email").alias("email"))
    start = users.join(target, ["email"], "left_semi")
    reached = Traversal(g, start, "V").repeat_out_until("in")
    return (
        reached.toDF()
        .select("label", natural_key_col().alias("key"))
        .orderBy("label", "key")
    )


def _user_role_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (email, role) membership relation off the graph —
    the shared input of the r10 role-mining pair (g_role_redundancy,
    g_entitlement_cohorts)."""
    g = _graph(spark, sf_dir)
    v = g.vertices
    users = v.filter(F.col("label") == "user").select(
        F.col("id").alias("uid"), "email"
    )
    roles = v.filter(F.col("label") == "role").select(
        F.col("id").alias("rid"), F.col("name").alias("role")
    )
    e = g.edges.filter(F.col("label") == "in")
    return (
        e.join(users, e.src == F.col("uid"))
        .join(roles, e.dst == F.col("rid"))
        .select("email", "role")
        .dropDuplicates()
    )


def role_redundancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLE MINING over the IAM graph (r10): pairwise Jaccard of
    role MEMBER SETS — "which roles grant to nearly the same
    principals", the consolidation question a real IAM audit asks
    right after the reference's "who is in role R" (main.go:320).
    Scale shape: the pair space is over ROLES (the small dimension —
    bounded by #roles^2 = 300 output rows at any corpus size), and
    the co-membership join is O(sum_user deg(user)^2) with deg
    bounded by #roles — LINEAR in users, never user-pair-quadratic
    (the fixture's 77%-density membership makes user-pair mining a
    complete graph; roles are the side that stays enumerable at
    100 TB). Pairs canonicalize on role NAME (portable — vertex ids
    are engine-internal). Exact integers until the one jaccard
    division."""
    # r14 (guide §3.3/§5): ur feeds THREE subtrees (both sides of the
    # co-membership self-join and the size table) and Catalyst does
    # not reuse a subtree across aliases — the stitched plan carried
    # 270 Exchanges (plans/r14/g_role_redundancy_before.txt) and
    # planning itself dominated. One eager localCheckpoint truncates
    # the lineage; ur is the distinct (email, role) relation, bounded
    # by users x roles.
    ur = _user_role_names(spark, sf_dir).localCheckpoint()
    sizes = ur.groupBy("role").agg(F.count("*").alias("__n"))
    a = ur.alias("a")
    b = ur.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.email") == F.col("b.email"))
            & (F.col("a.role") < F.col("b.role")),
        )
        .groupBy(
            F.col("a.role").alias("role_a"),
            F.col("b.role").alias("role_b"),
        )
        .agg(F.count("*").alias("__inter"))
    )
    sa = sizes.select(
        F.col("role").alias("role_a"), F.col("__n").alias("__na")
    )
    sb = sizes.select(
        F.col("role").alias("role_b"), F.col("__n").alias("__nb")
    )
    return (
        inter.join(F.broadcast(sa), ["role_a"])
        .join(F.broadcast(sb), ["role_b"])
        .select(
            "role_a",
            "role_b",
            F.col("__inter").cast("bigint").alias("shared_members"),
            (F.col("__na") + F.col("__nb") - F.col("__inter"))
            .cast("bigint")
            .alias("union_members"),
            F.round(
                F.col("__inter")
                / (F.col("__na") + F.col("__nb") - F.col("__inter")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("role_a", "role_b")
    )


def entitlement_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The user side of role mining, in the shape that stays bounded
    on a dense membership graph: users with BYTE-IDENTICAL role sets
    (md5 of the sorted role-name list — portable, engine-id-free)
    grouped into entitlement cohorts. A cohort of k users is k-1
    candidates for a shared group/role consolidation — the answer
    "which accounts are interchangeable", O(n) hash-agg work where
    pairwise user similarity would be a complete graph here. Only
    cohorts with >= 2 users are emitted (singletons are everyone
    else); representative = min email, deterministic."""
    ur = _user_role_names(spark, sf_dir)
    sets = ur.groupBy("email").agg(
        F.md5(
            F.concat_ws(",", F.array_sort(F.collect_list("role")))
        ).alias("cohort_sig"),
        F.count("*").alias("__nr"),
    )
    return (
        sets.groupBy("cohort_sig")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.min("__nr").cast("bigint").alias("n_roles"),
            F.min("email").alias("representative"),
        )
        .filter(F.col("n_users") >= 2)
        .orderBy(F.col("n_users").desc(), "cohort_sig")
    )


def access_redundancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Access-REDUNDANCY audit for the flagship project (r10): how
    many distinct grant paths back each user's access — the
    resilience counterpart of g_access_paths' 'via what path' (a
    user at n_paths=1 loses access if any single edge on it is
    revoked; the fixture's floor is 2/5 at sf0.001/0.01, itself an
    audit finding). Computed WITHOUT enumerating paths: per-length
    counts via the DAG power iteration paths_k = A * paths_(k-1)
    from the target backwards — 6 join+agg rounds over vertex-keyed
    COUNTS (O(E) each), where the enumeration the recursive-CTE
    oracle does is O(total paths) (12M rows at sf0.01 — DuckDB pays
    it once at oracle scale; the engine never does). Exact BIGINTs;
    depth cap 6 matches g_access_paths' walk bound. Output: the
    bounded histogram (n_paths, n_users)."""
    from ..graph.algorithms import _truncate

    g = _graph(spark, sf_dir)
    v = g.vertices
    tgt_name = v.filter(F.col("label") == "project").agg(
        F.min("projectid").alias("projectid")
    )
    target = (
        v.filter(F.col("label") == "project")
        .join(tgt_name, ["projectid"], "left_semi")
        .select("id")
    )
    edges = g.edges.filter(F.col("label") == "in").select("src", "dst")
    cur = target.select("id", F.lit(1).cast("bigint").alias("c"))
    total = None
    for _ in range(6):
        cur = _truncate(
            edges.join(cur, edges.dst == cur.id)
            .groupBy(F.col("src").alias("nid"))
            .agg(F.sum("c").alias("c"))
            .select(F.col("nid").alias("id"), "c")
        )
        if not cur.take(1):
            break
        total = cur if total is None else total.unionByName(cur)
    if total is None:
        return spark.createDataFrame(
            [], "n_paths bigint, n_users bigint"
        )
    per_user = (
        total.groupBy("id")
        .agg(F.sum("c").alias("n_paths"))
        .join(
            v.filter(F.col("label") == "user").select("id"),
            ["id"],
            "left_semi",
        )
    )
    return (
        per_user.groupBy("n_paths")
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .select(F.col("n_paths").cast("bigint").alias("n_paths"), "n_users")
        .orderBy("n_paths")
    )


def users_with_roles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 where(out(...)) form: users having at least one direct role
    grant — existence as a left_semi chain (Traversal.where_out)."""
    g = _graph(spark, sf_dir)
    users = g.V().hasLabel("user")
    roles = g.V().hasLabel("role")
    with_roles = users.where_out("in", roles)
    return with_roles.toDF().agg(
        F.count("*").cast("bigint").alias("n_users_with_roles")
    )


def permissions_of_min_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `--includePermissions` audit (main.go:657-688 + README's
    role-expansion flow): every permission the min user transitively
    holds — user's reachable roles joined to the permission→role
    membership edges. Two hops of traversal plus one semi-join; the
    permission set is the reference's marquee "what can this principal
    actually DO" answer."""
    from ..graph.algorithms import reachable_from

    g = _graph(spark, sf_dir)
    users = g.vertices.filter(F.col("label") == "user")
    target = users.agg(F.min("email").alias("email"))
    src = users.join(target, ["email"], "left_semi").select("id")
    reached = reachable_from(g, src)
    role_ids = reached.join(
        g.vertices.filter(F.col("label") == "role").select("id"), ["id"],
        "left_semi",
    )
    perms = (
        g.edges.join(role_ids, g.edges.dst == role_ids.id, "left_semi")
        .select("src")
        .join(
            g.vertices.filter(F.col("label") == "permission"),
            F.col("src") == F.col("id"),
            "inner",
        )
        .select(F.col("name").alias("permission"))
        .dropDuplicates()
    )
    return perms.orderBy("permission")


def who_can_reach_min_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE audit query (SURVEY.md §7.5): every vertex that can
    transitively reach project P — 'who/what can touch P' — via
    reverse BFS (algorithms.reaching_to). Oracle: recursive CTE over
    reversed edges."""
    from ..graph.algorithms import reaching_to

    g = _graph(spark, sf_dir)
    projects = g.vertices.filter(F.col("label") == "project")
    target = projects.agg(F.min("projectid").alias("projectid"))
    tgt_ids = projects.join(target, ["projectid"], "left_semi").select("id")
    who = reaching_to(g, tgt_ids, edge_label="in")
    return (
        g.vertices.join(who, ["id"], "left_semi")
        .select("label", natural_key_col().alias("key"))
        .orderBy("label", "key")
    )


def distances_from_min_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-path (hop-count) distances from the min-email user to
    everything it can reach — weight=1 edges make BFS depth the
    distance. Oracle: recursive CTE taking min path length (the
    derived graph is a DAG, so UNION ALL recursion terminates)."""
    from ..graph.algorithms import shortest_paths

    g = _graph(spark, sf_dir)
    users = g.V().hasLabel("user").toDF()
    target = users.agg(F.min("email").alias("email"))
    src = users.join(target, ["email"], "left_semi").select("id")
    d = shortest_paths(g, src, edge_label="in")
    return (
        g.vertices.join(d, ["id"])
        .select(
            "label",
            natural_key_col().alias("key"),
            F.col("distance").cast("bigint").alias("distance"),
        )
        .filter(F.col("distance") > 0)
        .orderBy("label", "key")
    )


def edge_label_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph schema census + referential integrity in one pass: edge
    counts per (src_label, dst_label) pair — the de-facto schema of a
    property graph — with dangling endpoints (an edge referencing a
    missing vertex id) surfacing as the sentinel label '!missing'
    instead of silently dropping. The graph sibling of
    ns_table_audit's FK checks: left joins against the vertex ids so
    integrity violations COUNT rather than vanish in an inner join."""
    g = _graph(spark, sf_dir)
    v = g.vertices.select("id", "label")
    e = g.edges.filter(F.col("label") == "in").select("src", "dst")
    return (
        e.join(
            v.select(F.col("id").alias("src"), F.col("label").alias("sl")),
            ["src"],
            "left",
        )
        .join(
            v.select(F.col("id").alias("dst"), F.col("label").alias("dl")),
            ["dst"],
            "left",
        )
        .groupBy(
            F.coalesce("sl", F.lit("!missing")).alias("src_label"),
            F.coalesce("dl", F.lit("!missing")).alias("dst_label"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
        .orderBy("src_label", "dst_label")
    )


def harmonic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled harmonic centrality — closeness's robust sibling
    (sum of 1/d instead of n/sum(d), defined even when the graph is
    disconnected, which is why large-graph centrality literature
    prefers it): per-seed BFS from the 5 smallest-email users over
    the same multi_source_distances kernel as g_closeness_sample.
    The 1/d sum is a float fold over per-seed rows — round-6
    absorbs cross-engine association drift, the PageRank policy."""
    from ..graph.algorithms import multi_source_distances

    g = _graph(spark, sf_dir)
    users = g.V().hasLabel("user").toDF()
    seeds = users.orderBy("email").limit(5)
    d = multi_source_distances(
        g, seeds.select(F.col("id").alias("seed")), edge_label="in"
    )
    per_seed = (
        d.filter(F.col("distance") > 0)
        .groupBy("seed")
        .agg(
            F.round(F.sum(F.lit(1.0) / F.col("distance")), 6).alias(
                "harmonic"
            )
        )
    )
    return (
        seeds.select(F.col("id").alias("seed"), "email")
        .join(per_seed, ["seed"], "left")
        .select(
            F.col("email").alias("seed_email"),
            F.coalesce("harmonic", F.lit(0.0)).alias("harmonic"),
        )
        .orderBy("seed_email")
    )


def graph_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row graph health summary — the metrics a graph pipeline
    alerts on between loads (vertex/edge counts, density, degree
    extremes, sink census): n, m, avg out-degree, max out-degree,
    and how many vertices have no outgoing edge. Two hash-aggs (the
    degree table and its rollup) plus the vertex count; nothing
    wider than (id, count) ever shuffles."""
    return summarize_graph(_graph(spark, sf_dir))


def summarize_graph(g) -> DataFrame:
    """The graph_summary aggregation over any Graph (unit-testable on
    degenerate graphs, not just the fixture build)."""
    n = g.vertices.count()
    deg = (
        g.edges.filter(F.col("label") == "in")
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # Degenerate cases are explicit, engine-consistently: an EDGE-FREE
    # graph reports n_edges/max_out_degree 0 (not NULL — sum/max over
    # zero rows) and the oracle emits the same single row (scalar
    # aggregates, not a GROUP BY that vanishes on empty input); a
    # vertex-free graph reports NULL avg_out_degree on both engines
    # (0/0 via nullif), never a division-behavior divergence.
    return deg.agg(
        F.lit(n).cast("bigint").alias("n_vertices"),
        F.coalesce(F.sum("d"), F.lit(0)).cast("bigint").alias("n_edges"),
        F.round(
            F.coalesce(F.sum("d"), F.lit(0))
            / F.nullif(F.lit(float(n)), F.lit(0.0)),
            6,
        ).alias("avg_out_degree"),
        F.coalesce(F.max("d"), F.lit(0))
        .cast("bigint")
        .alias("max_out_degree"),
        (F.lit(n) - F.count(F.lit(1))).cast("bigint").alias("n_sinks"),
    )


def risk_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blast-radius report — the audit deliverable the reference's
    whole crawl exists to enable (README.md:15-39): per user, how
    many roles they hold directly and how many projects and buckets
    those roles expose; top 20 by total exposure. Exposure counts
    come from ROLE-GRAIN fan-out tables (distinct projects/buckets
    per role — a tiny broadcast relation) summed over each user's
    role set, so the whole report is one linear pass over the
    user->role edges. Two rejected shapes, both measured on the 4x
    scale ladder: chaining the joins before aggregating builds a
    projects x buckets cross product per (user, role) (wedged the
    fused triple countDistinct for minutes), and even decomposed
    per-path distinct-pair counting materializes |users x reachable
    projects| (~10^8 pairs at sf0.1's dense role fan-out). The
    role-grain sum is exact here because the fixture derivation
    gives each project/bucket exactly one owning role (p_name ->
    one p_brand); under many-to-many bindings the sums become
    upper bounds and the exact form is the distinct-pair shuffle —
    or HLL sketches merged per user (DESIGN.md #16)."""
    g = _graph(spark, sf_dir)
    v, e = g.vertices, g.edges.filter(F.col("label") == "in")
    users = v.filter(F.col("label") == "user").select(
        F.col("id").alias("uid"), "email"
    )
    roles = v.filter(F.col("label") == "role").select(
        F.col("id").alias("rid"), F.col("name").alias("role")
    )
    projects = v.filter(F.col("label") == "project").select(
        F.col("id").alias("pid"), F.col("projectid").alias("project")
    )
    buckets = v.filter(F.col("label") == "bucket").select(
        F.col("id").alias("bid"),
        F.concat_ws("/", "name", "projectid").alias("bucket"),
    )
    ur = (
        e.join(users, e.src == users.uid)
        .join(roles, e.dst == F.col("rid"))
        .select("email", "role", "rid")
    )
    rp = (
        e.join(roles, e.src == F.col("rid"))
        .join(projects, e.dst == F.col("pid"))
        .select(F.col("rid").alias("rp_rid"), "project")
    )
    rb = (
        e.join(roles, e.src == F.col("rid"))
        .join(buckets, e.dst == F.col("bid"))
        .select(F.col("rid").alias("rb_rid"), "bucket")
    )
    rpc = rp.groupBy("rp_rid").agg(
        F.countDistinct("project").alias("pc")
    )
    rbc = rb.groupBy("rb_rid").agg(
        F.countDistinct("bucket").alias("bc")
    )
    agg = (
        ur.join(F.broadcast(rpc), ur.rid == rpc.rp_rid, "left")
        .join(F.broadcast(rbc), ur.rid == rbc.rb_rid, "left")
        .groupBy("email")
        .agg(
            F.countDistinct("role").cast("bigint").alias("n_roles"),
            F.sum(F.coalesce("pc", F.lit(0)))
            .cast("bigint")
            .alias("n_projects"),
            F.sum(F.coalesce("bc", F.lit(0)))
            .cast("bigint")
            .alias("n_buckets"),
        )
    )
    return (
        agg.withColumn(
            "risk_score",
            (F.col("n_roles") + F.col("n_projects") + F.col("n_buckets"))
            .cast("bigint"),
        )
        .orderBy(F.col("risk_score").desc(), "email")
        .limit(20)
    )


def hits_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (graph/algorithms.hits), top-20
    authorities: the containers (roles/projects/buckets) where grant
    mass concentrates, with each vertex's hub score alongside — the
    complementary audit lens to g_pagerank_top. Oracle: the SAME
    5-iteration mutual recursion unrolled as DuckDB CTEs, L1
    normalization each half-round, round-6 before the top-k cut with
    (label, key) tiebreaks."""
    from ..graph.algorithms import hits

    g = _graph(spark, sf_dir)
    s = hits(g, iterations=5)
    return (
        g.vertices.join(s, ["id"])
        .select(
            "label",
            natural_key_col().alias("key"),
            F.round("hub", 6).alias("hub"),
            F.round("auth", 6).alias("auth"),
        )
        .orderBy(F.col("auth").desc(), "label", "key")
        .limit(20)
    )


def closeness_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled (landmark) closeness centrality: per-seed BFS from the
    5 smallest-email users, closeness = n_reached / sum(dist) over the
    seed's access cone. The sampled form is the 100 TB form — k seeds
    bound the frontier at k× single-source, and whole-graph closeness
    is estimated from landmarks, never computed per-vertex
    (graph/algorithms.multi_source_distances)."""
    from ..graph.algorithms import multi_source_distances

    g = _graph(spark, sf_dir)
    users = g.V().hasLabel("user").toDF()
    seeds = users.orderBy("email").limit(5)
    d = multi_source_distances(
        g, seeds.select(F.col("id").alias("seed")), edge_label="in"
    )
    reached = d.filter(F.col("distance") > 0)
    per_seed = reached.groupBy("seed").agg(
        F.count("*").cast("bigint").alias("n_reached"),
        F.sum("distance").cast("bigint").alias("sum_dist"),
    )
    return (
        seeds.select(F.col("id").alias("seed"), F.col("email"))
        .join(per_seed, ["seed"], "left")
        .select(
            F.col("email").alias("seed_email"),
            F.coalesce("n_reached", F.lit(0)).cast("bigint").alias("n_reached"),
            F.coalesce("sum_dist", F.lit(0)).cast("bigint").alias("sum_dist"),
            F.round(
                F.coalesce("n_reached", F.lit(0))
                / F.greatest(F.coalesce("sum_dist", F.lit(0)), F.lit(1)),
                6,
            ).alias("closeness"),
        )
        .orderBy("seed_email")
    )


def access_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full README.md:15-32 audit: not just CAN the min user reach
    the min project, but every complete chain (user/role/project,
    user/role/bucket/project, ...) — Gremlin's path() over an
    unbounded traversal, rendered as '/'-joined natural keys."""
    from ..graph.algorithms import all_paths

    g = _graph(spark, sf_dir)
    users = g.V().hasLabel("user").toDF()
    src = users.join(
        users.agg(F.min("email").alias("email")), ["email"], "left_semi"
    ).select("id")
    projects = g.vertices.filter(F.col("label") == "project")
    tgt = projects.join(
        projects.agg(F.min("projectid").alias("projectid")),
        ["projectid"],
        "left_semi",
    ).select("id")
    p = all_paths(g, src, tgt, edge_label="in", max_depth=6)
    return (
        p.select(F.concat_ws("/", "path").alias("path"))
        .orderBy("path")
    )


def subgraph_role_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20: edge-induced subgraph of role->project edges
    (subgraph('sg').cap('sg'), README.md:372-381), summarized as a
    label census (A23-style)."""
    g = _graph(spark, sf_dir)
    role_ids = g.vertices.filter(F.col("label") == "role").select("id")
    proj_ids = g.vertices.filter(F.col("label") == "project").select("id")
    e = g.edges
    cond_src = e.join(role_ids, e.src == role_ids.id, "left_semi")
    sub_e = cond_src.join(proj_ids, cond_src.dst == proj_ids.id, "left_semi")
    sg = Graph(g.vertices, sub_e)
    endpoints = (
        sub_e.select(F.col("src").alias("id"))
        .unionByName(sub_e.select(F.col("dst").alias("id")))
        .dropDuplicates()
    )
    sub_v = sg.vertices.join(endpoints, ["id"], "left_semi")
    return (
        sub_v.groupBy("label")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy("label")
    )


def export_roundtrip_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A21/A22 catalog receipt (round-7; previously test-only rows):
    write the role->project containment subgraph to BOTH interchange
    formats the reference documents — GraphML (README.md:383-388, the
    Cytoscape/Gephi export; driver-memory by design, matching the
    reference's own TinkerGraph-in-driver export) and GraphSON
    (distributed JSON, one tagged record per element) — read each
    back, and census the round-tripped graphs against the in-memory
    subgraph. Output: one row per vertex label with the direct count
    and per-format vertex/edge equality flags, all computed on the
    Spark side; the oracle recomputes the label census from the base
    tables and pins every flag TRUE — a lossy export, a parse
    regression, or a dropped edge flips a boolean and fails the hash
    match."""
    import os
    import tempfile

    from ..graph import export as ex

    g = _graph(spark, sf_dir)
    role_ids = g.vertices.filter(F.col("label") == "role").select("id")
    proj_ids = g.vertices.filter(F.col("label") == "project").select("id")
    e = g.edges
    cond_src = e.join(role_ids, e.src == role_ids.id, "left_semi")
    sub_e = cond_src.join(proj_ids, cond_src.dst == proj_ids.id, "left_semi")
    endpoints = (
        sub_e.select(F.col("src").alias("id"))
        .unionByName(sub_e.select(F.col("dst").alias("id")))
        .dropDuplicates()
    )
    sub_v = g.vertices.join(endpoints, ["id"], "left_semi")
    sg = Graph(sub_v, sub_e)

    base = tempfile.mkdtemp(prefix="spark_graft_export_census_")
    gml = os.path.join(base, "subgraph.graphml")
    gsn = os.path.join(base, "graphson")
    ex.write_graphml(sg, gml)
    ex.write_graphson(sg, gsn)
    g_ml = ex.read_graphml(spark, gml)
    g_sn = ex.read_graphson(spark, gsn)

    def vcensus(gr: Graph, out: str) -> DataFrame:
        return gr.vertices.groupBy("label").agg(
            F.count("*").cast("bigint").alias(out)
        )

    def ecount(gr: Graph, out: str) -> DataFrame:
        return gr.edges.agg(F.count("*").alias(out))

    direct = vcensus(sg, "n")
    out = (
        direct.join(vcensus(g_ml, "__ml"), ["label"], "left")
        .join(vcensus(g_sn, "__sn"), ["label"], "left")
        .crossJoin(F.broadcast(ecount(sg, "__e")))
        .crossJoin(F.broadcast(ecount(g_ml, "__eml")))
        .crossJoin(F.broadcast(ecount(g_sn, "__esn")))
        .select(
            "label",
            "n",
            (F.col("__ml") == F.col("n")).alias("graphml_match"),
            (F.col("__sn") == F.col("n")).alias("graphson_match"),
            (F.col("__eml") == F.col("__e")).alias("graphml_edges_match"),
            (F.col("__esn") == F.col("__e")).alias("graphson_edges_match"),
        )
        .orderBy("label")
    )
    # Materialize the tiny census BEFORE deleting the export dir (the
    # GraphSON branch scans it lazily at collect time), then clean up
    # — repeated driver runs must not accumulate /tmp exports.
    out = out.localCheckpoint(eager=True)
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    return out


def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002): the Pearson correlation of
    endpoint degrees over the undirected edge relation — do hubs link
    to hubs (assortative, r > 0) or to leaves (disassortative,
    r < 0)? IAM graphs skew disassortative (hub roles fan out to many
    leaf users), and a drift toward 0 flags density creep.

    Exact-integer discipline (DESIGN.md #8): each symmetric edge end
    contributes integer (deg(a), deg(b)); n, sum x, sum x*y, sum x^2
    accumulate as DECIMAL(38,0) (n*Sxy overflows BIGINT at ~1e6
    edges x 1e8 per-edge product — the decimal38-headroom rule), and
    by symmetry Sy == Sx, Syy == Sxx, so
    r = (n*Sxy - Sx^2) / (n*Sxx - Sx^2) — both sides exact integers
    converted once to double for the ONE shared division, round(6),
    nullif on a degree-regular denominator. Plan: two hash-aggs
    (degree, moment sums) + one join of the edge ends against the
    degree table — no window, no collect."""
    g = _graph(spark, sf_dir)
    e = g.edges.select("src", "dst").filter(
        F.col("src") != F.col("dst")
    )
    und = (
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .dropDuplicates()
    )
    deg = und.groupBy(F.col("src").alias("__v")).agg(
        F.count("*").cast("long").alias("__d")
    )
    pairs = (
        und.join(deg, und.src == F.col("__v"))
        .select("src", "dst", F.col("__d").alias("__x"))
        .join(
            deg.select(
                F.col("__v").alias("__v2"), F.col("__d").alias("__y")
            ),
            F.col("dst") == F.col("__v2"),
        )
        .select("__x", "__y")
    )
    d38 = "decimal(38,0)"
    s = pairs.agg(
        F.count("*").cast(d38).alias("__n"),
        F.sum(F.col("__x").cast(d38)).alias("__sx"),
        F.sum((F.col("__x") * F.col("__y")).cast(d38)).alias("__sxy"),
        F.sum((F.col("__x") * F.col("__x")).cast(d38)).alias("__sxx"),
    )
    num = F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sx")
    den = F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    return s.select(
        F.col("__n").cast("bigint").alias("n_edge_ends"),
        F.round(
            num.cast("double")
            / F.nullif(den.cast("double"), F.lit(0.0)),
            6,
        ).alias("assortativity"),
    )


def label_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical (label-mixing) assortativity (Newman 2003, eq. 2):
    over the symmetrized deduped edge relation with endpoint vertex
    labels, r = (m*T - sum_i a_i^2) / (m^2 - sum_i a_i^2) where m is
    the ordered-pair count, T the same-label pair count, and a_i the
    label-i row sum (by symmetry row sums equal column sums, the same
    Sy==Sx shortcut degree_assortativity uses). Answers "do entities
    bind within their own type?" — an IAM graph is strongly
    DISASSORTATIVE by construction (users bind to groups/roles, not
    to users), and r drifting upward flags modeling errors like
    group-to-group membership explosions.

    Exact-integer discipline: m, T, a_i are counts; num and den are
    DECIMAL(38,0) products (m^2 at 1e12 edges ~ 1e24, far inside
    headroom); ONE double division, round(6), nullif on the
    single-label denominator. Plan: two label-resolve equi-joins, a
    handful of map-combinable hash-aggs, one-row crossJoins — no
    window, no collect."""
    g = _graph(spark, sf_dir)
    e = g.edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    und = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).dropDuplicates()
    vl = g.vertices.select("id", "label")
    p = (
        und.join(vl, und.src == vl.id)
        .select(F.col("label").alias("al"), "dst")
        .join(
            vl.select(F.col("id").alias("id2"), F.col("label").alias("bl")),
            F.col("dst") == F.col("id2"),
        )
        .select("al", "bl")
    )
    d38 = "decimal(38,0)"
    tot = p.agg(
        F.count("*").cast(d38).alias("__m"),
        # coalesce: empty-graph sum is NULL on both engines, but the
        # same-label COUNT is semantically 0 (the --empty gate class)
        F.coalesce(
            F.sum(
                F.when(F.col("al") == F.col("bl"), 1).otherwise(0)
            ),
            F.lit(0),
        )
        .cast(d38)
        .alias("__t"),
        F.countDistinct("al").cast("bigint").alias("__nl"),
    )
    sab = (
        p.groupBy("al")
        .agg(F.count("*").cast(d38).alias("__a"))
        .agg(F.sum(F.col("__a") * F.col("__a")).alias("__sab"))
    )
    num = F.col("__m") * F.col("__t") - F.col("__sab")
    den = F.col("__m") * F.col("__m") - F.col("__sab")
    return tot.crossJoin(sab).select(
        F.col("__m").cast("bigint").alias("n_edge_ends"),
        F.col("__nl").alias("n_labels"),
        F.col("__t").cast("bigint").alias("same_label_pairs"),
        F.round(
            num.cast("double")
            / F.nullif(den.cast("double"), F.lit(0.0)),
            6,
        ).alias("assortativity"),
    )


def cycle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership-loop audit (graph/algorithms.cycle_core): Kahn-peel
    the 'in' edge relation; a non-empty residue means some principal
    chain is transitively a member of itself — the condition under
    which the reference's recursive getGroupMembers crawl
    (main.go:257-303) would never terminate. The built IAM graph is a
    DAG by construction, so the oracle pins (0, TRUE); the Spark side
    EARNS that answer by running the peel to fixpoint (cyclic literal
    graphs are pinned by tests/test_edge_cases.test_cycle_core)."""
    from ..graph.algorithms import cycle_core

    g = _graph(spark, sf_dir)
    core = cycle_core(g)
    return core.agg(
        F.count("*").cast("bigint").alias("n_core_vertices"),
        (F.count("*") == 0).alias("is_dag"),
    )


def scc_event_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT strongly connected components
    (graph/algorithms.strongly_connected_components — forward min-
    coloring + backward confirmation) over the event-type TRANSITION
    digraph: nodes = event types, edges = observed consecutive
    transitions per user (the ns_events_transitions relation). Unlike
    the built IAM graph (a DAG by construction, where every SCC is a
    singleton and the query would prove nothing), user journeys
    genuinely cycle (view -> click -> view), so the mutual-reach
    structure is non-trivial and the recursive-CTE closure oracle
    checks real component merges. Output: (event_type, scc) with scc
    = the lexicographic-min type of the component — exact cycle
    membership, the sharp version of the cycle_core audit."""
    from pyspark.sql.window import Window

    from ..graph.algorithms import strongly_connected_components
    from ..sources.fixtures import load_table

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("__next")
    )
    edges = (
        seq.filter(F.col("__next").isNotNull())
        .select(
            F.col("event_type").alias("src"),
            F.col("__next").alias("dst"),
        )
        .dropDuplicates()
    )
    verts = ev.select(F.col("event_type").alias("id")).dropDuplicates()
    return strongly_connected_components(verts, edges).select(
        F.col("id").alias("event_type"), "scc"
    )


def dag_depth_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-path layering (graph/algorithms.dag_levels) of the IAM
    containment DAG, reported as a (level, n_vertices) histogram —
    'how deep do grant chains nest': the work bound of the
    reference's recursive getGroupMembers crawl and the audit's
    critical path. Acyclicity is this catalog's own pinned fact
    (g_cycle_census); the oracle re-derives levels as max path depth
    from the sources via a deduplicated recursive walk."""
    from ..graph.algorithms import dag_levels

    g = _graph(spark, sf_dir)
    lv = dag_levels(g)
    return (
        lv.groupBy("level")
        .agg(F.count("*").cast("bigint").alias("n_vertices"))
        .select(F.col("level").cast("bigint").alias("level"), "n_vertices")
    )


def membership_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path projection (the 'via what path' half of the README.md:15-32
    audit): full 2-hop membership paths user -> group -> group rendered
    as 'user/nation/region' strings for the min-email user's nation
    peers. Fixed-depth paths = chained joins with an accumulated path
    column."""
    g = _graph(spark, sf_dir)
    users = g.vertices.filter(F.col("label") == "user").select(
        F.col("id").alias("uid"), F.col("email").alias("u")
    )
    groups = g.vertices.filter(F.col("label") == "group").select(
        F.col("id").alias("gid"), F.col("email").alias("gkey")
    )
    e = g.edges.select("src", "dst")
    hop1 = (
        users.join(e, users.uid == e.src)
        .join(groups, F.col("dst") == groups.gid)
        .select("u", F.col("gkey").alias("g1"), F.col("gid").alias("g1id"))
    )
    g2 = groups.select(
        F.col("gid").alias("g2id"), F.col("gkey").alias("g2")
    )
    hop2 = (
        hop1.join(e, hop1.g1id == e.src)
        .join(g2, F.col("dst") == F.col("g2id"))
        .select("u", "g1", "g2")
    )
    return (
        hop2.select(
            F.concat_ws("/", "u", "g1", "g2").alias("path")
        )
        .dropDuplicates()
        .orderBy("path")
    )


def membership_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (GraphX-analytics surface) of the
    membership subgraph (principals + groups only — role/project
    edges excluded so components are the region-trees). Component is
    identified by its min natural key; output (component_key,
    n_members). Oracle: recursive-CTE transitive closure + min."""
    from ..graph.algorithms import connected_components

    g = _graph(spark, sf_dir)
    mem_v = g.vertices.filter(
        F.col("label").isin("user", "serviceAccount", "group")
    )
    grp = g.vertices.filter(F.col("label") == "group").select("id")
    e = g.edges
    mem_e = e.join(grp, e.dst == grp.id, "left_semi")
    comp = connected_components(Graph(mem_v, mem_e))
    keyed = comp.join(mem_v, ["id"]).select(
        "component", natural_key_col().alias("key")
    )
    return (
        keyed.groupBy("component")
        .agg(
            F.min("key").alias("component_key"),
            F.count("*").cast("bigint").alias("n_members"),
        )
        .select("component_key", "n_members")
    )


def label_propagation_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Community detection via synchronous label propagation
    (algorithms.label_propagation) over the membership subgraph —
    same scope as the CC census, but LPA finds DENSE communities
    rather than connectivity classes. Nodes are relabeled to their
    natural keys before propagation so labels (and the argmax tie
    order) are strings both engines can reproduce — xxhash64 vertex
    ids never leak into the checked result. Per-node output: the
    strongest per-row cross-engine check (not just a census)."""
    from ..graph.algorithms import label_propagation

    g = _graph(spark, sf_dir)
    mem_v = g.vertices.filter(
        F.col("label").isin("user", "serviceAccount", "group")
    )
    grp = g.vertices.filter(F.col("label") == "group").select("id")
    e = g.edges
    mem_e = e.join(grp, e.dst == grp.id, "left_semi")
    keys = mem_v.select("id", natural_key_col().alias("k"))
    src_k = keys.select(F.col("id").alias("src"), F.col("k").alias("sk"))
    dst_k = keys.select(F.col("id").alias("dst"), F.col("k").alias("dk"))
    e_k = (
        mem_e.join(src_k, ["src"])
        .join(dst_k, ["dst"])
        .select(F.col("sk").alias("src"), F.col("dk").alias("dst"))
    )
    v_k = keys.select(F.col("k").alias("id"))
    out = label_propagation(v_k, e_k, rounds=3)
    return out.select(
        F.col("v").alias("member_key"), F.col("lbl").alias("community_key")
    )


def community_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-quality report for the LP communities: per community
    its Newman modularity share and conductance — the two standard
    "is this community real" numbers (modularity: intra-edge excess
    over the degree-preserving null model; conductance: boundary
    leakage). g_label_propagation pins the ASSIGNMENT; this pins what
    the assignment is WORTH, so a silent LPA regression that still
    produces a valid-looking labeling moves an oracle-checked metric.

    Exact integers throughout: over the deduped undirected edge set
    (m edges), modularity_share(c) = e_c/m - (vol_c/2m)^2 =
    (4m*e_c - vol_c^2) / (4m^2) and conductance(c) =
    cut_c / min(vol_c, 2m - vol_c) with cut_c = vol_c - 2*e_c. Both
    numerators/denominators are DECIMAL(38) products of BIGINT counts
    (cast BEFORE multiplying — the r8-advisory int64-wrap rule; 4m^2
    wraps int64 past m ~ 1.5e9 edges), ONE shared division each,
    round(6). Singleton communities: share 0, conductance NULL
    (nullif on both engines). Plan: the 3 LPA rounds (hash-aggs, no
    windows) + one distinct-edge agg + two map-combinable group-bys;
    the m scalar attaches as a 1-row broadcast cross join.
    """
    from ..graph.algorithms import label_propagation

    d38 = "decimal(38,0)"
    g = _graph(spark, sf_dir)
    mem_v = g.vertices.filter(
        F.col("label").isin("user", "serviceAccount", "group")
    )
    grp = g.vertices.filter(F.col("label") == "group").select("id")
    e = g.edges
    mem_e = e.join(grp, e.dst == grp.id, "left_semi")
    keys = mem_v.select("id", natural_key_col().alias("k"))
    src_k = keys.select(F.col("id").alias("src"), F.col("k").alias("sk"))
    dst_k = keys.select(F.col("id").alias("dst"), F.col("k").alias("dk"))
    e_k = (
        mem_e.join(src_k, ["src"])
        .join(dst_k, ["dst"])
        .select(F.col("sk").alias("src"), F.col("dk").alias("dst"))
    )
    v_k = keys.select(F.col("k").alias("id"))
    lbl = label_propagation(v_k, e_k, rounds=3)

    # r14 (guide §3.3/§5): ue feeds FOUR subtrees (m scalar, both
    # label joins' probe, and the degree union's two branches); each
    # lazy copy carried the full e_k 2-join subtree, stitching a
    # 322-Exchange plan (plans/r14/g_community_quality_before.txt)
    # whose planning time dominated. One eager localCheckpoint of the
    # deduped undirected edge set truncates all of them.
    ue = (
        e_k.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("x"),
            F.greatest("src", "dst").alias("y"),
        )
        .dropDuplicates()
        .localCheckpoint()
    )
    m_row = ue.agg(F.count("*").cast("bigint").alias("__m"))

    lx = lbl.select(F.col("v").alias("x"), F.col("lbl").alias("cx"))
    ly = lbl.select(F.col("v").alias("y"), F.col("lbl").alias("cy"))
    ue_l = ue.join(lx, ["x"]).join(ly, ["y"])
    intra = (
        ue_l.filter(F.col("cx") == F.col("cy"))
        .groupBy(F.col("cx").alias("community_key"))
        .agg(F.count("*").cast("bigint").alias("intra_edges"))
    )
    deg = (
        ue.select(F.col("x").alias("v"))
        .unionByName(ue.select(F.col("y").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("__deg"))
    )
    members = (
        lbl.join(deg, lbl.v == deg.v, "left_outer")
        .select(
            F.col("lbl").alias("community_key"),
            F.coalesce("__deg", F.lit(0)).cast("bigint").alias("__deg"),
        )
        .groupBy("community_key")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.sum("__deg").cast("bigint").alias("volume"),
        )
    )
    per = (
        members.join(intra, ["community_key"], "left_outer")
        .select(
            "community_key",
            "n_members",
            F.coalesce("intra_edges", F.lit(0))
            .cast("bigint")
            .alias("intra_edges"),
            "volume",
        )
        .crossJoin(F.broadcast(m_row))
    )
    m = F.col("__m").cast(d38)
    ec = F.col("intra_edges").cast(d38)
    vol = F.col("volume").cast(d38)
    cut = F.col("volume") - 2 * F.col("intra_edges")
    mod_num = (4 * m * ec - vol * vol).cast("double")
    mod_den = F.nullif((4 * m * m).cast("double"), F.lit(0.0))
    cond_den = F.nullif(
        F.least(
            F.col("volume"), 2 * F.col("__m") - F.col("volume")
        ).cast("double"),
        F.lit(0.0),
    )
    return per.select(
        "community_key",
        "n_members",
        "intra_edges",
        "volume",
        cut.cast("bigint").alias("cut_edges"),
        F.round(cut.cast("double") / cond_den, 6).alias("conductance"),
        F.round(mod_num / mod_den, 6).alias("modularity_share"),
    )


def motif_strict_transitive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Motif NEGATION: two-hop chains a→b→c with NO direct a→c edge —
    the 'access only via an intermediary' audit (e.g. a user whose
    project access exists only through a role, never directly). The
    `!(a)-[]->(c)` term compiles to a left-anti join (graph/motif.py);
    oracle: edge self-join + NOT EXISTS. Counted per endpoint-label
    pair with path multiplicity."""
    from ..graph.motif import find

    g = _graph(spark, sf_dir)
    m = find(g, "(a)-[e1]->(b); (b)-[e2]->(c); !(a)-[]->(c)")
    return m.groupBy(
        F.col("a.label").alias("a_label"),
        F.col("c.label").alias("c_label"),
    ).agg(F.count("*").cast("bigint").alias("n"))


def membership_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME component census as :func:`membership_components`, but
    computed by the alternating large-star/small-star algorithm
    (O(log^2 n) rounds — the deep-graph scale path) instead of
    hash-min propagation. Two independent algorithms sharing one
    oracle pins both."""
    from ..graph.algorithms import connected_components_star

    g = _graph(spark, sf_dir)
    mem_v = g.vertices.filter(
        F.col("label").isin("user", "serviceAccount", "group")
    )
    grp = g.vertices.filter(F.col("label") == "group").select("id")
    e = g.edges
    mem_e = e.join(grp, e.dst == grp.id, "left_semi")
    comp = connected_components_star(Graph(mem_v, mem_e))
    keyed = comp.join(mem_v, ["id"]).select(
        "component", natural_key_col().alias("key")
    )
    return (
        keyed.groupBy("component")
        .agg(
            F.min("key").alias("component_key"),
            F.count("*").cast("bigint").alias("n_members"),
        )
        .select("component_key", "n_members")
    )


def triangle_count_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global undirected triangle count of the IAM graph — the
    role→bucket→project containment triangles are the graph's only
    cycles, so this checks closure detection end-to-end. Oracle:
    canonicalized two-join + EXISTS closure over the (label,key) edge
    list."""
    from ..graph.algorithms import triangle_count

    return triangle_count(_graph(spark, sf_dir))


def grant_path_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many DISTINCT grant paths reach each project from the user
    population, and how short/long the grant chains are — the
    blast-radius audit behind the reference's 'who can access'
    queries (README.md:15-32), counted by DAG dynamic programming
    (graph/algorithms.dag_path_counts) instead of path enumeration:
    multiplicities sum through an O(|V|)-row frontier, so a hub role
    carrying 10k member paths costs one integer, not 10k rows (and
    the path-length spread falls out of the round number for free —
    a max_len jump flags a new indirection layer in the grant
    graph). Per-user distinct reachability is the separate
    who_can_reach_min_project / principals_with_access audit. Returns
    per project: projectid, n_paths (total user->project paths),
    min_len, max_len. Oracle: recursive-CTE full path enumeration
    over the natural-key graph, grouped to the same census."""
    from ..graph.algorithms import dag_path_counts

    g = _graph(spark, sf_dir)
    users = g.vertices.filter(F.col("label") == "user").select("id")
    projects = g.vertices.filter(F.col("label") == "project").select(
        "id", "projectid"
    )
    counts = dag_path_counts(g, users, projects)
    return (
        counts.join(
            projects, counts.target_id == projects.id
        )
        .select(
            "projectid",
            F.col("n_paths").cast("bigint").alias("n_paths"),
            "min_len",
            "max_len",
        )
    )


def reach_anf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct-USER reach per project — the scalable
    companion to g_grant_path_census (which counts paths, not
    people) and to who_can_reach_min_project (exact, but built on
    the (user, project) pair relation that is O(|S| x |V|) at scale):
    ANF/HyperBall register sketches (graph/algorithms.
    reach_cardinality_sketch) propagate md5-derived HLL registers
    along grant edges in O(64 x |V|) frontier rows per round, so
    "how many distinct principals can touch this resource" stays
    computable when the user population is web-scale. Top-20
    projects by estimated reach; the integer register columns
    (regs_set, sum_scaled) pin the sketch exactly, est_users is the
    alpha-scaled raw-HLL estimate. Oracle: DuckDB builds the exact
    reachable pair relation (fine at sf0.01) and replays the
    identical register arithmetic — sketches must match
    register-for-register."""
    from ..graph.algorithms import reach_cardinality_sketch

    g = _graph(spark, sf_dir)
    users = g.vertices.filter(F.col("label") == "user").select(
        "id", F.col("email").alias("skey")
    )
    projects = g.vertices.filter(F.col("label") == "project").select(
        "id", "projectid"
    )
    sk = reach_cardinality_sketch(g, users, projects)
    # Top-k on the EXACT integer (smaller register sum <=> larger
    # estimate), never on the rounded double — float order never
    # crosses engines in a top-k cut.
    return (
        sk.join(projects, sk.target_id == projects.id)
        .select(
            "projectid",
            F.col("est_sources").alias("est_users"),
            "regs_set",
            "sum_scaled",
        )
        .orderBy("sum_scaled", "projectid")
        .limit(20)
    )


def role_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Role-consolidation audit: exact Jaccard similarity of every
    role pair's direct member sets — near-identical member sets mean
    redundant roles (the IAM cleanup the reference's manual console
    queries hunt for one role at a time). Exact ALL-PAIRS is
    justified here and only here: roles are a bounded catalog (a dim,
    ~25 at any corpus size — the fact tables grow, the role TYPE
    space doesn't), so pairs are dim², while member-set intersections
    come from ONE self-join of the user->role edge relation on the
    member (linear in memberships). Top-10 most similar pairs,
    round-before-top-k, (role_a, role_b) tiebreak."""
    g = _graph(spark, sf_dir)
    roles = g.vertices.filter(F.col("label") == "role").select(
        F.col("id").alias("rid"), F.col("name").alias("role")
    )
    users = g.vertices.filter(F.col("label") == "user").select(
        F.col("id").alias("uid")
    )
    mem = (
        g.edges.select("src", "dst")
        .dropDuplicates()
        .join(roles, F.col("dst") == F.col("rid"))
        .join(users, F.col("src") == F.col("uid"), "left_semi")
        .select(F.col("src").alias("m"), "role")
    )
    sizes = mem.groupBy("role").agg(
        F.count("*").cast("bigint").alias("n")
    )
    a = mem.select("m", F.col("role").alias("role_a"))
    b = mem.select("m", F.col("role").alias("role_b"))
    inter = (
        a.join(b, ["m"])
        .filter(F.col("role_a") < F.col("role_b"))
        .groupBy("role_a", "role_b")
        .agg(F.count("*").cast("bigint").alias("inter"))
    )
    sa = sizes.select(F.col("role").alias("role_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("role").alias("role_b"), F.col("n").alias("nb"))
    jac = (
        inter.join(sa, ["role_a"])
        .join(sb, ["role_b"])
        .select(
            "role_a",
            "role_b",
            "inter",
            F.round(
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )
    from ..functions.ranking import ranked_limit

    return ranked_limit(
        jac, [F.col("jaccard").desc(), F.col("role_a"), F.col("role_b")], 10
    ).select("rank", "role_a", "role_b", "inter", "jaccard")


def shortest_path_bidi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-to-point shortest grant chain by BIDIRECTIONAL BFS
    (graph/algorithms.bidirectional_distance): the lexicographically-
    first user to the lexicographically-first project, frontiers
    meeting in the middle — O(b^(d/2)) per side instead of O(b^d),
    the standard point-query trick a 100 TB graph needs (the SET
    form, reachable_from, stays one-directional). Returns (src_key,
    dst_key, dist) or no rows if unreachable. Oracle: recursive-CTE
    BFS from the same endpoint rule — the bidirectional meet must
    land on exactly the one-directional minimum."""
    from ..graph.algorithms import bidirectional_distance

    g = _graph(spark, sf_dir)
    u = (
        g.vertices.filter(F.col("label") == "user")
        .agg(F.min("email"))
        .first()[0]
    )
    p = (
        g.vertices.filter(F.col("label") == "project")
        .agg(F.min("projectid"))
        .first()[0]
    )
    if u is None or p is None:
        return spark.createDataFrame(
            [], "src_key string, dst_key string, dist bigint"
        )
    src = g.vertices.filter(
        (F.col("label") == "user") & (F.col("email") == u)
    ).select("id")
    dst = g.vertices.filter(
        (F.col("label") == "project") & (F.col("projectid") == p)
    ).select("id")
    d = bidirectional_distance(g, src, dst, max_depth=16)
    return d.select(
        F.lit(u).alias("src_key"),
        F.lit(p).alias("dst_key"),
        F.col("dist"),
    )


def metapath_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta-path census: how many 2-hop paths flow through each
    (src_label, mid_label, dst_label) triple — the schema-level map
    of HOW access flows (user->role->project vs user->group->group),
    the aggregate sibling of g_edge_census. Scale design: the count
    factors through per-vertex degree PRODUCTS — for each mid vertex,
    (# in-edges by src label) x (# out-edges by dst label), at most
    label² rows per vertex — so the engine never materializes the
    2-hop join (which is user x project-sized through a hub role:
    the same O(|S| x |V|) trap dag_path_counts documents). The
    oracle derives the same census INDEPENDENTLY by enumerating the
    2-hop join at sf0.01 — a stronger check than replaying the
    factorization. Exact DECIMAL(38) products."""
    g = _graph(spark, sf_dir)
    labs = g.vertices.select("id", "label")
    e = g.edges.select("src", "dst").dropDuplicates()
    d38 = "decimal(38,0)"
    n_in = (
        e.join(labs, e.src == labs.id)
        .groupBy(F.col("dst").alias("__mid"), F.col("label").alias("l_src"))
        .agg(F.count("*").cast(d38).alias("__nin"))
    )
    n_out = (
        e.join(labs, e.dst == labs.id)
        .groupBy(F.col("src").alias("__mid2"), F.col("label").alias("l_dst"))
        .agg(F.count("*").cast(d38).alias("__nout"))
    )
    mid_lab = labs.select(
        F.col("id").alias("__midl"), F.col("label").alias("mid_label")
    )
    return (
        n_in.join(n_out, n_in.__mid == n_out.__mid2)
        .join(mid_lab, n_in.__mid == F.col("__midl"))
        .groupBy(
            F.col("l_src").alias("src_label"),
            "mid_label",
            F.col("l_dst").alias("dst_label"),
        )
        .agg(
            F.sum(F.col("__nin") * F.col("__nout"))
            .cast("bigint")
            .alias("n_paths")
        )
    )


def offboard_blast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What breaks if we delete this role — the change-impact audit
    the reference's offboarding flow needs before a drop()
    (README.md:320-411's manual 'who can access' checks, made
    subtractive): pick the lexicographically-first role (a
    deterministic stand-in for 'the role under review'), count
    user->project grant paths WITH and WITHOUT its vertex via the
    collapsed-frontier DP (graph/algorithms.dag_path_counts — two
    O(|V|)-frontier runs, never a pair relation), and report every
    project that loses paths: projectid, n_paths_before,
    n_paths_after, n_paths_lost. Projects whose entire access flows
    through the role show n_paths_after = 0 — the lockout list."""
    from ..graph.algorithms import dag_path_counts

    g = _graph(spark, sf_dir)
    role = (
        g.vertices.filter(F.col("label") == "role")
        .orderBy("name")
        .limit(1)
        .select("id")
    )
    rid = role.first()
    users = g.vertices.filter(F.col("label") == "user").select("id")
    projects = g.vertices.filter(F.col("label") == "project").select(
        "id", "projectid"
    )
    before = dag_path_counts(g, users, projects).select(
        "target_id", F.col("n_paths").alias("__nb")
    )
    if rid is None:
        e2 = g.edges
    else:
        e2 = g.edges.filter(
            (F.col("src") != rid["id"]) & (F.col("dst") != rid["id"])
        )
    after = dag_path_counts(
        Graph(g.vertices, e2), users, projects
    ).select(F.col("target_id").alias("__ta"), F.col("n_paths").alias("__na"))
    d38 = "decimal(38,0)"
    out = (
        before.join(after, before.target_id == F.col("__ta"), "left")
        .join(projects, before.target_id == projects.id)
        .select(
            "projectid",
            F.col("__nb").cast("bigint").alias("n_paths_before"),
            F.coalesce(F.col("__na"), F.lit(0).cast(d38))
            .cast("bigint")
            .alias("n_paths_after"),
            (
                F.col("__nb")
                - F.coalesce(F.col("__na"), F.lit(0).cast(d38))
            )
            .cast("bigint")
            .alias("n_paths_lost"),
        )
    )
    return out.filter(F.col("n_paths_lost") > 0)


def reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed reciprocity: the fraction of distinct non-loop edges
    whose reverse edge also exists — near 0 on a containment/
    membership DAG by construction; ANY rise means a mutual-ownership
    loop is forming (the condition the cycle audit exists for, caught
    at the cheapest possible signal: one self-semi-join, no
    traversal). Exact integer counts, one shared division."""
    g = _graph(spark, sf_dir)
    e = (
        g.edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates()
    )
    rev = e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    mutual = e.join(rev, ["src", "dst"], "left_semi")
    tot = e.agg(F.count("*").cast("bigint").alias("__n"))
    mut = mutual.agg(F.count("*").cast("bigint").alias("__m"))
    return tot.crossJoin(mut).select(
        F.col("__n").alias("n_edges"),
        F.col("__m").alias("n_reciprocated"),
        F.round(
            F.col("__m").cast("double")
            / F.nullif(F.col("__n").cast("double"), F.lit(0.0)),
            6,
        ).alias("reciprocity"),
    )


def degree_heterogeneity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree heterogeneity kappa = <d^2>/<d>^2 = n * sum(d^2) /
    (sum d)^2 over the undirected simple graph — the moment ratio
    that governs how fast anything spreads through the graph (access
    reachability, epidemic threshold ~ <d>/(<d^2>-<d>)): kappa >> 1
    means hub-dominated, near 1 means homogeneous. The scalar twin of
    g_degree_histogram's full distribution. Exact DECIMAL(38)
    moments, one shared division."""
    g = _graph(spark, sf_dir)
    e = g.edges.select("src", "dst").filter(
        F.col("src") != F.col("dst")
    )
    und = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).dropDuplicates()
    deg = und.groupBy("src").agg(F.count("*").alias("__d"))
    d38 = "decimal(38,0)"
    s = deg.agg(
        F.count("*").cast(d38).alias("__n"),
        F.coalesce(F.sum(F.col("__d").cast(d38)), F.lit(0).cast(d38))
        .alias("__s1"),
        F.coalesce(
            F.sum((F.col("__d") * F.col("__d")).cast(d38)),
            F.lit(0).cast(d38),
        ).alias("__s2"),
    )
    return s.select(
        F.col("__n").cast("bigint").alias("n_vertices"),
        F.round(
            F.col("__s1").cast("double")
            / F.nullif(F.col("__n").cast("double"), F.lit(0.0)),
            6,
        ).alias("mean_degree"),
        F.round(
            (F.col("__n") * F.col("__s2")).cast("double")
            / F.nullif(
                (F.col("__s1") * F.col("__s1")).cast("double"),
                F.lit(0.0),
            ),
            6,
        ).alias("kappa"),
    )


def clustering_coefficient_global(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Global transitivity (graph/algorithms.clustering_coefficient):
    3*triangles/wedges over the undirected simple IAM graph — near 0
    by construction here (containment triangles only); upward drift
    means entity relations are densifying into cliques. Exact-integer
    wedge census, one shared division, degree-ordered triangle
    enumeration underneath."""
    from ..graph.algorithms import clustering_coefficient

    return clustering_coefficient(_graph(spark, sf_dir))


def degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-of-aggregate: the out-degree distribution over ALL
    vertices (zero-degree sinks included) — the hub-skew profile a
    planner would consult before choosing salting (SURVEY.md §4.4)."""
    from ..graph.algorithms import degrees

    g = _graph(spark, sf_dir)
    return (
        degrees(g)
        .groupBy(F.col("out_degree").cast("bigint").alias("out_degree"))
        .agg(F.count("*").cast("bigint").alias("n_vertices"))
    )


def pagerank_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the full IAM graph — 'which roles/
    projects concentrate access'. Oracle: the SAME k-iteration
    algorithm unrolled as DuckDB CTEs over the (label, key) edge list;
    both sides round to 6 decimals BEFORE the top-k cut so the limit
    boundary is decided on identical values (float sums agree to
    ~1e-13 relative; 6-decimal rounding absorbs association order)."""
    from ..graph.algorithms import pagerank

    g = _graph(spark, sf_dir)
    pr = pagerank(g, iterations=5)
    return (
        pr.join(g.vertices, ["id"])
        .select("label", natural_key_col().alias("key"),
                F.round("rank", 6).alias("rank"))
        .orderBy(F.col("rank").desc(), "label", "key")
        .limit(20)
    )


def ppr_access_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from one principal (the min-email user,
    the catalog's deterministic-parameter pattern): "which parts of
    the IAM graph does this user's access influence, weighted by path
    multiplicity" — the per-principal analog of the global centrality
    query. Unreachable vertices are exactly 0 and excluded, so top-k
    ranks only the user's access cone. Oracle: the same 5 iterations
    unrolled as CTEs with the same single-source teleport vector."""
    from ..graph.algorithms import personalized_pagerank

    g = _graph(spark, sf_dir)
    users = g.vertices.filter(F.col("label") == "user")
    source = users.orderBy(F.col("email").asc()).limit(1).select("id")
    if not source.take(1):
        # no principal to personalize on — empty cone, not an error
        # (personalized_pagerank's >=1-source contract is the
        # algorithm's; the QUERY degrades like its oracle)
        return spark.createDataFrame(
            [], "label string, key string, rank double"
        )
    pr = personalized_pagerank(g, source, iterations=5)
    return (
        pr.filter(F.col("rank") > 0)
        .join(g.vertices, ["id"])
        .select(
            "label",
            natural_key_col().alias("key"),
            F.round("rank", 6).alias("rank"),
        )
        .orderBy(F.col("rank").desc(), "label", "key")
        .limit(15)
    )


def upsert_merge_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9+A11 (SURVEY.md §2.3 upsert kernel) as a checkable query:
    merge a batch of user vertices derived from supplier names into
    the graph — the batch deliberately contains (a) itself twice and
    (b) every already-present customer-derived user, so the result
    proves within-batch dedup AND against-graph get-or-create. Final
    state: label census."""
    from ..graph.upsert import upsert_vertices
    from ..sources.fixtures import load_table

    g = _graph(spark, sf_dir)
    supplier = load_table(spark, sf_dir, "supplier")
    batch_new = supplier.select(
        vertex_id("user", F.col("s_name")).alias("id"),
        F.lit("user").alias("label"),
        F.col("s_name").cast("string").alias("email"),
        F.lit(None).cast("string").alias("name"),
        F.lit(None).cast("string").alias("projectid"),
        F.lit(False).alias("is_external"),
    )
    existing_users = g.vertices.filter(F.col("label") == "user")
    batch = batch_new.unionByName(batch_new).unionByName(existing_users)
    merged = upsert_vertices(g.vertices, batch)
    return merged.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n")
    )


def offboard_min_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective drop (the offboarding audit): remove the min-email
    user and every incident edge — g.V().has('email', X).drop() with
    Gremlin's edge cascade — then report the post-removal label census
    plus total edge count, proving exactly the principal's vertex,
    its one group membership, and its role grants disappeared."""
    from ..graph.upsert import remove_vertices

    g = _graph(spark, sf_dir)
    users = g.vertices.filter(F.col("label") == "user")
    victim = users.join(
        users.agg(F.min("email").alias("email")), ["email"], "left_semi"
    ).select("id")
    v2, e2 = remove_vertices(g.vertices, g.edges, victim)
    census = v2.groupBy("label").agg(F.count("*").cast("bigint").alias("n"))
    edges_row = e2.agg(F.count("*").cast("bigint").alias("n")).select(
        F.lit("edges").alias("label"), "n"
    )
    # census policy (--empty gate): report only nonzero classes, so
    # the global edge-count row vanishes with the graph exactly like
    # the group-by label rows do
    return census.unionByName(edges_row).filter(F.col("n") > 0)


def snapshot_diff_permissions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (§2C set-ops): full graph vs the
    no-permissions variant (the reference's --includePermissions flag,
    main.go:56) — the diff is exactly the permission vertices and
    permission->role edges. Output (side, n) counts."""
    from ..graph.upsert import graph_diff

    g = _graph(spark, sf_dir)
    perm_ids = g.vertices.filter(F.col("label") == "permission").select("id")
    v2 = g.vertices.filter(F.col("label") != "permission")
    e2 = g.edges.join(perm_ids, g.edges.src == perm_ids.id, "left_anti")
    d = graph_diff(g.vertices, g.edges, v2, e2)
    parts = []
    for side, df in d.items():
        parts.append(
            df.agg(F.count("*").cast("bigint").alias("n")).select(
                F.lit(side).alias("side"), "n"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def motif_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship access-audit expressed as a MOTIF pattern
    ((u)-[]->(r); (r)-[]->(p)) instead of explicit joins — same oracle
    as g_principals_with_access, proving the two query surfaces agree."""
    from ..graph.motif import find

    g = _graph(spark, sf_dir)
    target = (
        g.vertices.filter(F.col("label") == "project")
        .agg(F.min("projectid").alias("pid"))
    )
    m = find(g, "(u)-[]->(r); (r)-[]->(p)", edge_label="in")
    out = (
        m.filter(
            (F.col("u.label") == "user")
            & (F.col("r.label") == "role")
            & (F.col("p.label") == "project")
        )
        .join(target, F.col("p.projectid") == F.col("pid"), "left_semi")
        .select(
            F.col("u.email").alias("email"),
            F.col("r.name").alias("role"),
            F.col("p.projectid").alias("projectid"),
        )
        .dropDuplicates()
        .orderBy("email", "role")
    )
    return out


def sql_interface_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same graph queried through spark.sql over registered views
    — proves the SQL front door composes with the DataFrame-built
    graph (multi-hop join written in SQL)."""
    g = _graph(spark, sf_dir)
    g.create_views("g_vertices", "g_edges")
    return spark.sql(
        """
        SELECT v2.label AS neighbor_label,
               CAST(count(*) AS BIGINT) AS n_edges
        FROM g_vertices v1
        JOIN g_edges e ON v1.id = e.src
        JOIN g_vertices v2 ON e.dst = v2.id
        WHERE v1.label = 'user'
        GROUP BY v2.label
        """
    )


def top_roles_by_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytics (§2C window row): in-degree of role vertices ranked —
    'top roles by direct principals'. Top-k FIRST (TakeOrderedAndProject
    — distributed partial top-k, no global shuffle), THEN a rank laid
    onto the <=10 survivors without any WindowExec
    (functions/ranking.py) — the shape that stays flat if role
    cardinality grows 100x (round-4 verdict items 3/6)."""
    from ..functions.ranking import ranked_limit

    g = _graph(spark, sf_dir)
    roles = g.vertices.filter(F.col("label") == "role").select(
        F.col("id").alias("rid"), F.col("name").alias("role")
    )
    e = g.edges
    users = g.vertices.filter(F.col("label") == "user").select(
        F.col("id").alias("uid")
    )
    ue = e.join(users, e.src == users.uid, "left_semi")
    deg = (
        ue.join(roles, ue.dst == roles.rid)
        .groupBy("role")
        .agg(F.count("*").cast("bigint").alias("n_members"))
    )
    return ranked_limit(
        deg, [F.col("n_members").desc(), F.col("role")], 10
    ).select("rank", "role", "n_members")


def _membership_by_role(edges_roles_joined: DataFrame) -> DataFrame:
    return edges_roles_joined.groupBy("role").agg(
        F.count("*").cast("bigint").alias("n_members")
    )


def skew_membership_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Members-per-role over the hub-skewed membership edges (every
    user->role edge hits one of ~25 role keys — the allUsers/broad-role
    hot-key profile README.md:467-472 warns about), joined PLAIN. The
    baseline half of the skew pair; oracle-identical to the salted
    variant below."""
    g = _graph(spark, sf_dir)
    users = g.vertices.filter(F.col("label") == "user").select(
        F.col("id").alias("uid")
    )
    roles = g.vertices.filter(F.col("label") == "role").select(
        F.col("id").alias("rid"), F.col("name").alias("role")
    )
    e = g.edges.join(users, g.edges.src == users.uid, "left_semi")
    joined = e.select(F.col("dst").alias("rid"), "src").join(roles, "rid")
    return _membership_by_role(joined)


def skew_membership_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result via operators.joins.salted_join: the skewed (edge)
    side gets a deterministic hash salt, the small role side replicates
    salt times, so the hot role keys spread over `salt` reducers
    instead of one. Oracle equality with the plain variant is the
    correctness proof; bench.py times both halves of the pair."""
    from ..operators.joins import salted_join

    g = _graph(spark, sf_dir)
    users = g.vertices.filter(F.col("label") == "user").select(
        F.col("id").alias("uid")
    )
    roles = g.vertices.filter(F.col("label") == "role").select(
        F.col("id").alias("rid"), F.col("name").alias("role")
    )
    e = g.edges.join(users, g.edges.src == users.uid, "left_semi").select(
        F.col("dst").alias("rid"), "src"
    )
    return _membership_by_role(salted_join(e, roles, "rid", salt=16))


def skew_membership_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result via operators.joins.skew_join_auto — the encoded
    x64 decision rule (SCALING.md skew regimes): broadcast-join plain
    when the dim side fits the threshold (this fixture's ~25 roles
    always do, so here it must match the plain plan), salted only when
    neither side broadcasts. Oracle-identical to both manual
    spellings; bench confirms it tracks the best manual choice."""
    from ..operators.joins import skew_join_auto

    g = _graph(spark, sf_dir)
    users = g.vertices.filter(F.col("label") == "user").select(
        F.col("id").alias("uid")
    )
    roles = g.vertices.filter(F.col("label") == "role").select(
        F.col("id").alias("rid"), F.col("name").alias("role")
    )
    e = g.edges.join(users, g.edges.src == users.uid, "left_semi").select(
        F.col("dst").alias("rid"), "src"
    )
    return _membership_by_role(skew_join_auto(e, roles, "rid", salt=16))


def stream_ingest_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming ingest of the user->role bindings through
    the real Structured-Streaming path, then a traversal of the
    ingested graph. The 2-arg catalog surface of _stream_ingest_e2e."""
    return _stream_ingest_e2e(spark, sf_dir)


def _stream_ingest_e2e(
    spark: SparkSession, sf_dir: str, _mfpt: int = 2
) -> DataFrame:
    """End-to-end streaming ingest: derive the user->role membership
    bindings (the `type:email` strings getIamPolicy emits,
    main.go:557-561) from the fixtures, feed them through the REAL
    Structured-Streaming ingest path (file source -> foreachBatch ->
    idempotent upsert -> versioned snapshot store, streaming/ingest.py),
    then traverse the INGESTED graph. The oracle computes the same
    members-per-role directly from the base tables, so a green row
    proves streaming graph state == batch derivation."""
    import os
    import tempfile

    from ..sources.fixtures import load_table
    from ..streaming.ingest import load_snapshot, start_binding_ingest

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # r15 measured-and-rejected (guide §1): the build_edges brand-first
    # derivation (early distincts on (l_orderkey, p_brand) then
    # (o_custkey, p_brand) before attaching c_name) was tried here and
    # LOST the paired A/B — the two extra distinct shuffles cost more
    # than the narrower exchange bytes save at every measurable scale
    # (isolated noop medians old 1.63s / brand-first 1.79s / one-early-
    # distinct 1.62s; full-entry drift_probe old 7.54 vs 8.79). The
    # single wide distinct stays.
    bindings = (
        customer.join(
            orders, customer.c_custkey == orders.o_custkey
        )
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .join(part, lineitem.l_partkey == part.p_partkey)
        .select(
            F.concat(F.lit("user:"), F.col("c_name")).alias("member"),
            F.col("p_brand").alias("dst_key"),
        )
        .distinct()
    )
    base = tempfile.mkdtemp(prefix="spark_graft_ingest_e2e_")
    try:
        src = os.path.join(base, "bindings")
        # several files -> several micro-batches under
        # maxFilesPerTrigger, exercising snapshot accumulation across
        # batches, not one big one. `_mfpt` (r15, VERDICT r14 item 4)
        # exposes the knob so the trigger-invariance test can pin that
        # the final snapshot is batching-independent (the merge is an
        # idempotent set union); the default stays 2 so the bench
        # entry keeps exercising the base+delta accumulation path.
        bindings.repartition(4).write.parquet(src, mode="overwrite")
        # literal schema (r15, guide §6): the bindings layout is this
        # function's own write two lines up, so re-listing the dir and
        # reading a footer just to recover "member string, dst_key
        # string" was a per-rep metadata round-trip for a constant.
        stream = (
            spark.readStream.schema("member string, dst_key string")
            .option("maxFilesPerTrigger", _mfpt)
            .parquet(src)
        )
        q = start_binding_ingest(
            spark,
            stream,
            os.path.join(base, "graph"),
            os.path.join(base, "ck"),
            "ingest_e2e",
        )
        finished = q.awaitTermination(300)
        if not finished and q.isActive:
            q.stop()
            raise TimeoutError("ingest_e2e stream did not drain in 300s")
        g = load_snapshot(spark, os.path.join(base, "graph"))
        users = g.vertices.filter(F.col("label") == "user").select(
            F.col("id").alias("uid")
        )
        roles = g.vertices.filter(F.col("label") == "role").select(
            F.col("id").alias("rid"), F.col("name").alias("role")
        )
        joined = (
            g.edges.join(users, g.edges.src == users.uid, "left_semi")
            .select(F.col("dst").alias("rid"))
            .join(roles, "rid")
        )
        # Materialize off the snapshot files before the scratch dir is
        # removed — the caller collects AFTER this function returns.
        return _membership_by_role(joined).localCheckpoint(eager=True)
    finally:
        import shutil

        shutil.rmtree(base, ignore_errors=True)


def ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-truss of the IAM graph (graph/algorithms.k_truss): the edges
    whose endpoints share at least one common neighbour AFTER peeling
    — on this graph, exactly the mutually-reinforcing role/bucket/
    project containment triangles; a star-shaped k-core passes the
    vertex screen but no star survives a truss. Output in natural-key
    space, each undirected edge canonicalized by (label, key) order
    so both engines emit identical rows."""
    from ..graph.algorithms import k_truss

    g = _graph(spark, sf_dir)
    t = k_truss(g, k=3)
    vk = g.vertices.select(
        F.col("id"), F.col("label"), natural_key_col().alias("key")
    )
    a = vk.select(
        F.col("id").alias("a"),
        F.col("label").alias("__la"),
        F.col("key").alias("__ka"),
    )
    b = vk.select(
        F.col("id").alias("b"),
        F.col("label").alias("__lb"),
        F.col("key").alias("__kb"),
    )
    j = t.join(a, "a").join(b, "b")
    first = F.struct("__la", "__ka") <= F.struct("__lb", "__kb")
    return j.select(
        F.when(first, F.col("__la")).otherwise(F.col("__lb")).alias("al"),
        F.when(first, F.col("__ka")).otherwise(F.col("__kb")).alias("ak"),
        F.when(first, F.col("__lb")).otherwise(F.col("__la")).alias("bl"),
        F.when(first, F.col("__kb")).otherwise(F.col("__ka")).alias("bk"),
        "support",
    ).orderBy("al", "ak", "bl", "bk")


def stress_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled stress centrality from the 5 smallest-email users
    (graph/algorithms.stress_centrality): which vertices do the most
    shortest access paths flow THROUGH — the choke-point audit (a
    role or group with high stress is the one whose compromise or
    misconfiguration affects the most access chains). The all-integer
    Brandes-structure variant, so the unrolled DuckDB oracle matches
    exactly; same seed convention as g_closeness_sample."""
    from ..graph.algorithms import stress_centrality

    g = _graph(spark, sf_dir)
    users = g.V().hasLabel("user").toDF()
    seeds = users.orderBy("email").limit(5).select(
        F.col("id").alias("seed")
    )
    st = stress_centrality(g, seeds, max_depth=4)
    v = g.vertices
    return (
        st.join(v, st.id == v.id)
        .select("label", natural_key_col().alias("key"), "stress")
        .orderBy("label", "key")
    )


def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random-walk corpus from every user vertex
    (graph/algorithms.random_walks, length 4): the node2vec/DeepWalk
    sampling pass as a dataflow — each step one equi-join of the walk
    frontier against the ranked-neighbour table, neighbour choice a
    reproducible md5 draw the DuckDB oracle replays exactly. The
    output IS the training corpus a skip-gram embedder consumes."""
    from ..graph.algorithms import random_walks

    g = _graph(spark, sf_dir)
    starts = g.vertices.filter(F.col("label") == "user").select("id")
    return random_walks(g, starts, length=4).orderBy(
        "walk_key", "step"
    )


def weighted_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths from the min-email user —
    the edge-``weight`` capability (main.go:305: every reference edge
    carries weight, fixed 1) exercised with non-trivial weights.

    The build emits weight=1 everywhere (graph/build.py:75), so this
    query derives a deterministic per-edge weight from the endpoint
    NATURAL keys — ``1 + (len(src_key) + len(dst_key)) % 5`` — which
    DuckDB reproduces exactly (catalog oracle: recursive CTE over
    edges_nk with the same arithmetic; the derived graph is a DAG so
    path enumeration terminates). Distances are integer-valued sums,
    exact in double.

    Plan: two broadcast-able key-projection joins to attach weights,
    then Bellman-Ford rounds via aggregate_messages (one min-combined
    shuffle per round, lineage truncated) — graph/algorithms.py
    weighted_shortest_paths.
    """
    from ..graph.algorithms import weighted_shortest_paths
    from ..graph.traversal import Graph as _G

    g = _graph(spark, sf_dir)
    keyed = g.vertices.select(
        "id", "label", natural_key_col().alias("key")
    )
    sk = keyed.select(F.col("id").alias("src"), F.col("key").alias("__sk"))
    dk = keyed.select(F.col("id").alias("dst"), F.col("key").alias("__dk"))
    weighted_edges = (
        g.edges.select("src", "dst")
        .join(sk, ["src"])
        .join(dk, ["dst"])
        .select(
            "src",
            "dst",
            (
                F.lit(1) + (F.length("__sk") + F.length("__dk")) % F.lit(5)
            ).cast("double").alias("weight"),
        )
    )
    users = g.vertices.filter(F.col("label") == "user")
    target = users.agg(F.min("email").alias("email"))
    src = users.join(target, ["email"], "left_semi").select("id")
    dist = weighted_shortest_paths(
        _G(g.vertices, weighted_edges), src, weight_col="weight"
    )
    return (
        keyed.join(dist, ["id"])
        .select("label", "key", F.col("dist").cast("double").alias("dist"))
        .orderBy("label", "key")
    )


def kcore_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the IAM graph (graph/algorithms.k_core): peel
    vertices of undirected degree < 3 to fixpoint, keep the hub
    structure — the densest audit surface (shared roles, nested
    groups); leaf users/buckets peel away. Returns every core member
    as (label, key, core_deg).

    Oracle: the SAME peel unrolled as bounded SQL rounds (6 rounds;
    at the driver's scale factors the peel converges in <= 2 — extra
    rounds are no-ops once the degree floor holds, so the unroll is a
    fixpoint whenever convergence happens within the bound, which
    test_kcore_converges_within_oracle_bound pins)."""
    from ..graph.algorithms import k_core

    g = _graph(spark, sf_dir)
    core = k_core(g, k=3)
    return core.join(g.vertices, ["id"]).select(
        "label", natural_key_col().alias("key"), "core_deg"
    )


def coreness_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full k-core decomposition (graph/algorithms.coreness, the
    iterated-H-index fixpoint of Lü et al. 2016): the peel depth of
    EVERY vertex with >= 1 edge — generalizes g_kcore's single-k
    membership to the whole hierarchy (coreness 1 = leaves, max
    coreness = the densest audit hub). Returns (label, key,
    coreness).

    Oracle: the SAME H-index iteration unrolled as bounded
    MATERIALIZED SQL rounds (8; the sequence is monotone
    non-increasing so extra rounds past the fixpoint are no-ops —
    test_coreness_converges_within_oracle_bound pins convergence
    within the bound at the driver's scale factors)."""
    from ..graph.algorithms import coreness

    g = _graph(spark, sf_dir)
    c = coreness(g)
    return (
        c.join(g.vertices, ["id"])
        .select("label", natural_key_col().alias("key"), "coreness")
        .orderBy("label", "key")
    )


def diameter_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-sweep diameter lower bound (Magnien et al. 2009) over
    the UNDIRECTED IAM graph: BFS from the min-email user to its
    farthest vertex u (tiebreak (label, key)), then BFS from u — the
    second sweep's eccentricity is the classic tight diameter
    estimate, at the cost of TWO BFS passes instead of all-pairs.
    That 2-BFS-instead-of-n-BFS trade is the only way the question is
    answerable at 100 TB at all.

    Returns one row (u_label, u_key, v_label, v_key, diameter_lb):
    the sweep endpoints and the bound. Oracle: the same two sweeps as
    chained recursive CTEs with a depth cap of 12 — the undirected
    graph has cycles, so the walk dedups (node, d) pairs and the cap
    bounds re-expansion; test_diameter_within_oracle_cap pins
    eccentricity < 12 at the driver's SFs."""
    from ..graph.algorithms import shortest_paths
    from ..graph.traversal import Graph as _G

    g = _graph(spark, sf_dir)
    und = _G(
        g.vertices,
        g.edges.select("src", "dst")
        .unionByName(
            g.edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .dropDuplicates(),
    )
    users = g.V().hasLabel("user").toDF()
    target = users.agg(F.min("email").alias("email"))
    src = users.join(target, ["email"], "left_semi").select("id")

    keyed = g.vertices.select(
        "id", "label", natural_key_col().alias("key")
    )

    def farthest(dist):
        return (
            dist.join(keyed, ["id"])
            .agg(
                F.min(
                    F.struct(
                        (-F.col("distance")).alias("nd"),
                        F.col("label"),
                        F.col("key"),
                        F.col("id"),
                    )
                ).alias("__far")
            )
            .select(
                F.col("__far.id").alias("id"),
                F.col("__far.label").alias("label"),
                F.col("__far.key").alias("key"),
                (-F.col("__far.nd")).cast("bigint").alias("ecc"),
            )
            # min(struct) over an EMPTY sweep is one all-NULL row;
            # no endpoints means no answer row (--empty gate)
            .filter(F.col("id").isNotNull())
        )

    u = farthest(shortest_paths(und, src, edge_label=None)).localCheckpoint(
        eager=True
    )
    v = farthest(
        shortest_paths(und, u.select("id"), edge_label=None)
    )
    return (
        u.select(
            F.col("label").alias("u_label"), F.col("key").alias("u_key")
        )
        .crossJoin(
            v.select(
                F.col("label").alias("v_label"),
                F.col("key").alias("v_key"),
                F.col("ecc").alias("diameter_lb"),
            )
        )
    )


def link_prediction_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the IAM graph
    (graph/algorithms.link_prediction): top-200 non-adjacent pairs
    by neighborhood Jaccard (total-tiebreak cut), 'should these two
    be in the same group/role'. The degree cap and the MinHash escape
    hatch for hub-mediated recall at 100 TB are documented on the
    operator; both cap and cut are mirrored in the oracle."""
    from ..graph.algorithms import link_prediction

    g = _graph(spark, sf_dir)
    return link_prediction(g)


def neighbor_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similar-neighborhood user pairs via MinHash-LSH over each
    user's RESOURCE SET (accessed part keys — the only key domain that both scales with SF and is whitespace-free, so set elements survive the space-tokenized document encoding) — the sub-quadratic path for hub-mediated link
    prediction that g_link_prediction's docstring promises: a user's
    neighbor set becomes a document (sorted resource keys), the existing
    MinHash machinery (operators/dedup.minhash_lsh_candidates, n=1 so
    shingles ARE the set elements) generates candidates without ever
    enumerating a hub's member pairs, and candidates are verified
    with exact set Jaccard. Wedge volume never appears: cost is
    O(users x signature) + banded join, however big the roles get.

    Returns the TOP-50 candidate pairs by verified exact Jaccard
    (total (jaccard, id_a, id_b) tiebreak — deterministic cut; the
    fixture's random sets have no true near-duplicates, so a fixed
    threshold would be vacuous at one SF or another, while the top-k
    contract exercises the full candidate->verify pipeline at every
    SF)."""
    from ..operators import dedup as dd
    from ..sources.fixtures import load_table

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    ur = (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .join(part, lineitem.l_partkey == part.p_partkey)
        .select("c_custkey", F.col("p_partkey").cast("string").alias("rk"))
        .distinct()
    )
    docs = ur.groupBy("c_custkey").agg(
        F.concat_ws(" ", F.sort_array(F.collect_set("rk"))).alias(
            "text"
        )
    )
    cand = dd.minhash_lsh_candidates(
        docs, id_col="c_custkey", text_col="text", n=1, use_md5=True
    )
    sets = docs.select(
        F.col("c_custkey").alias("id"), F.split("text", " ").alias("sh")
    )
    return (
        cand.join(
            sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sa")),
            ["id_a"],
        )
        .join(
            sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sb")),
            ["id_b"],
        )
        .select(
            F.col("id_a").cast("bigint").alias("id_a"),
            F.col("id_b").cast("bigint").alias("id_b"),
            F.round(
                F.size(F.array_intersect("sa", "sb"))
                / F.size(F.array_union("sa", "sb")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "id_a", "id_b")
        .limit(50)
    )
