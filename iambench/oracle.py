"""Independent reference answers for every benchmark op.

The graph is derived a second time, in DuckDB over the same fixture
parquet, following FIXTURES.md section 2 (the same derivation the
catalog's oracle SQL uses). Vertices are identified by their natural
key ``(label, key)``; hashed ids never enter the reference. The
answers are then computed in plain Python: adjacency lookups for the
one- and two-hop traversals, BFS for reach, and a set model of the
store for ingest.
"""

from __future__ import annotations

from collections import defaultdict

import duckdb

# (label, key) -> (label, key) edges, all labelled 'in' with weight 1.
_EDGES_SQL = """
WITH
ub AS (
  SELECT DISTINCT c.c_name AS u, p.p_brand AS b
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN part p ON p.p_partkey = l.l_partkey
),
bk AS (
  SELECT DISTINCT p_brand, 'bucket-' || p_size || '/' || p_name AS bkey, p_name
  FROM part
)
SELECT 'user', c_name, 'group', n_name
  FROM customer JOIN nation ON c_nationkey = n_nationkey
UNION ALL SELECT 'group', n_name, 'group', r_name
  FROM nation JOIN region ON n_regionkey = r_regionkey
UNION ALL SELECT 'serviceAccount', s_name, 'group', n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
UNION ALL SELECT 'user', u, 'role', b FROM ub
UNION ALL SELECT DISTINCT 'role', p_brand, 'project', p_name FROM part
UNION ALL SELECT DISTINCT 'permission', p_type, 'role', p_brand FROM part
UNION ALL SELECT DISTINCT 'bucket', bkey, 'project', p_name FROM bk
UNION ALL SELECT DISTINCT 'role', p_brand, 'bucket', bkey FROM bk
"""

_VERTICES_SQL = """
SELECT 'user', c_name FROM customer
UNION ALL SELECT 'group', n_name FROM nation
UNION ALL SELECT 'group', r_name FROM region
UNION ALL SELECT 'serviceAccount', s_name FROM supplier
UNION ALL SELECT DISTINCT 'role', p_brand FROM part
UNION ALL SELECT DISTINCT 'permission', p_type FROM part
UNION ALL SELECT DISTINCT 'project', p_name FROM part
UNION ALL SELECT DISTINCT 'bucket', 'bucket-' || p_size || '/' || p_name FROM part
"""

PSEUDO_GROUPS = ("allUsers", "allAuthenticatedUsers")


class IamOracle:
    """The fixture's IAM graph as Python sets, plus reference answers."""

    def __init__(self, fixture_dir: str):
        con = duckdb.connect()
        try:
            for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'")
            vrows = con.execute(_VERTICES_SQL).fetchall()
            erows = con.execute(_EDGES_SQL).fetchall()
        finally:
            con.close()
        self.vertices: set[tuple[str, str]] = {(a, b) for a, b in vrows}
        self.edges: set[tuple[tuple[str, str], tuple[str, str]]] = {
            ((a, b), (c, d)) for a, b, c, d in erows
        }
        self._index()

    def _index(self) -> None:
        self.out_adj: dict = defaultdict(set)
        self.in_adj: dict = defaultdict(set)
        for s, d in self.edges:
            self.out_adj[s].add(d)
            self.in_adj[d].add(s)

    def keys(self, label: str) -> list[str]:
        return sorted(k for lbl, k in self.vertices if lbl == label)

    # ---- traversals ---------------------------------------------------
    def who_can_access(self, project: str) -> set[str]:
        """Users holding a role bound on ``project``."""
        roles = {v for v in self.in_adj[("project", project)] if v[0] == "role"}
        return {u[1] for r in roles for u in self.in_adj[r] if u[0] == "user"}

    def members_of_role(self, role: str) -> set[tuple[str, str]]:
        """Every in-neighbour of ``role``: principals and permissions."""
        return set(self.in_adj[("role", role)])

    def reach(self, email: str) -> set[tuple[str, str]]:
        """Vertices reachable in one or more steps from user ``email``."""
        start = ("user", email)
        seen, frontier = set(), {start}
        while frontier:
            nxt = {d for v in frontier for d in self.out_adj[v]} - seen
            seen |= nxt
            frontier = nxt
        seen.discard(start)
        return seen


class StoreModel:
    """Set model of the ingest store: every binding batch merged so
    far. A replayed batch changes nothing."""

    def __init__(self):
        self.vertices: set[tuple[str, str]] = set()
        self.edges: set = set()
        self.in_adj: dict = defaultdict(set)

    @staticmethod
    def parse_member(member: str) -> tuple[str, str]:
        """The package's total member parser (loaders.parse_member_bindings)."""
        if member in PSEUDO_GROUPS:
            return "group", member
        kind, _, rest = member.partition(":")
        label = kind if kind in ("user", "serviceAccount", "group") else "user"
        return label, (rest if _ else member)

    def apply(self, bindings: list[tuple[str, str]]) -> tuple[int, int]:
        """Merge a batch; returns (new vertices, new edges)."""
        nv = ne = 0
        for member, role in bindings:
            p = self.parse_member(member)
            r = ("role", role)
            for v in (p, r):
                if v not in self.vertices:
                    self.vertices.add(v)
                    nv += 1
            if (p, r) not in self.edges:
                self.edges.add((p, r))
                self.in_adj[r].add(p)
                ne += 1
        return nv, ne

    def copy(self) -> "StoreModel":
        other = StoreModel()
        other.vertices = set(self.vertices)
        other.edges = set(self.edges)
        for r, members in self.in_adj.items():
            other.in_adj[r] = set(members)
        return other

    def counts(self) -> tuple[int, int]:
        return len(self.vertices), len(self.edges)

    def members_of_role(self, role: str) -> set[tuple[str, str]]:
        return set(self.in_adj[("role", role)])
