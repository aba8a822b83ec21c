"""Output verification, run outside every timed region.

A query result is reduced to an order-insensitive digest: the sorted
column names, the row count and a SHA-256 over the canonical rows
(columns ordered by name, values in an engine-neutral form, rows
sorted).  Spark's digest must equal the digest of the query's DuckDB
oracle over the same generated parquet files — the comparison the
repository's parity tests make, without keeping both row sets.
"""

from __future__ import annotations

import hashlib
import math
from typing import Any

QUERY_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def canon_value(v: Any) -> Any:
    """Engine-neutral value form (the parity tests' canonicalization)."""
    if v is None:
        return None
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, int):
        return v
    return str(v)


def digest(cols: list[str], rows: list) -> tuple[tuple[str, ...], int, str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = [tuple(canon_value(r[i]) for i in order) for r in rows]
    canon.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    h = hashlib.sha256()
    for t in canon:
        h.update(repr(t).encode())
        h.update(b"\n")
    return tuple(sorted(cols)), len(canon), h.hexdigest()


def _components(con) -> dict[str, str]:
    """node → min node label of its connected component, over the
    bipartite ``c:<custkey>`` / ``p:<partkey>`` edge graph (union-find)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    edges = con.execute(
        "SELECT DISTINCT o_custkey, l_partkey FROM orders JOIN lineitem ON o_orderkey = l_orderkey"
    ).fetchall()
    for c, p in edges:
        u, v = f"c:{c}", f"p:{p}"
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)  # the root stays the min label
    return {n: find(n) for n in parent}


def _connected_components(con):
    return ["node", "comp"], list(_components(con).items())


def _component_sizes(con):
    sizes: dict[str, list[int]] = {}
    for node, comp in _components(con).items():
        s = sizes.setdefault(comp, [0, 0, 0])
        s[0] += 1
        s[1 if node.startswith("c:") else 2] += 1
    return ["comp", "n_nodes", "n_works", "n_tropes"], [(c, *s) for c, s in sizes.items()]


#: Python references for oracles whose recursive SQL takes minutes in
#: DuckDB; each returns the oracle's (columns, rows).
PY_REFERENCES = {
    "graph_connected_components": _connected_components,
    "graph_component_sizes": _component_sizes,
}


class Oracle:
    """Expected digests over one generated data directory, memoized per
    query name (a run repeats names across passes)."""

    def __init__(self, data_dir: str, oracles: dict[str, str], threads: int, temp_dir: str) -> None:
        import duckdb

        self._sql = oracles
        self._memo: dict[str, tuple] = {}
        self.con = duckdb.connect(
            config={"threads": threads, "memory_limit": "4GB", "temp_directory": temp_dir}
        )
        self.con.execute("SET TimeZone = 'UTC'")
        for t in QUERY_TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def has(self, name: str) -> bool:
        return name in self._sql

    def expected(self, name: str) -> tuple:
        if name not in self._memo:
            if name in PY_REFERENCES:
                cols, rows = PY_REFERENCES[name](self.con)
            else:
                cur = self.con.execute(self._sql[name])
                cols, rows = [d[0] for d in cur.description], cur.fetchall()
            self._memo[name] = digest(cols, rows)
        return self._memo[name]

    def close(self) -> None:
        self.con.close()
