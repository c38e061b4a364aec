"""Untimed correctness gates: every answer the engine gives is compared
with an independent oracle that already exists in the repository.

* graph node/edge sets (bulk build, and the compacted live graph over
  the files appended so far) — ``tests/oracle_sim.simulate`` over the
  parsed input files;
* Cypher answers — DuckDB SQL over the oracle's node/edge/property sets;
* BFS depths — ``tools/corpus_golden_calc.g42_bfs_depths``;
* PageRank — a pure-Python power iteration of the kernel's semantics
  (GraphX form, dangling nodes keep the base rank), within
  ``PAGERANK_TOL``;
* dedup operators — the repository's DuckDB oracle SQL for q20, q22
  and q23 over the generated documents.

The expected answers are computed before Spark starts, in a child
process (``prepare.py``), so their cost is not charged to the program.
Each gate returns ``None`` when the answer is right, else a one-line
reason.
"""

from __future__ import annotations

from collections import defaultdict

PAGERANK_TOL = 1e-9

# (name, Cypher text, DuckDB SQL over nodes/edges/process, ordered?)
QUERIES = [
    (
        "lookup",
        "MATCH (p:Process) WHERE p.image = 'python3' RETURN p ORDER BY p LIMIT 50",
        "SELECT n.key AS p FROM nodes n JOIN process pr ON pr.key = n.key "
        "WHERE n.label = 'Process' AND pr.image = 'python3' ORDER BY p LIMIT 50",
        True,
    ),
    (
        "motif2",
        "MATCH (a:Process)-[:SPAWNS]->(b:Process)-[:CREATED_FILE]->(f:File) RETURN a, b, f",
        "SELECT s.src, s.dst, c.dst FROM edges s JOIN edges c ON c.src = s.dst "
        "WHERE s.rel = 'SPAWNS' AND c.rel = 'CREATED_FILE'",
        False,
    ),
    (
        "varlen",
        "MATCH (a:Process)-[:SPAWNS*1..3]->(b:Process)-[:CONNECTED_TO]->(ip:Ip) "
        "RETURN DISTINCT a, ip",
        "WITH s AS (SELECT src, dst FROM edges WHERE rel = 'SPAWNS'), "
        "r AS (SELECT src AS a, dst AS b FROM s "
        "UNION SELECT s1.src, s2.dst FROM s s1 JOIN s s2 ON s1.dst = s2.src "
        "UNION SELECT s1.src, s3.dst FROM s s1 JOIN s s2 ON s1.dst = s2.src "
        "JOIN s s3 ON s2.dst = s3.src) "
        "SELECT DISTINCT r.a, c.dst FROM r JOIN edges c "
        "ON c.src = r.b AND c.rel = 'CONNECTED_TO'",
        False,
    ),
    (
        "optional",
        "MATCH (p:Process)-[:CONNECTED_TO]->(ip:Ip) "
        "OPTIONAL MATCH (p)-[:CREATED_FILE]->(f:File) RETURN p, ip, count(f) AS n_files",
        "SELECT c.src, c.dst, COUNT(f.dst) FROM edges c LEFT JOIN edges f "
        "ON f.src = c.src AND f.rel = 'CREATED_FILE' "
        "WHERE c.rel = 'CONNECTED_TO' GROUP BY c.src, c.dst",
        False,
    ),
    (
        "exists",
        "MATCH (p:Process) WHERE EXISTS { (p)-[:SET_REG_VALUE]->(r:RegistryValue) } RETURN p",
        "SELECT key FROM nodes WHERE label = 'Process' AND key IN "
        "(SELECT src FROM edges WHERE rel = 'SET_REG_VALUE')",
        False,
    ),
    (
        "aggregate",
        "MATCH (a:Process)-[:SPAWNS]->(b:Process) RETURN a, count(b) AS n "
        "ORDER BY n DESC, a LIMIT 10",
        "SELECT src, COUNT(*) AS n FROM edges WHERE rel = 'SPAWNS' "
        "GROUP BY src ORDER BY n DESC, src LIMIT 10",
        True,
    ),
]


def graph_sets(nodes: dict[str, set], edges: dict[str, set]) -> tuple[set, set]:
    """The oracle's graph as (label, key) and (rel, src, dst) sets."""
    return ({(lbl, k) for lbl, ks in nodes.items() for k in ks},
            {(rel, s, d) for rel, es in edges.items() for s, d in es})


def graph_gate(want_n: set, want_e: set,
               got_nodes: list[tuple], got_edges: list[tuple]) -> str | None:
    """Engine (label, key) rows and (rel, src, dst) rows against the
    oracle's sets; duplicates are an error too (MERGE dedups)."""
    if len(set(got_nodes)) != len(got_nodes) or len(set(got_edges)) != len(got_edges):
        return "duplicate node or edge rows"
    if set(got_nodes) != want_n:
        return f"node sets differ: {len(set(got_nodes) ^ want_n)} rows"
    if set(got_edges) != want_e:
        return f"edge sets differ: {len(set(got_edges) ^ want_e)} rows"
    return None


def rows_gate(want: list[tuple], ordered: bool, got: list[tuple]) -> str | None:
    """Engine rows against the oracle's rows, in order when the query
    orders them."""
    if not ordered:
        want, got = sorted(want), sorted(got)
    if got != want:
        return f"{len(got)} rows, oracle {len(want)}"
    return None


class CypherOracle:
    """DuckDB over the oracle's graph: the expected answer of each query."""

    def __init__(self, nodes: dict[str, set], edges: dict[str, set], process: dict[str, dict]):
        import duckdb
        import pandas as pd

        self.con = duckdb.connect()
        self.con.register("nodes", pd.DataFrame(
            [(lbl, k) for lbl, ks in nodes.items() for k in ks], columns=["label", "key"]))
        self.con.register("edges", pd.DataFrame(
            [(rel, s, d) for rel, es in edges.items() for s, d in es],
            columns=["rel", "src", "dst"]))
        self.con.register("process", pd.DataFrame(
            [(k, p.get("image")) for k, p in process.items()], columns=["key", "image"]))

    def close(self) -> None:
        self.con.close()

    def rows(self, sql: str) -> list[tuple]:
        return [tuple(r) for r in self.con.execute(sql).fetchall()]


def pagerank_oracle(spawns: set[tuple], iterations: int, damping: float = 0.85) -> dict:
    verts = {v for e in spawns for v in e}
    out_deg: dict[str, int] = defaultdict(int)
    for s, _ in spawns:
        out_deg[s] += 1
    rank = dict.fromkeys(verts, 1.0)
    for _ in range(iterations):
        contrib: dict[str, float] = defaultdict(float)
        for s, d in spawns:
            contrib[d] += rank[s] / out_deg[s]
        rank = {v: (1.0 - damping) + damping * contrib.get(v, 0.0) for v in verts}
    return rank


def pagerank_gate(want: dict, got: list[tuple]) -> str | None:
    got_d = dict(got)
    if set(got_d) != set(want) or len(got_d) != len(got):
        return f"{len(got)} ranked vertices, oracle {len(want)}"
    worst = max(abs(got_d[k] - v) / max(abs(v), 1.0) for k, v in want.items())
    if worst > PAGERANK_TOL:
        return f"rank error {worst:.3g} above {PAGERANK_TOL}"
    return None


def bfs_depths(edges: dict[str, set]) -> list[tuple]:
    from tools.corpus_golden_calc import g42_bfs_depths

    return g42_bfs_depths(edges)


def bfs_gate(want: list[tuple], got: list[tuple]) -> str | None:
    """(key, distance) rows against the oracle's depth histogram."""
    hist: dict[int, int] = defaultdict(int)
    for _key, dist in got:
        hist[dist] += 1
    if sorted(hist.items()) != want:
        return "BFS depth histogram differs"
    return None


# dedup operator -> the repository's oracle query for it (the operators
# run with the parameters those queries use)
DEDUP_ORACLES = {
    "exact": "q20_dedup_exact",
    "minhash": "q22_dedup_minhash_lsh",
    "simhash": "q23_dedup_simhash",
}


def dedup_rows(docs_path: str) -> dict[str, list[tuple]]:
    """Expected answer of each dedup operator: the repository's DuckDB
    oracle SQL over the generated documents."""
    import duckdb

    from graphdb_neo4j_spark.workloads import ORACLES

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
        return {op: [tuple(r) for r in con.execute(ORACLES[q]).fetchall()]
                for op, q in DEDUP_ORACLES.items()}
    finally:
        con.close()
