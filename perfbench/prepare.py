"""A workload's inputs and the oracle's expected answers, made from the
seed before Spark starts.

:func:`prepare` writes the input files under the run's work directory
and pickles the expected answers and the input facts to
``expected.pkl`` beside them.  ``run.py`` calls it in a forked child
while Spark starts and takes the child's CPU out of the set-up time, so
neither the generators nor the oracles (DuckDB, pandas, the pure-Python
simulator) are charged to the program's CPU or memory.
"""

from __future__ import annotations

import os
import pickle

import oracles
from gen_docs import write_documents
from gen_traces import generate_corpus, load_corpus

# ingest-bulk: half a detonation batch (300 files, 3.6k spans, ~7.9 KB per
# span, ~27 MB; the full ~55 MB batch makes a run 7 s longer, which the
# benchmark's run budget cannot hold, see README.md) and one live batch
# appended after it
INGEST_CORPUS = {"n_files": 300, "n_spans": 3600, "depth": 6, "span_bytes": 7900}
LIVE_BATCH = {"n_files": 10, "n_spans": 120, "depth": 4, "span_bytes": 4000}
# investigate: a graph of ~2.4k processes (BFS needs depth + 1 rounds),
# and the documents the dedup operators read
INVESTIGATE_CORPUS = {"n_files": 400, "n_spans": 4800, "depth": 5, "span_bytes": 600}
DOCS = {"n_docs": 400, "dup_share": 0.3}
PAGERANK_ITERATIONS = 10


def _mb(paths: list[str]) -> float:
    return sum(os.path.getsize(p) for p in paths) / 2**20


def _write_graph(out: str, nodes: dict, edges: dict, props: dict) -> None:
    """The oracle's graph in the engine's on-disk layout
    (``PropertyGraph.save``): nodes partitioned by label, edges by rel,
    Process properties beside them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    node_rows = [(lbl, k) for lbl, ks in sorted(nodes.items()) for k in sorted(ks)]
    pq.write_to_dataset(
        pa.table({"key": [k for _, k in node_rows], "label": [lbl for lbl, _ in node_rows]}),
        os.path.join(out, "nodes"), partition_cols=["label"])
    edge_rows = sorted(props["edge"].items())
    ev = [p.get("event_id") for _, p in edge_rows]
    pq.write_to_dataset(
        pa.table({
            "src": [s for (_, s, _), _ in edge_rows],
            "dst": [d for (_, _, d), _ in edge_rows],
            "event_id": pa.array([None if e is None else int(e) for e in ev], pa.int64()),
            "rel": [r for (r, _, _), _ in edge_rows],
        }),
        os.path.join(out, "edges"), partition_cols=["rel"])
    procs = sorted(props["process"].items())
    pq.write_table(pa.table({
        "key": [k for k, _ in procs],
        **{c: pa.array([p.get(c) for _, p in procs], pa.string())
           for c in ("image", "command_line", "process_guid", "parent_process_guid")},
    }), os.path.join(out, "process.parquet"))


def _ingest(work: str, seed: int) -> dict:
    from tests.oracle_sim import simulate

    corpus = generate_corpus(os.path.join(work, "corpus"), seed, **INGEST_CORPUS)
    # the live batch lands in the streaming source's directory; its
    # seed differs from the corpus's so its trace ids do not collide
    live = generate_corpus(os.path.join(work, "live"), seed + 1_000_003, prefix="live",
                           **LIVE_BATCH)
    return {
        "facts": {"corpus_files": len(corpus), "corpus_spans": INGEST_CORPUS["n_spans"],
                  "corpus_mb": _mb(corpus), "live_files": len(live),
                  "live_spans": LIVE_BATCH["n_spans"]},
        "graph": oracles.graph_sets(*simulate(*load_corpus(corpus))),
        "live": oracles.graph_sets(*simulate(*load_corpus(live))),
    }


def _investigate(work: str, seed: int) -> dict:
    from tests.oracle_sim import simulate_full

    paths = generate_corpus(os.path.join(work, "corpus"), seed, **INVESTIGATE_CORPUS)
    nodes, edges, props = simulate_full(*load_corpus(paths))
    _write_graph(os.path.join(work, "graph"), nodes, edges, props)
    docs = os.path.join(work, "documents.parquet")
    write_documents(docs, seed, **DOCS)
    sql = oracles.CypherOracle(nodes, edges, props["process"])
    try:
        cypher = {name: sql.rows(oracle_sql) for name, _, oracle_sql, _ in oracles.QUERIES}
    finally:
        sql.close()
    spawns = edges.get("SPAWNS", set())
    depths = oracles.bfs_depths(edges)
    return {
        "facts": {"graph_nodes": sum(map(len, nodes.values())),
                  "graph_edges": sum(map(len, edges.values())),
                  "processes": len(nodes.get("Process", ())), "spawns": len(spawns),
                  "bfs_rounds": max(d for d, _ in depths) + 1, "docs": DOCS["n_docs"]},
        "cypher": cypher,
        "pagerank": oracles.pagerank_oracle(spawns, PAGERANK_ITERATIONS),
        "bfs": depths,
        "dedup": oracles.dedup_rows(docs),
    }


PREPARE = {"ingest-bulk": _ingest, "investigate": _investigate}


def expected_path(work: str) -> str:
    return os.path.join(work, "expected.pkl")


def prepare(workload: str, seed: int, work: str) -> None:
    os.makedirs(work, exist_ok=True)
    out = PREPARE[workload](work, seed)
    with open(expected_path(work), "wb") as fh:
        pickle.dump(out, fh)


def load(work: str) -> dict:
    with open(expected_path(work), "rb") as fh:
        return pickle.load(fh)
