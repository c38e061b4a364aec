"""The benchmark's own tests (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

import oracles
import run as bench
from gen_docs import documents, write_documents
from gen_traces import generate_corpus, load_corpus, spans_per_file
from spans import Span, self_times, sql_metric_value
from workloads import Op, Run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)  # tests.oracle_sim and tools.corpus_golden_calc
SMALL = {"n_files": 12, "n_spans": 150, "depth": 4, "span_bytes": 500}


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def test_generator_is_deterministic_per_seed(tmp_path):
    a = generate_corpus(str(tmp_path / "a"), 7, **SMALL)
    b = generate_corpus(str(tmp_path / "b"), 7, **SMALL)
    c = generate_corpus(str(tmp_path / "c"), 8, **SMALL)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_documents_are_deterministic_per_seed():
    a, b, c = documents(7, 200, 0.3), documents(7, 200, 0.3), documents(8, 200, 0.3)
    assert a == b and a != c
    texts = [d["text"] for d in a]
    assert len(set(texts)) < len(texts)  # some exact duplicates
    assert [d["doc_id"] for d in a] == list(range(200))


def test_generator_shape(tmp_path):
    paths = generate_corpus(str(tmp_path), 3, 20, 2000, 5, 300)
    assert len(paths) == 20
    with open(paths[0], "rb") as fh:
        assert fh.read(3) == b"\xef\xbb\xbf"  # UTF-8 BOM
    traces, _ = load_corpus(paths)
    assert sum(len(t["spans"]) for t in traces) == 2000
    tags = [{t["key"]: t["value"] for t in s["tags"]} for d in traces for s in d["spans"]]
    assert any(t.get("sysmon.ppid") == 0 for t in tags)
    assert any(t.get("ID") is None for t in tags)  # tag-less process:<PID> roots
    assert any(t.get("DestinationHostname") == "-" for t in tags)


@pytest.mark.parametrize("n_files,n_spans", [(1, 1), (5, 2000), (600, 7000)])
def test_spans_per_file_sums_exactly(n_files, n_spans):
    import random

    counts = spans_per_file(random.Random(1), n_files, n_spans)
    assert sum(counts) == n_spans and all(1 <= c <= 450 for c in counts)


def test_depth_sets_bfs_rounds(tmp_path):
    from tests.oracle_sim import simulate
    from tools.corpus_golden_calc import g42_bfs_depths

    for depth in (3, 7):
        paths = generate_corpus(str(tmp_path / str(depth)), 5, 10, 400, depth, 300)
        _nodes, edges = simulate(*load_corpus(paths))
        assert max(d for d, _ in g42_bfs_depths(edges)) == depth


def test_self_time_subtracts_covered_children():
    spans = [
        Span(1, "root", "x", None, "r", 0.0, 10.0),
        Span(2, "a", "x", 1, "r", 1.0, 4.0),
        Span(3, "b", "x", 1, "r", 3.0, 6.0),   # overlaps a: counted once
        Span(4, "c", "x", 1, "r", 9.0, 12.0),  # sticks out of root: clipped
        Span(5, "d", "x", 2, "r", 2.0, 3.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0)
    assert st[5] == pytest.approx(1.0)


def _fake_run(workload):
    r = Run(None, None, "", 1, 1.0, passes=1, setup_cpu_s=20.0)
    if workload == "ingest-bulk":
        r.ops = [Op("build", "build", 2.0, None, 100, 3.0, 1),
                 Op("append", "append", 1.0, None, 10, 1.5, 1)]
        r.facts.update(corpus_mb=1.0, corpus_spans=100, nodes=10, edges=20, log_mb=0.1)
    else:
        r.ops = [Op("q", "query", 0.5, None, 1, 0.7, 1), Op("bfs", "kernel", 3.0, None, 1, 4.0, 1),
                 Op("exact", "dedup", 0.2, None, 50, 0.3, 1)]
        r.facts.update(rows_out=[3], bfs_rounds=4, candidate_pairs=5)
    return r


def test_output_schema_matches_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(bench.WORKLOADS)

    class _Tracer:
        spans, overhead_s = [], 0.0

    for wl in bench.WORKLOADS:
        run = _fake_run(wl)
        e2e = bench.end_to_end(run, wl)
        assert set(e2e) == set(bench.END_TO_END) and all(e2e.values())
        assert set(bench.per_layer(run, _Tracer(), 1.0)) == set(bench.PER_LAYER)


def test_main_ops_and_pass_are_different_metrics():
    run = _fake_run("ingest-bulk")
    e2e = bench.end_to_end(run, "ingest-bulk")
    assert e2e["main_cpu_s"] == pytest.approx(3.0)  # the build alone
    assert e2e["pass_cpu_s"] == pytest.approx(4.5)  # build + append
    run = _fake_run("investigate")
    run.ops.append(Op("q2", "query", 0.5, None, 1, 0.9, 1))
    e2e = bench.end_to_end(run, "investigate")
    assert e2e["main_cpu_s"] == pytest.approx(1.6)  # the queries of the pass
    assert e2e["pass_cpu_s"] == pytest.approx(5.9)


def test_sql_metric_values():
    assert sql_metric_value("1.5 KiB") == pytest.approx(1.5 / 1024)
    assert sql_metric_value("0 ms") == 0.0
    assert sql_metric_value(
        "total (min, med, max (stageId: taskId))\n1.3 m (2.2 s, 2.5 s, 2.9 s (stage 9.0: task 58))"
    ) == pytest.approx(78000.0)
    assert sql_metric_value("total (min, med, max)\n148.4 KiB (3.5 KiB, 4.7 KiB)") == \
        pytest.approx(148.4 / 1024)


def _graph():
    nodes = {"Process": {"a", "b", "c"}, "File": {"f"}, "Ip": {"i"}}
    edges = {"SPAWNS": {("a", "b"), ("b", "c")}, "CREATED_FILE": {("c", "f")},
             "CONNECTED_TO": {("c", "i")}}
    return nodes, edges


def test_graph_gate_catches_a_dropped_edge():
    want_n, want_e = oracles.graph_sets(*_graph())
    got_n, got_e = sorted(want_n), sorted(want_e)
    assert oracles.graph_gate(want_n, want_e, got_n, got_e) is None
    assert oracles.graph_gate(want_n, want_e, got_n, got_e[1:]) is not None
    assert oracles.graph_gate(want_n, want_e, got_n, got_e + got_e[:1]) is not None


def test_cypher_gate_catches_a_dropped_row():
    nodes, edges = _graph()
    sql = oracles.CypherOracle(nodes, edges, {k: {"image": "x"} for k in nodes["Process"]})
    try:
        _, _, oracle_sql, ordered = next(q for q in oracles.QUERIES if q[0] == "motif2")
        want = sql.rows(oracle_sql)
    finally:
        sql.close()
    assert want == [("b", "c", "f")]
    assert oracles.rows_gate(want, ordered, [("b", "c", "f")]) is None
    assert oracles.rows_gate(want, ordered, []) is not None


def test_kernel_gates_catch_corruption():
    _nodes, edges = _graph()
    want = oracles.pagerank_oracle(edges["SPAWNS"], 10)
    ranks = sorted(want.items())
    assert oracles.pagerank_gate(want, ranks) is None
    assert oracles.pagerank_gate(want, ranks[1:]) is not None
    assert oracles.pagerank_gate(want, [(k, v + 1e-6) for k, v in ranks]) is not None
    hist = oracles.bfs_depths(edges)
    dists = [("a", 0), ("b", 1), ("c", 2)]
    assert oracles.bfs_gate(hist, dists) is None
    assert oracles.bfs_gate(hist, dists[:2]) is not None


def test_dedup_gate_catches_a_dropped_pair(tmp_path):
    path = str(tmp_path / "documents.parquet")
    write_documents(path, 3, 120, 0.4)
    want = oracles.dedup_rows(path)
    pairs = want["minhash"]
    assert pairs and want["exact"] and want["simhash"]
    assert oracles.rows_gate(pairs, False, list(reversed(pairs))) is None
    assert oracles.rows_gate(pairs, False, pairs[1:]) is not None
    groups = want["exact"]
    assert oracles.rows_gate(groups, False, groups[:-1]) is not None


def test_exits_nonzero_without_the_package(tmp_path):
    """Outside a checkout the benchmark refuses before starting Spark."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", "investigate", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0 and proc.stdout == ""
