"""The benchmark's workloads: closed loops with one client that waits for
each answer, checked untimed against the oracle's expected answers
after every operation.

``ingest-bulk`` is the reference's whole job, run as a batch job runs
it: a fresh process builds the graph tables from a JSON glob, then the
first live batch of trace files is appended through the streaming
ingest and the log compacted.  Both operations are the session's first
of their kind, so they include the JVM's code generation and JIT
compilation, as they do for a user's batch job; the workload makes one
pass.  ``investigate`` is an analyst on a graph that already exists: a
Cypher read mix, PageRank, BFS, and the dedup operators over a
documents table.  Its set-up runs one untimed warm-up pass, so the
timed passes measure the steady cost; it repeats passes until
``--seconds`` have passed.
Each workload bypasses the layers the other exercises, so a change to
one layer should move one workload and leave the other alone.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import oracles
from box import settle
from prepare import PAGERANK_ITERATIONS


@dataclass
class Op:
    name: str
    kind: str  # the end-to-end family the latency belongs to
    seconds: float
    error: str | None
    work: int  # units of work the operation completed
    cpu_s: float = 0.0
    pass_no: int = 0


@dataclass
class Run:
    spark: object
    tracer: object
    work_dir: str
    seed: int
    seconds: float
    expected: dict = field(default_factory=dict)
    ops: list[Op] = field(default_factory=list)
    facts: dict = field(default_factory=dict)
    cpu_start: float = 0.0  # CPU of the process tree when the session started
    setup_end: float = 0.0
    setup_cpu_s: float = 0.0
    passes: int = 0

    def end_setup(self) -> None:
        """Mark the first timed operation once the set-up's background
        work (JIT compilation, garbage collection) has ended: set-up took
        the CPU the process tree used since the session started."""
        self.setup_cpu_s = settle() - self.cpu_start
        self.setup_end = time.perf_counter()

    def timed(self) -> bool:
        """True while the closed loop should start another pass: at least
        one, then until ``seconds`` have passed since set-up ended."""
        if self.passes and time.perf_counter() - self.setup_end >= self.seconds:
            return False
        self.passes += 1
        return True

    def record(self, name: str, kind: str, seconds: float, cpu_s: float, gate,
               work: int = 1) -> None:
        try:
            err = gate()
        except Exception as exc:  # a gate that cannot judge the answer fails it
            err = f"gate raised {type(exc).__name__}: {exc}"
        self.ops.append(Op(name, kind, seconds, err, work, cpu_s, self.passes))

    def fail(self, name: str, kind: str, exc: Exception, work: int = 1) -> None:
        """An operation that raised: counted as failed, the loop goes on."""
        self.ops.append(Op(name, kind, 0.0, f"raised {type(exc).__name__}: {exc}", work,
                           0.0, self.passes))


def _attempt(run: Run, name: str, kind: str, layer: str, fn, gate, work: int = 1):
    """Time ``fn`` in a span, then gate its result untimed.  An operation
    that raises counts as failed."""
    try:
        result, sp = run.tracer.call(name, layer, fn)
    except Exception as exc:
        run.fail(name, kind, exc, work)
        return None
    run.record(name, kind, sp.seconds, sp.cpu_s, lambda: gate(result), work)
    return result


def _collect_graph(nodes, edges):
    """Both tables collected in one action: (label, key) node rows and
    (rel, src, dst) edge rows."""
    from pyspark.sql import functions as F

    rows = nodes.select(F.lit(None).cast("string").alias("dst"), "label", "key").unionByName(
        edges.select("dst", F.col("rel").alias("label"), F.col("src").alias("key"))).collect()
    return ([(r.label, r.key) for r in rows if r.dst is None],
            [(r.label, r.key, r.dst) for r in rows if r.dst is not None])


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files) / 2**20


# -- ingest-bulk ------------------------------------------------------------

def ingest_bulk(run: Run) -> None:
    from graphdb_neo4j_spark.operators.ingest import build_graph, stage_corpus

    exp = run.expected
    run.facts.update(exp["facts"])
    pattern = os.path.join(run.work_dir, "corpus", "*.json")
    n_spans = exp["facts"]["corpus_spans"]
    want_n, want_e = exp["graph"]
    run.facts["nodes"], run.facts["edges"] = len(want_n), len(want_e)
    run.end_setup()
    run.timed()  # one pass: a batch job builds once per process
    if not run.tracer.enabled:
        _attempt(run, "build", "build", "operators.ingest",
                 lambda: _collect_graph(*_tables(build_graph(run.spark, pattern))),
                 lambda t: oracles.graph_gate(want_n, want_e, *t), n_spans)
    else:
        # traced: the same work split at the public boundary between the
        # JSON reader (sources + functions.etl) and the graph build
        stage_dir = os.path.join(run.work_dir, "stage")
        try:
            _, sp_stage = run.tracer.call(
                "sources.stage", "sources", lambda: stage_corpus(run.spark, pattern, stage_dir))
            tables, sp_build = run.tracer.call(
                "ingest.build_staged", "operators.ingest",
                lambda: _collect_graph(*_tables(
                    build_graph(run.spark, pattern, stage_dir=stage_dir))))
        except Exception as exc:
            run.fail("build", "build", exc, n_spans)
        else:
            run.record("build", "build", sp_stage.seconds + sp_build.seconds,
                       sp_stage.cpu_s + sp_build.cpu_s,
                       lambda: oracles.graph_gate(want_n, want_e, *tables), n_spans)
    _append(run)


def _tables(g):
    return g.nodes(), g.edges


def _append(run: Run) -> None:
    """The live batch already sits in the streaming source's directory:
    one ``availableNow`` trigger ingests it into the log, then the log
    is compacted and the refreshed graph collected."""
    from graphdb_neo4j_spark.streaming.ingest import compact_graph_log, stream_graph_ingest

    live = os.path.join(run.work_dir, "live")
    log = os.path.join(run.work_dir, "log")
    ckpt = os.path.join(run.work_dir, "checkpoint")
    want_n, want_e = run.expected["live"]
    n_spans = run.expected["facts"]["live_spans"]

    def batch():
        stream_graph_ingest(run.spark, live, log, ckpt).awaitTermination()

    def compact():
        t = compact_graph_log(run.spark, log)
        return _collect_graph(t["nodes"], t["edges"])

    try:
        _, sp_b = run.tracer.call("streaming.batch", "streaming.ingest", batch)
        tables, sp_c = run.tracer.call("streaming.compact", "streaming.ingest", compact)
    except Exception as exc:
        run.fail("append", "append", exc, n_spans)
        return
    run.record("append", "append", sp_b.seconds + sp_c.seconds, sp_b.cpu_s + sp_c.cpu_s,
               lambda: oracles.graph_gate(want_n, want_e, *tables), n_spans)
    run.facts["log_mb"] = _dir_mb(log)


# -- investigate ------------------------------------------------------------

def investigate(run: Run) -> None:
    from pyspark.sql import functions as F

    from graphdb_neo4j_spark.operators import dedup, traversal
    from graphdb_neo4j_spark.operators.cypher import cypher
    from graphdb_neo4j_spark.operators.graph import GraphQuery

    exp = run.expected
    run.facts.update(exp["facts"])
    spark = run.spark
    graph = os.path.join(run.work_dir, "graph")
    gq = GraphQuery.load(spark, graph)
    cy_props = {"Process": spark.read.parquet(os.path.join(graph, "process.parquet"))}
    spawns = gq.edges.filter(F.col("rel") == "SPAWNS").select("src", "dst")
    docs = spark.read.parquet(os.path.join(run.work_dir, "documents.parquet"))

    def bfs():
        roots = spawns.select(F.col("src").alias("key")).join(
            spawns.select(F.col("dst").alias("key")), "key", "left_anti").distinct()
        return [tuple(r) for r in traversal.bfs(spawns, roots).collect()]

    # (name, kind, layer, call, gate, work) — a Cypher call is split into
    # compile (``cypher`` builds the plan) and execute (collect)
    ops = [
        (name, "query", "operators.cypher", (lambda text=text: cypher(gq, text, cy_props)),
         (lambda rows, name=name, ordered=ordered:
          oracles.rows_gate(exp["cypher"][name], ordered, rows)), 1)
        for name, text, _, ordered in oracles.QUERIES
    ] + [
        ("pagerank", "kernel", "operators.traversal",
         lambda: [tuple(r) for r in traversal.pagerank(
             spawns, iterations=PAGERANK_ITERATIONS).collect()],
         lambda got: oracles.pagerank_gate(exp["pagerank"], got), 1),
        ("bfs", "kernel", "operators.traversal", bfs,
         lambda got: oracles.bfs_gate(exp["bfs"], got), 1),
        ("exact", "dedup", "operators.dedup",
         lambda: [tuple(r) for r in dedup.exact_dedup(docs).collect()],
         lambda got: oracles.rows_gate(exp["dedup"]["exact"], False, got), exp["facts"]["docs"]),
        ("minhash", "dedup", "operators.dedup",
         lambda: [tuple(r) for r in dedup.minhash_lsh_pairs(
             docs, n=3, bands=4, rows_per_band=4).collect()],
         lambda got: oracles.rows_gate(exp["dedup"]["minhash"], False, got),
         exp["facts"]["docs"]),
        ("simhash", "dedup", "operators.dedup",
         lambda: [tuple(r) for r in dedup.simhash_dedup(docs).collect()],
         lambda got: oracles.rows_gate(exp["dedup"]["simhash"], False, got),
         exp["facts"]["docs"]),
    ]
    _warm_up(run, ops)
    run.end_setup()
    while run.timed():
        for name, kind, layer, fn, gate, work in ops:
            if kind == "query":
                _query(run, name, fn, gate)
                continue
            got = _attempt(run, name, kind, layer, fn, gate, work)
            if name == "minhash" and got is not None:
                run.facts["candidate_pairs"] = len(got)


def _warm_up(run: Run, ops: list[tuple]) -> None:
    """One untimed call of every operation, so the timed passes measure
    the steady cost and not the first calls' code generation and JIT
    compilation.  The three operation families warm up in parallel
    threads (Spark runs their jobs side by side), which shortens the
    set-up's wall time; its CPU time is what ``setup_s`` reports."""
    from concurrent.futures import ThreadPoolExecutor

    def family(kind):
        errors = []
        for name, k, _, fn, _, work in ops:
            if k != kind:
                continue
            try:
                out = fn()
                if k == "query":
                    out.collect()
            except Exception as exc:
                errors.append((name, k, exc, work))
        return errors

    kinds = list(dict.fromkeys(op[1] for op in ops))
    with ThreadPoolExecutor(len(kinds)) as pool:
        for errors in pool.map(family, kinds):
            for name, kind, exc, work in errors:
                run.fail(f"warmup.{name}", kind, exc, work)


def _query(run: Run, name: str, compile_fn, gate) -> None:
    """One Cypher call: compile and execute, timed together as the
    analyst's wait."""
    try:
        df, sp_c = run.tracer.call(f"cypher.compile.{name}", "operators.cypher", compile_fn)
        rows, sp_e = run.tracer.call(f"cypher.exec.{name}", "operators.cypher",
                                     lambda: [tuple(r) for r in df.collect()])
    except Exception as exc:
        run.fail(name, "query", exc)
        return
    run.record(name, "query", sp_c.seconds + sp_e.seconds, sp_c.cpu_s + sp_e.cpu_s,
               lambda: gate(rows))
    run.facts.setdefault("rows_out", []).append(len(rows))


WORKLOADS = {"ingest-bulk": ingest_bulk, "investigate": investigate}
