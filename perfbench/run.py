"""Provenance-graph benchmark: one closed-loop workload per call.

    python3 perfbench/run.py --workload ingest-bulk --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository.  The inputs and the
oracle's expected answers are made from ``--seed`` under
``.perfbench_work/`` (deleted at exit), by a forked child that runs
while Spark starts; the run record (box state, every operation, the spans of a traced run)
is written to ``.perfbench_out/``.  The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics untraced (``--trace 0``), the
per-layer metrics traced (``--trace 1``).  Exits 2 without a result
when the package under test is not importable.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from box import box_state, cpu_sample, descendants, peak_rss_mb, tree_cpu_s  # noqa: E402
from spans import Tracer, self_times  # noqa: E402
from workloads import WORKLOADS, Run  # noqa: E402

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "main_cpu_s": "s",
    "pass_cpu_s": "s",
}
KERNELS = ("pagerank", "bfs")
DEDUP_OPS = ("exact", "minhash", "simhash")
MAIN = {"ingest-bulk": "build", "investigate": "query"}
PER_LAYER = {
    "session.start_s": "s",
    "sources.stage_s": "s",
    "sources.json_mb_per_s": "MB/s",
    "ingest.build_staged_s": "s",
    **{f"ingest.{k}": "count" for k in ("jobs", "stages", "tasks")},
    "ingest.exec_ms": "ms",
    "ingest.shuffle_write_mb": "MB",
    "ingest.spill_mb": "MB",
    **{f"ingest.{k}": "count" for k in ("spans", "nodes", "edges")},
    "cypher.compile_ms": "ms",
    "cypher.exec_ms": "ms",
    "cypher.jobs": "count",
    "cypher.stages": "count",
    "cypher.shuffle_mb": "MB",
    "cypher.rows_out": "count",
    "streaming.batch_s": "s",
    "streaming.compact_s": "s",
    "streaming.jobs": "count",
    "streaming.log_mb_written": "MB",
    **{m: u for k in KERNELS for m, u in (
        (f"traversal.{k}.jobs", "count"), (f"traversal.{k}.stages", "count"),
        (f"traversal.{k}.exec_ms", "ms"), (f"traversal.{k}.shuffle_mb", "MB"))},
    "traversal.bfs.rounds": "count",
    "traversal.bfs.jobs_per_round": "count",
    **{f"dedup.{k}_s": "s" for k in DEDUP_OPS},
    "dedup.jobs": "count",
    "dedup.exec_ms": "ms",
    "dedup.candidate_pairs": "count",
    "python.worker_boot_ms": "ms",
    "python.worker_init_ms": "ms",
    "python.worker_run_ms": "ms",
    "python.mb_to_python": "MB",
    "python.mb_from_python": "MB",
    "order.rdds_left": "count",
    "order.cached_mb": "MB",
    "spark.cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "trace.overhead_pct": "%",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=list(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _start_spark(work: str, traced: bool):
    from graphdb_neo4j_spark import get_spark

    tmp = os.environ["TMPDIR"]
    # both JVMs (the launcher and Spark's own); no hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
    }
    if traced:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    spark = get_spark("perfbench", **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every process this
    run started to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    while descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass  # ended between the listing and the kill


def _pass_cpu(ok) -> list[float]:
    """CPU seconds of the given operations, summed per pass."""
    by_pass: dict[int, float] = {}
    for o in ok:
        by_pass[o.pass_no] = by_pass.get(o.pass_no, 0.0) + o.cpu_s
    return list(by_pass.values())


def end_to_end(run, workload: str) -> dict:
    """The result-line metrics, medians over the passes.  Times are CPU
    seconds of the process tree: on a shared VM wall time swings with
    the time the hypervisor steals, CPU time far less.  ``main_cpu_s``
    sums the workload's main operations in a pass (the build; the six
    queries), because single queries spread more from run to run than
    their sum.  Wall times and memory are in ``wall_metrics``."""
    ok = [o for o in run.ops if o.error is None and o.pass_no]
    main = _pass_cpu([o for o in ok if o.kind == MAIN[workload]])
    passes = _pass_cpu(ok)
    return {
        "setup_s": run.setup_cpu_s,
        "main_cpu_s": statistics.median(main) if main else 0.0,
        "pass_cpu_s": statistics.median(passes) if passes else 0.0,
    }


def wall_metrics(run, workload: str, rss_mb: float) -> dict:
    """Wall-clock figures, peak memory and the error rate (printed and
    recorded, not part of the result line)."""
    ok = [o for o in run.ops if o.error is None and o.pass_no]
    out = {"error_rate": (len(run.ops) - len(ok)) / max(len(run.ops), 1),
           "peak_rss_mb": rss_mb, "setup_wall_s": run.setup_end - T0}

    def med(kind=None, name=None):
        xs = [o.seconds for o in ok if o.kind == kind or o.name == name]
        return statistics.median(xs) if xs else 0.0

    if workload == "ingest-bulk":
        builds = [o for o in ok if o.kind == "build"]
        if builds:
            out["ingest_spans_per_s"] = sum(o.work for o in builds) / sum(o.seconds for o in builds)
        out["append_p50_s"] = med(kind="append")
    else:
        # no tail percentile: a pass has 6 queries, and a percentile
        # needs at least ten samples beyond it
        out["query_p50_ms"] = 1000 * med(kind="query")
        for k in KERNELS:
            out[f"{k}_s"] = med(name=k)
        dd = [o for o in ok if o.kind == "dedup"]
        if dd:
            out["docs_per_s"] = sum(o.work for o in dd) / sum(o.seconds for o in dd)
    return out


def per_layer(run, tracer, session_s: float) -> dict:
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.start_s"] = session_s
    top = [s for s in tracer.spans if s.parent is not None and s.stats]  # the operations
    passes = max(run.passes, 1)

    def add(prefix, spans, keys):
        for src, dst in keys:
            m[f"{prefix}.{dst}"] += sum(s.stats[src] for s in spans) / passes

    def secs(spans):
        return sum(s.seconds for s in spans) / passes

    stage = [s for s in top if s.name == "sources.stage"]
    build = [s for s in top if s.name == "ingest.build_staged"]
    if stage:
        m["sources.stage_s"] = secs(stage)
        m["sources.json_mb_per_s"] = run.facts["corpus_mb"] * len(stage) / sum(s.seconds for s in stage)
    if build:
        m["ingest.build_staged_s"] = secs(build)
        add("ingest", build, [("jobs", "jobs"), ("stages", "stages"), ("tasks", "tasks"),
                              ("exec_ms", "exec_ms"), ("shuffle_write_mb", "shuffle_write_mb"),
                              ("spill_mb", "spill_mb")])
        m["ingest.spans"] = run.facts["corpus_spans"]
        m["ingest.nodes"], m["ingest.edges"] = run.facts["nodes"], run.facts["edges"]
    sb = [s for s in top if s.name == "streaming.batch"]
    sc = [s for s in top if s.name == "streaming.compact"]
    if sb:
        m["streaming.batch_s"] = secs(sb)
        m["streaming.compact_s"] = secs(sc)
        add("streaming", sb + sc, [("jobs", "jobs")])
        m["streaming.log_mb_written"] = run.facts.get("log_mb", 0.0)
    comp = [s for s in top if s.name.startswith("cypher.compile.")]
    exe = [s for s in top if s.name.startswith("cypher.exec.")]
    if exe:
        m["cypher.compile_ms"] = 1000 * secs(comp)
        add("cypher", comp + exe, [("exec_ms", "exec_ms"), ("jobs", "jobs"), ("stages", "stages"),
                                   ("shuffle_read_mb", "shuffle_mb")])
        m["cypher.rows_out"] = sum(run.facts["rows_out"]) / passes
    for k in KERNELS:
        ks = [s for s in top if s.name == k]
        add(f"traversal.{k}", ks, [("jobs", "jobs"), ("stages", "stages"),
                                   ("exec_ms", "exec_ms"), ("shuffle_read_mb", "shuffle_mb")])
    if "bfs_rounds" in run.facts and m["traversal.bfs.jobs"]:
        m["traversal.bfs.rounds"] = run.facts["bfs_rounds"]
        m["traversal.bfs.jobs_per_round"] = m["traversal.bfs.jobs"] / run.facts["bfs_rounds"]
    dd = [s for s in top if s.layer == "operators.dedup"]
    if dd:
        for k in DEDUP_OPS:
            m[f"dedup.{k}_s"] = secs([s for s in dd if s.name == k])
        add("dedup", dd, [("jobs", "jobs"), ("exec_ms", "exec_ms")])
        m["dedup.candidate_pairs"] = run.facts.get("candidate_pairs", 0)
        add("python", dd, [("py_boot_ms", "worker_boot_ms"), ("py_init_ms", "worker_init_ms"),
                           ("py_run_ms", "worker_run_ms"), ("py_mb_sent", "mb_to_python"),
                           ("py_mb_received", "mb_from_python")])
    if top:
        last = max(top, key=lambda s: s.end)
        m["order.rdds_left"] = last.stats["rdds_left"]
        m["order.cached_mb"] = last.stats["cached_mb"]
        m["spark.cpu_ms"] = sum(s.stats["cpu_ms"] for s in top) / passes
        m["spark.gc_ms"] = sum(s.stats["gc_ms"] for s in top) / passes
        busy = sum(s.seconds for s in top)
        m["trace.overhead_pct"] = 100 * tracer.overhead_s / busy
    return m


def _start_prepare(workload: str, seed: int, work: str) -> int:
    """Fork a child that makes the inputs and the expected answers while
    Spark starts; return its pid."""
    from prepare import prepare

    pid = os.fork()
    if pid == 0:  # the child: never returns
        code = 1
        try:
            prepare(workload, seed, work)
            code = 0
        except BaseException:
            import traceback

            traceback.print_exc()
        finally:
            os._exit(code)
    return pid


def _join_prepare(pid: int) -> float:
    """Wait for the child; return the CPU seconds it used, which are not
    the program's."""
    _, status, usage = os.wait4(pid, 0)
    if os.waitstatus_to_exitcode(status) != 0:
        raise RuntimeError("input generation failed")
    return usage.ru_utime + usage.ru_stime


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import graphdb_neo4j_spark  # noqa: F401
        import tests.oracle_sim  # noqa: F401
        import tools.corpus_golden_calc  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: run from a checkout of the repository ({exc})", file=sys.stderr)
        return 2
    import prepare

    load_start = [round(x, 2) for x in os.getloadavg()]
    cpu_start = cpu_sample()
    cpus = os.cpu_count() or 1
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(root, ".perfbench_work", run_id)
    tracer = Tracer(run_id, bool(args.trace))
    spark = None
    try:
        # everything the run, Spark and the workers write stays inside
        # the work dir
        os.environ["TMPDIR"] = os.path.join(work, "tmp")
        os.makedirs(os.environ["TMPDIR"])
        cpu0 = tree_cpu_s()
        child = _start_prepare(args.workload, args.seed, work)
        t = time.perf_counter()
        spark = _start_spark(work, bool(args.trace))
        session_s = time.perf_counter() - t
        # the child's CPU is taken out of the set-up time: cpu0 + child's
        cpu0 += _join_prepare(child)
        tracer.attach(spark)
        run = Run(spark, tracer, work, args.seed, args.seconds, prepare.load(work),
                  cpu_start=cpu0)
        with tracer.span("run", "benchmark"):
            WORKLOADS[args.workload](run)
        box = box_state(cpus, load_start, cpu_start, spark)
        rss = peak_rss_mb()
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for o in run.ops if o.error is not None)
    named = wall_metrics(run, args.workload, rss)
    if args.trace:
        metrics = per_layer(run, tracer, session_s)
        units = PER_LAYER
    else:
        metrics = end_to_end(run, args.workload)
        units = END_TO_END
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "box": box, "facts": run.facts, "metrics": metrics,
        "wall_metrics": named,
        "samples": {k: sum(1 for o in run.ops if o.kind == k and o.pass_no)
                    for k in {o.kind for o in run.ops}} | {"passes": run.passes},
        "ops": [o.__dict__ for o in run.ops],
    }
    if args.trace:
        st = self_times(tracer.spans)
        record["spans"] = [
            {"id": s.span_id, "name": s.name, "layer": s.layer, "parent": s.parent,
             "run_id": s.run_id, "start": s.start - T0, "end": s.end - T0,
             "self_s": st[s.span_id], "stats": s.stats}
            for s in tracer.spans
        ]
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    print(f"# {args.workload} seed={args.seed} trace={args.trace} box={json.dumps(box)}")
    print(f"# samples {record['samples']}")
    for o in run.ops:
        if o.error:
            print(f"# FAILED {o.name}: {o.error}")
    for name, value in metrics.items():
        print(f"{name:32s} {value:14.4f} {units[name]}")
    for name, value in named.items():
        print(f"{name:32s} {value:14.4f} (not in the result line)")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
