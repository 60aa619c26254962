"""Seeded benchmark for project_cortex_spark.

Usage, from the repository root (or any directory):

    python3 perfbench/run.py --workload serve_mix --seed 1 --seconds 6 --trace 0

Workloads: serve_mix and corpus_batch (see perfbench/NOTES.md).
The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0`` and the per-layer metrics with ``--trace 1``. The line
before it is an informational JSON object with the workload-specific
figures, error rate, host and versions.

Spark runs as ``local[nproc]`` in this process. Everything the run writes
goes to a temporary directory under the repository root, removed at exit;
the traced run also leaves its spans in ``.perfbench_out/``.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# every span the traced run reports, in the order of BENCHMARK.json
SPANS = (
    "dsl.compile_query",
    "operators.search.semantic_search",
    "operators.fts.fts_search",
    "operators.graph.callers",
    "operators.graph.callees",
    "operators.graph.impact",
    "operators.graph.shortest_path",
    "pipeline.change_detection.detect_changes",
    "pipeline.parse.parse_entities",
    "pipeline.parse.call_edges",
    "pipeline.parse.format_entities",
    "pipeline.chunks.assemble_code_chunks",
    "pipeline.embed.embed_chunks",
    "pipeline.sink.apply_changeset",
    "pipeline.sink.cascade_delete",
    "sources.registry.read_parquet",
    "operators.fts.build_fts_index",
    "operators.fts.store_fts_index",
    "operators.fts.load_fts_index",
    "operators.dedup.minhash_near_duplicates",
    "operators.graph.connected_components",
    "operators.graph.pagerank",
    "operators.graph.kcore",
    "operators.graph.communities_lpa",
    "operators.graph.betweenness_centrality",
)
SPAN_FIELDS = (("build_ms", "ms"), ("exec_ms", "ms"), ("self_ms", "ms"), ("jobs", "count"))
# module groups whose share of timed operation wall time the traced run
# reports, to check which layers each workload actually exercises
SHARES = {
    "share.dsl": ("dsl.",),
    "share.operators.search": ("operators.search.",),
    "share.operators.fts": ("operators.fts.",),
    "share.operators.graph.traversal": tuple(
        f"operators.graph.{n}" for n in ("callers", "callees", "impact", "shortest_path")),
    "share.operators.graph.iterative": tuple(
        f"operators.graph.{n}" for n in ("connected_components", "pagerank", "kcore",
                                         "communities_lpa", "betweenness_centrality")),
    "share.operators.dedup": ("operators.dedup.",),
    "share.pipeline": ("pipeline.",),
    "share.sources.registry": ("sources.registry.",),
}
EXTRA = (
    ("operators.dedup.verified_per_candidate", "ratio"),
    ("index.bytes_per_source_byte", "ratio"),
    ("spark.jobs_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("spark.failed_tasks", "count"),
    ("spark.shuffle_write_bytes_per_op", "B"),
    ("spark.spill_bytes", "B"),
    ("trace.overhead_pct", "%"),
    ("trace.layer_share", "ratio"),
)


def per_layer_names() -> list[tuple[str, str]]:
    out = [(f"{s}.{f}", u) for s in SPANS for f, u in SPAN_FIELDS]
    out += [(k, "ratio") for k in SHARES]
    return out + list(EXTRA)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def host_calibration_ms() -> float:
    """Median time of a fixed single-threaded hashing loop: a reading of
    the host's speed at the start of the run, for comparing runs."""
    times = []
    for _ in range(5):
        t0, h = time.perf_counter(), b"x"
        for _ in range(20000):
            h = hashlib.md5(h).digest()
        times.append(time.perf_counter() - t0)
    return 1e3 * statistics.median(times)


def start_spark(tmp: str, traced: bool):
    """A local[nproc] session whose scratch space lives under ``tmp``."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    tempfile.tempdir = tmp
    for sub in ("local", "java", "warehouse", "events"):
        os.makedirs(os.path.join(tmp, sub))
    conf = {
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(tmp, 'java')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.join(tmp, "events"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    from project_cortex_spark.session import get_spark

    return get_spark(app_name="perfbench", master=f"local[{nproc()}]", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("serve_mix", "corpus_batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "project_cortex_spark", "__init__.py")):
        print(f"error: no project_cortex_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a terminated run still stops Spark and removes its temporary directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = tempfile.mkdtemp(prefix=".perfbench-tmp-", dir=ROOT)
    try:
        return run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run(args, tmp: str) -> int:
    import spans as tr
    import workloads as wl

    calib_ms = host_calibration_ms()
    t0 = time.perf_counter()
    spark = start_spark(tmp, traced=bool(args.trace))
    session_s = time.perf_counter() - t0
    java = spark._jvm.java.lang.System.getProperty("java.version")
    sc = spark.sparkContext
    jvm = getattr(sc._gateway, "proc", None)
    tracer = tr.Tracer(sc)
    ctx = wl.Ctx(spark, tracer, tmp, args.seed)
    w = wl.WORKLOADS[args.workload](ctx)
    try:
        setups = w.setup(trace_last=bool(args.trace))
        tracer.phase = "warmup"
        w.warmup()
        # the warm-up's garbage is collected now, not in the timed region
        spark._jvm.java.lang.System.gc()
        gc.collect()
        tracer.phase = "m"
        replay = w.measure(args.seconds)
        untraced = list(w.latencies)
        units = list(w.unit_latencies)
        metrics = {}
        if args.trace:
            # the same operations again, traced, then once more untraced:
            # the per-layer numbers come from the traced pass, and the
            # overhead is its time against the mean of the untraced passes
            # before and after it, which cancels the warming between passes
            tracer.enabled = True
            tracer.phase = "t"
            w.measure(0, replay=replay)
            traced = list(w.latencies)
            tracer.enabled = False
            tracer.phase = "m"
            w.measure(0, replay=replay)
            untraced += w.latencies
            tracer.read_job_counters()
            tracer.finish()
            if args.workload == "corpus_batch":
                w.info["operators.dedup.verified_per_candidate"] = w.verified_per_candidate()
            metrics = layer_metrics(tracer, w, traced, untraced)
        rss = vm_hwm_mb("self") + (vm_hwm_mb(jvm.pid) if jvm else 0.0)
    finally:
        w.close()
        stop_spark(spark)
    if args.trace:
        events = [os.path.join(tmp, "events", f) for f in os.listdir(os.path.join(tmp, "events"))]
        totals = tr.event_log_totals(events[0], "t|") if events else {}
        n_ops = max(len(w.latencies), 1)
        metrics["spark.shuffle_write_bytes_per_op"] = {
            "value": totals.get("shuffle_write_bytes", 0.0) / n_ops, "unit": "B"}
        metrics["spark.spill_bytes"] = {"value": totals.get("spill_bytes", 0.0), "unit": "B"}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        lat = untraced
        metrics = {
            "setup_s": {"value": session_s + statistics.median(setups), "unit": "s"},
            "ops_per_s": {"value": len(lat) / sum(lat), "unit": "1/s"},
            "latency_p50_ms": {"value": 1e3 * statistics.median(units), "unit": "ms"},
        }
    info = {
        "workload": args.workload, "seed": args.seed, "ops": len(untraced),
        "error_rate": ctx.failed / max(ctx.attempted, 1),
        "session_s": session_s, "setup_runs_s": setups, "peak_rss_mb": rss,
        "latencies_ms": [round(1e3 * x, 1) for x in untraced],
        "host_calibration_ms": calib_ms,
        "nproc": nproc(), "pyspark": __import__("pyspark").__version__,
        "java": java, **w.info,
    }
    print(json.dumps({"info": info}))
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0


def layer_metrics(tracer, w, traced: list[float], untraced: list[float]) -> dict:
    """Per-span means over every traced call (the pipeline spans come from
    the traced set-up build); shares and per-operation counts over the
    traced operations only."""
    every = [s for s in tracer.spans if s.group is not None]
    ops = [s for s in tracer.spans if s.group is None and s.phase == "t"]
    layers = [s for s in every if s.phase == "t"]
    op_wall = sum(s.dur for s in ops)
    m: dict[str, dict] = {}
    for name in SPANS:
        xs = [s for s in every if s.name == name]
        n = max(len(xs), 1)
        m[f"{name}.build_ms"] = 1e3 * sum(s.build_s for s in xs) / n
        m[f"{name}.exec_ms"] = 1e3 * sum(s.exec_s for s in xs) / n
        m[f"{name}.self_ms"] = 1e3 * sum(s.self_s for s in xs) / n
        m[f"{name}.jobs"] = sum(s.jobs for s in xs) / n
    for key, prefixes in SHARES.items():
        m[key] = sum(s.dur for s in layers if s.name.startswith(prefixes)) / op_wall
    n_ops = max(len(ops), 1)
    m["spark.jobs_per_op"] = sum(s.jobs for s in layers) / n_ops
    m["spark.tasks_per_op"] = sum(s.tasks for s in layers) / n_ops
    m["spark.failed_tasks"] = sum(s.failed_tasks for s in layers)
    m["trace.overhead_pct"] = 100.0 * (
        statistics.mean(traced) / statistics.mean(untraced) - 1.0)
    m["trace.layer_share"] = sum(s.dur for s in layers) / op_wall
    for key in ("operators.dedup.verified_per_candidate",
                "index.bytes_per_source_byte"):
        m[key] = w.info.get(key, 0.0)
    units = dict(per_layer_names())
    return {k: {"value": v, "unit": units[k]} for k, v in m.items()}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
