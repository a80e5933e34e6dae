"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates (or reuses) the seeded inputs,
sets the engine up on Spark local[nproc], runs the workload's closed loop
for --seconds, checks every output against DuckDB, and prints one JSON
line of run details followed by the result line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics; --trace 1 wraps each layer's entry points with span
recorders and reports the per-layer metrics instead.
"""

import time

_T_PROC = time.perf_counter()

import argparse  # noqa: E402
import datetime  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
from stats import median, percentile, tail_percentile  # noqa: E402

# names and units of the metrics each kind of run prints
SPEC_PATH = os.path.join(HERE, "..", "BENCHMARK.json")
DRIVER_MEMORY = "2g"
WORK_DIR = ".perfbench"
HEAP_LOG = "jvm-heap.log"


def spec() -> dict:
    with open(SPEC_PATH) as f:
        return json.load(f)


def report(entries, values, empty=None) -> dict:
    """{name: {"value", "unit"}} for every metric of `entries` (a list
    from BENCHMARK.json); a metric missing from `values` takes `empty`,
    or raises KeyError when that is None."""
    out = {}
    for m in entries:
        v = values.get(m["name"], empty)
        if v is None:
            raise KeyError(f"no value for metric {m['name']!r}")
        out[m["name"]] = {"value": float(v), "unit": m["unit"]}
    return out


def workloads():
    from dashboard import Dashboard
    from dedup import Dedup
    from ingest import IngestMixed
    return {w.name: w for w in (Dashboard(), IngestMixed(), Dedup())}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def spark_env(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside run_dir."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # the heap's address range goes to HEAP_LOG: memory use separates
    # heap from non-heap resident pages (see jvm_memory_mb)
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                 f"-Xlog:gc+heap+coops=debug:file="
                 f"{os.path.join(run_dir, HEAP_LOG)} "
                 f"-Dderby.system.home={os.path.join(run_dir, 'derby')}")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": java_opts,
    }
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ.update({
        # spark-submit's launcher JVM takes its options from here
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": shlex.join(args + ["pyspark-shell"]),
    })


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def heap_range(run_dir: str) -> tuple[int, int]:
    """[start, end) of the JVM's reserved heap, from its start-up log."""
    with open(os.path.join(run_dir, HEAP_LOG)) as f:
        m = re.search(r"Heap address: (0x[0-9a-f]+), size: (\d+) MB",
                      f.read())
    if m is None:
        raise RuntimeError(f"no heap address in {HEAP_LOG}")
    start = int(m.group(1), 16)
    return start, start + int(m.group(2)) * 2**20


def rss_outside_mb(pid: int, lo: int, hi: int) -> float:
    """Resident memory of `pid` in mappings outside [lo, hi)."""
    kb, outside = 0, True
    with open(f"/proc/{pid}/smaps") as f:
        for line in f:
            if line[0] in "0123456789abcdef":     # a mapping's header
                a, b = (int(x, 16) for x in line.split(None, 1)[0].split("-"))
                outside = b <= lo or a >= hi
            elif outside and line.startswith("Rss:"):
                kb += int(line.split()[1])
    return kb / 1024.0


def jvm_memory_mb(spark, run_dir: str) -> tuple[dict, float]:
    """Peak use of each heap pool of the Spark JVM (a fixed -Xmx does
    not pin these), and the JVM's resident memory outside the heap's
    reserved range (metaspace, code, thread stacks, native buffers)."""
    jvm = spark.sparkContext._jvm
    pools = {p.getName(): p.getPeakUsage().getUsed() / 2**20 for p in
             jvm.java.lang.management.ManagementFactory
             .getMemoryPoolMXBeans()
             if p.getType().toString() == "Heap memory"}
    pid = spark.sparkContext._gateway.proc.pid
    return pools, rss_outside_mb(pid, *heap_range(run_dir))


def setup(wl, data, seed, n_cores, run_dir, t0):
    """SparkSession, engine, catalog registration, prewarm join, HTTP
    server and warm-up. Returns the ready context and phase times."""
    from druid_spark import DruidSparkEngine, get_spark
    from druid_spark.datapipe.dedup import join_datapipe_prewarm
    from druid_spark.functions.register import register_druid_functions
    from workload import Ctx

    spark = get_spark("perfbench", cpus=n_cores)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    engine = DruidSparkEngine(spark)
    engine.warehouse_dir = os.path.join(run_dir, "druid")
    wl.register(engine, data)
    t2 = time.perf_counter()
    register_druid_functions(spark)     # joins the background DDL pass
    join_datapipe_prewarm(spark, timeout=None)
    t3 = time.perf_counter()
    server = None
    if wl.http:
        from druid_spark.server import DruidHttpServer
        server = DruidHttpServer(engine).start()
    ctx = Ctx(spark, engine, server, data, seed, n_cores)
    wl.warm(ctx)
    t4 = time.perf_counter()
    return ctx, {"session_s": t1 - t0, "engine_s": t2 - t1,
                 "prewarm_s": t3 - t2, "server_warm_s": t4 - t3,
                 "total_s": t4 - t0}


def teardown(ctx) -> None:
    if ctx.server is not None:
        ctx.server.stop()
    ctx.engine.close()
    ctx.spark.stop()


def stop_jvm() -> None:
    """End the Spark JVM this process started and wait for it."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()      # the JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def conditions(n_cores, seed, load_before, data) -> dict:
    import pyspark
    return {"nproc": os.cpu_count(), "cores": n_cores,
            "master": f"local[{n_cores}]", "spark": pyspark.__version__,
            "python": sys.version.split()[0], "seed": seed,
            "driver_memory": DRIVER_MEMORY, "loadavg_before": load_before,
            "inputs": data["tables"], "inputs_cached": data["cached"]}


def end_to_end(wl, ops, t_run, wall, setup_phases, mem, tail_p) -> dict:
    q = [op.ms for op in ops if op.kind == "query"]
    moved = [op for op in ops if op.kind == wl.rows_kind]
    # over the time until the last such operation ended, so that a run
    # does not read faster or slower by where its last append falls
    rows_wall = max(op.t1 for op in moved) - t_run
    return {
        "query_p50_ms": median(q),
        "query_tail_ms": percentile(q, tail_p),
        "queries_per_s": len(q) / wall,
        "rows_per_s": sum(op.rows for op in moved) / rows_wall,
        "peak_rss_mb": sum(mem.values()),
        "setup_s": setup_phases["total_s"],
    }


def per_layer(wl, ctx, ops, setup_phases, counters, mem) -> dict:
    vals = layers.span_metrics(ctx.tracer.spans)
    vals.update(layers.exec_metrics(ops, ctx.cores))
    vals.update(wl.layer_counts(ctx, ops))
    q = [op for op in ops if op.kind == "query"]
    if wl.http:
        vals["server.bytes_out"] = median((op.bytes for op in q), empty=0.0)
        vals["scheduler.rejected"] = sum(op.status == 429 for op in q)
    hits = ctx.engine.plan_cache_hits - counters["hits"]
    looks = hits + ctx.engine.plan_cache_misses - counters["misses"]
    vals["engine.plan_cache_hit_ratio"] = hits / looks if looks else 0.0
    vals["engine.plan_cache_lookups"] = looks
    vals["engine.result_cache_misses"] = (ctx.engine.cache_misses
                                          - counters["result_misses"])
    vals["proc.py_rss_mb"] = mem["py_hwm"]
    vals["proc.jvm_rss_mb"] = mem["jvm_heap_peak"] + mem["jvm_nonheap_rss"]
    vals["proc.jvm_heap_peak_mb"] = mem["jvm_heap_peak"]
    vals["proc.jvm_nonheap_rss_mb"] = mem["jvm_nonheap_rss"]
    for k in ("session_s", "engine_s", "prewarm_s"):
        vals[f"setup.{k}"] = setup_phases[k]
    vals["trace.query_p50_ms"] = median((op.ms for op in q), empty=0.0)
    return vals


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "druid_spark", "__init__.py")):
        print("perfbench: no druid_spark package in the working directory; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    wls = workloads()
    if args.workload not in wls:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"have {sorted(wls)}", file=sys.stderr)
        return 2
    wl = wls[args.workload]
    n_cores = cores()
    load_before = os.getloadavg()[0]
    work = os.path.join(root, WORK_DIR)
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return _run(args, wl, work, run_dir, n_cores, load_before)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, wl, work, run_dir, n_cores, load_before) -> int:
    t_gen = time.perf_counter()
    data = wl.inputs(os.path.join(work, "cache"), args.seed)
    wl.prepare(data, run_dir)
    gen_s = time.perf_counter() - t_gen
    spark_env(run_dir)
    try:
        return _measure(args, wl, work, run_dir, n_cores, load_before, data,
                        gen_s)
    finally:
        stop_jvm()


def _measure(args, wl, work, run_dir, n_cores, load_before, data,
             gen_s) -> int:
    # set-up counts from process start, less input generation. One cold
    # set-up per run (~20 s): a second would not fit three workloads x 22
    # runs into the time the benchmark may take.
    ctx, setup_phases = setup(wl, data, args.seed, n_cores, run_dir,
                              _T_PROC + gen_s)

    if args.trace:
        from spans import StageMetrics, Tracer, install_layer_spans
        ctx.tracer = Tracer()
        install_layer_spans(ctx.tracer)
        ctx.stages = StageMetrics(ctx.spark, n_cores)
    counters = {"hits": ctx.engine.plan_cache_hits,
                "misses": ctx.engine.plan_cache_misses,
                "result_misses": ctx.engine.cache_misses}
    t_run = time.perf_counter()
    ops = wl.run(ctx, args.seconds)
    wall = time.perf_counter() - t_run
    if ctx.tracer is not None:
        ctx.tracer.uninstall()
    pools, nonheap_mb = jvm_memory_mb(ctx.spark, run_dir)
    mem = {"py_hwm": vm_hwm_mb(os.getpid()),
           "jvm_heap_peak": sum(pools.values()),
           "jvm_nonheap_rss": nonheap_mb}

    wl.check(ctx, ops)
    tail_p = tail_percentile(wl.expected_ops_per_s * args.seconds)
    if args.trace:
        metrics = report(spec()["per_layer"],
                         per_layer(wl, ctx, ops, setup_phases, counters, mem),
                         empty=0.0)
    else:
        metrics = report(spec()["end_to_end"],
                         end_to_end(wl, ops, t_run, wall, setup_phases, mem,
                                    tail_p))
    teardown(ctx)

    failed = [op for op in ops if op.error]
    info = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "conditions": conditions(n_cores, args.seed, load_before, data),
        "input_gen_s": round(gen_s, 3),
        "setup": {k: round(v, 3) for k, v in setup_phases.items()},
        "memory_mb": {k: round(v, 1) for k, v in {**mem, **pools}.items()},
        "tail_percentile": tail_p,
        "query_samples": sum(op.kind == "query" for op in ops),
        "query_ms": [round(op.ms, 1) for op in ops if op.kind == "query"],
        "timed_wall_s": round(wall, 3),
        "failed_frac": len(failed) / max(len(ops), 1),
        "workload_metrics": wl.summary(ops, wall),
        "first_errors": sorted({op.error for op in failed})[:5],
    }
    _record(work, os.getcwd(), info, metrics)
    print(json.dumps({"perfbench": info}, default=str))
    print(json.dumps({"correct": not failed, "attempted": len(ops),
                      "failed": len(failed), "metrics": metrics}), flush=True)
    return 0


def source_hash(root: str) -> str:
    """SHA-256 of the engine's and the benchmark's Python sources."""
    h = hashlib.sha256()
    for top in ("druid_spark", "perfbench"):
        for d, dirs, fns in os.walk(os.path.join(root, top)):
            dirs.sort()
            for fn in sorted(fns):
                if fn.endswith(".py"):
                    path = os.path.join(d, fn)
                    h.update(os.path.relpath(path, root).encode() + b"\0")
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()


def _record(work, root, info, metrics) -> None:
    """Keep each result beside the cache, stamped with the sources it
    ran and when it ended. A traced run reports its overhead against the
    untraced run of the same workload, seed and sources, and null when
    there is none."""
    out = os.path.join(work, "results")
    os.makedirs(out, exist_ok=True)
    info["source_sha256"] = source_hash(root)
    info["finished_at"] = datetime.datetime.now(
        datetime.timezone.utc).isoformat(timespec="seconds")
    tag = f"{info['workload']}-s{info['seed']}-t{{}}.json"
    if info["trace"]:
        info["tracing_overhead_ms"] = None
        try:
            with open(os.path.join(out, tag.format(0))) as f:
                base = json.load(f)
        except (OSError, ValueError):
            base = {}
        if base.get("info", {}).get("source_sha256") == info["source_sha256"]:
            traced = metrics["trace.query_p50_ms"]["value"]
            info["tracing_overhead_ms"] = round(
                traced - base["metrics"]["query_p50_ms"]["value"], 3)
            info["tracing_overhead_base"] = base["info"]["finished_at"]
    with open(os.path.join(out, tag.format(info["trace"])), "w") as f:
        json.dump({"info": info, "metrics": metrics}, f, default=str)


if __name__ == "__main__":
    sys.exit(main())
