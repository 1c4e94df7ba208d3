"""Closed-loop benchmark of the age_spark engine.

    python3 perfbench/run.py --workload point_lookup --seed 1 --seconds 10 --trace 0

Run from the root of a source tree.  One run: generate the inputs from the
seed (TPC-H-shaped tables plus a document corpus, under ``perfbench/.work``),
compute the expected answers with DuckDB, start a Spark session sized to the
machine, set up (one graph build and one warm-up pass over every statement
shape), then let the workload's clients run closed loops for
``--seconds`` and check every answer.  Workloads that cycle through a fixed
set of statements run a fixed number of whole cycles instead, the number
``--seconds`` holds at the workload's reference cycle time, so every run
measures the same operations however fast the host is that minute.

Workloads (see ``workloads.py``):
  point_lookup    4 clients, 1-2-hop reads on Zipf-skewed keys, half $params
  analytic_scan   1 client, eight whole-graph queries (VLE, BFS, joins)
  curation        1 client, eight dedup/similarity/text pipeline operators
  read_write_mix  1 client, mutable graph, four writes and four reads a cycle

BENCHMARK.json lists the first three.  read_write_mix runs by hand only: at
about one operation a second it completes too few operations in a run to
give steady figures.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs half the
window untraced and half traced, and prints the per-layer metrics recorded
by ``tracing.py`` plus the tracing overhead.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (name -> value and unit); the lines before it are the same
figures and the run's context for people.
"""

from __future__ import annotations

import argparse
import ctypes
import gc
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

TPCH_SCALE = 0.1  # 15 000 customers, 150 000 orders, ~600 000 line items
CORPUS = (500, 500)  # documents, embeddings
DRIVER_MEMORY = "2g"

END_TO_END = {
    "ops_per_s": "1/s", "latency_p50_ms": "ms", "latency_p90_ms": "ms",
    "setup_s": "s", "peak_rss_mb": "MB",
}
# Per-operation figures are totals over the traced window's operations
# divided by their number; pipeline.<operator>_ms is that operator's median
# latency.  runtime.vle_ms is the time in vle_pairs plus the Spark action of
# the variable-length statements: their plans are cached, so after the
# warm-up the traversal runs only in the action.  A layer the workload does
# not reach reads 0.  runtime.mutate_ms is printed only on read_write_mix's
# write line, since no workload in BENCHMARK.json writes.
PER_LAYER = {
    "cypher.parse_ms": "ms", "compiler.compile_ms": "ms",
    "api.plan_cache_hit_ratio": "ratio", "py4j.calls_per_op": "1/op",
    "driver.cpu_ms_per_op": "ms/op", "runtime.vle_ms": "ms",
    "runtime.shortest_path_ms": "ms",
    "runtime.checkpoints_per_op": "1/op", "runtime.eager_jobs_per_op": "1/op",
    "spark.execute_ms": "ms", "spark.jobs_per_op": "1/op",
    "spark.tasks_per_op": "1/op", "spark.input_bytes_per_op": "bytes/op",
    "spark.shuffle_read_bytes_per_op": "bytes/op",
    "spark.shuffle_write_bytes_per_op": "bytes/op",
    "spark.executor_run_ms_per_op": "ms/op", "spark.gc_ms_per_op": "ms/op",
    "graph.build_s": "s",
    "pipeline.minhash_dedup_pairs_ms": "ms", "pipeline.simhash_near_pairs_ms": "ms",
    "pipeline.exact_dedup_ms": "ms", "pipeline.quality_features_ms": "ms",
    "pipeline.trigram_similarity_join_ms": "ms", "pipeline.tfidf_topk_ms": "ms",
    "pipeline.brute_force_topk_ms": "ms", "pipeline.ivf_topk_ms": "ms",
    "pipeline.lsh_candidate_precision": "ratio",
    "trace.ops_per_s": "1/s", "trace.overhead_pct": "%",
}


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    return float("nan")


def cpu_ticks() -> tuple:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def tree_peak_rss_mb() -> float:
    """Sum of VmHWM over this process and all its descendants (the JVM is a
    child, its Python workers grandchildren)."""
    children: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


def reset_peak_rss() -> None:
    """Hand freed heap back to the system and restart this process's VmHWM
    from its current size, so the peak left by data generation and the
    DuckDB answers does not count."""
    gc.collect()
    try:
        ctypes.CDLL("libc.so.6").malloc_trim(0)
    except (OSError, AttributeError):
        pass
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def start_spark(cores: int):
    from pyspark.sql import SparkSession

    local = os.environ["SPARK_LOCAL_DIRS"]
    spark = (
        SparkSession.builder.master(f"local[{cores}]").appName("perfbench")
        # only a ceiling (-Xmx): the heap grows on demand, so engine memory
        # shows in peak_rss_mb
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its standard input closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_op(op, tracer, op_id: str) -> dict:
    c0, t0 = time.thread_time(), time.perf_counter()
    rec = {"id": op_id, "kind": op.kind, "write": op.write, "check": op.check,
           "start": t0}
    try:
        with tracer.operation(op_id):
            tracer.set_job_group(op_id + "/compile")
            df = op.prepare()
            tracer.set_job_group(op_id + "/execute")
            with tracer.span("spark.execute"):
                rec["rows"] = df.collect()
    except Exception as e:  # a failed operation counts in error_rate
        rec["error"] = f"{type(e).__name__}: {e}"[:500]
    rec["latency"] = time.perf_counter() - t0
    rec["cpu"] = time.thread_time() - c0
    return rec


def run_window(wl, tracer, seconds: float, next_n: list, count: int = 0) -> tuple:
    """Closed loops, one thread per client; returns (records, elapsed
    seconds).  Each client makes ``count`` requests if given.  Otherwise a
    cyclic workload makes the whole cycles that ``seconds`` holds at its
    reference cycle time, so a slower or faster host changes how long the
    window lasts but not which operations it measures, and any other
    workload runs for ``seconds``."""
    records: list = []
    if not count and wl.cycle:
        count = wl.cycle * max(1, round(seconds / wl.cycle_s))
    t_start = time.perf_counter()
    deadline = t_start + seconds

    def client(cid: int) -> None:
        n = first = next_n[cid]
        while n - first < count if count else time.perf_counter() < deadline:
            records.append(run_op(wl.op(cid, n), tracer, f"c{cid}.{n}"))
            n += 1
        next_n[cid] = n

    threads = [threading.Thread(target=client, args=(c,), daemon=True)
               for c in range(wl.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records, time.perf_counter() - t_start


def warmup_pass(wl, tracer, cores: int) -> list:
    """Run every statement shape once; read-only workloads spread the pass
    over ``cores`` threads, since cold statements mostly wait on the JVM."""
    if not wl.read_only:  # each write's expectation depends on the ones before
        return [run_op(wl.warmup_op(i), tracer, f"w{i}") for i in range(wl.warmup_count)]
    ops = [wl.warmup_op(i) for i in range(wl.warmup_count)]
    with ThreadPoolExecutor(max_workers=cores) as pool:
        return list(pool.map(lambda i: run_op(ops[i], tracer, f"w{i}"), range(len(ops))))


def verify(records: list) -> int:
    """Mark each record ``ok``; returns how many failed or were wrong."""
    bad = 0
    for r in records:
        ok = "error" not in r
        if ok:
            try:
                ok = bool(r["check"](r["rows"]))
            except Exception as e:
                r["error"] = f"check raised {type(e).__name__}: {e}"
                ok = False
            if not ok and "error" not in r:
                r["error"] = "wrong answer"
        r["ok"] = ok
        bad += not ok
    return bad


def throughput(records: list, elapsed: float) -> float:
    """Operations completed correctly per second of the window."""
    return sum(r["ok"] for r in records) / elapsed if elapsed else 0.0


def pct(values: list, q: float) -> float:
    return float(np.percentile(values, q)) if values else 0.0


def layer_metrics(wl, tracer, traced: list, rate: float, untraced_rate: float,
                  graph_build_s: float) -> dict:
    from workloads import CURATION_NAMES, VLE_QUERIES

    n = len(traced)
    ops = {r["id"] for r in traced}
    m = {
        "cypher.parse_ms": tracer.span_ms(ops, "cypher.parse") / n,
        "compiler.compile_ms": tracer.span_ms(ops, "compiler.compile") / n,
        "py4j.calls_per_op": tracer.total(ops, "py4j.calls") / n,
        "driver.cpu_ms_per_op": 1e3 * sum(r["cpu"] for r in traced) / n,
        "runtime.vle_ms": (tracer.span_ms(ops, "runtime.vle") + tracer.span_ms(
            {r["id"] for r in traced if r["kind"] in VLE_QUERIES}, "spark.execute")) / n,
        "runtime.shortest_path_ms": tracer.span_ms(ops, "runtime.shortest_path") / n,
        "runtime.mutate_ms": tracer.span_ms(ops, "runtime.mutate") / n,
        "runtime.checkpoints_per_op": tracer.total(ops, "runtime.checkpoints") / n,
        "spark.execute_ms": tracer.span_ms(ops, "spark.execute") / n,
    }
    calls = sum(1 for s in tracer.spans if s["name"] == "api.cypher" and s["op"] in ops)
    compiles = sum(1 for s in tracer.spans
                   if s["name"] == "compiler.compile" and s["op"] in ops)
    m["api.plan_cache_hit_ratio"] = (calls - compiles) / calls if calls else 0.0

    groups = {}
    for op in ops:
        groups[op + "/compile"] = "compile"
        groups[op + "/execute"] = "execute"
    sc = tracer.spark_counters(groups)
    m["runtime.eager_jobs_per_op"] = sc["compile"]["jobs"] / n
    for key in ("jobs", "tasks", "input_bytes", "shuffle_read_bytes",
                "shuffle_write_bytes", "executor_run_ms", "gc_ms"):
        m[f"spark.{key}_per_op"] = (sc["compile"][key] + sc["execute"][key]) / n
    m["graph.build_s"] = graph_build_s

    for name in CURATION_NAMES:
        lat = [r["latency"] for r in traced if r["kind"] == name and r["ok"]]
        m[f"pipeline.{name}_ms"] = 1e3 * statistics.median(lat) if lat else 0.0
    m["pipeline.lsh_candidate_precision"] = lsh_precision(wl, traced)

    m["trace.ops_per_s"] = rate
    m["trace.overhead_pct"] = 100.0 * (untraced_rate / rate - 1.0) if rate else 0.0
    return m


def lsh_precision(wl, traced: list) -> float:
    """Verified near-duplicate pairs over LSH candidate pairs, for the
    curation workload's MinHash operator (same corpus and hash settings)."""
    pairs = [r for r in traced if r["kind"] == "minhash_dedup_pairs" and r["ok"]]
    if not pairs:
        return 0.0
    from age_spark.pipeline.dedup import minhash_lsh_candidates

    docs = wl.entry._docs(wl.spark, wl.data_dir)
    candidates = minhash_lsh_candidates(docs, hash_fn="md5").count()
    return len(pairs[-1]["rows"]) / candidates if candidates else 0.0


def report(lines: list, metrics: dict, units: dict) -> None:
    for line in lines:
        print("# " + line)
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")


def main(argv=None, tamper=None) -> int:
    args = parse_args(argv)
    os.makedirs(WORK, exist_ok=True)
    for sub in ("tmp", "spark-local", "results"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__ as entry
        import age_spark  # noqa: F401
        import duckdb
        import pyspark
    except ImportError as e:
        print(f"perfbench: cannot import the engine or its dependencies "
              f"from {ROOT}: {e}", file=sys.stderr)
        return 2

    import datagen
    from tracing import Tracer
    from workloads import WORKLOADS

    cores = nproc()
    run_tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    data_dir = os.path.join(WORK, "data", run_tag)
    shutil.rmtree(data_dir, ignore_errors=True)
    t = time.perf_counter()
    counts = (datagen.write_tpch(data_dir, TPCH_SCALE, args.seed)
              if WORKLOADS[args.workload].builds_graph else {})
    datagen.write_corpus(data_dir, *CORPUS, args.seed)
    datagen_s = time.perf_counter() - t

    duck = duckdb.connect()
    for name in sorted(os.listdir(data_dir)):
        duck.execute(f"CREATE VIEW {name.removesuffix('.parquet')} AS SELECT * "
                     f"FROM read_parquet('{data_dir}/{name}')")
    wl = WORKLOADS[args.workload](data_dir, args.seed, counts, entry, duck)
    t = time.perf_counter()
    wl.solve()
    if tamper is not None:
        tamper(wl)
    solve_s = time.perf_counter() - t
    duck.close()
    reset_peak_rss()

    t = time.perf_counter()
    spark = start_spark(cores)
    spark_start_s = time.perf_counter() - t
    tracer = Tracer(spark)
    try:
        if args.trace:
            tracer.install()
        wl.spark = spark
        t = time.perf_counter()
        wl.build()
        graph_build_s = time.perf_counter() - t if wl.builds_graph else 0.0
        t = time.perf_counter()
        warm = warmup_pass(wl, tracer, cores)
        next_n = [0] * wl.clients
        warm += run_window(wl, tracer, 0, next_n, wl.warm_ops)[0]
        warmup_s = time.perf_counter() - t
        setup_s = spark_start_s + graph_build_s + warmup_s
        rss = tree_peak_rss_mb()

        ticks = cpu_ticks()
        if args.trace:
            untraced, u_elapsed = run_window(wl, tracer, args.seconds / 2, next_n)
            tracer.enabled = True
            records, elapsed = run_window(wl, tracer, args.seconds / 2, next_n)
            tracer.enabled = False
        else:
            untraced, u_elapsed = [], 0.0
            records, elapsed = run_window(wl, tracer, args.seconds, next_n)
        rss = max(rss, tree_peak_rss_mb())
        steal, total = (b - a for a, b in zip(ticks, cpu_ticks()))
        failed = verify(warm) + verify(untraced) + verify(records)
        attempted = len(warm) + len(untraced) + len(records)

        reads = [1e3 * r["latency"] for r in records if not r["write"] and r["ok"]]
        writes = [1e3 * r["latency"] for r in records if r["write"] and r["ok"]]
        rate = throughput(records, elapsed)
        if args.trace:
            u_rate = throughput(untraced, u_elapsed)
            metrics = layer_metrics(wl, tracer, records, rate, u_rate, graph_build_s)
            mutate_ms = metrics.pop("runtime.mutate_ms")
            units = PER_LAYER
            tracer.dump(os.path.join(WORK, "results", run_tag + "-spans.json"))
        else:
            metrics = {
                "ops_per_s": rate,
                "latency_p50_ms": pct(reads, 50),
                "latency_p90_ms": pct(reads, 90),
                "setup_s": setup_s,
                "peak_rss_mb": rss,
            }
            units = END_TO_END
        p90_beyond = sum(1 for v in reads if v > pct(reads, 90))
        env = {
            "nproc": cores, "ram_gb": round(ram_gb(), 1), "spark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(), "driver_memory": DRIVER_MEMORY,
        }
        lines = [
            f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
            f"trace={args.trace} clients={wl.clients} tpch_scale={TPCH_SCALE} "
            f"corpus={CORPUS[0]}docs/{CORPUS[1]}vecs",
            " ".join(f"{k}={v}" for k, v in env.items()),
            f"setup: spark_start_s={spark_start_s:.3f} graph_build_s={graph_build_s:.3f} "
            f"warmup_s={warmup_s:.3f} "
            f"untimed: datagen_s={datagen_s:.3f} expected_answers_s={solve_s:.3f}",
            f"ops: attempted={attempted} (warm-up {len(warm)}) failed={failed} "
            f"error_rate={failed / attempted:.6g} ratio window_s={elapsed:.3f} "
            f"cpu_steal_pct={100 * steal / max(total, 1):.1f}",
            f"read samples={len(reads)} beyond_p90={p90_beyond} "
            f"latency_p50_ms={pct(reads, 50):.6g} latency_p90_ms={pct(reads, 90):.6g}",
        ]
        if writes:
            lines.append(
                f"write samples={len(writes)} write_latency_p50_ms={pct(writes, 50):.6g} "
                f"write_latency_p90_ms={pct(writes, 90):.6g}"
                + (f" runtime.mutate_ms={mutate_ms:.6g}" if args.trace else ""))
        for r in warm + untraced + records:
            if not r["ok"]:
                lines.append(f"FAILED {r['id']} {r['kind']}: {r['error']}")
        report(lines, metrics, units)
        with open(os.path.join(WORK, "results", run_tag + ".json"), "w") as fh:
            json.dump({"args": vars(args), "env": env, "context": lines,
                       "metrics": metrics,
                       "ops": [[r["id"], r["kind"], round(1e3 * r["latency"], 3), r["ok"]]
                               for r in warm + untraced + records]}, fh)
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        tracer.uninstall()
        stop_spark(spark)
        shutil.rmtree(data_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
