"""Repository benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload {build,ingest} --seed N \\
        --seconds S --trace {0,1} [--size {full,tiny}]

Starts its own ``local[N]`` Spark session (N = usable cores, at most 4) with
a driver memory sized to the host, sets up the workload several times
(reporting the median set-up time), warms up, then runs the workload's
closed loop for ``--seconds`` and checks every answer. Human-readable
lines come first; the last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``) named in
``BENCHMARK.json``. Every file it writes stays under
``.perfbench_work/`` in the checkout; every process it starts is stopped
before the result is printed.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MANIFEST = os.path.join(ROOT, "BENCHMARK.json")
WATCHDOG_S = 170
CATALOG_VERBS = ("frequency", "frequencies", "count_distinct", "topk",
                 "member", "stale_files")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["build", "ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full")
    return p.parse_args(argv)


def tail(values: list[float]) -> tuple[float, int] | None:
    """(value, percentile) of the highest percentile with at least ten
    samples above it; None below eleven samples."""
    n = len(values)
    if n < 11:
        return None
    return sorted(values)[n - 11], (100 * (n - 10)) // n


def median(values, default=0.0) -> float:
    return statistics.median(values) if values else default


def start_spark(workdir: str, cores: int, mem_mb: int):
    from pyspark.sql import SparkSession
    tmp = os.path.join(workdir, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{mem_mb}m")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(workdir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.executorEnv.NUMPY_MADVISE_HUGEPAGE", "0")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, its JVM and every process below this one, and
    wait until each has ended."""
    from pyspark import SparkContext

    from perfbench import host
    pids = host.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()      # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    host.wait_gone(pids, timeout_s=30)


def install_tracing(rec, wl) -> dict[str, list]:
    """Spans around the calls into each layer's public functions. Returns
    the lists the wrappers fill with what those calls returned."""
    from sketchlib import catalog, incremental, spark_build, store
    cap = {"fold_builds": [], "fold_fractions": [], "folds": [],
           "refreshed": []}

    def on_fold(res):
        cap["folds"].append(res)
        if res.new_files:   # share of the table this fold had to scan
            cap["fold_fractions"].append(
                res.new_rows / (wl.rows + res.new_rows))

    rec.wrap(spark_build, "build_sketch_parquet",
             "spark_build.build_sketch_parquet")
    rec.wrap(incremental, "build_aggregator_parquet",
             "spark_build.build_aggregator_parquet",
             on_result=cap["fold_builds"].append)
    rec.wrap(catalog, "incremental_build", "incremental.incremental_build",
             on_result=on_fold)
    for fn in ("latest_sketch", "latest_entry", "save_sketch"):
        rec.wrap(store, fn, f"store.{fn}")
    for verb in CATALOG_VERBS:
        rec.wrap(catalog.SketchCatalog, verb, f"catalog.{verb}",
                 on_result=None if verb == "stale_files" else
                 (lambda a: cap["refreshed"].append(a.refreshed)))
    return cap


def kernel_metrics(tokens, n_partials: int) -> dict[str, float]:
    """In-process kernel rates on the workload's own token array: the
    layers below spark_build, measured without Spark."""
    import numpy as np

    from sketchlib import serde
    from sketchlib.countmin import CountMinSketch
    from sketchlib.hashing import accumulate_into

    from perfbench.workloads import CM_CFG

    sample = tokens[:2_000_000]
    acc_s, upd_s = [], []
    for _ in range(3):
        table = np.zeros((CM_CFG.depth, CM_CFG.width), dtype=np.int64)
        t0 = time.perf_counter()
        accumulate_into(sample, CM_CFG.row_seeds, CM_CFG.width, table)
        acc_s.append(time.perf_counter() - t0)
        cm = CountMinSketch(CM_CFG)
        t0 = time.perf_counter()
        cm.update_batch(sample)
        upd_s.append(time.perf_counter() - t0)

    # one partial blob the size a build slice produces, then its
    # serialize / deserialize / merge costs
    part = CountMinSketch(CM_CFG)
    part.update_batch(tokens[:max(1, len(tokens) // max(1, n_partials))])
    acc = CountMinSketch(CM_CFG)
    to_b, loads, merge = [], [], []
    for _ in range(5):
        t0 = time.perf_counter()
        blob = part.to_bytes()
        to_b.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        got = serde.loads(blob)
        loads.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        acc.merge(got)
        merge.append(time.perf_counter() - t0)

    keys = [int(k) for k in sample[:200]]
    t0 = time.perf_counter()
    for k in keys:
        part.point_query(k)
    pq_us = (time.perf_counter() - t0) / len(keys) * 1e6

    n = len(sample) / 1e6
    return {
        "hashing.accumulate_mtoks_per_s": n / median(acc_s),
        "countmin.update_batch_mtoks_per_s": n / median(upd_s),
        "countmin.merge_ms": median(merge) * 1e3,
        "countmin.to_bytes_ms": median(to_b) * 1e3,
        "serde.loads_ms": median(loads) * 1e3,
        "countmin.point_query_us_per_key": pq_us,
    }


def build_layer_metrics(results) -> dict[str, float]:
    """spark_build metrics from BuildResult lineage and wall, as medians
    over the builds."""
    busy, mx, skew, outside, parts, nbytes = [], [], [], [], [], []
    for r in results:
        ms = r.lineage["build_ms"].astype(float)
        if not len(ms):
            continue
        busy.append(ms.sum() / 1e3)
        mx.append(ms.max() / 1e3)
        skew.append(ms.max() / max(ms.median(), 1e-9))
        outside.append(r.wall_s - ms.max() / 1e3)
        parts.append(len(ms))
        nbytes.append(len(ms) * r.sketch.nbytes())
    return {
        "spark_build.partial_busy_s": median(busy),
        "spark_build.partial_max_s": median(mx),
        "spark_build.slice_skew": median(skew),
        "spark_build.outside_partials_s": median(outside),
        "spark_build.partials": median(parts),
        "spark_build.partial_bytes": median(nbytes),
    }


def layer_metrics(rec, wl, cap, ops, names) -> dict[str, float]:
    from perfbench.workloads import parquet_footprint, table_tokens

    out = {name: 0.0 for name in names}
    builds = getattr(wl, "results", None) or cap["fold_builds"]
    out.update(build_layer_metrics(builds))
    out.update(kernel_metrics(
        table_tokens(wl.table), int(out["spark_build.partials"]) or 4))
    out["spark_build.spark_jobs"] = median(
        [rec.subtree_jobs(s) for s in rec.spans
         if s.name.startswith("spark_build.")])

    for fn in ("latest_sketch", "latest_entry", "save_sketch"):
        out[f"store.{fn}_ms"] = median(rec.durations(f"store.{fn}")) * 1e3
    if hasattr(wl, "store_path"):
        out["store.part_files"], out["store.table_bytes"] = (
            (wl.part_files[-1], wl.store_bytes[-1])
            if getattr(wl, "part_files", None)
            else parquet_footprint(wl.store_path))

    out["incremental.fold_s"] = median(
        [f.wall_s for f in cap["folds"] if f.new_files])
    out["incremental.delta_fraction"] = median(cap["fold_fractions"])

    # the verbs' latencies and job counts are those of reads; the answers
    # that fold a delta first are measured by incremental.fold_s
    by_id = {s.span_id: s for s in rec.spans}
    reads = [s for s in rec.spans if s.name.startswith("catalog.")
             and getattr(by_id.get(s.parent_id), "name", "") != "op.fold"]
    answers = [s for s in reads if s.name != "catalog.stale_files"]
    for verb in CATALOG_VERBS:
        out[f"catalog.{verb}_ms"] = median(
            [s.duration for s in reads if s.name == f"catalog.{verb}"]) * 1e3
    if answers:
        out["catalog.spark_jobs_per_answer"] = (
            sum(rec.subtree_jobs(s) for s in answers) / len(answers))
    if cap["refreshed"]:
        out["catalog.refreshed_ratio"] = (
            sum(cap["refreshed"]) / len(cap["refreshed"]))

    op_time = sum(s.duration for s in rec.spans if s.name.startswith("op."))
    by_layer = rec.self_time_by_layer()
    for layer in ("spark_build", "store", "incremental", "catalog"):
        out[f"{layer}.self_share_pct"] = (
            100.0 * by_layer.get(layer, 0.0) / op_time if op_time else 0.0)

    # every other operation of each kind is traced: compare traced and
    # untraced latency kind by kind, so both sides hold the same mix
    ratios = []
    for kind in sorted({o.kind for o in ops}):
        on = [o.latency_s for o in ops if o.traced and o.kind == kind]
        off = [o.latency_s for o in ops if not o.traced and o.kind == kind]
        if on and off:
            ratios.append(median(on) / median(off))
    if ratios:
        out["trace.overhead_pct"] = 100.0 * (median(ratios) - 1.0)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import sketchlib  # noqa: F401  (fails here when the library is absent)

    from perfbench import host
    from perfbench.trace import Recorder
    from perfbench.workloads import SIZES, WORKLOADS

    with open(MANIFEST) as f:
        manifest = json.load(f)
    table = manifest["per_layer" if args.trace else "end_to_end"]
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work_root = os.path.join(ROOT, ".perfbench_work")
    workdir = os.path.join(work_root, run_id)
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(os.path.join(workdir, "tmp"))
    # Spark, the JVM and the Python workers all write under the checkout
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    def watchdog(signum, frame):
        for pid in host.descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        os._exit(3)
    signal.signal(signal.SIGALRM, watchdog)
    signal.alarm(WATCHDOG_S)

    size = SIZES[args.size]
    cores = min(4, host.cores())
    mem_mb = host.driver_memory_mb()
    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace} size={args.size} "
          f"master=local[{cores}] driver_memory={mem_mb}m", flush=True)

    c0 = host.cpu_times()
    time.sleep(0.5)
    weather = {"host_" + k: v
               for k, v in host.cpu_weather(c0, host.cpu_times()).items()}

    wl = WORKLOADS[args.workload](size, args.seed, workdir)
    spark = None
    setup_s = []
    try:
        t0 = time.perf_counter()
        spark = start_spark(workdir, cores, mem_mb)
        spark_start_s = time.perf_counter() - t0
        # set-up = data generation + catalog registration, repeated into
        # fresh directories; the median is reported
        for rep in range(size["setup_reps"]):
            t0 = time.perf_counter()
            wl.setup(spark, rep)
            setup_s.append(time.perf_counter() - t0)
            if rep:
                shutil.rmtree(os.path.join(workdir, f"rep{rep - 1}"),
                              ignore_errors=True)
        wl.prepare_reference()

        # host weather: a single-process calibration on the same fixed
        # input in every run, outside the window
        import numpy as np

        from perfbench.workloads import CM_CFG
        from sketchlib.countmin import CountMinSketch
        calib_tokens = np.random.default_rng(0).integers(
            0, 2**31 - 1, 1_000_000, dtype=np.int64)
        calib = []
        for _ in range(3):
            t0 = time.perf_counter()
            CountMinSketch(CM_CFG).update_batch(calib_tokens)
            calib.append(1.0 / (time.perf_counter() - t0))
        weather["calib_update_batch_mtoks_per_s"] = round(median(calib), 3)
        del calib_tokens

        wl.warmup(size["warmup_s"][args.workload])
        rec = Recorder(run_id, sc=spark.sparkContext if args.trace else None)
        rec.active = bool(args.trace)
        cap = install_tracing(rec, wl) if args.trace else None

        ops = []
        failed_ops = 0
        # the driver's peak RSS is taken over the window alone
        gc.collect()
        host.reset_peak_rss()
        c0 = host.cpu_times()
        t_start = time.perf_counter()
        while not ops or time.perf_counter() - t_start < args.seconds:
            try:
                ops += wl.step(rec)
            except Exception:
                traceback.print_exc()
                failed_ops += 1
                if failed_ops > 3:
                    break
        window_s = time.perf_counter() - t_start
        rss_mb = host.vm_hwm_mb(os.getpid())
        rec.active = False
        weather.update(host.cpu_weather(c0, host.cpu_times()))

        per_layer = layer_metrics(
            rec, wl, cap, ops, [m["name"] for m in table]) \
            if args.trace else None
        rec.restore()
        # printed for the reader only: the JVM's peak moves with GC timing
        from pyspark import SparkContext
        jvm_mb = host.vm_hwm_mb(SparkContext._gateway.proc.pid)
        if args.trace:
            rec.dump(os.path.join(work_root, f"spans-{run_id}.jsonl"))
    finally:
        if spark is not None:
            stop_spark(spark)
        signal.alarm(0)
        shutil.rmtree(workdir, ignore_errors=True)

    bad = [o for o in ops if not o.ok]
    attempted = len(ops) + failed_ops
    failed = len(bad) + failed_ops
    prim = [o for o in ops if o.kind in wl.primary]
    lat = [o.latency_s for o in prim]
    busy = sum(o.latency_s for o in ops)
    throughput = sum(o.items for o in prim) / busy if busy else 0.0
    e2e = {
        "setup_s": median(setup_s),
        "p50_ms": median(lat) * 1e3,
        "throughput_per_s": throughput,
        "driver_rss_mb": rss_mb,
    }

    # each workload's own names for its figures, for the human reader
    if args.workload == "build":
        named = [("build_wall_s", f"{median(lat):.4f} s (p50, n={len(lat)})"),
                 ("build_tokens_per_s", f"{throughput:.0f} tok/s")]
    else:
        reads = [o.latency_s for o in ops if o.kind not in wl.primary]
        t = tail(reads)
        named = [("ingest_fold_p50_s", f"{median(lat):.4f} s (n={len(lat)})"),
                 ("ingest_rows_per_s", f"{throughput:.2f} rows/s"),
                 ("ingest_read_p50_ms", f"{median(reads) * 1e3:.2f} ms "
                  f"(n={len(reads)}); serve_p50_ms is the same figure"),
                 ("serve_tail_ms",
                  f"{t[0] * 1e3:.2f} ms (p{t[1]}, n={len(reads)})" if t
                  else f"n/a (n={len(reads)} < 11)"),
                 ("serve_qps", f"{len(reads) / max(sum(reads), 1e-9):.3f} 1/s")]
    named += [("spark_start_s", f"{spark_start_s:.3f} s"),
              ("setup_s", f"{median(setup_s):.3f} s (median of "
               f"{len(setup_s)}: {', '.join(f'{s:.3f}' for s in setup_s)})"),
              ("failed_ratio", f"{failed / max(1, attempted):.4f} "
               f"({failed}/{attempted})"),
              ("driver_rss_mb", f"{rss_mb:.1f} MB (peak in the window)"),
              ("window_s", f"{window_s:.2f} s")]
    for name, text in named:
        print(f"metric {name} = {text}")
    if len(lat) >= 4:
        q = statistics.quantiles(lat, n=4)
        print("latency_ms min/q1/median/q3/max = " + " / ".join(
            f"{v * 1e3:.1f}" for v in (min(lat), q[0], q[1], q[2], max(lat))))
    print(f"jvm_peak_rss_mb = {jvm_mb:.1f}")
    print("weather " + json.dumps(weather, sort_keys=True))

    values = per_layer if args.trace else e2e
    metrics = {m["name"]: {"value": float(values[m["name"]]),
                           "unit": m["unit"]} for m in table}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
