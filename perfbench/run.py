"""Seeded genomics benchmark of sequila_spark.

    python3 perfbench/run.py --workload bam_coverage_pileup --seed 1 --seconds 6 --trace 0

Run from the root of a checkout.  It starts a host-sized local Spark session,
writes seeded inputs, runs the workload's operations in a closed loop (one
driver, one operation at a time) for ``--seconds``, checks every output
against numpy truth, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (UI off).  ``--trace 1`` runs
a short untraced phase, restarts the session with the UI on, runs one
warm-up iteration and then traced rounds (spans, one job group per
operation, layer probes) and reports the per-layer metrics.  The line before the result is the run's artifact:
environment counts, per-operation times and output digests; the same
artifact, with the spans, is written to ``.perfbench_work/out/``.

Everything the run writes stays under ``.perfbench_work/`` in the checkout.
Workloads, layers and predictions are described in ``perfbench/LAYERS.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 3
# The reference job: fixed Spark work that runs no package code, run
# REF_WARM times untimed to warm it, then timed REF_REPS times before and
# after the warm window, each after a full GC so that heap the package left
# behind does not slow it.  A shared 4-vCPU host was seen to drift by up to
# 2x in speed within minutes; time metrics divided by the median of the
# samples before the window track the program, not the host.  The samples
# after the window, which follow the most package work, are only reported.
# Enough rows that compiled code, not per-job scheduling, sets its time:
# at 4M rows the job still sped up by 40% over its first 20 runs.
REF_ROWS = 50_000_000
REF_WARM = 2
REF_REPS = 4
# young generation of the driver JVM, MiB (see start_session)
YOUNG_MB = 128
# a run must exit within 180 s: stop starting iterations past this point
HARD_STOP_S = 140.0


def host() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    ram_mb = mem_kb // 1024
    # a tenth of the RAM, 1-4 GiB: the host is shared
    return {"cores": cores, "ram_mb": ram_mb, "driver_mem_mb": max(1024, min(4096, ram_mb // 10))}


def isolate(run_dir: str) -> None:
    """Point every scratch location of Python, the JVMs and the Python
    workers inside the checkout, and put the package on the workers' path."""
    home, tmp = os.path.join(WORK, "home"), os.path.join(run_dir, "tmp")
    os.makedirs(home, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["HOME"] = home  # the C-kernel cache lives under ~/.cache
    os.environ["TMPDIR"] = tmp
    # two malloc arenas: otherwise the JVM's native resident size moves
    # with how many per-thread arenas its threads happened to create
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def start_session(h: dict, run_dir: str, ui: bool):
    from pyspark.sql import SparkSession

    from sequila_spark import SequilaSession

    conf = {
        "spark.master": f"local[{h['cores']}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": f"{h['driver_mem_mb']}m",
        # A fixed, pre-touched heap keeps timings steady, and makes the
        # JVM's resident size the heap plus its native memory, so the
        # native part is the resident size less the heap.  The heap the
        # program uses is read from the GC log (see memory_mb); a small
        # fixed young generation makes young collections, and so the log's
        # heap-after-GC figures, come every YOUNG_MB of allocation.
        "spark.driver.extraJavaOptions": f"-Xms{h['driver_mem_mb']}m -XX:+AlwaysPreTouch "
        f"-Xmn{YOUNG_MB}m -Xlog:gc:file={os.path.join(run_dir, 'gc-%p.log')}",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.sql.shuffle.partitions": str(h["cores"]),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.local.dir": os.path.join(run_dir, "tmp"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": str(ui).lower(),
        "spark.ui.port": "0",
    }
    # The status store keeps finished jobs and queries on the heap: untraced,
    # hold a few, so the heap does not grow with the iteration count;
    # traced, hold Spark's default, for the REST API.  (The builder is
    # shared, so the value is set either way.)
    for k in ("spark.ui.retainedJobs", "spark.ui.retainedStages",
              "spark.sql.ui.retainedExecutions"):
        conf[k] = "1000" if ui else "16"
    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, SequilaSession(spark)


def stop_everything(spark) -> None:
    """Stop Spark, close the JVM and wait until no child process is left."""
    from pyspark import SparkContext

    from instrument import descendants

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 10
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while descendants():
        time.sleep(0.1)


class Counts:
    def __init__(self):
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.op_s: dict[str, list[float]] = {}  # operation -> wall times


def run_operations(wl, tr, counts: Counts, group_tag: str | None) -> float:
    """One iteration: every operation of the workload, in order."""
    t0 = time.perf_counter()
    for name, fn in wl.operations():
        counts.attempted += 1
        group = f"{name}#{group_tag}" if group_tag is not None else None
        t_op = time.perf_counter()
        try:
            with tr.span("op." + name, group=group):
                fn(tr)
            counts.op_s.setdefault(name, []).append(time.perf_counter() - t_op)
        except Exception:
            counts.failed += 1
            counts.errors.append(traceback.format_exc(limit=3))
            print(counts.errors[-1], file=sys.stderr)
    return time.perf_counter() - t0


def loop(wl, tr, counts, seconds: float, started: float, min_iterations: int,
         each_round=None) -> list[float]:
    """Closed loop for ``seconds`` (at least ``min_iterations`` iterations,
    never past HARD_STOP_S); returns each iteration's wall time."""
    times: list[float] = []
    deadline = time.perf_counter() + seconds
    while True:
        tag = str(len(times))
        if each_round is not None:
            each_round(tag)
        times.append(run_operations(wl, tr, counts, tag if each_round else None))
        full_gc(wl.spark)
        now = time.perf_counter()
        if now - started > HARD_STOP_S:
            break
        if now >= deadline and len(times) >= min_iterations:
            break
    return times


def full_gc(spark) -> None:
    """A full GC of the driver JVM, untimed, between set-ups, iterations and
    reference samples: each starts from the same heap, and garbage of one
    phase does not add to the next one's heap-after-GC figure."""
    spark.sparkContext._jvm.System.gc()


def reference_s(spark, cores: int) -> float:
    from pyspark.sql import functions as F

    full_gc(spark)
    t0 = time.perf_counter()
    spark.range(0, REF_ROWS, 1, cores).groupBy((F.col("id") % 4096).alias("k")).agg(
        F.max(F.xxhash64("id"))
    ).collect()
    return time.perf_counter() - t0


def versions(spark) -> dict:
    import numpy
    import pyarrow
    import pyspark

    from sequila_spark.sources import _ckern, _inflate

    return {
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "ckern_available": int(_ckern.available()),
        "inflate": _inflate.active_engine(),
    }


def per_layer_metrics() -> list[dict]:
    """The traced run's metrics, as ``BENCHMARK.json`` lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)["per_layer"]


def memory_mb(rss, heap_bytes: int, heap_after_gc: int) -> dict:
    """The program's peak memory in parts: the JVM heap after GC (from its
    GC log), the JVM's native memory (its resident size less the fixed,
    pre-touched heap) and the Python workers' resident size."""
    return {
        "jvm_heap_after_gc": heap_after_gc / 2**20,
        "jvm_native": (rss.peak_by_name.get("java", 0) - heap_bytes) / 2**20,
        "python_workers": rss.peak_by_name.get("python", 0) / 2**20,
    }


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.perf_counter()

    sys.path.insert(0, ROOT)
    try:
        import sequila_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import sequila_spark from {ROOT}: {e}", file=sys.stderr)
        return 2
    import numpy as np

    from instrument import NullTracer, Rest, RssPeak, Tracer, peak_heap_after_gc, spark_metrics
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    h = host()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    data_dir = os.path.join(run_dir, "data")
    isolate(run_dir)
    hash_file = os.path.join(WORK, "hashes.json")
    try:
        with open(hash_file) as fh:
            all_hashes = json.load(fh)
    except (OSError, ValueError):
        all_hashes = {}
    key = f"{args.workload}/{args.seed}"
    hashes = dict(all_hashes.get(key, {}))

    spark = None
    counts = Counts()
    art: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                 "host": h}
    try:
        with RssPeak() as rss:
            t0 = time.perf_counter()
            spark, ss = start_session(h, run_dir, ui=False)
            session_s = time.perf_counter() - t0
            art["env"] = versions(spark)  # also builds the C kernels once, untimed
            heap_bytes = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().totalMemory()

            wl = WORKLOADS[args.workload](spark, ss, data_dir, hashes)
            setup_times = []
            for _ in range(SETUP_REPS):
                shutil.rmtree(data_dir, ignore_errors=True)
                os.makedirs(data_dir)
                t0 = time.perf_counter()
                wl.write_inputs(np.random.default_rng(args.seed))
                setup_times.append(time.perf_counter() - t0)
                full_gc(spark)
            wl.prepare()
            art["setup"] = {"session_s": session_s, "inputs_s": setup_times}

            # the cold iteration is timed alone; the window holds warm ones
            cold = run_operations(wl, NullTracer(), counts, None)
            full_gc(spark)
            untraced = args.seconds if args.trace == 0 else 0.4 * args.seconds
            before = [reference_s(spark, h["cores"]) for _ in range(REF_WARM + REF_REPS)][REF_WARM:]
            warm = loop(wl, NullTracer(), counts, untraced, started, 2 - args.trace)
            after = [reference_s(spark, h["cores"]) for _ in range(REF_REPS)]
            p50, ref = statistics.median(warm), statistics.median(before)
            # a reference that moves with the program shows as these two
            # medians drifting apart
            art["iterations"] = {"cold_s": cold, "warm_s": warm, "n": len(warm),
                                 "reference_before_s": ref,
                                 "reference_after_s": statistics.median(after)}
            # the same figures in seconds, for reading
            art["seconds"] = {
                "iter_s.p50": p50,
                "cold_iter_s": cold,
                "records_per_s": wl.records / p50,
                "reference_s": ref,
            }

            if args.trace == 0:
                metrics = {
                    "iter_rel.p50": metric(p50 / ref, "ratio"),
                    "cold_iter_rel": metric(cold / ref, "ratio"),
                    "setup_s": metric(session_s + statistics.median(setup_times), "s"),
                }
            else:
                spark.stop()
                spark, ss = start_session(h, run_dir, ui=True)
                wl.spark, wl.ss = spark, ss
                wl.prepare()  # views belong to the stopped session
                # one iteration outside the traced rounds first, so that no
                # round pays the new session's warm-up; its spans are kept
                # apart (no job groups)
                warmup = Tracer()
                run_operations(wl, warmup, counts, None)
                full_gc(spark)
                tr = Tracer(spark.sparkContext)

                def probes(tag):
                    for name, fn in wl.probes():
                        with tr.span("probe." + name, group=f"probe.{name}#{tag}"):
                            fn()

                traced = loop(wl, tr, counts, args.seconds - untraced, started, 2, probes)
                rest = Rest(spark.sparkContext)
                groups = {s["group"] for s in tr.spans if "group" in s}
                snap = rest.snapshot(groups)
                per_round = []
                for i, wall in enumerate(traced):
                    gs = {f"{name}#{i}" for name, _ in wl.operations()}
                    per_round.append(spark_metrics(rest, snap, gs, wall, h["cores"]))
                layer = {k: statistics.median(r[k] for r in per_round) for k in per_round[0]}
                layer.update(wl.layers(tr, warmup, layer))
                layer["sources.ckern_available"] = art["env"]["ckern_available"]
                layer["trace.overhead_ratio"] = statistics.median(traced) / p50
                art["traced_iterations_s"] = traced
                art["layers"] = layer
                art["spans"] = tr.spans
                # layers a workload bypasses did no work: they report 0
                metrics = {m["name"]: metric(layer.get(m["name"], 0.0), m["unit"])
                           for m in per_layer_metrics()}
        art["peak_rss_mb_by_process"] = {k: v / 2**20 for k, v in rss.peak_by_name.items()}
        art["op_s"] = counts.op_s
        art["errors"] = counts.errors
        art["hashes"] = hashes
    finally:
        stop_everything(spark)  # also flushes the GC logs
        heap_after_gc = peak_heap_after_gc(os.path.join(run_dir, "gc-*.log"))
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace == 0:
        art["peak_mem_mb_parts"] = parts = memory_mb(rss, heap_bytes, heap_after_gc)
        metrics["peak_mem_mb"] = metric(sum(parts.values()), "MB")

    correct = counts.failed == 0
    if correct:
        all_hashes[key] = hashes
        with open(hash_file, "w") as fh:
            json.dump(all_hashes, fh, indent=1)
    art["ops_failed_ratio"] = counts.failed / max(counts.attempted, 1)
    os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
    out = os.path.join(WORK, "out", f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(out, "w") as fh:
        json.dump(art, fh, indent=1, default=str)
    art.pop("spans", None)
    print(json.dumps(art, default=str))
    print(json.dumps({"correct": correct, "attempted": counts.attempted,
                      "failed": counts.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
