"""Repository benchmark: the extract+chunk job and the dedup battery, on
``local[$(nproc)]`` in one driver process.

Usage (from the repository root):

    python3 perfbench/run.py --workload extract_chunk --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the traced
variant and prints the per-layer metrics. The last line of standard output
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``;
progress and the host-noise record go to standard error. All files live
under ``.bench_work/`` in the checkout and are removed on exit. See
``perfbench/README.md`` for the workloads and what each metric should move.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work", "perfbench")

# ------------------------------------------------------------------ session

def start_spark(cores: int, event_dir: str | None = None):
    from ragstudio_spark.session import get_spark

    conf = {
        "spark.sql.files.openCostInBytes": "0",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # temp files in the work directory; no /tmp/hsperfdata_* counters
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK}/tmp -XX:-UsePerfData",
        "spark.eventLog.enabled": "false",
        # room for every class the repeated queries generate: at the default
        # 100 entries the battery's four leaves evict each other's generated
        # code, so every pass re-ran Janino and loaded ~280 new classes for
        # the JIT (6 s of compile time per 6.5 s pass, never settling)
        "spark.sql.codegen.cache.maxEntries": "2000",
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the active context and the gateway JVM, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()   # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 — make sure nothing outlives the run
        proc.kill()
        proc.wait()


# ------------------------------------------------------------------- modes

def result(attempted: int, failed: int, metrics: dict, trace: int) -> dict:
    """The result line; the metric names and units are those
    ``BENCHMARK.json`` declares for the mode (``end_to_end`` untraced,
    ``per_layer`` traced)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    if set(metrics) != set(units):
        raise SystemExit(f"metrics differ from BENCHMARK.json: "
                         f"{sorted(set(metrics) ^ set(units))}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def untraced(args, slots: int, noise: dict) -> dict:
    from perfbench.host import MemoryProbe, md5_probe_s, pin_tree
    from perfbench.workloads import DedupBattery, WORKLOADS, log, run_loop, timed

    t_session, spark = timed(start_spark, slots)
    log(f"session {t_session:.2f}s")
    wl = WORKLOADS[args.workload](spark, WORK, args.seed, slots)
    t_cold = wl.cold()
    # the warm-up and the timed repetitions run on ``slots`` cores only,
    # the cold pass on all of them; README.md, "Parallelism", has the
    # measurement
    pin_tree(sorted(os.sched_getaffinity(0))[:slots])
    setup_s = t_session + t_cold + wl.warm()
    log(f"setup {setup_s:.2f}s; measuring {args.seconds}s")
    noise["md5_before_s"] = md5_probe_s()
    with MemoryProbe(spark, slots) as mem:
        times, attempted, failed = run_loop(wl, args.seconds, wl.min_reps,
                                            max_wall=args.seconds * 6,
                                            after_rep=mem.next_rep)
    noise["md5_after_s"] = md5_probe_s()
    attempted += 1                       # the set-up output checks
    failed += 0 if wl.setup_checks_ok else 1
    log(f"rep times {[round(t, 3) for t in times]}; peak MB (python, jvm) per rep "
        f"{[(round(p / 1e6), round(j / 1e6)) for p, j in mem.rep_peaks]}; host {noise}")
    if not times:
        raise SystemExit("no repetition succeeded")
    if isinstance(wl, DedupBattery):
        log("leaf medians " + ", ".join(
            f"{n} {statistics.median(t):.3f}" for n, t in wl.leaf_times.items()))
    job_s = wl.job_s(times)
    log(f"job_s {job_s:.3f}")
    metrics = {"job_s": job_s, "turns_per_s": wl.units / job_s,
               "setup_s": setup_s, "peak_rss_mb": mem.peak_mb}
    return result(attempted, failed, metrics, trace=0)


def traced(args, slots: int, n_cpu: int, noise: dict) -> dict:
    """Per-layer metrics. Four SparkContexts, one after another in the same
    JVM: A untraced (the reference for the tracing overhead), B with the
    plain-JSON event log and a job group around every workload repetition
    and layer probe, both on ``slots`` task slots; then C at ``local[1]``
    and D at ``local[n_cpu]`` for the scaling ratio. Pipeline layers are
    probed on the seeded transcript table of ``extract_chunk``;
    ``battery.*`` on the workload's own repetitions, or for
    ``extract_chunk`` on one checked pass over the seeded battery tables
    right after their oracle check."""
    from perfbench import inputs, layers
    from perfbench.host import md5_probe_s
    from perfbench.workloads import (
        BATTERY_LEAVES, DedupBattery, ExtractChunk, WORKLOADS, dir_stats, log,
        run_loop)

    attempted = failed = 0

    def count(ok: bool) -> None:
        nonlocal attempted, failed
        attempted, failed = attempted + 1, failed + (0 if ok else 1)

    def loop(wl, reps):
        nonlocal attempted, failed
        times, a, f = run_loop(wl, 0, reps, max_wall=float("inf"))
        attempted, failed = attempted + a, failed + f
        if not times:
            raise SystemExit("no repetition succeeded")
        return times

    # --- A: untraced
    noise["md5_before_s"] = md5_probe_s()
    spark = start_spark(slots)
    wl = WORKLOADS[args.workload](spark, WORK, args.seed, slots)
    wl.setup()
    untraced_times = loop(wl, 1)
    if isinstance(wl, ExtractChunk):
        ext = wl
    else:
        ext = ExtractChunk(spark, WORK, args.seed, slots)
        ext.materialise()
        ext.reference()
    spark.stop()

    # --- B: traced
    event_dir = os.path.join(WORK, "events")
    spark = start_spark(slots, event_dir)
    wl.spark = ext.spark = spark
    if isinstance(wl, DedupBattery):
        wl.group_prefix = "workload/"
        wl.leaf_times = {n: [] for n in BATTERY_LEAVES}
    else:
        layers.set_group(spark, "warm")
        count(wl.rep(10_000)[1])         # restart the Python worker fleet
        layers.set_group(spark, "workload")
    traced_times = loop(wl, 1)
    layers.set_group(spark, None)
    out = {"tracing.overhead_s": statistics.median(traced_times)
           - statistics.median(untraced_times)}

    ladder, full_chunks_s = layers.ladder(spark, ext.input_dir, "layer/")
    out.update(ladder)
    out.update(layers.kernel_probe(spark, ext.input_dir, args.seed))
    if isinstance(wl, ExtractChunk):
        job_s = statistics.median(traced_times)
    else:
        layers.set_group(spark, "layer/lineage.run")
        job_s, ok = ext.rep(20_000)
        count(ok)
    out["lineage.write_overhead_s"] = job_s - full_chunks_s
    out["lineage.output_mb"], out["lineage.files_written"] = dir_stats(ext.last_run_dir)
    resume, resume_ok = layers.resume_tail_probe(ext, "layer/")
    out.update(resume)

    if isinstance(wl, DedupBattery):
        battery = wl
    else:
        layers.set_group(spark, None)
        battery = DedupBattery(spark, WORK, args.seed, slots)
        battery.materialise()
        battery.oracle_check()
        battery.group_prefix = "layer/"
        loop(battery, 1)
    layers.set_group(spark, None)
    spark.stop()

    events = layers.EventLog(event_dir)
    n = len(traced_times)
    out.update(events.spark_metrics("workload", n))
    fused = layers.fused_metrics(events, "workload")
    fused["fused.passes"] /= n
    out.update(fused)
    for name in BATTERY_LEAVES:
        times = battery.leaf_times[name]
        out[f"battery.{name}_s"] = statistics.median(times)
        out[f"battery.{name}_jobs"] = (
            events.jobs[f"{battery.group_prefix}battery.{name}"] / len(times))

    # --- C and D: local[1] and local[n_cpu] on the same turns, one file per core
    from ragstudio_spark.pipeline.job import run_pipeline

    ext.input_dir = inputs.write_turns(
        ext.turns, os.path.join(WORK, "transcripts_per_core"), n_cpu)
    files = sorted(glob.glob(os.path.join(ext.input_dir, "*.parquet")))

    def scaling_rep(n: int) -> float:
        spark = start_spark(n)
        ext.spark = spark
        run_pipeline(spark.read.parquet(*files[:n])).chunks.write.format(
            "noop").mode("overwrite").save()  # start n Python workers
        t, ok = ext.rep(30_000 + n)
        count(ok)
        spark.stop()
        return t

    t_1, t_all = scaling_rep(1), scaling_rep(n_cpu)
    out["scaling.eff_1to4"] = t_1 / t_all / n_cpu
    noise["md5_after_s"] = md5_probe_s()
    log(f"traced {[round(t, 3) for t in traced_times]} untraced "
        f"{[round(t, 3) for t in untraced_times]} local[1] {t_1:.3f} "
        f"local[{n_cpu}] {t_all:.3f}; host {noise}")
    checks_ok = (wl.setup_checks_ok and ext.setup_checks_ok
                 and battery.setup_checks_ok and resume_ok)
    count(checks_ok)
    return result(attempted, failed, out, trace=1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("extract_chunk", "dedup_battery"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "ragstudio_spark")):
        print("perfbench: ragstudio_spark/ not found next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import the package from the checkout; every temp file
    # stays inside the work directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")

    from perfbench.host import load_avg
    from perfbench.workloads import log

    n_cpu = len(os.sched_getaffinity(0))
    # task slots: half the cores; README.md, "Parallelism", has the
    # measurement
    slots = max(1, n_cpu // 2)
    noise = {"load_avg_start": load_avg(), "cores": n_cpu, "slots": slots}
    try:
        out = (traced(args, slots, n_cpu, noise) if args.trace
               else untraced(args, slots, noise))
    finally:
        stop_jvm()
        shutil.rmtree(WORK, ignore_errors=True)
        log("stopped")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
