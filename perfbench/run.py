"""Benchmark of the retail engine: paper pipeline (batch + stream) and registry.

Usage (from the repository root)::

    python3 perfbench/run.py --workload retail --seed 1 --seconds 10 --trace 0

Workloads (inputs are generated from ``--seed`` and cached under
``.perfbench/cache``; the program only sees the generated files):

- ``retail``: the paper's daily batch over a dataset_15-shaped corpus (36
  products, hot products stock out), run as the ``plans.staged`` DAG
  (ingest -> process -> report + forecast) and then drained by
  ``streaming.inventory_stream.run_available_now``, one day file per epoch.
- ``registry``: one pass over the pinned ``plans.analytics`` entries, in a
  seed-fixed order, over seeded TPC-H-ish tables at sf 0.01.

Each run starts one Spark session at ``local[<cpus>]`` (all cores, one client
thread), warms the JVM and the Python workers with untimed units, then runs
cold units (caches dropped, fresh directories), one per ``UNIT_S`` seconds of
``--seconds`` (at least one; a unit takes about ``UNIT_S`` on 4 vCPUs), and
checks every unit's output outside the timed region.

``--trace 0`` prints the end-to-end metrics: ``wall_s`` (median unit) and
``setup_s`` (process start -> session up and its first job done). Failed
operations (stages, epochs, queries; an output mismatch counts as a failure)
over attempted ones are the ``failed`` and ``attempted`` fields of the result.
The median epoch and query times and the JVM's peak RSS are per-layer
metrics: between runs they spread too widely to carry a bound.

``--trace 1`` runs the same untimed and timed units, then one traced unit in
which each layer is called and timed from outside, and prints every
per-layer metric of BENCHMARK.json (a layer the workload does not run reads
0). Each run's record (settings, load average, units, operations, and the
spans when traced) is written to ``.perfbench/runs/``.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "retail_data_pipeline_and_forecasting_system_spark"
WORK = os.path.join(ROOT, ".perfbench")


def configure_env(run_dir: str) -> dict[str, str]:
    """Host-fit, quiet settings; everything Spark writes stays in run_dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_EXTRA_CONF": ";".join([
            "spark.ui.showConsoleProgress=false",
            f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        ]),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        # every JVM (the launcher's too) keeps its temp and perf-data files here
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def start_session():
    """The set-up every run pays: session up and its first job done."""
    sys.path[:0] = [ROOT, HERE]
    from retail_data_pipeline_and_forecasting_system_spark.session import get_session

    spark = get_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, its JVM and the JVM's Python workers; wait for all."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = _descendants(proc.pid) if proc else []
    try:
        spark.stop()
        gateway.shutdown()
    except Exception:  # gateway broken by a run cut mid-call; the JVM is stopped below
        pass
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and not _zombie(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in (PKG, "bench.py", "tests", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    import probes

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    env = configure_env(run_dir)
    # a terminated run still stops its JVM and Python workers (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        spark = start_session()
        setup_s = probes.process_age_s()
        result, info = run_workload(spark, args, spec, run_dir)
        info["peak_rss_mb"] = probes.Jvm(spark).vm_hwm_mb()
        stop_session(spark)
        spark = None
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    info.update(setup_s=setup_s, env=env,
                loadavg_end=os.getloadavg(), cpu_canary_end=probes.cpu_canary())
    metrics = result.pop("metrics")
    if args.trace:
        metrics["jvm.peak_rss_mb"] = info["peak_rss_mb"]
    else:
        metrics["setup_s"] = setup_s
    section = "per_layer" if args.trace else "end_to_end"
    result["metrics"] = {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
                         for m in spec[section]}
    _write_record(args, info)
    log = {k: v for k, v in info.items() if k not in ("spans", "ops")}
    print(f"# {json.dumps(log, default=str)}", file=sys.stderr)
    print(json.dumps(result))
    return 0


def run_workload(spark, args, spec, run_dir):
    import probes
    import workloads as wl

    info: dict = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
        "driver_memory": spark.conf.get("spark.driver.memory", "unset"),
        "jvm_max_heap_mb": spark._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20,
        "loadavg_start": os.getloadavg(),
        "cpu_canary_start": probes.cpu_canary(),
    }
    ctx = wl.Ctx(spark, args.seed, os.path.join(WORK, "cache"), run_dir)
    listener = None
    if args.workload == "retail":
        listener = probes.EpochListener()
        spark.streams.addListener(listener)
        w = wl.Retail(ctx, listener)
    else:
        w = wl.Registry(ctx)
    info["gen_s"] = w.gen_s

    t0 = time.perf_counter()
    checked = w.warm() or []  # the registry's warm-up includes its oracle check
    info["warm_s"] = time.perf_counter() - t0

    # a fixed number of units per --seconds, so a slow host does not also
    # measure less-warm units
    units = []
    for _ in range(max(1, round(args.seconds / wl.UNIT_S))):
        units.append(w.unit())
        wl.log(f"unit {len(units)}: {units[-1].wall_s:.3f} s; "
               + ", ".join(f"{o.name}={o.seconds:.2f}{'' if o.ok else '!'}"
                           for o in units[-1].ops))
    info["unit_walls"] = [u.wall_s for u in units]
    ops = checked + [o for u in units for o in u.ops]

    metrics = {"wall_s": statistics.median(info["unit_walls"])}
    if args.trace:
        tracer = probes.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
        sql, jvm = probes.SqlMetrics(spark), probes.Jvm(spark)
        mark, gc0 = sql.mark(), jvm.gc_ms()
        traced, layers = w.traced(tracer, sql)
        metrics = {name: 0.0 for name in (m["name"] for m in spec["per_layer"])}
        metrics.update(w.layer_timings(units))
        metrics.update(layers)
        metrics["jvm.gc_ms"] = jvm.gc_ms() - gc0
        metrics["spark.spill_bytes"] = probes.summarize(sql.since(mark))["spill_bytes"]
        metrics["trace.overhead_s"] = traced.wall_s - statistics.median(info["unit_walls"])
        ops += traced.ops
        info["spans"] = [vars(s) for s in tracer.spans]
        info["layers"] = metrics
    if listener is not None:
        spark.streams.removeListener(listener)

    failed = sum(not o.ok for o in ops)
    info["ops"] = [vars(o) for o in ops]
    return {"correct": failed == 0, "attempted": len(ops), "failed": failed,
            "metrics": metrics}, info


def _write_record(args, info: dict) -> None:
    """Every run's record (settings, load, units, ops; spans when traced)."""
    path = os.path.join(WORK, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}"
                        f"-{os.getpid()}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(info, f, indent=1, default=str)
    print(f"# run record: {os.path.relpath(path, ROOT)}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
