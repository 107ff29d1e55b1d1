"""CDC-path benchmark: one workload, one seed, one run.

    python3 cdcbench/run.py --workload cdc_steady --seed 1 --seconds 12 --trace 0

Run from the repository root.  Prints every metric by name with its unit
and sample count, then, as the last line of standard output, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Scratch data lives under ``.cdcbench/`` in the working directory; the
run record (environment, checks, spans) is written to ``.cdcbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import stats  # noqa: E402

#: hard stop for one run; the runner must exit well inside three minutes
WATCHDOG_S = 170


def _cpu_times() -> tuple[int, int, int]:
    """Whole-machine (total, idle, steal) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals), idle, steal


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: str) -> None:
    """Spark gets ``nproc`` cores unless ``SPARK_GRAFT_CPUS`` says
    otherwise; everything Spark and Python write goes under the checkout."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_nproc()))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # JVMs write perf data under /tmp unless told not to
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        # keep every job and stage of a run in the status store, which
        # the traced run reads per span
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
        "pyspark-shell",
    ])


def _stop_jvm(spark) -> None:
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    # close the Python side first, so no late py4j call meets a dead JVM
    gateway.shutdown()
    if proc is None:
        return
    try:
        proc.stdin.close()  # the gateway exits when its stdin closes
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 — never leave the JVM behind
        proc.kill()
        proc.wait(timeout=10)


def _fmt(v: float) -> str:
    return f"{v:.6g}"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "cass_cdc_pg_spark", "__init__.py")):
        print("cdcbench: run from the repository root (cass_cdc_pg_spark/ not found)",
              file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "workloads.json")) as fh:
        all_params = json.load(fh)
    if args.workload not in all_params:
        print(f"cdcbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(all_params)}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    base = os.path.join(root, ".cdcbench")
    work = os.path.join(base, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)

    env = {
        "nproc": _nproc(),
        "spark_graft_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "seed": args.seed,
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
        "python": platform.python_version(),
        "loadavg_start": _loadavg(),
    }
    cpu0 = _cpu_times()

    import workloads  # noqa: E402
    from tracer import NullTracer, Tracer  # noqa: E402

    t = time.perf_counter()
    import pyspark  # noqa: E402

    from cass_cdc_pg_spark.session import get_spark  # noqa: E402

    spark = get_spark(f"cdcbench-{args.workload}")
    session = {"start_s": time.perf_counter() - t}
    jvm_pid = spark.sparkContext._gateway.proc.pid

    def _watchdog() -> None:
        print(f"cdcbench: run exceeded {WATCHDOG_S} s, aborting", file=sys.stderr)
        try:
            spark.sparkContext._gateway.proc.kill()
        finally:
            os._exit(3)

    dog = threading.Timer(WATCHDOG_S, _watchdog)
    dog.daemon = True
    dog.start()

    env["pyspark"] = pyspark.__version__
    env["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    env["driver_memory"] = spark.conf.get("spark.driver.memory")
    run_id = f"{args.workload}-{args.seed}-{int(time.time())}"
    tracer = Tracer(spark, run_id) if args.trace else NullTracer()
    try:
        if args.trace:
            tracer.install()
        ctx = workloads.Ctx(spark, tracer, work, args.seed, args.seconds,
                            all_params[args.workload])
        result = workloads.WORKLOADS[args.workload](ctx)
        # the JVM's resident set, for the record only: it follows heap growth
        env["jvm_peak_rss_mb"] = workloads.hwm_mb(jvm_pid)
        layer = {}
        if args.trace:
            tracer.uninstall()
            jobs, stages = tracer.spark_status()
            tracer.attribute(jobs, stages)
            layer = metrics.per_layer(tracer, result, session)
    except Exception:
        traceback.print_exc()
        dog.cancel()
        _stop_jvm(spark)
        return 1
    cpu1 = _cpu_times()
    env["loadavg_end"] = _loadavg()
    total, idle, steal = (a - b for a, b in zip(cpu1, cpu0))
    env["machine_cpu_busy_frac"] = round(1 - idle / total, 4) if total else 0.0
    # CPU time the hypervisor gave to other guests: a shared host shows here
    env["machine_cpu_steal_frac"] = round(steal / total, 4) if total else 0.0

    e2e = {
        "setup_s": (stats.median(result.setup_samples), len(result.setup_samples)),
        "storage_bytes_per_live_row": (result.storage_bytes_per_live_row, 1),
        "memory_mb": (result.memory_mb, 1),
    }
    # the latencies follow the host's speed too closely to carry a bound
    # (README.md, "Run-to-run spread"); they are printed and recorded,
    # and the traced run reports them among the per-layer metrics
    latency = {
        "latency_p50_ms": (stats.median(result.latency_ms), len(result.latency_ms)),
        "aux_latency_p50_ms": (stats.median(result.aux_latency_ms),
                               len(result.aux_latency_ms)),
    }
    if args.trace:
        layer["traced.latency_p50_ms"] = latency["latency_p50_ms"][0]
        layer["traced.aux_latency_p50_ms"] = latency["aux_latency_p50_ms"][0]
    error_rate = result.failed / max(result.attempted, 1)

    print(f"# cdcbench {args.workload} seed={args.seed} trace={args.trace}")
    print("# env " + json.dumps(env, sort_keys=True))
    for name, (value, n) in e2e.items():
        print(f"{name:40s} {_fmt(value):>14s} {metrics.E2E[name]:8s} n={n}")
    for name, (value, n) in latency.items():
        print(f"{name:40s} {_fmt(value):>14s} {'ms':8s} n={n}")
    for name, samples in (("latency", result.latency_ms), ("aux_latency", result.aux_latency_ms)):
        tl = stats.tail(samples)
        if tl is not None:
            print(f"{name + f'_p{tl[0]:g}_ms':40s} {_fmt(tl[1]):>14s} {'ms':8s} n={len(samples)}")
    for name, (value, unit, n) in result.extra.items():
        print(f"{name:40s} {_fmt(value):>14s} {unit:8s} n={n}")
    print(f"{'error_rate':40s} {_fmt(error_rate):>14s} {'fraction':8s} "
          f"n={result.attempted}")
    for name, value in layer.items():
        print(f"{name:40s} {_fmt(value):>14s} {metrics.PER_LAYER[name]:8s}")
    for name, c in result.checks.items():
        print(f"# check {name}: {'ok' if c['ok'] else 'MISMATCH'}"
              + ("" if c["ok"] else f" got={c.get('got')} want={c.get('want')}"))

    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    record = {"env": env, "e2e": e2e, "latency": latency, "error_rate": error_rate,
              "checks": result.checks,
              "samples": {"setup_s": result.setup_samples, "latency_ms": result.latency_ms,
                          "aux_latency_ms": result.aux_latency_ms},
              "layer": layer, "info": {k: v for k, v in result.info.items()
                                       if k not in ("batch_files",)}}
    stem = os.path.join(out_dir, f"{args.workload}-{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, default=str, indent=1)
    if args.trace:
        tracer.dump(stem + ".spans.json", {"env": env})

    dog.cancel()
    _stop_jvm(spark)
    shutil.rmtree(work, ignore_errors=True)

    names = metrics.PER_LAYER if args.trace else metrics.E2E
    values = layer if args.trace else {k: v for k, (v, _) in e2e.items()}
    print(json.dumps({
        "correct": result.correct,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {k: {"value": values[k], "unit": names[k]} for k in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
