"""CDC reporting benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The inputs are generated from the seed
into ``.perfbench_work/`` under that root, the program (the
``changedatacapture_reporting_spark`` package next to this directory)
runs them in this process through its public API, and every answer is
checked against an independent DuckDB/numpy oracle.

Standard output ends with two JSON lines: a detail record (the
workload's own metrics with units, the environment, the checks), then
the result: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
Spark's event log is on, fs/logstore calls are wrapped, the isolated
layer probes run, and the metrics are the per-layer ones. A traced run
also writes its spans and per-request layer rows to
``.perfbench_work/traces/``, and its detail record gives its overhead
against the correct untraced run of the same workload, seed,
``--seconds`` and code that this checkout last made (kept in
``.perfbench_work/history.jsonl``), or null when there is none. The exit
code is 0 only when every check passed.

Workloads and their traffic parameters are in ``workloads.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import resource
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
HISTORY = os.path.join(WORK_ROOT, "history.jsonl")


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return 100.0 * d[7] / total if total and len(d) > 7 else 0.0


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def pin_env(work: str, cpus: int, params: dict) -> None:
    """Everything the JVM and Python workers write stays under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = params["env"]["driver_memory"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.pop("OMP_NUM_THREADS", None)


def spark_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file under /tmp; JVM temp files go to the work dir
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                # zstd is the default codec and no zstandard module is here
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def code_hash() -> str:
    """Digest of the package under test and of this benchmark's files."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "changedatacapture_reporting_spark"), HERE):
        for base, dirs, files in os.walk(top):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for f in sorted(files):
                if f.endswith((".py", ".json")):
                    path = os.path.join(base, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def run_key(args, code: str) -> dict:
    return {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "code": code}


def untraced_baseline(key: dict) -> float | None:
    """Cycle time (write_p50_s + read_p50_s) of the latest correct
    untraced run with the same workload, seed, ``--seconds`` and code, from
    this checkout's run history; None when there is none."""
    base = None
    if os.path.exists(HISTORY):
        with open(HISTORY) as fh:
            for line in fh:
                rec = json.loads(line)
                if rec.get("key") == key:
                    base = rec["cycle_s"]
    return base


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as fh:
        params = json.load(fh)
    if args.workload not in params["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "changedatacapture_reporting_spark")):
        print("the package under test is not in this checkout", file=sys.stderr)
        return 2

    # SIGTERM unwinds like Ctrl-C, so the JVM is stopped and the work
    # directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(work)
    try:
        return measure(args, params, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, params: dict, work: str) -> int:
    trace = bool(args.trace)
    cpus = len(os.sched_getaffinity(0))
    pin_env(work, cpus, params)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)

    import pyspark
    from pyspark import SparkContext

    import tracing
    import workloads
    from changedatacapture_reporting_spark.session import get_spark

    load_start = os.getloadavg()
    cpu0 = cpu_times()
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=spark_conf(work, trace))
    session_s = time.perf_counter() - t0
    gateway = SparkContext._gateway
    jvm_pid = gateway.proc.pid
    tracer = tracing.Tracer(trace)
    tracer.install(spark)
    run = workloads.Run(args.workload, spark, tracer, params, work, args.seed, args.seconds)
    try:
        out = workloads.WORKLOADS[args.workload](run)
        peak_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0 + vm_hwm_mb(jvm_pid)
        java = spark._jvm.System.getProperty("java.version")
    finally:
        tracer.uninstall()
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
    cpu1 = cpu_times()

    timed = [r for r in run.requests if not r["kind"].startswith("probe")]
    checks = 1 if "sink_check" in out else 0
    attempted = len(timed) + checks
    failed = min(attempted, sum(not r["ok"] for r in run.requests) + run.mismatches)
    setup_s = session_s + out["build_s"]
    cycle_s = workloads.median(out["write"]) + workloads.median(out["read"])

    detail_metrics = {
        "setup_s": (setup_s, "s"),
        "ops_failed_frac": (failed / attempted if attempted else 1.0, "ratio"),
        "peak_rss_mb": (peak_rss, "MB"),
        **out["metrics"],
    }
    env = {
        "nproc": cpus,
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "host_steal_pct": round(steal_pct(cpu0, cpu1), 3),
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "java": java,
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": env,
        "session_start_s": session_s,
        "setup_build_s": out["build_s"],
        "gen_s": out["gen_s"],
        "e2e_names": params["workloads"][args.workload]["e2e"],
        "metrics": {
            k: {"value": v[0], "unit": v[1], **(v[2] if len(v) > 2 else {})}
            for k, v in detail_metrics.items()
        },
        "latencies_s": {
            kind: [round(r["latency"], 4) for r in run.requests if r["kind"] == kind]
            for kind in sorted({r["kind"] for r in run.requests})
        },
        "sink_check": {k: v for k, v in (out.get("sink_check") or {}).items()},
        "failures": run.failures[:20],
    }

    key = run_key(args, code_hash())
    if trace:
        spark_rows = tracing.fold_event_log(os.path.join(work, "eventlog"))
        layers = workloads.layer_metrics(run, out, spark_rows)
        layers["session.start_s"] = session_s
        # overhead against an untraced run of this very workload, seed and
        # code; null when this checkout has none
        base = untraced_baseline(key)
        detail["trace_overhead"] = {
            "overhead_frac": cycle_s / base - 1.0 if base else None,
            "traced_cycle_s": cycle_s,
            "untraced_cycle_s": base,
            "baseline": key,
        }
        rows = tracing.request_rows(run.requests, tracer, spark_rows)
        trace_dir = os.path.join(WORK_ROOT, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as fh:
            json.dump(
                {"detail": detail, "layers": layers, "requests": rows, "spans": tracer.spans},
                fh,
                default=str,
            )
        detail["trace_file"] = os.path.relpath(trace_path, ROOT)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            units = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in units.items()}
    else:
        e2e = {
            "setup_s": setup_s,
            "write_p50_s": workloads.median(out["write"]),
            "read_p50_s": workloads.median(out["read"]),
            "peak_rss_mb": peak_rss,
        }
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            units = {m["name"]: m["unit"] for m in json.load(fh)["end_to_end"]}
        metrics = {k: {"value": float(e2e[k]), "unit": units[k]} for k in units}
        if not failed:
            with open(HISTORY, "a") as fh:
                fh.write(json.dumps({"key": key, "cycle_s": cycle_s}) + "\n")

    print(json.dumps({"perfbench": detail}, default=str))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
