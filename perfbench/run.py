"""Benchmark entry point.

    python3 perfbench/run.py --workload {curation,ingest} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One process, one Spark session on
local[<cpus>], one operation at a time (a closed loop with one client).
It generates the workload's inputs from the seed under
``.perfbench_work/``, runs an untimed pass that warms the engine and
checks every output, one more untimed warm-up pass, then timed passes
until ``--seconds`` have passed (at least one; with ``--trace 1``
untraced and traced passes alternate, at least one of each). The last
line of stdout is one JSON object: the ``end_to_end`` metrics of
BENCHMARK.json with ``--trace 0``, its ``per_layer`` metrics with
``--trace 1``. Earlier ``#`` lines echo the environment, the inputs and
the full report; spans and per-pass numbers go to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# not anchored: the console progress bar ends its updates with \r, not \n
ERROR_LINE = re.compile(rb"\d\d/\d\d/\d\d \d\d:\d\d:\d\d ERROR ")


def seconds_since_process_start() -> float:
    """Both clocks count from boot, so this includes interpreter start."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def host_env(work: str) -> dict:
    """Session sizing from the host, through the variables the session
    factory already reads; workers import the package from any cwd."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_gb = int(fh.readline().split()[1]) / 1024**2
    env = {
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{max(1, min(4, int(mem_gb // 4)))}g",
        "SPARK_LOCAL_DIRS": f"{work}/spark-local",
        "TMPDIR": f"{work}/tmp",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work}/tmp",
    }
    os.makedirs(env["TMPDIR"], exist_ok=True)
    os.environ.update(env)
    return {"cpus": cpus, "host_mem_gb": round(mem_gb, 1), **env}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: the host taking our vCPUs shows as steal."""
    with open("/proc/stat") as fh:
        t = [int(x) for x in fh.readline().split()[1:9]]
    return t[7], sum(t)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(f"{ROOT}/BENCHMARK.json") as fh:
        spec = json.load(fh)

    sys.path.insert(0, ROOT)
    work = f"{ROOT}/.perfbench_work/{args.workload}-{os.getpid()}"
    env = host_env(work)
    log_path = f"{work}/spark.log"
    stderr = os.dup(2)
    os.dup2(os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND), 2)
    spark = None
    try:
        from perfbench.layers import Tracer, descendants, peak_rss_mb
        from perfbench.workloads import WORKLOADS, Ctx, pct
        from social_and_media_data_ingestion_spark import get_spark

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        wl = WORKLOADS[args.workload]()
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        session_start_s = time.perf_counter() - t0
        from social_and_media_data_ingestion_spark.plans.queries import registry

        reg = registry()
        t0 = time.perf_counter()
        inputs = wl.stage(work, args.seed)
        stage_s = time.perf_counter() - t0
        tracer = Tracer(enabled=False)
        ctx = Ctx(spark, tracer, env["cpus"])
        attempted, failures = wl.check_pass(ctx, reg)
        # one untimed pass more: the first pass after the check still runs
        # partly in JIT warm-up and is the noisiest pass of a run
        warm = wl.timed_pass(ctx, reg, -2, traced=False)
        attempted += len(warm["ops"])
        failures += warm["failures"]
        setup_s = seconds_since_process_start()
        with open(log_path, "rb") as fh:
            setup_errors = len(ERROR_LINE.findall(fh.read()))

        passes, deadline = [], time.perf_counter() + args.seconds
        while True:
            traced = bool(args.trace) and len(passes) % 2 == 1
            tracer.enabled = traced
            if traced:
                ctx.probe.mark()
            log_at, ticks = os.path.getsize(log_path), cpu_ticks()
            res = wl.timed_pass(ctx, reg, len(passes), traced)
            steal, total = (b - a for a, b in zip(ticks, cpu_ticks()))
            res["steal_ratio"] = steal / max(total, 1)
            with open(log_path, "rb") as fh:
                fh.seek(log_at)
                res["error_lines"] = len(ERROR_LINE.findall(fh.read()))
            res["traced"] = traced
            passes.append(res)
            attempted += len(res["ops"])
            failures += res["failures"]
            if time.perf_counter() >= deadline and (not args.trace or len(passes) >= 2):
                break

        untraced = [p for p in passes if not p["traced"]]
        ops = [x for p in untraced for x in p["ops"]]
        e2e = {
            "setup_s": setup_s,
            "pass_s": statistics.median(p["pass_s"] for p in untraced),
            "query_s.p50": statistics.median(ops),
            "query_s.p90": pct(ops, 90),
        }
        if hasattr(wl, "ingest_metrics"):
            e2e.update(wl.ingest_metrics(untraced))
        samples = {k: len(untraced) for k in e2e}
        samples.update({"setup_s": 1, "query_s.p50": len(ops), "query_s.p90": len(ops)})
        layer: dict[str, float] = {}
        if args.trace:
            jvm = ctx.probe.jvm_pid()
            traced_passes = [p for p in passes if p["traced"]]
            for k in {k for p in traced_passes for k in p["layer"]}:
                layer[k] = statistics.median(p["layer"].get(k, 0.0) for p in traced_passes)
            layer.update({
                "session.start_s": session_start_s,
                "session.jvm_peak_rss_mb": peak_rss_mb(jvm),
                "session.pyworker_peak_rss_mb": max(
                    [peak_rss_mb(c) for c in descendants(jvm)], default=0.0),
                "log.error_lines": statistics.median(p["error_lines"] for p in passes),
                "host.steal_ratio": statistics.median(p["steal_ratio"] for p in passes),
                "trace.overhead_s": statistics.median(p["pass_s"] for p in traced_passes)
                - e2e["pass_s"],
            })
            if layer.get("exec.job_wall_s"):
                layer["exec.busy_ratio"] = layer["exec.task_run_s"] / (
                    layer["exec.job_wall_s"] * env["cpus"])

        wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
        values = layer if args.trace else e2e
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in wanted}
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "env": {**env, "spark": spark.version,
                    "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version")},
            "inputs": inputs, "stage_s": stage_s, "session_start_s": session_start_s,
            "samples": samples, "attempted": attempted, "failures": failures,
            "fail_ratio": len(failures) / attempted, "end_to_end": e2e, "per_layer": layer,
            "error_lines": {"setup": setup_errors, "passes": [p["error_lines"] for p in passes]},
            "passes": [{k: v for k, v in p.items() if k != "layer"} for p in passes],
            "spans": tracer.dump() if args.trace else [],
        }
        out_dir = f"{ROOT}/.perfbench_out"
        os.makedirs(out_dir, exist_ok=True)
        with open(f"{out_dir}/{args.workload}-seed{args.seed}-trace{args.trace}.json", "w") as fh:
            json.dump(report, fh, indent=1, default=str)
    except BaseException:
        os.dup2(stderr, 2)
        traceback.print_exc()
        with open(log_path, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise
    finally:
        stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
        os.dup2(stderr, 2)

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    n_traced = sum(p["traced"] for p in passes)
    print(f"# env {json.dumps(report['env'])}")
    print(f"# inputs {json.dumps(inputs)}")
    for name, v in e2e.items():
        print(f"# end_to_end {name} = {v:.6g} {units.get(name, '')} (n={samples[name]})")
    for name in sorted(layer):
        print(f"# per_layer {name} = {layer[name]:.6g} {units.get(name, '')} (n={n_traced})")
    print(f"# fail_ratio = {report['fail_ratio']:.6g} (n={attempted})")
    print(f"# error_lines {json.dumps(report['error_lines'])}")
    for f in failures:
        print(f"# FAILED {f}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 0


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None


if __name__ == "__main__":
    sys.exit(main())
