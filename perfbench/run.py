#!/usr/bin/env python3
"""Benchmark of spark_ensemble_spark's ensemble fitting and scoring.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all      # every workload, one table

One client in one process runs a closed loop on ``local[nproc]``: each
operation starts after the previous one ends, and the only extra threads are
the estimators' own ``parallelism``, capped at nproc. Inputs are generated
from ``--seed`` (``perfbench/data.py``); set-up absorbs session start, the
fixture build and first-run compile costs; then whole passes over the
workload's operations repeat until ``--seconds`` have passed (at least one).
Outputs are checked outside the timed region. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
``end_to_end`` metrics of BENCHMARK.json, or with ``--trace 1`` its
``per_layer`` metrics); the line before it records the environment.

End-to-end times are CPU seconds of the driver JVM plus this process, and
``setup_s`` is the CPU time of set-up: on a shared VM, hypervisor steal
moves wall time by a quarter between identical runs (``perfbench/LAYERS.md``).
Wall times are reported by the traced run.

With ``--trace 1`` passes alternate between untraced and traced (layer
functions wrapped, see ``perfbench/trace.py``), Spark writes an event log,
and the difference of the two pass medians is reported as the tracing
overhead. Generated files live under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
NPROC = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "2g"
N_LINES = 10000  # lineitem rows, the source of both ML fixtures


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def environment() -> dict:
    import pyspark

    head = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        proc = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True
        )
        head = proc.stdout.strip() or head
    return {
        "nproc": NPROC,
        "master": f"local[{NPROC}]",
        "spark": pyspark.__version__,
        "driver_heap": DRIVER_MEMORY,
        "git_head": head,
        "python": sys.version.split()[0],
    }


def configure(run_dir: str, trace: bool) -> None:
    """Pin the session (before pyspark starts the JVM) and keep every file
    the run writes inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = ["--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events, exist_ok=True)
        conf += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", "spark.eventLog.compress=false",
            "--conf", f"spark.eventLog.dir=file://{events}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf + ["pyspark-shell"])


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak RSS of the driver JVM plus this Python process."""
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + own_kb) / 1024.0


def cpu_seconds(jvm_pid: int) -> float:
    """CPU time used so far by the driver JVM plus this Python process."""
    with open(f"/proc/{jvm_pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    jvm_ticks = int(fields[11]) + int(fields[12])  # utime, stime
    own = os.times()
    return jvm_ticks / os.sysconf("SC_CLK_TCK") + own.user + own.system


def steal_seconds() -> float:
    """Machine-wide CPU time stolen by the hypervisor so far."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run_one(name: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import data
    from perfbench.workloads import WORKLOADS, Ctx

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    configure(run_dir, trace)
    os.chdir(run_dir)  # stray files (spark-warehouse, ...) stay in the run dir
    spark = None
    try:
        t_setup, cpu_setup = time.perf_counter(), sum(os.times()[:2])
        sf_dir = os.path.join(run_dir, "tables")
        data.write_lineitem(sf_dir, seed, N_LINES)
        from pyspark import SparkContext

        from spark_ensemble_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=NPROC)
        get_spark_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = SparkContext._gateway.proc.pid
        cpu = lambda: cpu_seconds(jvm_pid)  # noqa: E731
        ctx = Ctx(spark, sf_dir, run_dir, seed, NPROC, cpu)
        wl = WORKLOADS[name]()
        wl.setup(ctx)
        setup_s = time.perf_counter() - t_setup - ctx.check_s
        setup_cpu_s = cpu() - cpu_setup - ctx.check_cpu_s
        log(f"[{name}] set-up {setup_s:.2f}s, cpu {setup_cpu_s:.2f}s (session {get_spark_s:.2f}s)")

        tracer = None
        if trace:
            from perfbench.trace import Tracer

            tracer = Tracer()
        ops = wl.ops(ctx)
        passes, outputs = [], {}
        attempted = failed = 0
        t_meas = time.perf_counter()
        while True:
            traced = tracer is not None and len(passes) % 2 == 1
            if traced:
                tracer.install()
            w0, p0 = time.time(), time.perf_counter()
            c0, st0 = cpu(), steal_seconds()
            times, items = {}, 0
            for op in ops:
                attempted += 1
                op_c0 = cpu()
                try:
                    plan_s, exec_s, n, out = op.run()
                except Exception:
                    failed += 1
                    log(f"[{name}] {op.name} failed:\n{traceback.format_exc()}")
                    continue
                times[op.name] = (plan_s, exec_s, cpu() - op_c0)
                items += n
                if out is not None:
                    outputs[op.name] = out
            wall = time.perf_counter() - p0
            pass_cpu, steal = cpu() - c0, steal_seconds() - st0
            if traced:
                tracer.uninstall()
            passes.append({"times": times, "wall": wall, "items": items, "cpu": pass_cpu,
                           "traced": traced, "window": (w0, time.time())})
            log(f"[{name}] pass {len(passes)}{' traced' if traced else ''}: {wall:.2f}s,"
                f" cpu {pass_cpu:.2f}s, steal {steal:.2f}s")
            done = time.perf_counter() - t_meas >= seconds
            if done and len(passes) >= (2 if trace else 1):
                break
        with ctx.phase("output checks", checking=True):
            wl.check(ctx, outputs)
        rss = peak_rss_mb(jvm_pid)
        stop_spark(spark)
        spark = None

        walls = [p["wall"] for p in passes]
        cpus = [p["cpu"] for p in passes]
        per_op = {}
        for p in passes:
            for op, t in p["times"].items():
                per_op.setdefault(op, []).append(t)

        def geomean_of_medians(f):
            meds = [statistics.median(f(t) for t in v) for v in per_op.values()]
            return math.exp(statistics.fmean(math.log(m) for m in meds))

        checked = max(ctx.checked, 1)
        items = sum(p["items"] for p in passes)
        metrics = {
            "pass_s": statistics.median(walls),
            "pass_cpu_s": statistics.median(cpus),
            "op_geomean_s": geomean_of_medians(lambda t: t[0] + t[1]),
            "op_geomean_cpu_s": geomean_of_medians(lambda t: t[2]),
            "items_per_s": items / sum(walls),
            "items_per_cpu_s": items / sum(cpus),
            "setup_s": setup_cpu_s,
            "setup_wall_s": setup_s,
            "peak_rss_mb": rss,
            "op_success_ratio": (attempted - failed) / attempted,
            "op_correct_ratio": (checked - len(ctx.wrong)) / checked,
        }
        log(f"[{name}] {len(passes)} passes, all metrics {json.dumps(metrics)}")
        if trace:
            metrics = layer_metrics(name, tracer, passes, per_op, get_spark_s, ctx, run_dir, metrics)
        for w in ctx.wrong:
            log(f"[{name}] WRONG {w}")
        return {
            "correct": not ctx.wrong,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)


def layer_metrics(name, tracer, passes, per_op, get_spark_s, ctx, run_dir, e2e) -> dict:
    from perfbench.trace import event_log_metrics

    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    tracer.dump(os.path.join(WORK, f"{name}.spans.jsonl"))
    out = {
        "wall.setup_s": e2e["setup_wall_s"],
        "mem.peak_rss_mb": e2e["peak_rss_mb"],
        "session.get_spark_s": get_spark_s,
        "sources.datasets.fixture_build_s": ctx.setup_layers.get(
            "sources.datasets.fixture_build_s", 0.0
        ),
        "core.persistence.save_s": ctx.setup_layers.get("core.persistence.save_s", 0.0),
        "core.persistence.load_s": ctx.setup_layers.get("core.persistence.load_s", 0.0),
    }
    out.update(tracer.layer_metrics(len(traced)))
    learners = statistics.fmean(p["items"] for p in passes) if name.startswith("fit_") else 0.0
    out.update(
        event_log_metrics(
            os.path.join(run_dir, "events"), [p["window"] for p in passes], NPROC, learners
        )
    )
    traced_s = statistics.median(p["wall"] for p in traced)
    plain_s = statistics.median(p["wall"] for p in plain)
    out["trace.pass_s"] = traced_s
    out["trace.untraced_pass_s"] = plain_s
    out["trace.overhead_s"] = traced_s - plain_s
    # Every operation of every workload, so each traced run reports the same
    # metric set; a scoring operation also splits into driver-side plan
    # construction (``transform``) and execution (the noop write).
    from perfbench.workloads import FIT_OPS, ScoreWorkload

    for op in [f"fit_{n}" for n in FIT_OPS] + [f"score_{n}" for n in ScoreWorkload.names]:
        v = per_op.get(op, [])
        out[f"op.{op}.s"] = statistics.median(t[0] + t[1] for t in v) if v else 0.0
        if op.startswith("score_"):
            out[f"op.{op}.plan_s"] = statistics.median(t[0] for t in v) if v else 0.0
            out[f"op.{op}.exec_s"] = statistics.median(t[1] for t in v) if v else 0.0
    return out


def finish(result: dict, kind: str) -> dict:
    """Keep exactly the declared metrics, with their units."""
    spec = load_spec()
    declared = spec["per_layer" if kind == "trace" else "end_to_end"]
    metrics = result["metrics"]
    missing = [m["name"] for m in declared if m["name"] not in metrics]
    if missing:
        raise RuntimeError(f"metrics not computed: {missing}")
    result["metrics"] = {
        m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared
    }
    return result


def run_all(args) -> int:
    """Every workload in its own process; one table of end-to-end metrics."""
    from perfbench.workloads import WORKLOADS

    spec = load_spec()
    results = {}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            log(f"{name}: exit code {proc.returncode}")
            return proc.returncode
        results[name] = json.loads(proc.stdout.strip().splitlines()[-1])
    rows = spec["per_layer" if args.trace else "end_to_end"]
    print(f"{'metric':<44}{'unit':<10}" + "".join(f"{w:>18}" for w in results))
    for m in rows:
        vals = "".join(f"{r['metrics'][m['name']]['value']:>18.4g}" for r in results.values())
        print(f"{m['name']:<44}{m['unit']:<10}{vals}")
    for key in ("attempted", "failed", "correct"):
        print(f"{key:<54}" + "".join(f"{str(r[key]):>18}" for r in results.values()))
    failed = "".join(f"{r['failed'] / r['attempted']:>18.4g}" for r in results.values())
    print(f"{'failed_op_ratio':<44}{'ratio':<10}{failed}")
    if not args.trace:
        wrong = "".join(
            f"{1 - r['metrics']['op_correct_ratio']['value']:>18.4g}" for r in results.values()
        )
        print(f"{'wrong_op_ratio':<44}{'ratio':<10}{wrong}")
    print(json.dumps(results))
    return 0 if all(r["correct"] and not r["failed"] for r in results.values()) else 1


def main() -> int:
    sys.path[:0] = [ROOT]
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all", choices=["all", *WORKLOADS])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=load_spec()["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    try:
        import spark_ensemble_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the library under test from {ROOT}: {e}")
        return 2
    if args.workload == "all":
        return run_all(args)
    os.makedirs(WORK, exist_ok=True)
    result = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    result = finish(result, "trace" if args.trace else "e2e")
    print(json.dumps({"env": environment()}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
