"""Benchmark entry point.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Run from the root of a checkout. One run starts a fresh Spark session
(``local[nproc]``, a 2g driver heap), generates the workload's inputs
from ``--seed``, runs the workload's timed operations for at least
``--seconds``, checks every operation's output outside its timed span,
and prints, as its last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``. The line before it holds the run's details (environment,
inputs, per-kind timings with sample counts, the workload's own
figures and the failures). A traced run also writes its spans to
``.perfbench_out/``. ``--workload all`` runs every workload untraced and
traced and prints each metric with its unit, and the tracing overhead.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import headline, serve  # noqa: E402
from perfbench.common import (  # noqa: E402
    Ctx, alive, descendants, geomean, rss_peak_mb, span_total, steal_seconds, timing_summary,
)
from perfbench.trace import OFF, Tracer, operator_targets  # noqa: E402

PACKAGE = "covid19_etl_pipeline_spark"
DRIVER_HEAP = "2g"
WORKLOADS = {"headline": headline, "serve_mixed": serve}
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file Spark writes inside the run's work directory, and
    let Spark's Python workers import the program from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_GRAFT_MASTER", None)


def start_spark(work: str):
    from covid19_etl_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.memory": DRIVER_HEAP,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, the JVM and every process under it, and wait
    until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm = gateway.proc if gateway is not None else None
    procs = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if jvm is not None:
        if jvm.stdin:
            jvm.stdin.close()  # the JVM exits when its stdin closes
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    deadline = time.monotonic() + 30
    while any(alive(p) for p in procs) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in procs:
        if alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def end_to_end(ctx: Ctx, setup_s: float) -> dict[str, float]:
    ops = [op for op in ctx.ops if op.timed]
    secs = [op.seconds for op in ops]
    return {
        "setup_s": setup_s,
        "op_cpu_ms": sum(op.cpu for op in ops) / len(ops) * 1e3,
        "op_geomean_ms": geomean(secs) * 1e3,
        "ops_per_s": len(secs) / sum(secs),
    }


def run_one(args) -> int:
    wl = WORKLOADS[args.workload]
    bench = spec()
    # the program: a checkout without it fails here, before any result
    import covid19_etl_pipeline_spark.__main__  # noqa: F401
    import covid19_etl_pipeline_spark.plans.queries  # noqa: F401

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work)

    steal0 = steal_seconds()
    t = time.perf_counter()
    spark = start_spark(work)
    session_s = time.perf_counter() - t
    master = spark.sparkContext.master
    tracer = Tracer(spark) if args.trace else OFF
    ctx = Ctx(spark, work, args.seed, args.seconds, args.scale == "tiny", tracer)
    pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]
    try:
        with tracer.wrap(operator_targets(PACKAGE) if args.trace else []):
            wl.run(ctx)
        rss_mb = rss_peak_mb(pids)
        layer = wl.layer_metrics(ctx) if args.trace else {}
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    steal1 = steal_seconds()

    if not ctx.ops:
        raise RuntimeError("the workload attempted no operation")
    setup_s = ctx.first_op_at - PROCESS_START - ctx.gen_seconds - ctx.setup_left_out
    e2e = end_to_end(ctx, setup_s)
    failed = sum(not op.ok for op in ctx.ops)
    if args.trace:
        layer["session.start_s"] = session_s
        layer["peak_rss_mb"] = rss_mb
        layer["operators.s"] = span_total(tracer, "operators.s")
        layer["operators.jobs"] = span_total(tracer, "operators.s", "jobs")
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        unknown = set(layer) - set(units)
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        values = {n: float(layer.get(n, 0.0)) for n in units}
        os.makedirs(OUT_DIR, exist_ok=True)
        with open(os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace.json"), "w") as fh:
            json.dump({
                "spans": tracer.records(),
                "self_seconds": tracer.self_seconds(),
            }, fh)
    else:
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        values = e2e
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "env": {
            "nproc": nproc(),
            "spark_master": master,
            "driver_heap": DRIVER_HEAP,
            "host_steal_s": None if steal0 is None or steal1 is None else round(steal1 - steal0, 3),
        },
        "input": ctx.detail.get("input"),
        "generate_s": round(ctx.gen_seconds, 3),
        "check_s": round(ctx.check_seconds, 3),
        "timings": {
            k: timing_summary([op.seconds for op in ctx.ops if op.timed and op.kind == k])
            for k in dict.fromkeys(op.kind for op in ctx.ops if op.timed)
        },
        "figures": wl.figures(ctx),
        "end_to_end": e2e,
        "peak_rss_mb": rss_mb,
        "errors": ctx.errors[:10],
    }
    if args.trace:
        detail["self_seconds"] = {k: round(v, 4) for k, v in tracer.self_seconds().items()}
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ctx.ops),
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }))
    return 0


def run_all(args) -> int:
    """Every workload, untraced then traced, in its own process."""
    bench = spec()
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    ok = True
    for w in bench["workloads"]:
        e2e = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w["name"],
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace), "--scale", args.scale]
            res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            lines = res.stdout.strip().splitlines()
            if res.returncode != 0 or len(lines) < 2:
                print(f"{w['name']} trace={trace}: exit {res.returncode}\n{res.stderr[-2000:]}")
                ok = False
                continue
            detail, result = json.loads(lines[-2]), json.loads(lines[-1])
            ok &= result["correct"]
            e2e[trace] = detail["end_to_end"]
            print(f"== {w['name']} trace={trace}: correct={result['correct']} "
                  f"attempted={result['attempted']} failed={result['failed']}")
            for n, m in result["metrics"].items():
                if trace == 0 or m["value"]:
                    print(f"  {n:<44} {m['value']:>14.4f} {units[n]}")
            print(f"  figures: {json.dumps(detail['figures'])}")
        if len(e2e) == 2:
            print("  tracing overhead (traced - untraced):")
            for n, v in e2e[0].items():
                print(f"  {n:<44} {e2e[1][n] - v:>+14.4f} {units[n]}")
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="tiny: a few-second run on small inputs, for the smoke test")
    args = p.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
