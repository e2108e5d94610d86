"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Each run sets up once (a fresh JVM's Spark
session start plus input generation: ``setup_s``), then drives the workload
in a closed loop from this one process on ``local[nproc]`` for a fixed
number of units that ``--seconds`` alone decides (never the speed of the
machine or the program), then checks the outputs. All
state (warehouse, Spark local dirs, temp files, versioned tables, generated
inputs) lives under ``.perfbench_work/`` in the checkout and is removed at
the end. The last stdout line is the JSON result; the line before it names
the workload's own figures with their units. ``--trace 1`` instead reports
the per-layer metrics and writes the spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
from combined import WORKLOADS  # noqa: E402
from common import Ctx  # noqa: E402
from spans import Tracer  # noqa: E402

PACKAGE = "covid_19_data_engineering_spark"


def isolate(work: str) -> dict[str, str]:
    """Point every temp and scratch location of Python, the JVM and Spark
    into the run's work directory; return the Spark settings that do so."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile
    tempfile.tempdir = tmp
    java = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
    return {"spark.local.dir": local, "spark.driver.extraJavaOptions": java,
            "spark.ui.showConsoleProgress": "false"}


def start_session(ctx: Ctx, conf: dict[str, str]):
    from covid_19_data_engineering_spark.session import get_spark

    with ctx.tr.span("session.start"):
        spark = get_spark(app_name="perfbench", master=f"local[{ctx.nproc}]",
                          warehouse_dir=os.path.join(ctx.work, "warehouse"), extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        # the session is usable once its first job has run
        spark.range(1).count()
    return spark


def shut_down(spark) -> None:
    """Stop the session and wait for its JVM to exit (it does once its stdin
    closes), so no process outlives the run."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat: the time the
    hypervisor ran something else while this machine wanted to run, which
    inflates every wall-clock figure of the run."""
    try:
        with open("/proc/stat", encoding="ascii") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (f[7] if len(f) > 7 else 0), sum(f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {root}; run from a checkout",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    conf = isolate(work)
    tr = Tracer(enabled=bool(args.trace))
    ctx = Ctx(work, args.seed, tr, nproc)
    wl = WORKLOADS[args.workload]()
    ok = True
    steal0, total0 = cpu_jiffies()
    try:
        t0 = time.perf_counter()
        ctx.spark = start_session(ctx, conf)
        wl.generate(ctx)
        setup_s = time.perf_counter() - t0
        tr.bind(ctx.spark)
        wl.install(ctx)
        wl.run(ctx, wl.units(args.seconds))
        tr.unwrap_all()
        wl.check(ctx)
        e2e, side = wl.metrics(ctx)
        layers = wl.layer_metrics(ctx) if tr.enabled else {}
        n_spans = len(tr.spans)
        overhead = tr.per_span_overhead_s() * n_spans if tr.enabled else 0.0
    except Exception:  # a crashed run is a failed run, never a silent one
        traceback.print_exc()
        ctx.fail("run raised")
        ok = False
    finally:
        tr.unwrap_all()
        if ctx.spark is not None:
            shut_down(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    attempted = max(ctx.attempted, 1)
    failed = len(ctx.failures)
    for f in ctx.failures[:20]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    if not ok:
        print(json.dumps({"correct": False, "attempted": attempted, "failed": failed,
                          "metrics": {}}))
        return 1

    e2e["setup_s"] = setup_s
    side["error_rate"] = (failed / attempted, f"fraction of {attempted}")
    steal1, total1 = cpu_jiffies()
    side["steal_frac"] = ((steal1 - steal0) / max(total1 - total0, 1), "fraction")
    if tr.enabled:
        layers.update({
            "session.start_s": tr.median_s("session.start"),
            "trace.spans": float(n_spans),
            "trace.overhead_s": overhead,
            "trace.op_p50_s": e2e["op_p50_s"],
            "trace.work_s": e2e["work_s"],
        })
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        span_file = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")
        tr.write(span_file)
        side["span_file"] = (os.path.relpath(span_file, root), "path")
        side["trace_overhead_s"] = (overhead, "s")
        # every per-layer metric of BENCHMARK.json, 0 for a layer this
        # workload does not touch
        units = {m[0]: m[1] for m in metrics.PER_LAYER}
        values = {m[0]: float(layers.get(m[0], 0.0)) for m in metrics.PER_LAYER}
    else:
        units = {n: u for n, (u, _, _) in metrics.END_TO_END.items()}
        values = {n: float(e2e[n]) for n in metrics.END_TO_END}

    print("perfbench " + json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        **{k: {"value": v, "unit": u} for k, (v, u) in side.items()}}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in values}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
