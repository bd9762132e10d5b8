"""CDC ingest benchmark: run one workload with one seed, print one JSON line.

Run from the repository root:

    python3 cdcbench/run.py --workload tail_small_epochs --seed 1 --seconds 4 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` wraps the
engine's layers (see ``spans.py``), writes the span file and reports the
per-layer metrics instead, plus its overhead against the untraced result
of the same workload and seed when one was saved earlier. Scratch tables
live under ``.cdcbench/work`` (emptied at the start and end of a run);
results and span files under ``.cdcbench/out``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time


def _process_start() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


PROC_START = _process_start()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
WORK = os.path.join(REPO, ".cdcbench", "work")
OUT = os.path.join(REPO, ".cdcbench", "out")
DRIVER_MEM = "3g"  # well under the host's memory; the JVM is the big process


def start_spark(work: str):
    from data_ingestor_py_spark.session import get_spark

    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    cores = min(4, len(os.sched_getaffinity(0)))
    spark = get_spark(
        "cdcbench", cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def print_table(title: str, rows: dict[str, tuple[float, str]]) -> None:
    print(title)
    for k, (v, unit) in rows.items():
        print(f"  {k:<28} {v:>14.6g} {unit}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["tail_small_epochs", "mor_view_serving"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d))
    os.makedirs(OUT, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    sys.path.insert(0, REPO)

    import spans
    import workloads

    t0 = time.time()
    inputs = workloads.generate(workloads.PARAMS[args.workload]["full"], args.seed, WORK)
    gen_s = time.time() - t0

    spark = start_spark(WORK)
    tracer = spans.Tracer() if args.trace else spans.NullTracer()
    try:
        run = workloads.Run(spark, args.workload, "full", WORK, args.seconds, tracer)
        tracer.install()
        try:
            table = workloads.DRIVERS[args.workload](run, inputs)
            workloads.serve(run, table)
            t_served = time.time()
        finally:
            tracer.uninstall()
        problems = workloads.check(run, table, inputs)
        t_checked = time.time()
        e2e = workloads.end_to_end(run, PROC_START, gen_s)
        layer = None
        if args.trace:
            tracer.credit_jobs(spark)
            layer = spans.layer_metrics(
                tracer.spans, run.t_timed0, t_served, run.progress, run.run_id,
                run.gc1 - run.gc0, workloads.peak_rss_mb(run.jvm_pid),
            )
            tracer.dump(os.path.join(OUT, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    finally:
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    phases = [("generate", gen_s), ("set-up", run.setup_end - PROC_START - gen_s),
              ("warm-up", run.t_timed0 - run.setup_end),
              ("timed", run.t_timed1 - run.t_timed0), ("scans", t_served - run.t_timed1),
              ("checks", t_checked - t_served), ("stop", time.time() - t_checked)]
    print("phases:", ", ".join(f"{k} {v:.1f} s" for k, v in phases))

    for p in problems:
        print("CHECK FAILED:", p)
    print(f"checks: {'all passed' if not problems else f'{len(problems)} failed'}; "
          f"{len(run.walls)} timed batches, {run.events} events, "
          f"{run.operations} operations")
    print_table(f"end-to-end ({'traced' if args.trace else 'untraced'} run)", e2e)
    if layer is None:
        metrics = e2e
    else:
        units = dict(spans.LAYER_METRICS)
        metrics = {k: (layer[k], units[k]) for k in units}
        print_table("per layer", metrics)
        base = os.path.join(OUT, f"result-{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(base):
            with open(base) as f:
                untraced = json.load(f)["metrics"]
            print("tracing overhead (traced - untraced, same seed)")
            for k, (v, unit) in e2e.items():
                u = untraced[k]["value"]
                print(f"  {k:<28} {v - u:>+14.6g} {unit} ({(v - u) / u:+.1%})")
        else:
            print(f"tracing overhead: run --trace 0 with --seed {args.seed} first")
    result = {
        "correct": not problems,
        "attempted": run.operations,
        "failed": 0,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(os.path.join(OUT, f"result-{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
