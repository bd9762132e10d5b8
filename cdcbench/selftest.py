"""Self-test of the benchmark's output checks, at tiny scale.

Runs each workload on a tiny backlog (every input applied), requires all
checks to pass, and then requires each check to fail on a deliberately
corrupted copy of the outputs:

- a dropped row: one row less in the final state, in the view, and in a
  lookup result;
- a stale version: the state read at the snapshot before the last batch,
  and the mid-run view read at the version before its pin;
- a skipped batch: a second table replayed without one of the inputs,
  checked for state and for batch/event accounting;
- a redelivery that is not a redelivery: the last input re-applied with
  new ``_seq`` values must change ``snapshot_hash()``.

Run from the repository root: ``python3 cdcbench/selftest.py``. Prints one
line per case and exits non-zero if a clean run fails a check or a
corrupted copy passes one.
"""

from __future__ import annotations

import os
import shutil
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
WORK = os.path.join(REPO, ".cdcbench", "selftest")
SEED = 3


def cases(run, t, inputs):
    """(name, problems) for every corrupted copy of one finished run."""
    from pyspark.sql import functions as F

    import gen
    import oracle
    import workloads as W
    from data_ingestor_py_spark.plans.replay import replay
    from data_ingestor_py_spark.plans.target import TargetTable

    last = max(run.records)
    want = oracle.state(inputs.upto(last))
    out = []

    state = W.state_of(t.read())
    out.append(("dropped row: final state",
                oracle.check_state("final state", state.slice(1), want)))
    view = run.view.read().toArrow()
    out.append(("dropped row: view",
                oracle.check_view("view", view.slice(1), oracle.view(want))))
    k, probes, rows = next(x for x in run.lookups if x[2].num_rows > 0)
    out.append(("dropped row: lookup",
                oracle.check_state("lookup", rows.slice(1), oracle.state(inputs.upto(k), probes))))

    stale_v = run.records[last - 1].snapshot_version
    out.append(("stale version: final state",
                oracle.check_state("final state", W.state_of(t.read_version(stale_v)), want)))
    k = W.mid_input(run)
    if k in run.view_pins:
        view_v = run.view_pins[k]
        stale_view = run.view.table.read_version(view_v - 1).select(*oracle.VIEW_COLS).toArrow()
        out.append(("stale version: pinned view",
                    oracle.check_view("view", stale_view, oracle.view(oracle.state(inputs.upto(k))))))

    # skipped batch: the same inputs replayed into a fresh table minus one
    skip = last // 2 + 1
    batches = [run.spark.read.schema(gen.EVENT_DDL).parquet(f) for f in inputs.upto(last)]
    t2 = TargetTable.create(run.spark, os.path.join(run.work, "skipped"), key_cols=["repo", "path"],
                            columns=gen.PAYLOAD, num_buckets=run.p["buckets"])
    replay(t2, [b for i, b in enumerate(batches) if i != skip], prepare=W.prepare)
    out.append(("skipped batch: final state",
                oracle.check_state("final state", W.state_of(t2.read()), want)))
    out.append(("skipped batch: accounting",
                oracle.check_accounting([inputs.events[i] for i in range(last + 1)],
                                        W.committed_rows_in(t2))))

    before = t.snapshot_hash()
    t.merge_apply(W.prepare(run.redeliver).withColumn("_seq", F.col("_seq") + 10**9))
    out.append(("changed redelivery: snapshot_hash",
                oracle.check_redelivery(before, t.snapshot_hash())))
    return out


def main() -> int:
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    sys.path.insert(0, REPO)

    import spans
    import workloads as W
    from run import start_spark, stop_spark

    spark = start_spark(WORK)
    bad = 0
    try:
        for name in W.WORKLOADS:
            work = os.path.join(WORK, name)
            os.makedirs(work)
            run = W.Run(spark, name, "tiny", work, 600.0, spans.NullTracer())
            inputs = W.generate(run.p, SEED, work)
            t = W.DRIVERS[name](run, inputs)
            W.serve(run, t)
            clean = W.check(run, t, inputs)  # its redelivery leaves the state as it was
            corrupted = cases(run, t, inputs)
            ok = not clean and len(run.records) == len(inputs.events)
            bad += not ok
            print(f"{name:<18} clean run{'':<25} {'PASS' if ok else 'FAIL'} "
                  f"({len(run.records)} batches; {'; '.join(clean) or 'all checks passed'})")
            for case, problems in corrupted:
                bad += not problems
                print(f"{name:<18} {case:<34} {'PASS' if problems else 'FAIL'} "
                      f"({problems[0] if problems else 'corruption NOT detected'})")
    finally:
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    print("self-test:", "all cases behaved" if not bad else f"{bad} case(s) misbehaved")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
