"""The benchmark's workloads and what they measure.

Each workload is a closed loop: its backlog of change events is generated
and written to parquet before the engine starts, and the loop hands the
engine the next batch (or lets the stream take the next file) as soon as
the previous one has committed. Every input is followed by one lookup
call, and the view is refreshed after every batch on ``mor_view_serving``
and every three epochs on ``tail_small_epochs``. Input 0 ends the set-up,
the next ``warm`` inputs run untimed while the JIT warms up, and whole
timed rounds then run until ``seconds`` have passed. The lookups
and refreshes are timed on their own, outside the batch walls. Full
scans and the output checks come last.

- ``tail_small_epochs``: small uniform-key files tailed by
  ``stream_replay(max_files_per_trigger=1)`` into a copy-on-write table.
- ``mor_view_serving``: update-heavy per-batch files through ``replay()``
  into a merge-on-read table, refreshing an incremental view and running
  point lookups after every batch.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
from pyspark.sql import functions as F

import gen
import oracle
from spans import files_under

from data_ingestor_py_spark.plans.mv import IncrementalAggregate
from data_ingestor_py_spark.plans.replay import replay
from data_ingestor_py_spark.plans.target import TargetTable
from data_ingestor_py_spark.streaming.stream_replay import stream_replay

# input make-up per workload; ``tiny`` is the self-test's scale. Input 0
# ends the set-up and the next ``warm`` inputs run untimed. A round is the
# timed inputs run between two looks at the clock; the view is refreshed
# after input 0 and every ``refresh_every`` inputs after the warm-up. The
# backlog holds the warm-up and whole rounds, more of them than a run makes.
PARAMS = {
    "tail_small_epochs": {
        "full": dict(files=27, file_events=4_000, repos=100, paths=100,
                     dup=0.02, delete=0.05, buckets=8, warm=2, round=6, refresh_every=3),
        "tiny": dict(files=7, file_events=500, repos=20, paths=20,
                     dup=0.02, delete=0.05, buckets=4, warm=2, round=2, refresh_every=2),
    },
    "mor_view_serving": {
        "full": dict(files=17, file_events=8_000, repos=120, paths=100,
                     delete=0.05, buckets=8, max_deltas=2, warm=0, round=4, refresh_every=1),
        "tiny": dict(files=7, file_events=1_000, repos=20, paths=20,
                     delete=0.05, buckets=4, max_deltas=2, warm=0, round=2, refresh_every=1),
    },
}
WORKLOADS = list(PARAMS)
SCANS = 25  # full read() passes after the last batch
NEVER_SEEN = {"repo": "repo-99999", "path": "src/none.py"}
STREAM_WAIT_S = 150.0


class RoundsDone(Exception):
    """Raised from a batch hook once the timed rounds are over (the batch's
    checkpoint is already durable when the hook runs)."""


def prepare(df, _i=0):
    return df.select(*gen.TABLE_COLS)


def state_of(df) -> pa.Table:
    return df.select(
        *gen.TABLE_COLS[:-1], F.unix_micros("_ts").alias("_ts_us")
    ).toArrow()


def _cpu(jvm_pid: int) -> float:
    """CPU seconds so far of this Python process and the Spark JVM."""
    t = os.times()
    with open(f"/proc/{jvm_pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return t.user + t.system + (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def gc_seconds(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Run:
    """One workload run: the engine objects, the timed batches, and the
    serving reads and check results that follow them."""

    def __init__(self, spark, name: str, scale: str, work: str, seconds: float, tracer):
        self.spark, self.name, self.work = spark, name, work
        self.p = PARAMS[name][scale]
        self.seconds, self.tracer = seconds, tracer
        self.jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        self.root = os.path.join(work, "table")
        self.walls: list[float] = []  # per timed batch/epoch, seconds
        self.events = 0
        self.cpu_s = 0.0
        self.bytes_written = 0
        self.refresh_s: list[float] = []
        self.lookup_s: list[float] = []
        self.scan_s: list[float] = []
        self.records: dict[int, object] = {}  # batch/epoch id -> BatchRecord
        self.lookups: list[tuple[int, list[dict], pa.Table]] = []  # (after input, probes, rows)
        self.view_pins: dict[int, int] = {}  # after input -> view version
        self.operations = 0
        self.setup_end = self.t_timed0 = self.t_timed1 = None
        self.gc0 = self.gc1 = 0.0
        self._files0: dict[str, int] = {}
        self.view = None
        self.redeliver = None  # the last input, re-applied by the checks
        self.run_id = None
        self.progress: list[dict] = []

    # ---------------- timed-phase bookkeeping ----------------

    def cpu(self) -> float:
        return _cpu(self.jvm_pid)

    @property
    def timing(self) -> bool:
        return self.t_timed0 is not None and self.t_timed1 is None

    def start_timed(self) -> None:
        self.t_timed0 = time.time()
        self._files0 = files_under(self.root)
        self.gc0 = gc_seconds(self.spark)

    def end_timed(self) -> None:
        self.t_timed1 = time.time()
        new = files_under(self.root)
        self.bytes_written = sum(n for p, n in new.items() if p not in self._files0)
        self.gc1 = gc_seconds(self.spark)

    def time_up(self) -> bool:
        return time.time() - self.t_timed0 >= self.seconds

    def timed_input(self, i: int) -> bool:
        return i > self.p["warm"]

    def closes_round(self, i: int) -> bool:
        """Whether input ``i`` ends a timed round."""
        return self.timed_input(i) and (i - self.p["warm"]) % self.p["round"] == 0

    def after_input(self, t: TargetTable, i: int, probes: list[dict]) -> None:
        """The serving reads after input ``i`` has committed (one lookup
        call, and a view refresh on the ``refresh_every`` schedule), then
        the phase bookkeeping: input 0 ends the set-up, the last warm-up
        input starts the timed rounds."""
        warm = self.p["warm"]
        self.lookup(t, probes, i)
        if i == 0 or (i >= warm and (i - warm) % self.p["refresh_every"] == 0):
            self.refresh()
            self.pin_view(i)
        if i == 0:
            self.setup_end = time.time()
        if i == warm:
            self.start_timed()

    def add_timed(self, wall: float, events: int, cpu_s: float) -> None:
        self.walls.append(wall)
        self.events += events
        self.cpu_s += cpu_s

    # ---------------- serving reads ----------------

    def scan(self, table: TargetTable) -> None:
        with self.tracer.span("read.scan") as sp:
            t0 = time.time()
            df = table.read()
            df.write.format("noop").mode("overwrite").save()
            self.scan_s.append(time.time() - t0)
            if sp is not None:
                sp["attrs"]["input_files"] = len(df.inputFiles())
        self.operations += 1

    def lookup(self, table: TargetTable, probes: list[dict], after_input: int) -> None:
        with self.tracer.span("read.lookup") as sp:
            t0 = time.time()
            df = table.lookup(probes)
            rows = state_of(df)
            if self.timing:
                self.lookup_s.append(time.time() - t0)
            if sp is not None:
                sp["attrs"]["input_files"] = len(df.inputFiles())
        self.lookups.append((after_input, probes, rows))
        self.operations += 1

    def refresh(self, upto_version: int | None = None) -> None:
        t0 = time.time()
        self.view.refresh(upto_version=upto_version)
        if self.timing:
            self.refresh_s.append(time.time() - t0)
        self.operations += 1

    def create(self, **mode) -> TargetTable:
        """The source table and the view over it: COUNT(*), SUM(_seq) and
        MAX(_seq) by lang."""
        t = TargetTable.create(self.spark, self.root, key_cols=["repo", "path"],
                               columns=gen.PAYLOAD, num_buckets=self.p["buckets"], **mode)
        self.view = IncrementalAggregate.create(
            self.spark, os.path.join(self.work, "view"), t, ["lang"],
            sum_cols=[("sum_seq", "_seq")], max_cols=[("max_seq", "_seq", "long")],
        )
        return t


    def pin_view(self, after_input: int) -> None:
        self.view_pins[after_input] = self.view.table._load()["version"]


def probes_from(events: pa.Table, seed: int) -> list[dict]:
    """A fixed probe set from input 0: five keys it writes, two it
    deletes, and one key no input ever has."""
    rng = np.random.default_rng(seed + 7)
    ops = events["_op"].to_numpy(zero_copy_only=False)
    keys = list(zip(events["repo"].to_pylist(), events["path"].to_pylist()))
    deleted = sorted({keys[i] for i in np.flatnonzero(ops == "D")})
    written = sorted({keys[i] for i in np.flatnonzero(ops != "D")} - set(deleted))
    pick = [written[i] for i in rng.choice(len(written), 5, replace=False)]
    pick += [deleted[i] for i in rng.choice(len(deleted), min(2, len(deleted)), replace=False)]
    return [{"repo": r, "path": p} for r, p in pick] + [dict(NEVER_SEEN)]


# ---------------- inputs ----------------


class Inputs:
    """The generated backlog: its parquet files, the event count of each
    input (a batch or a file), and the lookup probe set."""

    def __init__(self, files: list[str], events: list[int], probes: list[dict]):
        self.files, self.events, self.probes = files, events, probes

    def upto(self, k: int) -> list[str]:
        """Files of inputs ``0..k``."""
        return self.files[: k + 1]


def generate(p: dict, seed: int, work: str) -> Inputs:
    d = os.path.join(work, "input")
    n_files = p["files"]
    n = n_files * p["file_events"]
    ev = gen.make_events(seed, n, p["repos"], p["paths"], dup_share=p.get("dup", 0.0),
                         delete_share=p["delete"])
    files = []
    for i in range(n_files):
        f = os.path.join(d, f"part-{i:05d}.parquet")
        gen.write(ev.slice(i * p["file_events"], p["file_events"]), f)
        files.append(f)
    return Inputs(files, [p["file_events"]] * n_files,
                  probes_from(ev.slice(0, p["file_events"]), seed))


# ---------------- the two drivers ----------------


class BatchHooks:
    """``replay()`` hooks: after the set-up batch and the warm-up inputs,
    every batch is timed from ``on_batch_start`` to ``on_batch_end`` (its
    checkpoint is durable then); the serving reads follow, outside that
    wall."""

    def __init__(self, run: Run, t: TargetTable, inputs: Inputs):
        self.run, self.t, self.inputs = run, t, inputs
        self.t0 = self.c0 = 0.0
        self.span = None

    def start(self, i, _table):
        self.span = self.run.tracer.open("batch", batch=i)
        self.c0, self.t0 = self.run.cpu(), time.time()

    def end(self, i, _table, rec):
        run = self.run
        t1 = time.time()
        c1 = run.cpu()
        run.tracer.close(self.span)
        run.records[i] = rec
        run.operations += 1
        if run.timing:
            run.add_timed(t1 - self.t0, self.inputs.events[i], c1 - self.c0)
        run.after_input(self.t, i, self.inputs.probes)
        if run.closes_round(i) and run.time_up():
            run.end_timed()
            raise RoundsDone


def drive_mor(run: Run, inputs: Inputs) -> TargetTable:
    p = run.p
    t = run.create(merge_mode="mor", mor_max_deltas=p["max_deltas"])
    batches = [run.spark.read.schema(gen.EVENT_DDL).parquet(f) for f in inputs.files]
    hooks = BatchHooks(run, t, inputs)
    try:
        with run.tracer.span("replay"):
            replay(t, batches, prepare=prepare, on_batch_start=hooks.start,
                   on_batch_end=hooks.end)
        run.end_timed()
    except RoundsDone:
        pass
    run.redeliver = batches[max(run.records)]
    return t


def drive_tail(run: Run, inputs: Inputs) -> TargetTable:
    tr, spark = run.tracer, run.spark
    t = run.create()
    watched = os.path.join(run.work, "stream-in")
    os.makedirs(watched)
    fed: list[str] = []
    done = threading.Event()
    errors: list[BaseException] = []
    st = {"prev_end": 0.0, "prev_cpu": 0.0, "stop_feeding": False, "epoch": None,
          "batch": None}
    served_ms: dict[int, float] = {}  # epoch -> ms of its hook after the batch

    def feed():
        i = len(fed)
        if i >= len(inputs.files) or st["stop_feeding"]:
            return
        dst = os.path.join(watched, os.path.basename(inputs.files[i]))
        os.link(inputs.files[i], dst)
        # the file source takes the oldest files first, by millisecond
        # mtime: whole seconds apart keep the inputs in order
        os.utime(dst, (t_feed0 + i, t_feed0 + i))
        fed.append(dst)

    def on_start(e, _table):
        st["batch"] = tr.open("batch", batch=e)

    def on_end(e, _table, rec):
        try:
            t1 = time.time()
            c1 = run.cpu()
            tr.close(st["batch"])
            if st["epoch"] is not None:
                tr.close(st["epoch"])
                st["epoch"] = None
            run.records[e] = rec
            run.operations += 1
            if run.timing:
                run.add_timed(t1 - st["prev_end"], inputs.events[e], c1 - st["prev_cpu"])
            run.after_input(t, e, inputs.probes)
            # one file is fed ahead: the file after the next one would open
            # a new round, so it is fed only while time is left
            if run.closes_round(e + 1) and run.time_up():
                st["stop_feeding"] = True
            feed()
            if len(fed) > e + 1:
                st["epoch"] = tr.open("epoch", epoch=e + 1)
            else:
                done.set()
            # the next epoch's wall starts once the serving reads are done
            now = time.time()
            served_ms[e] = (now - t1) * 1000.0
            st["prev_end"], st["prev_cpu"] = now, run.cpu()
        except BaseException as exc:  # surfaced by the main thread
            errors.append(exc)
            done.set()
            raise

    t_feed0 = int(time.time())
    feed()
    feed()
    with tr.span("stream_replay"):
        q = stream_replay(
            spark, watched, gen.EVENT_DDL, t, prepare=prepare,
            checkpoint_dir=os.path.join(run.work, "stream-checkpoint"),
            max_files_per_trigger=1, available_now=False,
            on_epoch_start=on_start, on_epoch_end=on_end,
        )
    run.run_id = str(q.runId)
    try:
        deadline = time.time() + STREAM_WAIT_S
        while not done.wait(0.05):
            if q.exception() is not None or time.time() > deadline:
                raise RuntimeError(f"stream stopped early: {q.exception()}")
        if errors:
            raise errors[0]
        # the last epoch's offsets are committed once its progress is out
        last = len(fed) - 1
        while (q.lastProgress or {}).get("batchId", -1) < last:
            if q.exception() is not None or time.time() > deadline:
                raise RuntimeError(f"stream did not commit epoch {last}: {q.exception()}")
            time.sleep(0.05)
        run.end_timed()
        # the hooks run inside foreachBatch, so Spark's addBatch and
        # triggerExecution also hold the serving reads: take those out
        for prog in q.recentProgress:
            if not run.timed_input(prog.get("batchId", 0)):
                continue
            d = dict(prog.get("durationMs", {}))
            for k in ("addBatch", "triggerExecution"):
                if k in d:
                    d[k] -= served_ms.get(prog.get("batchId"), 0.0)
            run.progress.append({"batchId": prog.get("batchId"), "durationMs": d})
    finally:
        q.stop()
    run.redeliver = spark.read.schema(gen.EVENT_DDL).parquet(fed[-1])
    return t


DRIVERS = {
    "tail_small_epochs": drive_tail,
    "mor_view_serving": drive_mor,
}


# ---------------- serving reads and output checks ----------------


def mid_input(run: Run) -> int:
    """A timed input in the middle of the run after which the view was
    pinned."""
    timed = [k for k in sorted(run.records) if run.timed_input(k)] or sorted(run.records)
    pinned = [k for k in timed if k in run.view_pins] or timed
    return pinned[(len(pinned) - 1) // 2]


def serve(run: Run, t: TargetTable) -> None:
    """Full scans after the last batch."""
    for _ in range(SCANS):
        run.scan(t)


def committed_rows_in(t: TargetTable) -> list[int]:
    """``rows_in`` of every COMMITTED record in the table's checkpoint,
    read from its parquet files."""
    cp = pads.dataset(os.path.join(t.root, "_checkpoint"), format="parquet").to_table()
    return [r for r, s in zip(cp["rows_in"].to_pylist(), cp["status"].to_pylist())
            if s == "COMMITTED"]


def check(run: Run, t: TargetTable, inputs: Inputs) -> list[str]:
    """Every output check; returns the problems found."""
    last = max(run.records)
    want = oracle.state(inputs.upto(last))
    problems = oracle.check_state("final state", state_of(t.read()), want)
    problems += oracle.check_view("view after the last batch", run.view.read().toArrow(),
                                  oracle.view(want))
    # the state after a timed batch in the middle of the run, read at its
    # snapshot, and the view pinned after that batch
    k = mid_input(run)
    src_v = run.records[k].snapshot_version
    mid = oracle.state(inputs.upto(k))
    problems += oracle.check_state(f"state at v{src_v} (after input {k})",
                                   state_of(t.read_version(src_v)), mid)
    if k in run.view_pins:
        view_v = run.view_pins[k]
        got = run.view.table.read_version(view_v).select(*oracle.VIEW_COLS).toArrow()
        problems += oracle.check_view(f"view at v{view_v} (after input {k})", got,
                                      oracle.view(mid))
    expected = {last: oracle.only_keys(want, inputs.probes)}
    for k, probes, rows in run.lookups:
        if k not in expected:
            expected[k] = oracle.state(inputs.upto(k), probes)
        problems += oracle.check_state(f"lookup after input {k}", rows, expected[k])
    problems += oracle.check_accounting(
        [inputs.events[i] for i in range(last + 1)], committed_rows_in(t),
    )
    before = t.snapshot_hash()
    t.merge_apply(prepare(run.redeliver))
    problems += oracle.check_redelivery(before, t.snapshot_hash())
    return problems


def end_to_end(run: Run, proc_start: float, gen_s: float) -> dict[str, tuple[float, str]]:
    med = statistics.median
    return {
        "setup_s": (run.setup_end - proc_start - gen_s, "s"),
        "ingest_events_per_s": (run.events / sum(run.walls), "events/s"),
        "commit_p50_s": (med(run.walls), "s"),
        "cpu_s_per_mevent": (run.cpu_s / run.events * 1e6, "s"),
        "bytes_written_per_event": (run.bytes_written / run.events, "B"),
        "scan_s": (med(run.scan_s), "s"),
        "view_refresh_p50_s": (med(run.refresh_s), "s"),
        "lookup_p50_ms": (med(run.lookup_s) * 1000.0, "ms"),
    }
