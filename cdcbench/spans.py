"""Traced mode: spans around each engine layer, and the per-layer metrics.

The engine is not edited. :meth:`Tracer.install` wraps the layers' public
functions (``TargetTable.merge_apply`` / ``compact_bucket_deltas``,
``Checkpoint.commit``, ``Lineage.append``, ``IncrementalAggregate.refresh``)
from here; the workloads open the batch, epoch, scan and lookup spans
around their own calls. Spans stay in memory and are written out once,
when the run ends. Spark jobs are credited afterwards to every span whose
interval holds the job's submission time, from the driver's status store.

:class:`NullTracer` is what the untraced (timed) run gets: every call is
a no-op, so the end-to-end figures carry no tracing cost.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from contextlib import contextmanager

from data_ingestor_py_spark.plans.checkpoint import Checkpoint, Lineage
from data_ingestor_py_spark.plans.mv import IncrementalAggregate
from data_ingestor_py_spark.plans.target import TargetTable

# (name, unit) of every per-layer metric, in report order
LAYER_METRICS = [
    ("replay.batch_s", "s"), ("replay.unattributed_s", "s"),
    ("merge.apply_s", "s"), ("merge.jobs", "count"), ("merge.tasks", "count"),
    ("merge.rows_in", "count"), ("merge.rows_applied", "count"),
    ("merge.applied_ratio", "ratio"), ("merge.touched_buckets", "count"),
    ("merge.files_written", "count"), ("merge.bytes_written", "B"),
    ("compact.calls", "count"), ("compact.s", "s"), ("compact.bytes_rewritten", "B"),
    ("checkpoint.commit_s", "s"), ("lineage.append_s", "s"), ("meta.bytes_per_batch", "B"),
    ("stream.epoch_s", "s"), ("stream.gap_s", "s"), ("stream.trigger_ms", "ms"),
    ("stream.add_batch_ms", "ms"), ("stream.plan_ms", "ms"),
    ("stream.offset_commit_ms", "ms"), ("stream.jobs", "count"),
    ("view.refresh_s", "s"), ("view.merge_s", "s"), ("view.jobs", "count"),
    ("view.rows_in", "count"),
    ("read.scan_s", "s"), ("read.scan_files", "count"), ("read.lookup_s", "s"),
    ("read.lookup_files", "count"), ("read.lookup_jobs", "count"),
    ("jvm.gc_s", "s"), ("jvm.peak_rss_mb", "MB"),
]


def files_under(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass  # removed between listing and stat
    return out


class NullTracer:
    def open(self, name, **attrs):
        return None

    def close(self, sp, **attrs):
        pass

    @contextmanager
    def span(self, name, **attrs):
        yield None

    def install(self):
        pass

    def uninstall(self):
        pass


class Tracer(NullTracer):
    def __init__(self):
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self._restore: list[tuple] = []

    def open(self, name, **attrs):
        sp = {
            "id": len(self.spans), "name": name, "start": time.time(), "end": None,
            "parent": self.stack[-1]["id"] if self.stack else None, "attrs": attrs,
        }
        self.spans.append(sp)
        self.stack.append(sp)
        return sp

    def close(self, sp, **attrs):
        sp["end"] = time.time()
        sp["attrs"].update(attrs)
        self.stack.remove(sp)

    @contextmanager
    def span(self, name, **attrs):
        sp = self.open(name, **attrs)
        try:
            yield sp
        finally:
            self.close(sp)

    # ---------------- wrapping the engine's layer functions ----------------

    def _wrap(self, owner, fname, span_name, root_of, after=None):
        orig = getattr(owner, fname)
        tracer = self

        @functools.wraps(orig)
        def traced(obj, *a, **kw):
            root = root_of(obj)
            before = files_under(root)
            sp = tracer.open(span_name, root=root)
            try:
                out = orig(obj, *a, **kw)
            finally:
                tracer.close(sp)
            new = {p: n for p, n in files_under(root).items() if p not in before}
            sp["attrs"].update(files=len(new), bytes=sum(new.values()))
            if after is not None:
                sp["attrs"].update(after(out))
            return out

        setattr(owner, fname, traced)
        self._restore.append((owner, fname, orig))

    def install(self):
        def merge_stats(st):
            return {"rows_in": st.rows_in, "rows_applied": st.rows_after_dedup,
                    "touched_buckets": st.touched_buckets}

        self._wrap(TargetTable, "merge_apply", "merge", lambda t: t.root, merge_stats)
        self._wrap(TargetTable, "compact_bucket_deltas", "compact", lambda t: t.root,
                   lambda v: {"compacted": v is not None})
        self._wrap(Checkpoint, "commit", "checkpoint", lambda c: c.dir)
        self._wrap(Lineage, "append", "lineage", lambda lin: lin.dir)
        self._wrap(IncrementalAggregate, "refresh", "view.refresh", lambda v: v.table.root)

    def uninstall(self):
        for owner, fname, orig in reversed(self._restore):
            setattr(owner, fname, orig)
        self._restore.clear()

    # ---------------- jobs and the span file ----------------

    def credit_jobs(self, spark) -> None:
        """Credit every retained Spark job to the spans open when it was
        submitted: ``jobs``/``tasks`` counts, plus ``group_jobs`` keyed by
        job group (a streaming query's jobs run under its ``runId``)."""
        store = spark.sparkContext._jsc.sc().statusStore()
        seq = store.jobsList(None)
        jobs = []
        for i in range(seq.size()):
            j = seq.apply(i)
            st, grp = j.submissionTime(), j.jobGroup()
            if st.isDefined():
                jobs.append((st.get().getTime() / 1000.0, j.numTasks(),
                             grp.get() if grp.isDefined() else None))
        for sp in self.spans:
            # submission times are whole milliseconds: allow half of one
            inside = [j for j in jobs if sp["start"] - 0.0005 <= j[0] <= (sp["end"] or 0) + 0.0005]
            sp["attrs"]["jobs"] = len(inside)
            sp["attrs"]["tasks"] = sum(j[1] for j in inside)
            groups: dict[str, int] = {}
            for j in inside:
                if j[2] is not None:
                    groups[j[2]] = groups.get(j[2], 0) + 1
            sp["attrs"]["group_jobs"] = groups

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp, default=str) + "\n")


# ---------------- per-layer metrics from the spans ----------------


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(spans: list[dict], t_from: float, t_to: float, progress: list[dict],
                  run_id: str | None, gc_s: float, peak_rss_mb: float) -> dict[str, float]:
    """Aggregate the spans that started inside ``[t_from, t_to]`` (the timed
    phase and the serving reads after it; set-up and checks are outside).
    Timings and per-operation counts are medians; ``compact.calls`` and
    ``jvm.gc_s`` are totals over the window."""
    win = [s for s in spans if t_from <= s["start"] <= t_to and s["end"] is not None]
    by_id = {s["id"]: s for s in spans}

    def dur(s):
        return s["end"] - s["start"]

    def kids(s):
        return [c for c in spans if c["parent"] == s["id"]]

    def parent_name(s):
        p = by_id.get(s["parent"]) if s["parent"] is not None else None
        return p["name"] if p else None

    batches = [s for s in win if s["name"] == "batch"]
    merges = [s for s in win if s["name"] == "merge" and parent_name(s) == "batch"]
    compacts = [s for s in win if s["name"] == "compact" and s["attrs"].get("compacted")]
    cps = [s for s in win if s["name"] == "checkpoint" and parent_name(s) == "batch"]
    lins = [s for s in win if s["name"] == "lineage" and parent_name(s) == "batch"]
    refreshes = [s for s in win if s["name"] == "view.refresh"]
    vmerges = [s for s in win if s["name"] == "merge" and parent_name(s) == "view.refresh"]
    scans = [s for s in win if s["name"] == "read.scan"]
    lookups = [s for s in win if s["name"] == "read.lookup"]
    epochs = [s for s in win if s["name"] == "epoch"]

    def own_bytes(s):  # a merge's writes, less those of its nested compaction
        return s["attrs"]["bytes"] - sum(c["attrs"].get("bytes", 0) for c in kids(s) if c["name"] == "compact")

    def own_files(s):
        return s["attrs"]["files"] - sum(c["attrs"].get("files", 0) for c in kids(s) if c["name"] == "compact")

    rows_in = sum(s["attrs"]["rows_in"] for s in merges)
    meta = []
    for b in batches:
        meta.append(sum(c["attrs"]["bytes"] for c in kids(b) if c["name"] in ("checkpoint", "lineage")))
    prog = [p for p in progress if p.get("batchId", 0) >= 1]
    pd = [p.get("durationMs", {}) for p in prog]
    return {
        "replay.batch_s": _med(dur(b) for b in batches),
        "replay.unattributed_s": _med(dur(b) - sum(dur(c) for c in kids(b)) for b in batches),
        "merge.apply_s": _med(dur(s) for s in merges),
        "merge.jobs": _med(s["attrs"]["jobs"] for s in merges),
        "merge.tasks": _med(s["attrs"]["tasks"] for s in merges),
        "merge.rows_in": _med(s["attrs"]["rows_in"] for s in merges),
        "merge.rows_applied": _med(s["attrs"]["rows_applied"] for s in merges),
        "merge.applied_ratio": (sum(s["attrs"]["rows_applied"] for s in merges) / rows_in) if rows_in else 0.0,
        "merge.touched_buckets": _med(s["attrs"]["touched_buckets"] for s in merges),
        "merge.files_written": _med(own_files(s) for s in merges),
        "merge.bytes_written": _med(own_bytes(s) for s in merges),
        "compact.calls": float(len(compacts)),
        "compact.s": _med(dur(s) for s in compacts),
        "compact.bytes_rewritten": _med(s["attrs"]["bytes"] for s in compacts),
        "checkpoint.commit_s": _med(dur(s) for s in cps),
        "lineage.append_s": _med(dur(s) for s in lins),
        "meta.bytes_per_batch": _med(meta),
        "stream.epoch_s": _med(dur(e) for e in epochs),
        "stream.gap_s": _med(dur(e) - sum(dur(c) for c in kids(e)) for e in epochs),
        "stream.trigger_ms": _med(d.get("triggerExecution", 0) for d in pd),
        "stream.add_batch_ms": _med(d.get("addBatch", 0) for d in pd),
        "stream.plan_ms": _med(d.get("queryPlanning", 0) for d in pd),
        "stream.offset_commit_ms": _med(d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in pd),
        "stream.jobs": _med(e["attrs"]["group_jobs"].get(run_id, 0) for e in epochs) if run_id else 0.0,
        "view.refresh_s": _med(dur(s) for s in refreshes),
        "view.merge_s": _med(dur(s) for s in vmerges),
        "view.jobs": _med(s["attrs"]["jobs"] for s in refreshes),
        "view.rows_in": _med(s["attrs"]["rows_in"] for s in vmerges),
        "read.scan_s": _med(dur(s) for s in scans),
        "read.scan_files": _med(s["attrs"].get("input_files", 0) for s in scans),
        "read.lookup_s": _med(dur(s) for s in lookups),
        "read.lookup_files": _med(s["attrs"].get("input_files", 0) for s in lookups),
        "read.lookup_jobs": _med(s["attrs"]["jobs"] for s in lookups),
        "jvm.gc_s": gc_s,
        "jvm.peak_rss_mb": peak_rss_mb,
    }
