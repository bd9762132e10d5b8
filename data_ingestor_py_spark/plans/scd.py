"""SCD Type-2 history maintenance from a CDC stream.

The other classic downstream of a binlog tail (beside the merged current
state and the delta-maintained aggregate): a slowly-changing-dimension
history table where every row version is an interval —
``(key, payload, valid_from, valid_to)`` with ``valid_to IS NULL`` marking
the current version. Updates close the previous interval and open a new
one; deletes close without opening.

Two forms:

- :func:`scd2_transform` — stateless: full history from a complete event
  set in ONE window pass (one shuffle on the key). Use for backfills and
  as the verification reference.
- :func:`scd2_apply` — incremental: maintain an :class:`Scd2History`
  batch by batch.

**Storage split — why history is NOT one COW table.** Closed intervals
are immutable facts; only the per-key OPEN interval ever changes. Keeping
both in one copy-on-write table means every batch rewrites all history in
the touched buckets — measured on an 8x10^6-event run, the per-batch
apply grew 13s -> 46s as history accumulated (write amplification
O(history), the classic COW-for-append-data anti-pattern). So
:class:`Scd2History` is two stores:

- ``open/`` — a :class:`TargetTable` keyed by the business key, ONE row
  per live key (the open interval: payload + ``valid_from``). Bounded by
  live-key count; the merge's bucket-pruned COW is the right tool here.
- ``closed/`` — an append-only segment log (one parquet dir per applied
  batch, named by the batch's deduped seq range). Segments are immutable
  and written exactly once: the writer SKIPS a batch whose exact seq
  range is already recorded in the log (segment names, plus compacted
  segments' ``_COMMIT`` range lists — so the skip survives schema
  evolution renaming the segment suffix AND compaction deleting the
  original dirs), so an at-least-once driver re-applying a batch cannot
  duplicate or clobber history (a re-apply also finds every key "late"
  in the open table and leaves it untouched — the combination makes the
  whole apply idempotent). A crashed write leaves no ``_SUCCESS`` and is
  invisible to readers; the retry overwrites the partial dir.

Per-batch cost is then O(batch + live keys in touched buckets) and FLAT
in accumulated history — the property that makes a 10^10-event history
viable (verified by BENCH/incremental_demo.py).

Ordering contract: within a batch, any order (the window sorts). ACROSS
batches the feed must be per-key ordered (a real binlog tail is), and
batches must cover non-overlapping seq ranges (the segment identity); a
cross-batch late event — older than its key's open interval — cannot be
spliced into already-written history and is counted + dropped
(``n_late``), mirroring how warehouse SCD2 loaders treat late feeds.
Rebuild via :func:`scd2_transform` when a late backfill must be honored.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_ingestor_py_spark.plans.target import TargetTable, _bucket_expr
from data_ingestor_py_spark.storage import PosixStorage, StorageAdapter


def _one_change_per_seq(events: DataFrame, key_cols, seq_col) -> DataFrame:
    """Duplicate deliveries of the same change (same key + seq — an
    at-least-once feed replaying) are ONE change: collapse them with the
    engine's deterministic winner rule (max payload struct — M9 parity)
    before any windowing, or `lead` would mint zero-width phantom
    intervals out of the replays. Max-struct groupBy: map-side combine
    shrinks replays before the shuffle (same shape as latest_by_key, which
    can't be reused verbatim here — seq doubles as part of the key)."""
    others = [c for c in events.columns if c not in (*key_cols, seq_col)]
    return (
        events.groupBy(*key_cols, seq_col)
        .agg(F.max(F.struct(*others)).alias("_w"))
        .select(
            *key_cols, seq_col, *[F.col("_w")[c].alias(c) for c in others]
        )
    )


def scd2_transform(
    events: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
    seq_col: str = "_seq",
    op_col: str = "_op",
) -> DataFrame:
    """Full SCD2 history from a complete event set: one window pass.
    Every event closes its key's previous interval (``lead`` over seq);
    delete events close without opening (they emit no row)."""
    events = _one_change_per_seq(events, key_cols, seq_col)
    w = Window.partitionBy(*key_cols).orderBy(F.col(seq_col))
    return (
        events.withColumn("valid_to", F.lead(seq_col).over(w))
        .where(F.col(op_col) != "D")
        .select(
            *key_cols,
            *payload_cols,
            F.col(seq_col).alias("valid_from"),
            "valid_to",
        )
    )


@dataclass
class Scd2Stats:
    rows_in: int  # open-table rows merged this batch
    n_late: int  # keys dropped for violating cross-batch ordering
    segment: str | None  # closed-log segment written (None = pre-existing)
    snapshot_version: int  # open table's snapshot after the merge


class Scd2History:
    """Open-table + closed-segment-log pair (see module docstring)."""

    def __init__(
        self, spark, root: str, storage: StorageAdapter | None = None
    ):
        self.spark = spark
        self.root = root
        self.io = storage or PosixStorage()
        self.open = TargetTable(
            spark, os.path.join(root, "open"), storage=storage
        )

    @property
    def closed_dir(self) -> str:
        return os.path.join(self.root, "closed")

    @staticmethod
    def _seg_range(name: str) -> tuple[int, int]:
        parts = name.split("-")
        return int(parts[1]), int(parts[2])

    @staticmethod
    def _seg_schema(name: str) -> int | None:
        """Schema version a segment was written under (from the ``-s<v>``
        name suffix); None for pre-suffix segments (read at the current
        schema, the pre-versioning behavior). Compacted segments carry a
        trailing ``-c`` after the schema suffix."""
        parts = name.split("-")
        last = parts[-2] if parts[-1] == "c" else parts[-1]
        return int(last[1:]) if last.startswith("s") else None

    @staticmethod
    def _is_compacted(name: str) -> bool:
        return name.endswith("-c")

    @staticmethod
    def _seg_count(name: str) -> int:
        parts = name.split("-")
        return int(parts[3])

    def _commit_path(self, name: str) -> str:
        return os.path.join(self.closed_dir, name, "_COMMIT")

    def _read_commit(self, name: str) -> dict:
        import json

        raw = self.io.get(self._commit_path(name))
        return json.loads(raw) if raw is not None else {}

    def _complete_segments(self) -> tuple[list[str], list[str]]:
        """(all complete segment names, the LIVE subset).

        Completion marker: an original (per-batch) segment is complete
        when its ``_SUCCESS`` exists; a COMPACTED segment (``-c`` suffix)
        is complete only when its ``_COMMIT`` object exists — written
        atomically AFTER the parquet job, so a compactor crash between
        the parquet ``_SUCCESS`` and the commit leaves the merged dir
        invisible and the inputs untouched.

        EXPLICIT SUPERSESSION (not range containment — ADVICE r4): a
        compacted segment's ``_COMMIT`` names the exact input segments it
        replaced; those are retired by NAME. Inferring retirement from
        range containment had two data-loss modes: equal-range twins
        (re-delivered batch after ``evolve()`` gets a new ``-s<v>``
        suffix) mutually contained — and destroyed — each other, and a
        later batch landing in a GAP of a compacted union range (legal:
        the contract requires non-overlap, not global monotonicity) was
        misclassified as a leftover and deleted. Equal-range twins are
        now tie-broken deterministically (newest schema, then name) —
        their content is the same deduped batch, so dropping the loser
        is safe."""
        done = [
            d
            for d in self.io.list_dirs(self.closed_dir)
            if d.startswith("seg-")
            and (
                self.io.exists(self._commit_path(d))
                if self._is_compacted(d)
                else self.io.exists(os.path.join(self.closed_dir, d, "_SUCCESS"))
            )
        ]
        retired: set[str] = set()
        for d in done:
            if self._is_compacted(d):
                retired.update(self._read_commit(d).get("inputs", []))
        # LEGACY upgrade path: a merged segment written by the pre-_COMMIT
        # protocol has no ``-c`` suffix and no inputs list, so a crashed
        # delete's leftover input would come back LIVE here and double its
        # intervals. Restore the old containment rule scoped to exactly
        # that case: a non-compacted segment STRICTLY containing another
        # complete segment's range retires it. New-protocol segments never
        # trigger this (originals are non-overlapping by contract; new
        # compactions carry ``-c`` + ``_COMMIT``). The r4 gap-batch hazard
        # therefore survives only for pre-upgrade containers — one
        # ``compact_segments()`` run rewrites them under the new protocol
        # and ends it.
        for d in done:
            if self._is_compacted(d) or d in retired:
                continue
            lo_c, hi_c = self._seg_range(d)
            for o in done:
                if o == d or o in retired:
                    continue
                lo_o, hi_o = self._seg_range(o)
                if lo_c <= lo_o and hi_o <= hi_c and (lo_o, hi_o) != (lo_c, hi_c):
                    retired.add(o)
        by_range: dict[tuple[int, int], str] = {}
        for d in sorted(
            (d for d in done if d not in retired),
            key=lambda n: (self._seg_schema(n) is not None, self._seg_schema(n) or 0, n),
        ):
            r = self._seg_range(d)
            if r in by_range:
                retired.add(by_range[r])  # equal-range loser (older schema)
            by_range[r] = d
        live = [d for d in done if d not in retired]
        return done, live

    def closed_segments(self) -> list[str]:
        """LIVE closed segments (complete, not superseded), oldest first.
        A crashed writer's partial dir has no ``_SUCCESS`` and is
        invisible; the retry overwrites it."""
        return sorted(
            os.path.join(self.closed_dir, d) for d in self._complete_segments()[1]
        )

    def applied_ranges(self) -> set[tuple[int, int]]:
        """Exact seq ranges of every ORIGINAL batch folded into the closed
        log: original segments contribute their name range; compacted
        segments contribute the spliced original ranges recorded in their
        ``_COMMIT`` (never the union range — a union says nothing about
        which batches inside it actually ran). This is the apply-
        idempotence key: :func:`scd2_apply` skips a batch iff its deduped
        (lo, hi) is already here, independent of name suffixes."""
        done, _ = self._complete_segments()
        out: set[tuple[int, int]] = set()
        for d in done:
            if self._is_compacted(d):
                out.update(
                    (int(lo), int(hi))
                    for lo, hi in self._read_commit(d).get("ranges", [])
                )
            else:
                out.add(self._seg_range(d))
        return out

    def compact_segments(self, max_live_segments: int = 64) -> str | None:
        """Maintenance: bin-pack the closed log. One segment per applied
        batch is correct but at 10^4+ batches it is small-file sprawl
        (listing pressure, tiny parquet footers). When more than
        ``max_live_segments`` are live, rewrite them ALL into one merged
        segment named by the union range (``-c`` suffix).

        Crash-safe via the two-step commit: the parquet job lands first
        (invisible — a ``-c`` segment needs ``_COMMIT``), then one atomic
        ``_COMMIT`` put makes the merged segment live AND retires the
        inputs by name in the same instant. Deleting the inputs afterwards
        is mere hygiene; a crash mid-delete changes nothing for readers
        and the next call's hygiene pass finishes the cleanup. The commit
        also splices the inputs' ORIGINAL batch ranges (recursively, for
        re-compaction) so apply-idempotence survives input deletion.
        Returns the new segment name (None if below the threshold)."""
        import json

        done, live = self._complete_segments()
        # hygiene first: clear retired leftovers from any crashed delete
        for d in done:
            if d not in live:
                self.io.delete_prefix(os.path.join(self.closed_dir, d))
        if len(live) <= max_live_segments:
            return None
        lo = min(self._seg_range(n)[0] for n in live)
        hi = max(self._seg_range(n)[1] for n in live)
        # name carries the summed event count (from the input names — no
        # extra scan) and the CURRENT schema: compaction field-id-aligns
        # old-schema segments on read, so it also retires schema debt the
        # way rewrite_data_files does for the open table
        n_total = sum(self._seg_count(n) for n in live)
        cur_schema = self.open._load()["current_schema"]
        merged = f"seg-{lo:020d}-{hi:020d}-{n_total}-s{cur_schema}-c"
        ranges: list[list[int]] = []
        for n in live:
            if self._is_compacted(n):
                ranges.extend(self._read_commit(n).get("ranges", []))
            else:
                ranges.append(list(self._seg_range(n)))
        self.read_closed(
            [os.path.join(self.closed_dir, n) for n in live]
        ).write.mode("overwrite").parquet(os.path.join(self.closed_dir, merged))
        self.io.put(
            self._commit_path(merged),
            json.dumps({"inputs": sorted(live), "ranges": sorted(ranges)}).encode(),
        )
        for n in live:
            self.io.delete_prefix(os.path.join(self.closed_dir, n))
        return merged

    def sweep_partial_segments(self, grace_s: float = 900.0) -> list[str]:
        """Maintenance: delete crashed writers' partial segment dirs (no
        ``_SUCCESS``) older than ``grace_s``. The grace period protects a
        LIVE writer whose segment is mid-write — sweeping that would be
        repaired only if the writer later crashed and retried, but if its
        apply then SUCCEEDED the history hole would be permanent (the
        ``_SUCCESS`` skip would never rewrite it). Same guard as the
        commit protocol's staging sweep. Returns the swept names."""
        import time as _time

        swept = []
        for d in self.io.list_dirs(self.closed_dir):
            path = os.path.join(self.closed_dir, d)
            # a -c dir is partial until its _COMMIT lands (its parquet
            # _SUCCESS alone does not make it visible)
            marker = "_COMMIT" if self._is_compacted(d) else "_SUCCESS"
            if not d.startswith("seg-") or self.io.exists(
                os.path.join(path, marker)
            ):
                continue
            mt = self.io.mtime(path)  # adapter-provided (None = unknown)
            if mt is not None and _time.time() - mt >= grace_s:
                self.io.delete_prefix(path)
                swept.append(d)
        return swept

    def _closed_fields(self, m: dict, version: int | None):
        fields = self.open.schema_fields(m, version)
        return [f for f in fields if f["name"] != "valid_from"]

    def _closed_ddl(self, m: dict, version: int | None = None) -> str:
        cols = [f"{k} string" for k in m["key_cols"]]
        cols += [
            f"`{f['name']}` {f['type']}"
            for f in self._closed_fields(m, version)
        ]
        cols += ["valid_from long", "valid_to long"]
        return ", ".join(cols)

    def read_closed(self, segs: list[str] | None = None) -> DataFrame:
        """Read the live closed log at the CURRENT schema. Segments written
        before an ``open.evolve()`` are read with their recorded schema and
        field-id-aligned (rename/cast/NULL-fill) — the same read path the
        open table's own old files get, so history follows schema evolution
        instead of silently NULLing renamed columns."""
        m = self.open._load()
        if segs is None:
            segs = self.closed_segments()
        if not segs:
            return self.spark.createDataFrame([], self._closed_ddl(m))
        by_schema: dict[int | None, list[str]] = {}
        for s in segs:
            by_schema.setdefault(self._seg_schema(os.path.basename(s)), []).append(s)
        cur = self._closed_fields(m, None)
        parts = []
        for ver, paths in by_schema.items():
            df = self.spark.read.schema(self._closed_ddl(m, ver)).parquet(*paths)
            old = {f["id"]: f for f in self._closed_fields(m, ver)}
            exprs = [F.col(k) for k in m["key_cols"]]
            for f in cur:
                o = old.get(f["id"])
                if o is None:
                    exprs.append(F.lit(None).cast(f["type"]).alias(f["name"]))
                else:
                    exprs.append(F.col(o["name"]).cast(f["type"]).alias(f["name"]))
            exprs += [F.col("valid_from"), F.col("valid_to")]
            parts.append(df.select(*exprs))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out


def create_history_table(
    spark,
    root: str,
    key_cols: list[str],
    payload_cols: list[tuple[str, str]],
    num_buckets: int = 64,
    storage=None,
) -> Scd2History:
    """Create the open/closed pair. The open table is keyed AND bucketed
    by the business key — one live row per key, bucket-pruned merges."""
    TargetTable.create(
        spark,
        os.path.join(root, "open"),
        key_cols=key_cols,
        columns=[*payload_cols, ("valid_from", "long")],
        num_buckets=num_buckets,
        storage=storage,
    )
    return Scd2History(spark, root, storage=storage)


def scd2_apply(
    history: Scd2History,
    batch: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
    seq_col: str = "_seq",
    op_col: str = "_op",
    ts_col: str = "_ts",
) -> Scd2Stats:
    """Fold one CDC batch into the history (see module docstring for the
    storage split, idempotence, and the ordering contract)."""
    open_t = history.open
    m = open_t._load()
    B, bucket_cols = m["num_buckets"], m.get("bucket_cols")
    # deliberately NOT persisted: the deduped batch feeds several
    # consumers, but the discovery aggregate and firsts are NARROW —
    # column pruning reaches the scan and the re-executed dedup window
    # runs over two or three columns. Caching materializes the full
    # width once and denies pruning to every consumer; measured at
    # sf0.1 as a loss BOTH in r6 (6.4s vs 4.1s steady per apply) and
    # again in r7 after the discovery fusion below (24.4s vs 17.5s for
    # the 4-apply gate).
    batch = _one_change_per_seq(batch, key_cols, seq_col)

    # segment identity = the deduped batch's seq range (batches are
    # non-overlapping binlog segments); also the idempotence key. The
    # trailing s<schema> records the open table's schema version at write
    # time so read_closed can field-id-align old segments after evolve().
    # One pass computes BOTH the range and the touched-bucket set (they
    # were two separate jobs over the same deduped batch): group by
    # bucket, fold per-bucket range/count, combine on the driver.
    brows = batch.groupBy(
        _bucket_expr(bucket_cols, B).alias("bkt")
    ).agg(
        F.min(seq_col).alias("lo"), F.max(seq_col).alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()
    if not brows:
        return Scd2Stats(0, 0, None, m["version"])
    # a bucket whose rows all have a NULL seq has NULL lo/hi: fold only
    # the non-NULL ranges, as the global min/max aggregate did
    rng = {
        "lo": min((r["lo"] for r in brows if r["lo"] is not None), default=None),
        "hi": max((r["hi"] for r in brows if r["hi"] is not None), default=None),
        "n": sum(r["n"] for r in brows),
    }
    touched = sorted(r["bkt"] for r in brows)
    seg_name = (
        f"seg-{rng['lo']:020d}-{rng['hi']:020d}-{rng['n']}-s{m['current_schema']}"
    )
    seg_path = os.path.join(history.closed_dir, seg_name)
    # idempotence keys on the batch's SEQ RANGE, not the segment name: a
    # re-delivered batch after open.evolve() gets a different -s<v> suffix,
    # and a compacted log holds the range only inside a merged segment's
    # _COMMIT — either way the batch must be skipped, never written twice
    # (two equal-range segments would duplicate closed intervals).
    seg_done = (
        history.io.exists(os.path.join(seg_path, "_SUCCESS"))
        or (int(rng["lo"]), int(rng["hi"])) in history.applied_ranges()
    )

    # 1) within-batch chaining: every event (incl. deletes) closes its
    #    predecessor; non-delete events open intervals
    w = Window.partitionBy(*key_cols).orderBy(F.col(seq_col))
    chained = batch.withColumn("_next_seq", F.lead(seq_col).over(w))
    firsts = batch.groupBy(*key_cols).agg(F.min(seq_col).alias("_first_seq"))

    # 2) currently-open rows for the batch's keys, bucket-pruned (the
    #    open table holds ONE row per live key — bounded, never history).
    # RAW state including delete tombstones: a tombstone carries the
    # delete's seq as valid_from, which is exactly what the late guard
    # needs — without it, late events for a DELETED key would sail past
    # the guard (no open row to compare against) and write overlapping
    # intervals into a fresh segment. Tombstone protection lasts as long
    # as the tombstone (purge_tombstones on the open table shortens it —
    # same retention trade-off as the merge's own late-event guard M9).
    state = open_t._state_df(m, touched)
    open_rows = state.select(
        *[F.col(c).alias(f"_k_{c}") for c in key_cols],
        F.col("valid_from").alias("_open_from"),
        F.col("_op").alias("_open_op"),
        *[F.col(c).alias(f"_p_{c}") for c in payload_cols],
    )
    cond = F.lit(True)
    for c in key_cols:
        cond = cond & F.col(f"_k_{c}").eqNullSafe(F.col(c))
    # persisted: three consumers (late count, carry-over closes, the
    # anti-join) would otherwise each recompute the open-row join; the
    # frame is one row per batch-key-with-open-history — batch-bounded
    joined = firsts.join(open_rows, cond, "inner").persist()
    try:
        # late-feed guard: an open interval at-or-after the batch's first
        # event means the feed violated cross-batch ordering; those keys'
        # events are dropped (counted). A re-apply of an already-applied
        # batch makes EVERY key late -> open table untouched; with the
        # segment skip below, the whole apply degenerates to a no-op.
        late_keys = joined.where(
            F.col("_first_seq") <= F.col("_open_from")
        ).select(*[F.col(f"_k_{c}").alias(c) for c in key_cols])
        n_late = late_keys.count()
        # only LIVE open rows need closing; a tombstoned key's history was
        # already closed by the delete itself
        closers = joined.where(
            (F.col("_first_seq") > F.col("_open_from"))
            & (F.col("_open_op") != "D")
        )

        def _not_late(df):
            return df.join(late_keys, key_cols, "left_anti") if n_late else df

        # 3) CLOSED log append (exactly once by segment identity):
        #    a) carried-over open intervals closed by this batch
        #    b) intervals both opened and closed inside the batch
        if not seg_done:
            closed_a = closers.select(
                *[F.col(f"_k_{c}").cast("string").alias(c) for c in key_cols],
                *[F.col(f"_p_{c}").alias(c) for c in payload_cols],
                F.col("_open_from").cast("long").alias("valid_from"),
                F.col("_first_seq").cast("long").alias("valid_to"),
            )
            closed_b = _not_late(
                chained.where(
                    (F.col(op_col) != "D") & F.col("_next_seq").isNotNull()
                )
            ).select(
                *[F.col(c).cast("string").alias(c) for c in key_cols],
                *payload_cols,
                F.col(seq_col).cast("long").alias("valid_from"),
                F.col("_next_seq").cast("long").alias("valid_to"),
            )
            closed_a.unionByName(closed_b).write.mode("overwrite").parquet(seg_path)

        # 4) OPEN table upsert: the batch's LAST event per key either
        #    opens a new interval (U) or ends the key's history (D)
        lasts = _not_late(chained.where(F.col("_next_seq").isNull()))
        upserts = lasts.select(
            *key_cols,
            *payload_cols,
            F.col(seq_col).cast("long").alias("valid_from"),
            F.col(seq_col).alias(seq_col),
            F.when(F.col(op_col) == "D", F.lit("D")).otherwise(F.lit("U")).alias(op_col),
            F.col(ts_col),
        )
        # upserts is one row per batch key but its lineage re-runs the
        # chaining window — cache it across the merge's two actions
        st = open_t.merge_apply(upserts, stats="light", persist_batch=True)
    finally:
        joined.unpersist()
    return Scd2Stats(
        rows_in=st.rows_in,
        n_late=n_late,
        segment=None if seg_done else seg_name,
        snapshot_version=st.snapshot_version,
    )


def read_history(history: Scd2History) -> DataFrame:
    """All history intervals: the closed log plus the open table's live
    intervals, with the derived ``is_current`` flag."""
    closed = history.read_closed().withColumn("is_current", F.lit(False))
    open_df = history.open.read()
    keep = [c for c in closed.columns if c != "is_current"]
    open_rows = open_df.select(
        *[c for c in keep if c not in ("valid_to",)],
        F.lit(None).cast("long").alias("valid_to"),
    ).withColumn("is_current", F.lit(True))
    return closed.unionByName(open_rows)
