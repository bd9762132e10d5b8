"""Delta-maintained materialized aggregates over a :class:`TargetTable`.

A CDC engine's downstream consumers rarely want the row-level table — they
want aggregates (rows per repo, bytes per language, keys per tenant) that
stay fresh as change batches land. Recomputing those from the full table
after every batch is the 100 TB anti-pattern; the standard answer
(incremental view maintenance — the same algebra Flink retraction streams
and Materialize implement) is to fold only the *changelog* into the
aggregate: every insert adds its contribution, every delete retracts the
old image's, every update does both.

This module implements exactly that on the engine's own primitives:

- the delta comes from :meth:`TargetTable.diff_versions` with
  ``old_image=True`` (manifest-pruned — only touched buckets are read, so
  the refresh cost tracks the batch size, not the table size);
- the aggregate state IS a :class:`TargetTable` keyed by the group columns
  (so the MV inherits snapshots, time travel, CAS multi-writer safety, and
  crash-safe commits for free);
- refresh progress is tracked in the MV's own :class:`Checkpoint` — the
  committed ``batch_id`` is the SOURCE snapshot version the MV reflects,
  making refresh resumable and exactly-once in the same way replay is.

Supported aggregates: ``COUNT(*)`` plus integer ``SUM`` columns (the
self-maintainable subset under deletes), and ``MIN``/``MAX`` columns via
the standard targeted-recompute rule: inserts fold for free
(``greatest``/``least`` against the stored extremum), and only groups
where a RETRACTION's old value ties-or-beats the stored extremum are
re-aggregated — from the source pinned at the fold's target version,
filtered to exactly those groups with a broadcast semi-join. The rule has
an insert-dominates exit (the delta rule for extrema of *Conjunctive
Queries with Inequalities Under Updates*, VLDB 2018): when an insert of
the same batch also ties-or-beats the stored extremum, that insert holds
the new extremum whatever the retractions removed, so the group folds
without the source read — the common case for a ``MAX`` over a monotone
column such as ``_seq``, whose updates retract the old holder and insert
a larger value in one batch. A typical batch therefore re-aggregates
nothing, so the common-case refresh cost stays O(delta); the worst case
(every group's extremum deleted) degrades to one filtered source scan,
never a full recompute of untouched groups. Sums
are maintained in BIGINT so incremental and full recompute agree
bit-for-bit — float sums would drift by addition order, which is exactly
what the oracle gate and ``test_mv`` forbid. MIN/MAX values are
selections (never arithmetic), so they are bit-exact in any dtype.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_py_spark.plans.checkpoint import BatchRecord, Checkpoint
from data_ingestor_py_spark.plans.target import TargetTable
from data_ingestor_py_spark.storage import StorageAdapter


class RefreshGapError(RuntimeError):
    """The MV lags behind the source's snapshot retention: the changelog
    base version has been expired (``expire_snapshots``) and can no longer
    be diffed. Recover with :meth:`IncrementalAggregate.reseed` (or call
    ``refresh(auto_reseed=True)``)."""


def roll_forward_pending(
    table: TargetTable, cp: Checkpoint, consumer: str, v_from: int
) -> BatchRecord | None:
    """Shared crash-recovery for the fold/checkpoint commit gap (used by
    every MV-style consumer: scalar aggregates, top-k, distinct). A fold
    records its target version as ``app_meta`` INSIDE the MV-table merge
    commit; if that intent is ahead of the checkpoint, the fold landed
    but its checkpoint didn't — commit the missing record (stats
    recovered from the manifest history) instead of re-folding, because
    MV folds are not re-applicable."""
    m = table._load()
    am = m.get("app_meta", {})
    if am.get("consumer") != consumer or int(am.get("mv_synced_upto", 0)) <= v_from:
        return None
    v_to = int(am["mv_synced_upto"])
    snap_v = int(m["version"])
    hist = next(
        (h for h in reversed(m["history"]) if h["snapshot"] == snap_v), {}
    )
    now = time.time()
    rec = BatchRecord(
        batch_id=v_to,
        src_offset_start=int(am.get("mv_synced_from", v_from)),
        src_offset_end=v_to,
        rows_in=int(hist.get("rows_in", -1)),
        rows_applied=int(hist.get("rows_applied", -1) or -1),
        touched_buckets=len(hist.get("buckets", [])),
        snapshot_version=snap_v,
        checksum="",
        status="COMMITTED",
        started_at=now,
        committed_at=now,
        duration_s=0.0,
    )
    cp.commit(rec)
    return rec


class IncrementalAggregate:
    """A COUNT/SUM/MIN/MAX aggregate over a source table, maintained from
    its changelog. ``group_cols`` may mix source key columns and payload
    columns (payload group keys retract/insert across groups on update).
    ``sum_cols`` is ``[(out_name, source_col), ...]``; sums are BIGINT.
    ``min_cols``/``max_cols`` are ``[(out_name, source_col, dtype), ...]``
    (dtype = the stored Spark type, e.g. ``"double"``/``"long"``).
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        source: TargetTable,
        group_cols: list[str],
        sum_cols: list[tuple[str, str]] | None = None,
        min_cols: list[tuple[str, str, str]] | None = None,
        max_cols: list[tuple[str, str, str]] | None = None,
        storage: StorageAdapter | None = None,
        row_transform=None,
    ):
        self.spark = spark
        self.source = source
        self.group_cols = list(group_cols)
        self.sum_cols = list(sum_cols or [])
        self.min_cols = list(min_cols or [])
        self.max_cols = list(max_cols or [])
        # row_transform(df) -> df: a DETERMINISTIC per-row mapping of source
        # images to the rows actually aggregated — may change cardinality
        # (explode a text column to terms, unnest an array) and synthesize
        # the group/value columns. Retraction stays exact because the SAME
        # transform runs on the old image (its rows fold with sign -1) and
        # the new image (+1): an update's unchanged exploded rows cancel.
        # This is what turns the COUNT/SUM machinery into e.g. an
        # incrementally-maintained inverted-index document-frequency table.
        self.row_transform = row_transform
        self.table = TargetTable(spark, root, storage=storage)
        self.cp = Checkpoint(spark, root, storage=self.table.io)

    @property
    def _mm_cols(self) -> list[tuple[str, str, str, bool]]:
        """(out, src, dtype, is_max) for every MIN/MAX column."""
        return [(n, c, t, False) for n, c, t in self.min_cols] + [
            (n, c, t, True) for n, c, t in self.max_cols
        ]

    @property
    def _out_cols(self) -> list[str]:
        return (
            ["n_rows"]
            + [n for n, _ in self.sum_cols]
            + [n for n, _, _, _ in self._mm_cols]
        )

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        source: TargetTable,
        group_cols: list[str],
        sum_cols: list[tuple[str, str]] | None = None,
        min_cols: list[tuple[str, str, str]] | None = None,
        max_cols: list[tuple[str, str, str]] | None = None,
        num_buckets: int = 4,
        storage: StorageAdapter | None = None,
        row_transform=None,
    ) -> "IncrementalAggregate":
        cols = [("n_rows", "long")] + [(n, "long") for n, _ in (sum_cols or [])]
        cols += [(n, t) for n, _, t in (min_cols or [])]
        cols += [(n, t) for n, _, t in (max_cols or [])]
        TargetTable.create(
            spark, root, key_cols=list(group_cols), columns=cols,
            num_buckets=num_buckets, storage=storage,
        )
        return cls(
            spark, root, source, group_cols, sum_cols, min_cols, max_cols,
            storage=storage, row_transform=row_transform,
        )

    # ---------------- state ----------------

    def read(self) -> DataFrame:
        """Current aggregate rows: group cols (as strings — TargetTable key
        semantics) + ``n_rows`` + the sum and min/max columns."""
        return self.table.read().select(*self.group_cols, *self._out_cols)

    def synced_version(self) -> int:
        """Highest SOURCE snapshot version folded into the aggregate."""
        done = self.cp.committed_batches()
        return max(done) if done else 0

    # ---------------- refresh ----------------

    def _roll_forward_pending(self, v_from: int) -> BatchRecord | None:
        """Crash-recovery for the fold/checkpoint commit gap.

        The MV-table merge and the checkpoint commit are two durable
        writes; a crash between them would otherwise make the next refresh
        re-fold an already-applied delta — and MV deltas are RELATIVE, so
        re-application double-counts (unlike replay, whose events are
        absolute per-key state). Every fold therefore records its intent
        (``mv_synced_upto`` etc.) in ``app_meta`` INSIDE the same manifest
        commit as the aggregate rows. If that intent is ahead of the
        checkpoint, the fold landed but its checkpoint didn't: commit the
        missing record now (stats recovered from the manifest history) and
        return it — the caller then re-reads synced_version() instead of
        folding. The pending fold is necessarily the MV table's LATEST
        commit: refresh/reseed are this table's only writers and the
        checkpoint lagging proves nothing ran after the fold."""
        return roll_forward_pending(self.table, self.cp, "mv", v_from)

    def refresh(
        self, upto_version: int | None = None, auto_reseed: bool = False
    ) -> BatchRecord | None:
        """Fold the source changelog ``(synced, upto]`` into the aggregate.

        Two actions. The first reads the manifest-pruned changelog once,
        folds it to one signed row per group, joins the stored groups and
        caches that group-scale result while collecting, in the same job
        set, the view table's bucket discovery and whether any group needs
        MIN/MAX re-aggregation. The second is the view merge's write alone
        (``merge_apply(discovery=...)``), with the targeted re-aggregation
        joined in when the first action asked for it. The MV write touches
        only groups present in the delta. Returns the committed record, or
        None if already up to date. Safe to call after every batch (the
        per-batch hook) or once per N batches — the changelog composes, so
        both schedules land on the same state.

        If the MV lags beyond the source's snapshot retention (the base
        version was expired), raises :class:`RefreshGapError` — or, with
        ``auto_reseed=True``, falls back to a full :meth:`reseed`.
        """
        v_from = self.synced_version()
        if self._roll_forward_pending(v_from) is not None:
            v_from = self.synced_version()
        v_to = (
            upto_version
            if upto_version is not None
            else self.source._load()["version"]
        )
        if v_to <= v_from:
            return None
        t0 = time.time()
        try:
            delta = self.source.diff_versions(v_from, v_to, old_image=True)
        except FileNotFoundError as e:
            if auto_reseed:
                return self.reseed()
            raise RefreshGapError(
                f"cannot diff source versions {v_from}->{v_to}: a manifest "
                "was expired from under the MV (snapshot retention shorter "
                "than the refresh lag). Call reseed() — full recompute at "
                "the current version — then resume incremental refreshes."
            ) from e

        mm = self._mm_cols
        # a row_transform view folds two union branches over the SAME diff
        # subtree, and Catalyst does not dedupe common subplans — without
        # the cache the full-outer changelog join runs twice
        cached = delta.persist() if self.row_transform is not None else None
        j = None
        try:
            d = self._fold(delta).groupBy(*self.group_cols).agg(
                F.sum("_sign").alias("_d_rows"),
                *[F.sum(n).alias(f"_d_{n}") for n, _ in self.sum_cols],
                *[
                    (F.max if is_max else F.min)(f"_mmnew_{n}").alias(f"_ins_{n}")
                    for n, _, _, is_max in mm
                ],
                *[
                    (F.max if is_max else F.min)(f"_mmold_{n}").alias(f"_ret_{n}")
                    for n, _, _, is_max in mm
                ],
            )
            cur = self.table.read().select(*self.group_cols, *self._out_cols)
            # targeted-recompute rule: a group needs re-aggregation iff a
            # retraction's old value ties-or-beats the stored extremum (the
            # retracted row MAY have been the last one holding it) and no
            # insert of the batch ties-or-beats it too — such an insert
            # holds the new extremum whatever the retractions took away
            need = F.lit(False)
            for n, _, _, is_max in mm:
                ret, ins, c = d[f"_ret_{n}"], d[f"_ins_{n}"], cur[n]
                holds = (lambda v: v >= c) if is_max else (lambda v: v <= c)
                need = need | (
                    cur["n_rows"].isNotNull()
                    & ret.isNotNull()
                    & holds(ret)
                    & ~F.coalesce(holds(ins), F.lit(False))
                )
            # group-scale, and read by both actions below
            j = (
                d.join(cur, self._on(d, cur), "left_outer")
                .withColumn("_mm_reagg", need)
                .persist()
            )

            def upserts(re_agg, *extra):
                def mm_val(n: str, is_max: bool):
                    fast = (F.greatest if is_max else F.least)(cur[n], d[f"_ins_{n}"])
                    if re_agg is None:
                        return fast
                    return F.when(F.col("_mm_reagg"), re_agg[f"_re_{n}"]).otherwise(fast)

                new_n = F.coalesce(cur["n_rows"], F.lit(0)) + d["_d_rows"]
                if re_agg is not None:
                    out = j.join(re_agg, self._on(d, re_agg), "left_outer")
                else:
                    out = j
                return out.select(
                    *[d[g].alias(g) for g in self.group_cols],
                    new_n.alias("n_rows"),
                    *[
                        (F.coalesce(cur[n], F.lit(0)) + d[f"_d_{n}"]).alias(n)
                        for n, _ in self.sum_cols
                    ],
                    *[mm_val(n, is_max).alias(n) for n, _, _, is_max in mm],
                    F.when(new_n <= 0, F.lit("D")).otherwise(F.lit("U")).alias("_op"),
                    F.lit(v_to).cast("long").alias("_seq"),
                    F.current_timestamp().alias("_ts"),
                    *extra,
                )

            # action 1: materializes the fold and returns, in one job set,
            # the view table's bucket discovery and whether any group needs
            # re-aggregation (the flag rides the discovery's per-bucket rows)
            disc, stat_rows = self.table._discover(
                self.table._load(),
                upserts(None, F.col("_mm_reagg")),
                extra=[F.max("_mm_reagg").alias("_reagg")],
            )
            re_agg = None
            if any(r["_reagg"] for r in stat_rows):
                affected = j.where(F.col("_mm_reagg")).select(
                    *[d[g].alias(g) for g in self.group_cols]
                )
                re_agg = self._reaggregate(v_to, affected)
            # action 2: the view merge's write alone
            st = self.table.merge_apply(
                upserts(re_agg),
                stats="light",
                discovery=disc,
                # committed atomically with the fold: makes the fold/
                # checkpoint gap crash-recoverable (_roll_forward_pending)
                app_meta={
                    "consumer": "mv",
                    "mv_synced_from": v_from,
                    "mv_synced_upto": v_to,
                },
            )
        finally:
            if cached is not None:
                cached.unpersist()
            if j is not None:
                j.unpersist()
        t1 = time.time()
        rec = BatchRecord(
            batch_id=v_to,
            src_offset_start=v_from,
            src_offset_end=v_to,
            rows_in=st.rows_in,
            rows_applied=st.rows_after_dedup,
            touched_buckets=st.touched_buckets,
            snapshot_version=st.snapshot_version,
            checksum="",
            status="COMMITTED",
            started_at=t0,
            committed_at=t1,
            duration_s=t1 - t0,
        )
        self.cp.commit(rec)
        return rec

    def _on(self, a: DataFrame, b: DataFrame):
        """NULL-safe equality of ``a`` and ``b`` on every group column."""
        cond = F.lit(True)
        for g in self.group_cols:
            cond = cond & a[g].eqNullSafe(b[g])
        return cond

    def _fold(self, delta: DataFrame) -> DataFrame:
        """Signed contribution rows of a changelog diff: each diff row's new
        image (+1, unless a delete) and old image (-1, unless an insert),
        projected to the group, sum and min/max inputs."""
        m = self.source._load()
        key_cols = set(m["key_cols"])
        nil = F.lit(None)

        def image(old: bool):
            # key columns are identical in both images (keys cannot change)
            return lambda c: F.col(f"_old_{c}") if old and c not in key_cols else F.col(c)

        def contrib(val, old: bool) -> list:
            sign = F.lit(-1 if old else 1)
            return [
                *[val(g).cast("string").alias(g) for g in self.group_cols],
                sign.cast("long").alias("_sign"),
                *[(sign * val(c).cast("long")).alias(n) for n, c in self.sum_cols],
                # min/max: new images feed the insert-side extremum, old
                # images the retraction-threat extremum (NULL on the
                # other side so each aggregate sees only its images)
                *[
                    (nil if old else val(c)).cast(t).alias(f"_mmnew_{n}")
                    for n, c, t, _ in self._mm_cols
                ],
                *[
                    (val(c) if old else nil).cast(t).alias(f"_mmold_{n}")
                    for n, c, t, _ in self._mm_cols
                ],
            ]

        ct = F.col("_change_type")
        if self.row_transform is None:
            # one pass over the diff: every row explodes into the images it
            # has, reading only the view's columns
            images = F.array(
                F.when(ct != "D", F.struct(*contrib(image(False), False))),
                F.when(ct != "I", F.struct(*contrib(image(True), True))),
            )
            return (
                delta.select(F.explode(images).alias("_img"))
                .where(F.col("_img").isNotNull())
                .select("_img.*")
            )
        # the transform is a DataFrame function and cannot run inside a
        # struct: reconstruct each side's full image as natural rows,
        # transform it (may explode), then project what it produced
        names = list(
            dict.fromkeys(
                list(m["key_cols"]) + [f["name"] for f in self.source.schema_fields(m)]
            )
        )
        new, old = (
            self.row_transform(
                delta.where(ct != ("I" if o else "D")).select(
                    *[image(o)(c).alias(c) for c in names]
                )
            ).select(*contrib(F.col, o))
            for o in (False, True)
        )
        return new.unionByName(old)

    def _reaggregate(self, v_to: int, affected: DataFrame) -> DataFrame:
        """Exact MIN/MAX of the ``affected`` groups, from the source pinned
        at ``v_to`` (reading live state would race a concurrent source
        commit); the broadcast semi-join keeps the scan filtered to those
        groups' rows."""
        pinned = self.source.read_version(v_to)
        if self.row_transform is not None:
            pinned = self.row_transform(pinned)
        srcv = pinned.select(
            *[F.col(g).cast("string").alias(g) for g in self.group_cols],
            *[F.col(c).cast(t).alias(f"_src_{n}") for n, c, t, _ in self._mm_cols],
        )
        hits = srcv.join(F.broadcast(affected), self._on(srcv, affected), "left_semi")
        return hits.groupBy(*self.group_cols).agg(
            *[
                (F.max if is_max else F.min)(f"_src_{n}").alias(f"_re_{n}")
                for n, _, _, is_max in self._mm_cols
            ]
        )

    def reseed(self) -> BatchRecord:
        """Rebuild the aggregate from the source's CURRENT visible state
        (one full recompute — O(source), the cost incremental refresh
        normally avoids) and mark it synced at the current version. The
        recovery path when the changelog base has been expired; also the
        bootstrap for attaching an MV to an already-populated table
        without replaying its history."""
        v_to = self.source._load()["version"]
        t0 = time.time()
        # PIN the recompute to v_to: aggregating the source's live state
        # instead would race a concurrent source commit — the MV would hold
        # v_to+1's numbers while recording synced=v_to, and the next
        # refresh would fold the (v_to, v_to+1] delta a second time
        want = self.recompute(version=v_to)
        cur = self.table.read().select(*self.group_cols, *self._out_cols)
        j = want.join(cur, self._on(want, cur), "full_outer")
        present = want["n_rows"].isNotNull()
        upserts = j.select(
            *[F.coalesce(want[g], cur[g]).alias(g) for g in self.group_cols],
            F.coalesce(want["n_rows"], F.lit(0)).alias("n_rows"),
            *[
                F.coalesce(want[n], F.lit(0)).alias(n)
                for n, _ in self.sum_cols
            ],
            # min/max: the recomputed value verbatim (NULL on the deleted
            # side — the row becomes a tombstone anyway)
            *[want[n].alias(n) for n, _, _, _ in self._mm_cols],
            F.when(present, F.lit("U")).otherwise(F.lit("D")).alias("_op"),
            F.lit(v_to).cast("long").alias("_seq"),
            F.current_timestamp().alias("_ts"),
        )
        # the reseed merge itself is absolute (idempotent), but a crash
        # before the checkpoint commit must not let a later refresh() fold
        # a pre-reseed delta on top — record intent atomically here too
        st = self.table.merge_apply(
            upserts,
            stats="light",
            persist_batch=True,  # group-scale output, full-recompute lineage
            app_meta={
                "consumer": "mv",
                "mv_synced_from": -1,
                "mv_synced_upto": v_to,
            },
        )
        t1 = time.time()
        rec = BatchRecord(
            batch_id=v_to,
            src_offset_start=-1,  # full rebuild, not a changelog fold
            src_offset_end=v_to,
            rows_in=st.rows_in,
            rows_applied=st.rows_after_dedup,
            touched_buckets=st.touched_buckets,
            snapshot_version=st.snapshot_version,
            checksum="",
            status="COMMITTED",
            started_at=t0,
            committed_at=t1,
            duration_s=t1 - t0,
        )
        self.cp.commit(rec)
        return rec

    # ---------------- verification ----------------

    def recompute(self, version: int | None = None) -> DataFrame:
        """Full recompute from the source's visible state (current, or a
        pinned snapshot ``version``) — the O(table) reference the
        incremental path must equal exactly. Used by tests, on-demand
        audits, and reseed(), never by the refresh loop."""
        src = (
            self.source.read()
            if version is None
            else self.source.read_version(version)
        )
        if self.row_transform is not None:
            src = self.row_transform(src)
        return src.groupBy(
            *[F.col(g).cast("string").alias(g) for g in self.group_cols]
        ).agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[
                F.sum(F.col(c).cast("long")).alias(n)
                for n, c in self.sum_cols
            ],
            *[
                (F.max if is_max else F.min)(F.col(c).cast(t)).alias(n)
                for n, c, t, is_max in self._mm_cols
            ],
        )
