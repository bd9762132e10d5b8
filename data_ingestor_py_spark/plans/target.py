"""TargetTable — bucketed copy-on-write table with snapshot isolation.

This is the engine's sink abstraction (SURVEY.md §7 step 1). The design is
Iceberg's: immutable data files + an atomically swapped manifest naming the
current snapshot. The sandbox has no Iceberg runtime jar (offline), so the
same semantics are implemented on plain parquet:

- Data lives in hash buckets: ``bucket = pmod(xxhash64(key_cols), B)`` —
  the Iceberg partition spec ``bucket(B, repo||path)``. A merge touches only
  the buckets its batch keys hash into; untouched buckets are carried into
  the new snapshot *by reference* (copy-on-write at bucket granularity).
- ``_manifest.json`` is swapped with ``os.replace`` (atomic on POSIX): a
  reader always sees a complete snapshot; an aborted merge leaves orphan
  files but no visible change — exactly the reference's
  commit-or-rollback finalize (msgbroker/sql_consumer.py:228-273) made
  atomic at table level.
- Schema evolution is by field id, like Iceberg: the manifest records every
  schema version; each bucket file remembers the version it was written
  under; the read path aligns old files to the current schema (rename =
  id match, retype = cast, add = NULL-fill) without rewriting data.

Merge semantics (M1 + M9): an upsert event wins iff its ``_seq`` exceeds the
stored row's; deletes are kept as tombstones (``_op = 'D'``) so a late,
lower-``_seq`` upsert cannot resurrect a deleted key; the public ``read()``
filters tombstones. The whole WHEN MATCHED/NOT MATCHED ladder reduces to
"union state + batch, keep per-key max-``_seq`` row", which is idempotent —
that is what makes task retries and batch replays exactly-once.

At 100 TB: B is sized so a bucket (~table_size/B) fits a task comfortably;
the merge shuffle is a hash partition on the key, AQE splits skewed
partitions, and only touched buckets are read/written — a batch touching 3%%
of keys reads ~3%% of the table, not all of it.

Multi-writer commits are optimistic, expressed over a pluggable
:class:`~data_ingestor_py_spark.storage.StorageAdapter`: claiming a version
is ``put_if_absent`` of the per-version manifest object (locally an atomic
hardlink publish; on S3/GCS a conditional PUT — ``If-None-Match: *`` /
``ifGenerationMatch=0``), and the main pointer is a plain ``put``
(last-writer-wins is fine: ``_load`` rolls a stale or even backwards
pointer forward through the version tokens) — i.e. Iceberg's catalog
commit. Swapping the deployment target means swapping ONLY the adapter;
`tests/test_concurrency.py` runs the full multi-writer suite against both
the POSIX and the conditional-PUT (object-store contract) adapters to pin
that claim.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_py_spark.operators.dedup import latest_by_key, salted_latest_by_key
from data_ingestor_py_spark.plans import bloom, filestats
from data_ingestor_py_spark.plans.literal_rows import literal_rows
from data_ingestor_py_spark.storage import PosixStorage, StorageAdapter

MANIFEST = "_manifest.json"
TOMBSTONE_COLS = ("_op",)
# Bounded manifest history: the root manifest keeps only the newest
# HISTORY_TAIL entries; older entries roll into immutable segment files
# under <root>/_history/ at commit time (write-ahead: the segment is
# durable before the trimmed manifest can win its CAS). Without the bound
# a 10^6-commit table rewrites an ever-growing log on every commit —
# O(commits^2) cumulative metadata write.
HISTORY_TAIL = 24


class CommitConflict(Exception):
    """Another writer committed the snapshot version this writer was about
    to claim. The caller must reload the manifest and redo its work against
    the new state (optimistic concurrency, Iceberg's commit protocol in
    miniature)."""


def _bucket_expr(key_cols: list, num_buckets: int):
    """Bucket id of a row; ``key_cols`` are column names or Columns."""
    return F.pmod(F.xxhash64(*key_cols), F.lit(num_buckets)).cast("int")


def _ref_dirs(m: dict) -> set[str]:
    """Top-level data dirs a manifest references: every bucket's base dir
    plus (merge-on-read mode) its delta-layer dirs. The single source for
    GC/liveness decisions — expire_snapshots, tag liveness, diff retention
    checks all consult this so a delta layer can never be collected while
    any considered snapshot still reads it."""
    out: set[str] = set()
    for e in m["buckets"].values():
        out.add(e["path"].split("/")[0])
        for d in e.get("deltas", ()):
            out.add(d["path"].split("/")[0])
    return out


def _entry_data_id(e: dict) -> tuple:
    """Identity of the DATA a bucket entry resolves to: base path + ordered
    delta paths (paths are writer-unique, files immutable). Two versions'
    entries with equal data ids cannot differ in content — the
    changelog-scan pruning predicate."""
    return (e.get("path"), tuple(d["path"] for d in e.get("deltas", ())))


@dataclass
class MergeStats:
    rows_in: int
    rows_after_dedup: int
    touched_buckets: int
    snapshot_version: int
    bucket_rows: list[tuple[int, int]]  # (bucket_id, applied rows) per bucket
    seq_min: int = 0
    seq_max: int = 0
    discover_s: float = 0.0  # job 1: bucket discovery + stats
    merge_s: float = 0.0  # job 2: union-reduce + bucket rewrite
    salt_used: int = 0  # reducers the hot keys were spread over (0 = none)


@dataclass(frozen=True)
class Discovery:
    """What a merge's first job learns about its batch before any state is
    read: the buckets it touches and its input stats. It depends only on
    the batch and the partition spec, so it can be computed ahead of the
    merge — folded into an action the caller runs anyway — and handed to
    ``merge_apply(discovery=...)``; a conflict retry reuses it."""

    spec: tuple  # (num_buckets, bucket_cols) the batch was bucketed under
    rows_in: int
    seq_min: int
    seq_max: int
    ev: dict[int, int]  # events per touched bucket
    dels: dict[int, int]  # delete events per touched bucket
    # distinct keys per bucket: exact in full stats, an HLL estimate with
    # auto-salt in light stats, empty otherwise
    keys: dict[int, int]


class TargetTable:
    """A keyed, versioned, schema-evolving table of current row states."""

    # commits writing at least this many files harvest their footer stats
    # on the cluster instead of the driver (see _write_stats_shard)
    DISTRIBUTED_HARVEST_MIN_FILES = 64

    def __init__(
        self, spark: SparkSession, root: str, storage: StorageAdapter | None = None
    ):
        self.spark = spark
        self.root = root
        self.io = storage or PosixStorage()

    # ---------------- manifest ----------------

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, MANIFEST)

    def exists(self) -> bool:
        return self.io.exists(self._manifest_path)

    def _version_path(self, version: int) -> str:
        return os.path.join(self.root, "_versions", f"manifest-v{version:06d}.json")

    def _get_manifest(self, path: str) -> dict:
        raw = self.io.get(path)
        if raw is None:
            raise FileNotFoundError(
                f"no manifest object at {path} — table not created, version "
                "never committed, or snapshot expired"
            )
        return json.loads(raw)

    def _load(self) -> dict:
        m = self._get_manifest(self._manifest_path)
        # Roll forward a crashed commit: the CAS token (per-version manifest
        # object) is written BEFORE the main-pointer put, so if a committer
        # died in between, the token holds the complete committed manifest —
        # promote it (data files were fully written before the token). This
        # also repairs a pointer that raced BACKWARDS (two last-writer-wins
        # pointer puts landing out of order on an object store).
        while True:
            raw = self.io.get(self._version_path(m["version"] + 1))
            if raw is None:
                return m
            try:
                m2 = json.loads(raw)
            except (json.JSONDecodeError, UnicodeDecodeError):
                # adapter tokens are all-or-nothing, so this is pre-seam
                # garbage; commit-time reclaim_stale_token clears it
                return m
            self.io.put(self._manifest_path, json.dumps(m2, indent=1).encode())
            m = m2

    def commit_app_meta(self, app_meta: dict, max_retries: int = 5) -> int:
        """Metadata-only commit of ``app_meta`` (no data change): bumps the
        snapshot version with the same buckets. Consumers whose progress
        rides ``app_meta`` (IncrementalJoin) need this when a refresh
        produced ZERO row changes — :meth:`merge_apply` early-returns on an
        empty batch without touching the manifest, and without a durable
        progress bump the consumer would re-diff the same (empty) gap on
        every refresh, forever (and fail outright once retention expires
        the base snapshot). Returns the committed version."""
        for _ in range(max_retries):
            m = self._load()
            m["version"] = int(m["version"]) + 1
            m["history"].append({
                "at": time.time(), "snapshot": m["version"], "op": "meta",
                "rows_in": 0, "rows_applied": 0, "buckets": [],
            })
            m["app_meta"] = dict(app_meta)
            try:
                self._commit_manifest(m)
                return m["version"]
            except CommitConflict:
                continue
        raise CommitConflict(
            f"commit_app_meta lost {max_retries} version races in a row"
        )

    def read_app_meta(self) -> dict:
        """Latest committed ``app_meta`` (see :meth:`merge_apply`) — empty
        dict if no merge ever recorded one. Subsequent commits carry the
        last value forward, so consumers must treat it as 'most recent
        intent', guarded by their own progress comparison."""
        return self._load().get("app_meta", {})

    def read_history(self) -> list[dict]:
        """The table's FULL commit history: rolled-out ``_history/``
        segments (oldest first, in roll order) followed by the manifest's
        bounded tail. Duplicate entries (a committer that wrote its
        overflow segment and then lost the version CAS re-rolls the same
        entries on retry) are dropped by exact-content identity. The live
        manifest keeps only the newest ``HISTORY_TAIL`` entries; this is
        the audit read path."""
        m = self._load()
        out: list[dict] = []
        seen: set[str] = set()

        def _add(entries):
            for e in entries:
                k = json.dumps(e, sort_keys=True)
                if k not in seen:
                    seen.add(k)
                    out.append(e)

        for seg in sorted(self.io.list(os.path.join(self.root, "_history"))):
            raw = self.io.get(seg)
            if raw is None:
                continue
            try:
                _add(json.loads(raw))
            except (json.JSONDecodeError, UnicodeDecodeError):
                continue  # torn pre-seam garbage: history is informational
        _add(m.get("history", []))
        return out

    def _commit_manifest(self, m: dict) -> None:
        """Optimistic-concurrency commit (Iceberg's protocol in miniature):

        1. CLAIM the snapshot version with ``put_if_absent`` of the
           per-version manifest object — exactly one writer can create
           ``manifest-v{N}.json``; a loser gets :class:`CommitConflict` and
           must redo its work against the reloaded state.
        2. ``put`` the main pointer (atomic full-object overwrite).

        A crash between 1 and 2 is repaired by :meth:`_load`'s roll-forward.
        The version files double as time-travel metadata.

        The manifest history is trimmed to ``HISTORY_TAIL`` entries here —
        the single choke point every commit passes through. Overflow rolls
        into a writer-unique segment under ``_history/`` BEFORE the CAS
        claim (write-ahead: a lost race leaves a harmless duplicate
        segment, deduplicated by :meth:`read_history`; a crash after the
        segment write loses nothing — the retry reloads the untrimmed
        manifest). This keeps the root manifest O(buckets), not
        O(commits)."""
        # pre-r6 manifests carried per-file stats inline ("stats"); the r6
        # plane stores them as per-dir shards instead. Strip the dead blob
        # so an upgraded table stops re-serializing O(files x columns) of
        # stale metadata on every commit (it was also never read again —
        # run analyze() once after upgrading to repopulate shard pruning).
        m.pop("stats", None)
        hist = m.get("history", [])
        # Roll overflow in HISTORY_TAIL-sized batches, not one entry per
        # commit: trimming at TAIL+1 would PUT a one-entry segment on
        # EVERY commit past saturation (O(commits) tiny objects and an
        # extra write on the hot path). Letting the in-manifest tail grow
        # to 2x before rolling amortizes the segment write to once per
        # TAIL commits while keeping the manifest O(1).
        if len(hist) >= 2 * HISTORY_TAIL:
            overflow, m["history"] = hist[:-HISTORY_TAIL], hist[-HISTORY_TAIL:]
            seg = os.path.join(
                self.root, "_history",
                f"seg-v{m['version']:06d}-{uuid.uuid4().hex[:8]}.json",
            )
            self.io.put(seg, json.dumps(overflow).encode())
        vpath = self._version_path(m["version"])
        payload = json.dumps(m, indent=1).encode()
        if not self.io.put_if_absent(vpath, payload):
            # give a wedged version number a chance to be reclaimed (a dead
            # pre-seam writer's empty/partial token, grace-period guarded —
            # adapter-written tokens are all-or-nothing and never qualify)
            self.io.reclaim_stale_token(vpath)
            raise CommitConflict(
                f"snapshot v{m['version']} was committed by another writer; "
                "reload the manifest and retry"
            )
        self.io.put(self._manifest_path, payload)  # atomic snapshot swap

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        key_cols: list[str],
        columns: list[tuple[str, str]],
        num_buckets: int = 64,
        seq_col: str = "_seq",
        bucket_cols: list[str] | None = None,
        storage: StorageAdapter | None = None,
        merge_mode: str = "cow",
        mor_max_deltas: int = 8,
        stats_cols: list[str] | None = None,
    ) -> "TargetTable":
        """Create an empty table. ``columns`` = [(name, spark_type)] for the
        payload; engine columns (_seq, _op, _ts) are always present.

        ``bucket_cols`` chooses the partition spec (Iceberg ``bucket(N, …)``):
        default is the full key — uniform spread, every batch touches every
        bucket; ``["repo"]`` co-locates a repo's files so repo-local CDC
        batches read/rewrite only their repos' buckets (at the cost of
        bucket-size skew for hot repos — pick per workload).

        ``merge_mode`` picks the write amplification tradeoff:

        - ``"cow"`` (copy-on-write, default): each merge REWRITES every
          touched bucket. Reads are single-layer fast; per-batch write cost
          is O(touched state). Right when batches are large relative to the
          table or bucketing is batch-local (``bucket_cols=["repo"]``).
        - ``"mor"`` (merge-on-read): each merge APPENDS one batch-deduped
          delta layer per touched bucket; the read path resolves
          base+deltas with the same max-``_seq`` winner rule the merge
          uses. The merge that would add a bucket's ``mor_max_deltas``-th
          layer rewrites that bucket as a new base instead, in the same
          write and commit (LSM compact-on-flush; 0 = manual compaction
          only). Per-batch write cost is O(batch) below the threshold —
          at 10^10-event scale a 1%%-of-keys batch under hash bucketing
          touches ~every bucket, so COW would rewrite ~the whole table per
          batch while MoR writes only the batch; read amplification is
          bounded by the threshold. This is Hudi's MoR / Paimon's LSM
          tradeoff; final state is byte-identical to COW (same winner
          rule, associative — pinned by tests/test_mor.py state-hash
          equality)."""
        if merge_mode not in ("cow", "mor"):
            raise ValueError(f"merge_mode must be 'cow' or 'mor', got {merge_mode!r}")
        os.makedirs(root, exist_ok=True)  # data plane (Spark-written parquet)
        t = cls(spark, root, storage)
        fields = [{"id": i + 1, "name": n, "type": ty} for i, (n, ty) in enumerate(columns)]
        m = {
            "format_version": 1,
            "version": 0,
            "key_cols": key_cols,
            "bucket_cols": bucket_cols or key_cols,
            "seq_col": seq_col,
            "num_buckets": num_buckets,
            "current_schema": 1,
            "schemas": {"1": fields},
            # bucket_id -> {"path": rel_dir, "schema": v[, "deltas": [...]]}
            "buckets": {},
            "history": [],
            "merge_mode": merge_mode,
            "mor_max_deltas": mor_max_deltas,
        }
        if stats_cols:
            m["stats_keys"] = [
                t._resolve_stats_col(m, c) for c in stats_cols
            ]
        t._commit_manifest(m)
        return t

    # ---------------- schema helpers ----------------

    def schema_fields(self, m: dict | None = None, version: int | None = None) -> list[dict]:
        m = m or self._load()
        v = version or m["current_schema"]
        return m["schemas"][str(v)]

    def current_columns(self, m: dict | None = None) -> list[str]:
        m = m or self._load()
        return (
            m["key_cols"]
            + [f["name"] for f in self.schema_fields(m)]
            + [m["seq_col"], "_op", "_ts"]
        )

    def _write_snap_dir(
        self,
        df: DataFrame,
        new_v: int,
        m: dict | None = None,
        max_rows_per_file: int | None = None,
    ) -> tuple[str, str]:
        """Write a bucket-partitioned snapshot data dir under a
        writer-unique name (two racing committers never share a dir; the
        CAS on the version manifest decides whose dir becomes visible).
        ``df`` must carry a ``bkt`` column. Returns (rel, abs) paths —
        the single source of the snap-dir naming/write protocol shared by
        merge, bulk load, partition rewrite, tombstone purge, and data-file
        rewrite. When ``m`` tracks statistics columns, the new files'
        footer stats are harvested into it here, so every writer gets
        pruning metadata without writer-specific plumbing."""
        rel = f"snap-{new_v:06d}-{uuid.uuid4().hex[:8]}"
        out_dir = os.path.join(self.root, rel)
        w = df.write.partitionBy("bkt").mode("overwrite")
        if max_rows_per_file:
            w = w.option("maxRecordsPerFile", max_rows_per_file)
        w.parquet(out_dir)
        if m is not None and m.get("stats_keys"):
            self._write_stats_shard(m, rel)
        return rel, out_dir

    def _written_buckets(self, out_dir: str) -> set[int]:
        """Bucket ids that actually produced files in a snapshot write (an
        empty bucket writes no dir — its manifest entry must be dropped,
        not pointed at a missing path)."""
        return {
            int(d.split("=")[1])
            for d in self.io.list_dirs(out_dir)
            if d.startswith("bkt=")
        }

    def _empty_state(self, m: dict) -> DataFrame:
        """The table's typed empty state. A filtered-out one-row SELECT
        optimizes to an empty local relation, so collecting it (or reading
        an empty table) runs no Spark job, unlike ``createDataFrame([])``."""
        typed = (
            [(k, "string") for k in m["key_cols"]]
            + [(f["name"], f["type"]) for f in self.schema_fields(m)]
            + [(m["seq_col"], "long"), ("_op", "string"), ("_ts", "timestamp")]
        )
        cols = ", ".join(
            f"CAST(NULL AS {t}) AS `{n.replace('`', '``')}`" for n, t in typed
        )
        return self.spark.sql(f"SELECT {cols} WHERE false")

    def _align(self, df: DataFrame, m: dict, written_version: int) -> DataFrame:
        """Project a file written under ``written_version`` to the current
        schema: field-id rename + cast + NULL-fill (Iceberg read path)."""
        cur = self.schema_fields(m)
        old = {f["id"]: f for f in self.schema_fields(m, written_version)}
        exprs = [F.col(c) for c in m["key_cols"]]
        for f in cur:
            o = old.get(f["id"])
            if o is None:
                exprs.append(F.lit(None).cast(f["type"]).alias(f["name"]))
            else:
                exprs.append(F.col(o["name"]).cast(f["type"]).alias(f["name"]))
        exprs += [F.col(m["seq_col"]), F.col("_op"), F.col("_ts")]
        return df.select(*exprs)

    # ---------------- per-file column statistics (scan pruning) ----------------

    def _resolve_stats_col(self, m: dict, name: str) -> str:
        """User column name -> the schema-stable stats key the manifest
        stores: key/seq columns keep their (immutable) names; payload
        columns are keyed by FIELD ID ("f<id>") so a later rename never
        detaches old files' statistics from the column."""
        if name in m["key_cols"] or name == m["seq_col"]:
            return name
        for f in self.schema_fields(m):
            if f["name"] == name:
                if filestats.kind_of(f["type"]) is None:
                    raise ValueError(
                        f"stats unsupported for column {name!r} of type "
                        f"{f['type']!r} (numeric/string only)"
                    )
                return f"f{f['id']}"
        raise ValueError(f"unknown stats column {name!r}")

    def _colkey(self, m: dict, name: str) -> str | None:
        """Resolve a PREDICATE column to its stats key (None = no stats
        tracked for it — the predicate still filters, it just can't
        prune)."""
        keys = m.get("stats_keys", ())
        if (name in m["key_cols"] or name == m["seq_col"]) and name in keys:
            return name
        for f in self.schema_fields(m):
            if f["name"] == name and f"f{f['id']}" in keys:
                return f"f{f['id']}"
        return None

    def _stats_name_map(self, m: dict, schema_version: int) -> dict[str, tuple[str, str]]:
        """For files written under ``schema_version``: parquet column name
        as written -> (stats key, kind). Payload columns are matched by
        field id across versions; a column whose written-era kind differs
        from its current kind (exotic retype) is skipped — unprunable
        beats unsound."""
        keys = set(m.get("stats_keys", ()))
        if not keys:
            return {}
        out: dict[str, tuple[str, str]] = {}
        for k in m["key_cols"]:
            if k in keys:
                out[k] = (k, "str")
        if m["seq_col"] in keys:
            out[m["seq_col"]] = (m["seq_col"], "num")
        cur_by_id = {f["id"]: f for f in self.schema_fields(m)}
        for f in self.schema_fields(m, schema_version):
            ck = f"f{f['id']}"
            cur = cur_by_id.get(f["id"])
            if ck not in keys or cur is None:
                continue
            kind_w, kind_c = filestats.kind_of(f["type"]), filestats.kind_of(cur["type"])
            if kind_w is not None and kind_w == kind_c:
                out[f["name"]] = (ck, kind_w)
        return out

    def _stats_shard_path(self, rel_top: str) -> str:
        return os.path.join(self.root, rel_top, "_stats.json")

    def _write_stats_shard(
        self, m: dict, rel: str, schema_v: int | None = None
    ) -> None:
        """Harvest per-file (min, max, null_count) from the parquet footers
        of one snapshot dir into a ``_stats.json`` SHARD inside that dir —
        NOT into the root manifest. Sharding is the 100x-scale property:
        the root manifest stays O(buckets) and is never re-serialized with
        O(live files x columns) of statistics per commit; each shard is
        written once (snapshot dirs are immutable), read only when a scan
        plans over its dir, and garbage-collected with the dir itself by
        ``expire_snapshots`` (no separate GC). Driver-side metadata reads
        only — the parquet writer already computed the row-group
        statistics; see plans/filestats.py for the scale note.

        The harvest runs with the (possibly empty) written-name map: an
        empty map still lists every file with empty per-column stats,
        which :meth:`scan_plan` treats as unprunable — never as "no
        files" (that would silently exclude live rows)."""
        sv = m["current_schema"] if schema_v is None else schema_v
        nmap = self._stats_name_map(m, sv)
        out_dir = os.path.join(self.root, rel)
        bkt_dirs = {
            d: os.path.join(out_dir, d)
            for d in self.io.list_dirs(out_dir)
            if d.startswith("bkt=")
        }
        # Big commits harvest on the cluster (one footer-only task ride
        # over the just-written files — the Iceberg shape); small commits
        # stay on the driver, where a Spark job would cost more than the
        # handful of footer reads it replaces. Adapter-private storage
        # (executors can't open the paths) always takes the driver path.
        n_files = sum(
            1
            for p in bkt_dirs.values()
            for f in os.listdir(p)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ) if bkt_dirs else 0
        if (
            n_files >= self.DISTRIBUTED_HARVEST_MIN_FILES
            and type(self.io) is PosixStorage
        ):
            dirs = filestats.harvest_dirs_distributed(self.spark, bkt_dirs, nmap)
        else:
            dirs = {
                d: filestats.harvest_dir(p, nmap) for d, p in bkt_dirs.items()
            }
        self.io.put(
            self._stats_shard_path(rel),
            json.dumps(
                {
                    "keys": sorted(m.get("stats_keys", [])),
                    "schema": sv,
                    "dirs": dirs,
                }
            ).encode(),
        )

    def _load_stats_shard(self, rel_top: str) -> dict | None:
        """Parse one snapshot dir's stats shard; None (= unprunable, must
        read) for an absent or torn shard — statistics are advisory."""
        raw = self.io.get(self._stats_shard_path(rel_top))
        if raw is None:
            return None
        try:
            doc = json.loads(raw)
        except (json.JSONDecodeError, UnicodeDecodeError):
            return None
        return doc if isinstance(doc, dict) and "dirs" in doc else None

    def set_stats_cols(self, cols: list[str], max_retries: int = 5) -> int:
        """Enable (or change) statistics tracking on an existing table.
        Future writes harvest automatically; call :meth:`analyze` to
        backfill the files already on disk. Metadata-only commit."""
        for _ in range(max_retries):
            m = self._load()
            m["stats_keys"] = [self._resolve_stats_col(m, c) for c in cols]
            m["version"] += 1
            m["history"].append(
                {"at": time.time(), "snapshot": m["version"], "op": "set_stats_cols"}
            )
            try:
                self._commit_manifest(m)
                return m["version"]
            except CommitConflict:
                continue
        raise CommitConflict(f"set_stats_cols lost {max_retries} races")

    def analyze(self) -> int | None:
        """Backfill stats shards for every live snapshot dir that lacks
        one (files written before stats were enabled) or whose shard was
        harvested under a smaller ``stats_keys`` set (re-harvested so the
        newly tracked columns prune too). Footer reads only, no data
        rewrite, and NO manifest commit — shards are advisory metadata
        outside the commit protocol, so a crash mid-backfill just leaves
        the remaining dirs unpruned until the next call (idempotent).
        Returns the number of dirs (re)harvested, or None if none needed
        it."""
        m = self._load()
        if not m.get("stats_keys"):
            return None
        keys = set(m["stats_keys"])
        tops: dict[str, int] = {}  # snap dir -> written schema version
        for e in m["buckets"].values():
            for layer in [e] + list(e.get("deltas", ())):
                tops.setdefault(layer["path"].split("/", 1)[0], layer["schema"])
        todo = []
        for top, sv in sorted(tops.items()):
            sh = self._load_stats_shard(top)
            if sh is None or not keys <= set(sh.get("keys", ())):
                todo.append((top, sv))
        if not todo:
            return None
        for top, sv in todo:
            self._write_stats_shard(m, top, schema_v=sv)
        return len(todo)

    # ---------------- bloom point-lookup index (plans/bloom.py) ----------

    def _bloom_key(self, m: dict, name: str) -> str | None:
        """Schema-stable sidecar key for a column (independent of
        stats_keys — blooms cover any string/numeric column)."""
        if name in m["key_cols"] or name == m["seq_col"]:
            return name
        for f in self.schema_fields(m):
            if f["name"] == name:
                return f"f{f['id']}"
        return None

    def _bloom_base(self, colkey: str) -> str:
        return os.path.join(self.root, "_bloom", colkey)

    def _bloom_path(self, colkey: str) -> str:
        """The column index's params object (the piece whose corruption
        must degrade the whole index to no-pruning)."""
        return os.path.join(self._bloom_base(colkey), "_params.json")

    def _written_name(self, m: dict, schema_v: int, name: str) -> str | None:
        """The column's name as WRITTEN under ``schema_v`` (renames change
        names, field ids don't); None if the field didn't exist yet."""
        if name in m["key_cols"] or name == m["seq_col"]:
            return name
        fid = next(
            (f["id"] for f in self.schema_fields(m) if f["name"] == name), None
        )
        if fid is None:
            return None
        return next(
            (f["name"] for f in self.schema_fields(m, schema_v) if f["id"] == fid),
            None,
        )

    def build_bloom(
        self,
        col: str,
        m_bits: int = bloom.DEFAULT_M,
        k: int = bloom.DEFAULT_K,
    ) -> dict:
        """Build/refresh the sharded per-file Bloom index for ``col``.

        Incremental by construction: snapshot dirs are immutable, so only
        live dirs not yet covered are scanned (one Catalyst job per
        written-schema group — value -> k positions -> bit_or words per
        file), and each build only ADDS shards; shards of expired dirs
        are dropped. Changing ``m_bits``/``k`` (or a column retype, which
        changes the hashed string rendering) discards the index and
        rebuilds whole.

        Scale shape (the round-6 rework): the word store is written BY
        THE CLUSTER (``partitionBy(top)`` parquet off the build job's own
        shuffle) — the driver collects only the per-file non-NULL counts
        (O(new files) rows), which double as the path-match witness.
        Probes later load only the shards of dirs their scan considers.
        Nothing on the driver is ever O(all live files x filter words).

        The index is advisory metadata OUTSIDE the manifest commit:
        pruning is sound for exactly the files it covers, and a
        torn/missing shard just means no pruning. Files with no non-NULL
        values are recorded ``nodata`` — provably absent for every probe,
        the strongest entry."""
        m = self._load()
        ck = self._bloom_key(m, col)
        if ck is None:
            raise ValueError(f"unknown column {col!r}")
        base = self._bloom_base(ck)
        cur_type = self._bloom_col_type(m, col)
        idx = bloom.BloomIndex(self.io, base)
        if idx.params != (m_bits, k) or idx.col_type != cur_type:
            # params/type changed (or first build / corrupt params):
            # discard everything and publish fresh params first — probes
            # only trust shards whose params object is valid and current
            self.io.delete_prefix(base)
            self.io.put(
                self._bloom_path(ck),
                json.dumps(
                    {"col": ck, "m": m_bits, "k": k, "type": cur_type}
                ).encode(),
            )
            idx = bloom.BloomIndex(self.io, base)
        live: dict[str, dict[str, int]] = {}  # top -> {leaf: schema}
        for e in m["buckets"].values():
            for layer in [e] + list(e.get("deltas", ())):
                top, _, leaf = layer["path"].partition("/")
                live.setdefault(top, {})[leaf] = layer["schema"]
        # GC shards of dirs no longer referenced by any bucket entry
        meta_dir = os.path.join(base, "meta")
        existing = {
            os.path.basename(p)[:-5]
            for p in self.io.list(meta_dir)
            if p.endswith(".json")
        }
        for top in sorted(existing - set(live)):
            self.io.delete(os.path.join(meta_dir, f"{top}.json"))
            self.io.delete_prefix(os.path.join(base, "data", f"top={top}"))
        # uncovered live leaves
        todo: dict[str, dict[str, int]] = {}
        n_covered = 0
        for top, leaves in live.items():
            meta = idx.raw_meta(top) if top in existing else None
            covered_leaves = set((meta or {}).get("dirs", {}))
            for leaf, sv in leaves.items():
                if leaf in covered_leaves:
                    n_covered += 1
                else:
                    todo.setdefault(top, {})[leaf] = sv
        if not todo:
            return {"dirs_built": 0, "dirs_covered": n_covered}
        groups: dict[int, list[str]] = {}   # written schema -> [reldir]
        absent: list[str] = []              # column absent under written schema
        listings: dict[str, list[str]] = {}  # reldir -> complete file list
        for top, leaves in sorted(todo.items()):
            for leaf, sv in sorted(leaves.items()):
                rel = f"{top}/{leaf}"
                files = [
                    os.path.basename(p)
                    for p in self.io.list(os.path.join(self.root, rel))
                    if p.endswith(".parquet")
                    and not os.path.basename(p).startswith(("_", "."))
                ]
                listings[rel] = files
                if files and self._written_name(m, sv, col) is not None:
                    groups.setdefault(sv, []).append(rel)
                else:
                    # column didn't exist under this written schema: every
                    # row reads as NULL under the current schema -> every
                    # file is provably absent for any probe
                    absent.append(rel)
        flags: dict[str, dict[str, list[str]]] = {
            rel: {"matched": [], "nodata": []} for rel in listings
        }
        for rel in absent:
            flags[rel]["nodata"] = list(listings[rel])
        data_dir = os.path.join(base, "data")
        for sv, rels in sorted(groups.items()):
            # read under the WRITTEN schema, cast to the CURRENT type
            # before hashing: the shard must store the current type's
            # string rendering or probes against a retyped/renamed column
            # would hash a different string than the build did
            raw = self.spark.read.schema(self._written_ddl(m, sv)).parquet(
                *[os.path.join(self.root, r) for r in rels]
            )
            wname = self._written_name(m, sv, col)
            df = raw.select(
                F.col(wname).cast(cur_type).alias("_v"),
                F.input_file_name().alias("_file"),
            )
            words, counts = bloom.build_words(df, "_v", m_bits, k)
            # the cluster writes the word shards; data precedes meta so a
            # crash here leaves unreferenced data, never dangling coverage
            bloom.shape_words(words).write.partitionBy("top").mode(
                "append"
            ).parquet(data_dir)
            for r in counts.collect():
                d, fname = self._rel_split(r["_file"])
                fl = flags.get(d)
                if fl is not None and fname in listings[d]:
                    fl["matched" if r["nn"] else "nodata"].append(fname)
        per_top: dict[str, dict] = {}
        for rel, files in listings.items():
            top, _, leaf = rel.partition("/")
            per_top.setdefault(top, {})[leaf] = {
                "all": files,
                "matched": sorted(flags[rel]["matched"]),
                "nodata": sorted(flags[rel]["nodata"]),
            }
        n_built = 0
        for top, dirs in sorted(per_top.items()):
            doc = idx.raw_meta(top) or {"dirs": {}}
            doc.setdefault("dirs", {}).update(dirs)
            self.io.put(
                os.path.join(meta_dir, f"{top}.json"), json.dumps(doc).encode()
            )
            n_built += len(dirs)
        return {"dirs_built": n_built, "dirs_covered": n_covered + n_built}

    def _rel_split(self, fpath: str) -> tuple[str, str]:
        p = fpath
        if p.startswith("file:"):
            p = "/" + p[5:].lstrip("/")
        rel = os.path.relpath(p, self.root)
        d, fname = os.path.split(rel)
        return d, fname

    def _bloom_col_type(self, m: dict, name: str) -> str:
        if name in m["key_cols"]:
            return "string"
        if name == m["seq_col"]:
            return "long"
        for f in self.schema_fields(m):
            if f["name"] == name:
                return f["type"]
        return "string"

    def _bloom_probes(
        self, m: dict, preds: list[tuple[str, str, object]]
    ) -> list[tuple["bloom.BloomIndex", list[list[int]]]]:
        """For each =/IN predicate with a usable index: (lazy shard index,
        [positions-per-candidate-value]). A file survives a predicate if
        ANY of its values may be present; it is pruned if EVERY value is
        provably absent from the file. Shards load lazily — only the dirs
        the scan actually consults are read, each at most once."""
        out = []
        for c, op, v in preds:
            if op not in ("=", "in"):
                continue
            ck = self._bloom_key(m, c)
            if ck is None:
                continue
            idx = bloom.BloomIndex(self.io, self._bloom_base(ck))
            if idx.params is None:
                continue
            cur_type = self._bloom_col_type(m, c)
            if idx.col_type != cur_type:
                continue  # column retyped since the build: stale rendering
            mb, k = idx.params
            vals = list(v) if op == "in" else [v]
            pos = bloom.probe_positions(
                self.spark, vals, mb, k, spark_type=cur_type
            )
            if pos:
                out.append((idx, pos))
        return out

    @staticmethod
    def _bloom_file_ok(probes, reldir: str, fname: str) -> bool:
        """True = must read (possibly present / not covered)."""
        for idx, val_positions in probes:
            entry = idx.file_entry(reldir, fname)
            if entry is None:
                continue
            if not any(bloom.may_contain(entry, ps) for ps in val_positions):
                return False
        return True

    @staticmethod
    def _bloom_dir_prunable(probes, reldir: str) -> tuple[bool, int]:
        """(whole dir provably empty for the probe, file count if covered)."""
        n = -1
        for idx, val_positions in probes:
            nf, entries = idx.dir_entries(reldir)
            if nf >= 0:
                n = nf
            if entries is None:
                continue  # uncovered, or some file lacks a usable entry
            if all(
                not any(bloom.may_contain(e, ps) for ps in val_positions)
                for e in entries.values()
            ):
                return True, n
        return False, n

    def scan_plan(
        self,
        preds: list[tuple[str, str, object]],
        m: dict | None = None,
        use_bloom: bool = True,
    ) -> dict:
        """Plan a statistics-pruned scan for a conjunction of simple
        predicates ``(col, op, value)`` with ops ``= < <= > >= in``.

        Pruning levels, each sound by construction:

        - **bucket level** (COW and MoR): a bucket is skipped iff some
          predicate provably matches no row in ANY of its layers' files —
          every visible row (the per-key winner) is physically present in
          some layer, so if no physical row can match, no winner can.
        - **file level** (single-layer buckets only): COW state holds
          exactly one physical row per key, so each visible row lives in
          exactly one file and files prune independently. Multi-layer MoR
          buckets must read ALL their layers (the winner rule compares
          rows across layers), so they only prune as a whole.

        Files/dirs without statistics are always read; the caller applies
        the full residual filter regardless — stats are an optimization,
        never a correctness dependency. Returns the layer lists plus
        pruning counters (pinned by tests/test_stats_pruning.py)."""
        m = m or self._load()
        preds = filestats.validate_preds(preds)
        resolved = [(self._colkey(m, c), op, v) for c, op, v in preds]
        probes = self._bloom_probes(m, preds) if use_bloom else []
        # Per-snap-dir stats shards, loaded lazily and at most once per
        # scan (shards are immutable). The root manifest carries no file
        # statistics at all — planning reads O(live dirs) small shard
        # objects, the Iceberg manifest-read shape, instead of the root
        # manifest carrying (and every commit rewriting) O(files) stats.
        shard_cache: dict[str, dict | None] = {}

        def file_stats(rel: str) -> list | None:
            top, _, leaf = rel.partition("/")
            if top not in shard_cache:
                shard_cache[top] = self._load_stats_shard(top)
            sh = shard_cache[top]
            # empty list => harvested but no usable entries: treat exactly
            # like "no footer stats, must read" — never as an empty bucket
            return (sh["dirs"].get(leaf) or None) if sh else None

        plain: list[tuple[int, str]] = []    # (schema, file-or-dir rel path)
        layered: list[tuple[int, str]] = []  # (schema, dir rel path)
        n_bkts = n_bkts_read = n_files = n_files_read = 0

        def file_match(st: dict) -> bool:
            return all(
                ck is None or filestats.may_match(st, ck, op, v)
                for ck, op, v in resolved
            )

        for b, info in sorted(m["buckets"].items(), key=lambda kv: int(kv[0])):
            n_bkts += 1
            layers = [info] + list(info.get("deltas", ()))
            per_layer = [file_stats(layer["path"]) for layer in layers]
            if len(layers) == 1:
                fs = per_layer[0]
                if fs is None:
                    # no footer stats for this dir — bloom can still prove
                    # the probe absent from every covered file
                    prunable, nf = self._bloom_dir_prunable(
                        probes, info["path"]
                    )
                    if nf >= 0:
                        n_files += nf
                    if prunable:
                        continue
                    if nf >= 0:
                        n_files_read += nf
                    plain.append((info["schema"], info["path"]))
                    n_bkts_read += 1
                    continue
                n_files += len(fs)
                keep = [
                    f
                    for f in fs
                    if file_match(f["st"])
                    and self._bloom_file_ok(probes, info["path"], f["f"])
                ]
                n_files_read += len(keep)
                if keep:
                    n_bkts_read += 1
                    plain += [
                        (info["schema"], f"{info['path']}/{f['f']}") for f in keep
                    ]
                continue
            # multi-layer: merge bounds across every file of every layer
            n_files += sum(len(fs) for fs in per_layer if fs is not None)
            skip = False
            for ck, op, v in resolved:
                if ck is None:
                    continue
                if any(fs is None for fs in per_layer):
                    break  # an unharvested layer makes the bucket unprunable
                mn = mx = None
                usable = True
                for fs in per_layer:
                    for f in fs:
                        bounds = f["st"].get(ck)
                        if bounds is None:
                            usable = False
                            break
                        if bounds[0] is None:
                            continue  # all-NULL file: contributes no range
                        mn = bounds[0] if mn is None else min(mn, bounds[0])
                        mx = bounds[1] if mx is None else max(mx, bounds[1])
                    if not usable:
                        break
                if usable and not filestats.may_match(
                    {ck: [mn, mx, 0]}, ck, op, v
                ):
                    skip = True
                    break
            if not skip and probes:
                # MoR bucket: prune only as a whole (winner rule spans
                # layers) — every layer dir must prove the probe absent
                skip = all(
                    self._bloom_dir_prunable(probes, layer["path"])[0]
                    for layer in layers
                )
            if not skip:
                n_bkts_read += 1
                n_files_read += sum(len(fs) for fs in per_layer if fs is not None)
                layered += [(layer["schema"], layer["path"]) for layer in layers]
        return {
            "plain": plain,
            "layered": layered,
            "buckets_total": n_bkts,
            "buckets_read": n_bkts_read,
            "files_total": n_files,
            "files_read": n_files_read,
        }

    @staticmethod
    def _pred_filter(preds: list[tuple[str, str, object]]):
        cond = F.lit(True)
        for c, op, v in filestats.validate_preds(preds):
            col = F.col(c)
            if op == "=":
                cond = cond & (col == F.lit(v))
            elif op == "in":
                cond = cond & col.isin(*v)
            elif op == "<":
                cond = cond & (col < F.lit(v))
            elif op == "<=":
                cond = cond & (col <= F.lit(v))
            elif op == ">":
                cond = cond & (col > F.lit(v))
            else:
                cond = cond & (col >= F.lit(v))
        return cond

    def read_where(self, preds: list[tuple[str, str, object]]) -> DataFrame:
        """Visible rows satisfying a conjunction of simple predicates,
        scanning only the buckets/files whose footer statistics admit a
        match (:meth:`scan_plan`). The predicate is ALSO applied as a
        residual filter (and pushed into the surviving parquet scans by
        Catalyst, so row-group pruning stacks on top of manifest pruning).

        This is the 100 TB point of the whole statistics feature: a
        selective predicate over a clustered column reads a handful of
        files instead of the full table — the engine-level analogue of
        Iceberg metadata pruning, sitting ABOVE parquet's own row-group
        skipping (which still requires opening every footer; at 10^5+
        files per table, the manifest prune is what keeps planning and
        object-store round-trips bounded)."""
        m = self._load()
        plan = self.scan_plan(preds, m)
        parts = []
        p = self._grouped_read(m, plan["plain"])
        if p is not None:
            parts.append(p)
        if plan["layered"]:
            raw = self._grouped_read(m, plan["layered"])
            cols = self.current_columns(m)
            parts.append(
                latest_by_key(raw.select(*cols), m["key_cols"], m["seq_col"])
            )
        if not parts:
            df = self._empty_state(m)
        else:
            df = parts[0]
            for q in parts[1:]:
                df = df.unionByName(q)
        return df.where((F.col("_op") != "D") & self._pred_filter(preds))

    # ---------------- schema evolution (M5) ----------------

    def evolve(
        self,
        add: list[tuple[str, str]] | None = None,
        rename: dict[str, str] | None = None,
        retype: dict[str, str] | None = None,
        drop: list[str] | None = None,
    ) -> int:
        """Add/rename/retype/drop payload columns; data files are not
        rewritten. Returns the new schema version. Mirrors the reference's
        flush-then-switch mapping swap (msgbroker/sql_consumer.py:61-71),
        but versioned and metadata-only like Iceberg UpdateSchema.

        DROP is metadata-only like everything else: the field leaves the
        current field list, old files keep the column bytes, and
        ``_align`` simply never projects them again. Dropped field ids
        are NEVER reused — new ids allocate above the max across ALL
        schema versions, so re-adding a dropped column's name yields a
        fresh field that reads NULL from old files instead of
        resurrecting the dropped data (the Iceberg field-id contract).
        A dropped column's stats key leaves ``stats_keys``; any bloom
        sidecars become unreferenced (probes resolve names against the
        current schema) and age out with their dirs. ``drop`` applies
        AFTER ``rename``/``retype`` (use the new name) and before
        ``add``."""
        m = self._load()
        fields = [dict(f) for f in self.schema_fields(m)]
        # never reuse a field id: a drop removes the field from the CURRENT
        # list, but its id stays burned (old files still map it) — max over
        # every schema version ever committed
        max_id = max(
            (f["id"] for fs in m["schemas"].values() for f in fs), default=0
        )
        for old, new in (rename or {}).items():
            for f in fields:
                if f["name"] == old:
                    f["name"] = new
        for name, ty in (retype or {}).items():
            for f in fields:
                if f["name"] == name:
                    f["type"] = ty
        dropped_ids: set[int] = set()
        for name in drop or []:
            if name in m["key_cols"] or name in (m["seq_col"], "_op", "_ts"):
                raise ValueError(
                    f"cannot drop {name!r}: key/sequence/engine columns are "
                    "structural"
                )
            hit = next((f for f in fields if f["name"] == name), None)
            if hit is None:
                raise ValueError(f"cannot drop unknown column {name!r}")
            dropped_ids.add(hit["id"])
            fields.remove(hit)
        if not fields and not (add or []):
            raise ValueError("dropping every payload column leaves no table")
        for name, ty in add or []:
            max_id += 1
            fields.append({"id": max_id, "name": name, "type": ty})
        if dropped_ids and m.get("stats_keys"):
            burned = {f"f{i}" for i in dropped_ids}
            m["stats_keys"] = [k for k in m["stats_keys"] if k not in burned]
        new_v = m["current_schema"] + 1
        m["schemas"][str(new_v)] = fields
        m["current_schema"] = new_v
        # a schema change is its own snapshot version (metadata-only, same
        # data files) — every commit must claim a fresh version under the
        # optimistic CAS protocol
        m["version"] += 1
        m["history"].append({"at": time.time(), "schema": new_v, "op": "evolve"})
        self._commit_manifest(m)
        return new_v

    # ---------------- snapshot refs (Iceberg tags) ----------------

    def tag_snapshot(self, name: str, version: int | None = None) -> int:
        """Pin a snapshot under a named ref (Iceberg tag): audit points,
        reproducible-training anchors, rollback targets. A tagged
        snapshot's data dirs survive ``expire_snapshots`` until the tag is
        dropped. Tagging is metadata-only but claims its own version under
        the CAS protocol like every commit. Returns the tagged version."""
        m = self._load()
        target = m["version"] if version is None else version
        # validate the ref points at a committed snapshot...
        tm = self._get_manifest(self._version_path(target))
        # ...whose data dirs are still LIVE: tagging a version whose data
        # was already removed by expire_snapshots would otherwise succeed
        # and read_tag would fail lazily with a path-not-found deep inside
        # the scan (same eager check as diff_versions — one listing)
        live = {d for d in self.io.list_dirs(self.root) if d.startswith("snap-")}
        gone = _ref_dirs(tm) - live
        if gone:
            raise FileNotFoundError(
                f"cannot tag snapshot v{target}: it references expired data "
                f"dirs {sorted(gone)[:3]} — retention (expire_snapshots) ran "
                "past this version"
            )
        m.setdefault("tags", {})[name] = target
        m["version"] += 1
        m["history"].append(
            {"at": time.time(), "op": "tag", "tag": name, "snapshot": target}
        )
        self._commit_manifest(m)
        return target

    def drop_tag(self, name: str) -> None:
        m = self._load()
        if name not in m.get("tags", {}):
            raise KeyError(f"no tag {name!r} on table {self.root}")
        del m["tags"][name]
        m["version"] += 1
        m["history"].append({"at": time.time(), "op": "drop_tag", "tag": name})
        self._commit_manifest(m)

    def read_tag(self, name: str) -> DataFrame:
        """Time travel by ref name (Iceberg ``VERSION AS OF 'tag'``)."""
        m = self._load()
        tags = m.get("tags", {})
        if name not in tags:
            raise KeyError(f"no tag {name!r} on table {self.root}")
        return self.read_version(tags[name])

    # ---------------- read paths ----------------

    def _written_ddl(self, m: dict, version: int) -> str:
        fields = self.schema_fields(m, version)
        return ", ".join(
            [f"{k} string" for k in m["key_cols"]]
            + [f"`{f['name']}` {f['type']}" for f in fields]
            + [f"{m['seq_col']} long", "_op string", "_ts timestamp"]
        )

    def _grouped_read(self, m: dict, layers: list[tuple[int, str]]) -> DataFrame | None:
        """Read (schema_version, rel_path) layers grouped by schema version
        (one scan per version, explicit schema — skips footer inference),
        aligned to the current schema and unioned."""
        groups: dict[int, list[str]] = {}
        for schema_v, rel in layers:
            groups.setdefault(schema_v, []).append(os.path.join(self.root, rel))
        parts = []
        for schema_v, paths in groups.items():
            df = self.spark.read.schema(self._written_ddl(m, schema_v)).parquet(*paths)
            parts.append(self._align(df, m, schema_v))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _state_df(self, m: dict, bucket_ids: list[int] | None = None) -> DataFrame:
        """Raw state incl. tombstones for the given buckets (None = all).

        Merge-on-read resolution happens here, and ONLY for buckets that
        actually carry delta layers: their base+delta rows reduce to one
        row per key with the same ``max(struct(_seq, payload…))`` winner
        rule the COW merge applies (associative, so layering batch-local
        maxima is exactly the COW result — tests/test_mor.py pins
        state-hash equality). Compacted / COW buckets take the plain
        single-layer read, so a fully compacted MoR table reads at COW
        speed."""
        plain: list[tuple[int, str]] = []
        layered: list[tuple[int, str]] = []
        for b, info in m["buckets"].items():
            if bucket_ids is not None and int(b) not in bucket_ids:
                continue
            if info.get("deltas"):
                layered.append((info["schema"], info["path"]))
                layered += [(d["schema"], d["path"]) for d in info["deltas"]]
            else:
                plain.append((info["schema"], info["path"]))
        parts = []
        p = self._grouped_read(m, plain)
        if p is not None:
            parts.append(p)
        if layered:
            raw = self._grouped_read(m, layered)
            # column order = current_columns, so the reduce's tie-break
            # struct field order matches the COW merge window's ordering
            cols = self.current_columns(m)
            parts.append(latest_by_key(raw.select(*cols), m["key_cols"], m["seq_col"]))
        if not parts:
            return self._empty_state(m)
        out = parts[0]
        for q in parts[1:]:
            out = out.unionByName(q)
        return out

    def read(self) -> DataFrame:
        """Current visible rows (tombstones filtered)."""
        m = self._load()
        return self._state_df(m).where(F.col("_op") != "D")

    def read_raw(self) -> DataFrame:
        return self._state_df(self._load())

    def read_version(self, version: int) -> DataFrame:
        """Time travel: visible rows as of snapshot ``version`` (works while
        the referenced snapshot dirs have not been expired)."""
        m = self._get_manifest(self._version_path(version))
        return self._state_df(m).where(F.col("_op") != "D")

    def lookup(self, probes: list[dict[str, str | None]]) -> DataFrame:
        """Serving-path point lookup: visible rows matching any probe,
        reading ONLY the buckets the probes hash to.

        Every probe must bind every bucket column (the partition spec —
        that is what makes pruning possible) and all probes must bind the
        same column set; extra bound columns must be key columns and
        narrow the match. Values compare as strings (key semantics);
        ``None`` matches a stored NULL key.

        Scale shape: k probes read at most k bucket dirs out of B — at
        100 TB this is the O(table/B · k) point-read path a serving layer
        needs, vs read().where(...) scanning every bucket. Bucket ids come
        from the writer's own ``_bucket_expr`` evaluated over the probes
        as literal rows on the driver (plans/literal_rows.py — no Spark
        job, and never reimplemented in Python, so probe and data can't
        drift). The equality filter is pushed into the pruned parquet
        scan for ≤64 probes; larger probe sets switch to a broadcast
        semi-join (an IN-list that size stops being pushable anyway)."""
        if not probes:
            raise ValueError("lookup needs at least one probe")
        m = self._load()
        bucket_cols, B = m["bucket_cols"], m["num_buckets"]
        cols = sorted(probes[0])
        if any(sorted(p) != cols for p in probes[1:]):
            raise ValueError("all probes must bind the same column set")
        missing = [c for c in bucket_cols if c not in cols]
        if missing:
            raise ValueError(
                f"probes must bind every bucket column; missing {missing}"
            )
        bad = [c for c in cols if c not in m["key_cols"]]
        if bad:
            raise ValueError(f"probe columns must be key columns: {bad}")
        norm = [tuple(None if p[c] is None else str(p[c]) for c in cols) for p in probes]
        lit = literal_rows(self.spark, cols, norm)
        bkts = sorted(set(lit.select(F.transform(
            "_rows", lambda r: _bucket_expr([r[c] for c in bucket_cols], B)
        )).first()[0]))
        df = self._state_df(m, bkts).where(F.col("_op") != "D")
        if len(norm) <= 64:
            cond = F.lit(False)
            for p in norm:
                c = F.lit(True)
                for k, v in zip(cols, p):
                    c = c & (F.col(k).isNull() if v is None else (F.col(k) == F.lit(v)))
                cond = cond | c
            return df.where(cond)
        # null-safe equality, matching the <=64 path's isNull handling —
        # a plain equi-join would silently drop NULL-keyed matches
        p = lit.select(F.inline("_rows")).distinct().alias("_probe")
        d = df.alias("_data")
        cond = F.lit(True)
        for c in cols:
            cond = cond & F.col(f"_data.{c}").eqNullSafe(F.col(f"_probe.{c}"))
        return d.join(F.broadcast(p), cond, "left_semi")

    # ---------------- merge-apply (M1/M2/M3/M9) ----------------

    def merge_apply(
        self,
        batch: DataFrame,
        salt_buckets: int | str = 0,
        stats: str = "full",
        max_commit_retries: int = 5,
        auto_salt_min_rows: int = 100_000,
        auto_salt_skew_ratio: float = 8.0,
        app_meta: dict | None = None,
        unavailable_sentinel: str | None = None,
        persist_batch: bool = False,
        discovery: Discovery | None = None,
    ) -> MergeStats:
        """Apply one micro-batch of change events. On a concurrent-writer
        commit conflict the whole merge is recomputed against the winner's
        snapshot and retried (losers' work is discarded, like Iceberg's
        optimistic retry) up to ``max_commit_retries`` times.

        ``persist_batch=True`` caches the input for the duration of the
        merge. The merge runs two actions over the batch (bucket discovery,
        then the merge itself), so an un-persisted batch has its WHOLE
        lineage executed twice; for a batch that is itself an expensive
        computed delta (a top-k, join or distinct view's fold over a
        changelog diff, an SCD2 segment close) that doubles the refresh
        cost, while the batch is delta-sized and caches for free. Leave it
        off (default) when the batch is a cheap pruned scan — caching then
        materializes the full row width once and denies column pruning to
        the keys-only discovery pass (the replay path measured slower with
        it).

        ``discovery`` hands in the batch's bucket discovery, computed ahead
        by :meth:`_discover` — typically inside an action the caller runs
        anyway — so the merge runs only its write. The incremental-MV
        refresh takes it from the same action that decides re-aggregation,
        which makes caching the batch unnecessary; a staged replay could
        discover a whole backlog in one pass the same way. It carries light
        stats only: ``stats="full"`` or ``salt_buckets="auto"`` with a
        discovery raise ``ValueError``. A discovery taken under another
        partition spec (a concurrent ``rewrite_partition_spec``) is
        re-run.

        ``unavailable_sentinel`` enables Debezium TOAST semantics: a
        string payload column equal to the sentinel (the wire placeholder
        ``__debezium_unavailable_value``) means "unchanged — carry the
        previous value forward". Resolution rides the merge's own sorted
        window pass (zero extra shuffles); a sentinel with no previous
        value, or whose chain crosses a tombstone, resolves to NULL.
        COW tables only, and incompatible with ``salt_buckets`` (the
        salted pre-reduce discards the older rows the carry needs).

        ``app_meta`` is an opaque application dict committed ATOMICALLY
        inside the table manifest (``manifest["app_meta"]``) with this
        merge — the hook consumers use to make non-idempotent folds
        crash-recoverable: a consumer whose progress checkpoint is a
        *separate* durable write (e.g. the incremental-MV refresh) records
        its intended progress here, so a crash between the table commit
        and the checkpoint commit is detectable and the checkpoint can be
        rolled forward instead of re-applying a relative delta. The latest
        committed value is readable via :meth:`read_app_meta`.

        ``salt_buckets`` may be ``"auto"``: the per-bucket stats the
        discovery job already collects decide per batch — if any bucket
        with at least ``auto_salt_min_rows`` events has an events-per-key
        density (exact keys in full stats; HLL estimate in light stats)
        >= ``auto_salt_skew_ratio``, the hot keys are spread over
        ``min(64, next_pow2(worst density))`` reducers; uniform batches —
        including repo-local ones concentrated in few buckets — pay
        nothing.
        """
        if discovery is not None and (stats == "full" or salt_buckets == "auto"):
            raise ValueError(
                "a precomputed discovery carries light stats only: pass "
                "stats='light' and a fixed salt_buckets with it"
            )
        st = None
        cached = batch.persist() if persist_batch else batch
        try:
            for attempt in range(max_commit_retries + 1):
                try:
                    st = self._merge_apply_once(
                        cached, salt_buckets, stats, auto_salt_min_rows,
                        auto_salt_skew_ratio, app_meta, unavailable_sentinel,
                        discovery,
                    )
                    break
                except CommitConflict:
                    if attempt == max_commit_retries:
                        raise
        finally:
            if persist_batch:
                cached.unpersist()
        # MoR layers stay below ``mor_max_deltas`` without a pass here: the
        # merge that would add a bucket's threshold-th layer folds it in its
        # own commit, and only merges add layers.
        return st

    def _discover(
        self,
        m: dict,
        batch: DataFrame,
        stats: str = "light",
        salt_buckets: int | str = 0,
        extra: list | tuple = (),
    ) -> tuple[Discovery, list]:
        """Job 1 of a merge: bucket discovery of ``batch`` under ``m``'s
        partition spec, from the key, ``_seq`` and ``_op`` columns only.

        Per touched bucket it counts events (drives auto-salting and
        light-stats lineage) and deletes (maintains the manifest's
        tombstone upper bounds that let purge_tombstones prune its scan),
        and takes the ``_seq`` bounds. ``stats='full'`` also counts
        distinct keys per bucket (exact applied-row lineage); ``'light'``
        skips the distinct (the shuffle then carries <= B
        partially-aggregated rows per input partition) and the merge takes
        per-bucket rows from the written parquet footers afterwards — the
        cheap path for high-rate replays. ``extra`` aggregate columns ride
        the same job; the collected per-bucket rows are returned beside the
        :class:`Discovery` for them."""
        key_cols, seq_col, B = m["key_cols"], m["seq_col"], m["num_buckets"]
        bucket_cols = m.get("bucket_cols", key_cols)
        key_struct = F.struct(*[F.col(c) for c in key_cols])
        aggs = [
            F.count(F.lit(1)).alias("n_ev"),
            F.sum((F.col("_op") == "D").cast("long")).alias("n_del"),
            F.min(seq_col).alias("seq_min"),
            F.max(seq_col).alias("seq_max"),
        ]
        if stats == "full":
            # distinct over a STRUCT of the keys, not the bare columns:
            # count_distinct(a, b) drops tuples containing NULL, so NULL-key
            # groups would vanish from the lineage counts
            aggs.append(F.count_distinct(key_struct).alias("n"))
        elif salt_buckets == "auto":
            # light mode: lineage takes per-bucket rows from parquet footers,
            # but the auto-salt skew signal still needs a per-bucket KEY
            # count — approx_count_distinct rides the same shuffle for ~zero
            # cost and +-5% error is nothing against the 8x threshold.
            # With a FIXED salt_buckets the key count has no consumer, so
            # light mode then skips the HLL entirely.
            aggs.append(F.approx_count_distinct(key_struct).alias("n"))
        rows = (
            batch.groupBy(_bucket_expr(bucket_cols, B).alias("bkt"))
            .agg(*aggs, *extra)
            .collect()
        )
        ev = {r["bkt"]: r["n_ev"] for r in rows}
        seq_lo = [r["seq_min"] for r in rows if r["seq_min"] is not None]
        seq_hi = [r["seq_max"] for r in rows if r["seq_max"] is not None]
        disc = Discovery(
            spec=(B, tuple(bucket_cols)),
            rows_in=sum(ev.values()),
            seq_min=int(min(seq_lo, default=0)),
            seq_max=int(max(seq_hi, default=0)),
            ev=ev,
            dels={r["bkt"]: int(r["n_del"] or 0) for r in rows},
            keys=(
                {r["bkt"]: r["n"] for r in rows}
                if stats == "full" or salt_buckets == "auto"
                else {}
            ),
        )
        return disc, rows

    def _merge_apply_once(
        self,
        batch: DataFrame,
        salt_buckets: int | str = 0,
        stats: str = "full",
        auto_salt_min_rows: int = 100_000,
        auto_salt_skew_ratio: float = 8.0,
        app_meta: dict | None = None,
        unavailable_sentinel: str | None = None,
        discovery: Discovery | None = None,
    ) -> MergeStats:
        """Apply one micro-batch of change events in two actions:

        1. *Bucket discovery* (:meth:`_discover`, skipped when a
           ``discovery`` is handed in) — per-bucket event/delete/key
           counts and ``_seq`` bounds from the key columns only. <= B tiny
           rows collected — metadata-scale, the Iceberg analogue is
           manifest partition summaries.
        2. *Merge* — union the rewritten buckets' state with the raw batch
           and take the per-key max-``_seq`` row in ONE window pass
           (:meth:`_winners`; the pass subsumes batch-internal dedup,
           late-event rejection, and the upsert itself — no separate
           pre-reduce, which would sort the payload twice), then write only
           the touched buckets.

        COW rewrites every touched bucket. Merge-on-read reads no state for
        a bucket below ``mor_max_deltas``: the pass over its batch rows
        alone is its new delta layer, so per-batch cost is O(batch)
        regardless of table size — the property that survives 10^10
        events, where a hash-spread batch touches every bucket. A bucket
        whose layer would be its ``mor_max_deltas``-th is folded instead:
        its raw base and delta layers join the same pass and it is
        rewritten as a new base (recorded under ``compacted`` in the
        ``merge_delta`` history entry). Both kinds land in one snapshot dir
        and one commit.

        AQE submits each shuffle stage as its own Spark job, so the two
        actions are more jobs than that: traced, a merge runs 5.

        Per-bucket lineage counts come from the written parquet footers
        (driver-side metadata read, no job). Skewed batches can spread the
        hot key across ``salt_buckets`` reducers first (M3).
        """
        m = self._load()
        key_cols, seq_col, B = m["key_cols"], m["seq_col"], m["num_buckets"]
        bucket_cols = m.get("bucket_cols", key_cols)
        cols = self.current_columns(m)

        if unavailable_sentinel is not None:
            if m.get("merge_mode") == "mor":
                raise ValueError(
                    "unavailable_sentinel needs the COW merge: MoR delta "
                    "layers defer the winner rule to read time, where the "
                    "carried previous value is no longer in hand — compact "
                    "to COW or resolve sentinels upstream"
                )
            if salt_buckets:
                raise ValueError(
                    "unavailable_sentinel is incompatible with salt_buckets: "
                    "the salted pre-reduce keeps only each salt group's "
                    "max-seq row, discarding the older rows the carry "
                    "resolves from"
                )

        # A batch shaped against an OLDER schema (its writer raced a
        # concurrent evolve(), or simply upgrades lazily) NULL-fills the
        # added payload columns — the metadata-only ADD contract: existing
        # rows read NULL for the new column, so a stale writer's rows do
        # too. Keys/seq/op/ts are never fillable (a batch without them is
        # a caller bug, not a schema lag).
        missing = [c for c in cols if c not in set(batch.columns)]
        if missing:
            required = set(key_cols) | {seq_col, "_op", "_ts"}
            bad = sorted(set(missing) & required)
            if bad:
                raise ValueError(
                    f"batch is missing required engine columns {bad}; only "
                    "evolved payload columns may be absent"
                )
            types = {f["name"]: f["type"] for f in self.schema_fields(m)}
            batch = batch.select(
                "*",
                *[F.lit(None).cast(types[c]).alias(c) for c in missing],
            )
        batch = batch.select(*[F.col(c) for c in cols])

        t_d0 = time.time()
        if discovery is None or discovery.spec != (B, tuple(bucket_cols)):
            discovery, _ = self._discover(m, batch, stats, salt_buckets)
        per_bucket_ev, per_bucket_keys = discovery.ev, discovery.keys
        per_bucket_del = discovery.dels
        per_bucket = per_bucket_keys if stats == "full" else per_bucket_ev
        touched = sorted(per_bucket)
        if not touched:
            return MergeStats(0, 0, 0, m["version"], [])
        rows_in, seq_min, seq_max = (
            discovery.rows_in, discovery.seq_min, discovery.seq_max
        )
        rows_dedup = sum(per_bucket.values()) if stats == "full" else -1
        t_d1 = time.time()

        if salt_buckets == "auto":
            # Skew decision from the discovery stats this job just paid for.
            # Salting pays when a reducer's bucket holds MANY EVENTS PER KEY
            # (the pre-reduce shrinks them before the big window sort); it is
            # pure overhead when events/key ~ 1. The signal is the worst
            # events-per-key density across ALL buckets big enough to matter
            # (exact key counts in full mode, HLL estimates in light mode) —
            # evaluating only the max-EVENTS bucket would miss a flood hiding
            # behind a bigger uniform bucket, and a bucket-imbalance proxy
            # would fire on skew-free repo-local batches.
            ratio = max(
                (
                    per_bucket_ev[b] / max(per_bucket_keys[b], 1)
                    for b in per_bucket_ev
                    if per_bucket_ev[b] >= auto_salt_min_rows
                ),
                default=0.0,
            )
            if ratio >= auto_salt_skew_ratio:
                salt_buckets = min(64, 1 << max(1, (int(ratio) - 1).bit_length()))
            else:
                salt_buckets = 0

        # buckets rewritten as a new base: every touched one under COW; under
        # MoR those that have a base and whose next layer would reach the
        # threshold (the rest get a delta layer, or a first base)
        mor = m.get("merge_mode") == "mor"
        thr = m.get("mor_max_deltas") or 0
        if mor:
            rewrite = [
                b for b in touched
                if thr and str(b) in m["buckets"]
                and len(m["buckets"][str(b)].get("deltas", ())) + 1 >= thr
            ]
        else:
            rewrite = touched

        # Job 2: one-shot merge reduce + bucket write, structured as a
        # single shuffle (see _winners).
        with_bkt = batch.withColumn("bkt", _bucket_expr(bucket_cols, B))
        if salt_buckets:
            # hot-key pre-reduce (M3): shrink the skewed key's rows across
            # salt_buckets reducers before the global window sort
            with_bkt = salted_latest_by_key(
                with_bkt, key_cols + ["bkt"], seq_col, salt_buckets
            ).select(*cols, "bkt")
        unioned = self._with_layers(m, with_bkt, rewrite)
        if unavailable_sentinel is not None:
            payload = [c for c in cols if c not in key_cols and c != seq_col]
            merged = self._merge_window_carry(
                m, unioned, cols, key_cols, seq_col, payload,
                unavailable_sentinel,
            )
        else:
            merged = self._winners(m, unioned)

        new_v = m["version"] + 1
        rel, _ = self._write_snap_dir(merged, new_v, m)

        # the exact bucket entries this merge's state read rode on — the
        # rebase-on-conflict check needs them byte-for-byte (entries are
        # replaced, never mutated, so shallow refs are stable)
        base_entries = {str(b): m["buckets"].get(str(b)) for b in touched}
        rewritten = set(rewrite)
        for b in touched:
            old_e = m["buckets"].get(str(b))
            entry = {"path": f"{rel}/bkt={b}", "schema": m["current_schema"]}
            if old_e is not None and b not in rewritten:
                # a MoR delta layer: the batch's own winners on top of the
                # bucket's existing layers
                entry = {
                    **old_e, "deltas": [*old_e.get("deltas", ()), entry]
                }
            # tombstone upper bound: carried + newly-arrived deletes. An
            # upsert superseding an old tombstone makes the bound loose,
            # never wrong; purge_tombstones tightens it to the exact count
            # whenever it scans the bucket. Legacy entries without the stat
            # stay unknown (purge treats unknown as a candidate).
            if old_e is None:
                entry["ts_ub"] = per_bucket_del.get(b, 0)
            elif "ts_ub" in old_e:
                entry["ts_ub"] = old_e["ts_ub"] + per_bucket_del.get(b, 0)
            m["buckets"][str(b)] = entry
        m["version"] = new_v
        hist = {"at": time.time(), "snapshot": new_v,
                "op": "merge_delta" if mor else "merge",
                "rows_in": rows_in, "rows_applied": rows_dedup, "buckets": touched}
        if mor:
            hist["compacted"] = rewrite
        m["history"].append(hist)
        if app_meta is not None:
            m["app_meta"] = dict(app_meta)
        try:
            self._commit_manifest(m)
        except CommitConflict:
            if mor:
                raise  # MoR recomputes against the winner (merge_apply)
            m = self._rebase_merge_commit(m, base_entries, rel, app_meta)
        return MergeStats(
            rows_in, rows_dedup, len(touched), m["version"],
            sorted(per_bucket.items()),
            seq_min, seq_max,
            discover_s=round(t_d1 - t_d0, 3), merge_s=round(time.time() - t_d1, 3),
            salt_used=int(salt_buckets),
        )

    def _merge_window_carry(
        self,
        m: dict,
        unioned: DataFrame,
        cols: list[str],
        key_cols: list[str],
        seq_col: str,
        payload: list[str],
        sentinel: str,
    ) -> DataFrame:
        """The merge window pass with UNAVAILABLE-VALUE carry-forward —
        Debezium's TOAST semantics: Postgres omits unchanged TOASTed
        columns from update images, so the wire carries a placeholder
        (``__debezium_unavailable_value``) meaning "unchanged, fetch the
        previous value". The previous value is exactly what this pass
        already has in hand — stored state and batch rows share the one
        bucket-partitioned sort — so resolution rides the same single
        Exchange as the plain merge, in ASCENDING seq order:

        - a run id numbers each key's row group (same NULL-safe
          key-change detection as the plain pass, prefix-summed);
        - per string payload column, a running ``last(marker)`` carries
          the most recent REAL value (3-state marker: real value / break
          at a tombstone / nothing at a sentinel) — a sentinel row
          resolves to the carried value only when the carry comes from
          ITS OWN run and did not cross a tombstone (a delete breaks the
          chain: re-inserted rows never resurrect pre-delete column
          values);
        - the winner is the run's LAST row (same row the descending
          pass would pick: max seq, payload-desc tie-break).

        Only string columns can hold the placeholder; other types pass
        through untouched. Unresolvable sentinels (first image ever, or
        chain broken by a tombstone) resolve to NULL — "value unknown",
        stated in merge_apply's docs.
        """
        w = Window.partitionBy("bkt").orderBy(
            *[F.asc(c) for c in key_cols], F.asc(seq_col),
            *[F.asc(c) for c in payload]
        )
        key_changed = F.lag(F.lit(1)).over(w).isNull()
        for c in key_cols:
            key_changed = key_changed | ~F.lag(c).over(w).eqNullSafe(F.col(c))
        run = F.sum(key_changed.cast("long")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        with_run = unioned.withColumn("_run", run)
        # same spec as w — derived, not re-declared, so a future sort edit
        # can never desynchronize the carry window from the run numbering
        w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

        str_payload = {
            f["name"] for f in self.schema_fields(m) if f["type"] == "string"
        }
        out_cols = []
        for c in cols:
            if c not in str_payload or c in key_cols or c == seq_col:
                out_cols.append(F.col(c))
                continue
            is_sent = F.col(c).eqNullSafe(F.lit(sentinel))
            marker = (
                F.when(
                    F.col("_op") == "D",
                    F.struct(
                        F.col("_run").alias("r"),
                        F.lit(True).alias("brk"),
                        F.lit(None).cast("string").alias("v"),
                    ),
                )
                .when(
                    ~is_sent,
                    F.struct(
                        F.col("_run").alias("r"),
                        F.lit(False).alias("brk"),
                        F.col(c).alias("v"),
                    ),
                )
                # sentinel rows emit no marker: last() skips them, so the
                # carry seen AT a sentinel row is the latest real/break
                # strictly before it in the run order
            )
            carry = F.last(marker, ignorenulls=True).over(w_run)
            resolved = F.when(
                is_sent,
                F.when(
                    (carry["r"] == F.col("_run")) & ~carry["brk"], carry["v"]
                ),
            ).otherwise(F.col(c))
            out_cols.append(resolved.alias(c))
        # winner = the run's last row: the NEXT row is the partition's end
        # or a new key (NULL-safe, mirrored with lead)
        next_new = F.lead(F.lit(1)).over(w).isNull()
        for c in key_cols:
            next_new = next_new | ~F.lead(c).over(w).eqNullSafe(F.col(c))
        return (
            with_run.select(*out_cols, "bkt", next_new.alias("_is_last"))
            .where(F.col("_is_last"))
            .select(*cols, "bkt")
        )

    def _rebase_merge_commit(
        self, cand: dict, base_entries: dict, rel: str, app_meta: dict | None
    ) -> dict:
        """Iceberg-style commit rebase: a merge that lost the version CAS
        re-targets its ALREADY-WRITTEN bucket dirs onto the winner's
        manifest instead of recomputing the whole merge — valid exactly
        when the winner's commit is DISJOINT from this one: identical
        table configuration (topology, schema, merge mode, stats keys)
        and none of this merge's touched buckets changed underneath it
        (their entries still byte-equal the base the merge read state
        from). Anything else re-raises :class:`CommitConflict` so
        ``merge_apply``'s outer loop recomputes against the winner.

        Why it matters at scale: parallel ingest writers sharded by key
        range (the deployment shape for one huge CDC table) touch
        disjoint bucket sets but ALL contend on the one version CAS —
        without rebase every lost race repeats a full shuffle + bucket
        rewrite, serializing the writers; with it, a lost race costs a
        manifest reload and a second CAS. Hash-spread batches that touch
        every bucket still recompute (the disjointness check fails) —
        correctness never depends on the fast path.

        COW merges only (a MoR merge recomputes against the winner).
        """
        entry = dict(cand["history"][-1])
        for _ in range(3):
            cur = self._load()
            same_cfg = (
                cur["num_buckets"] == cand["num_buckets"]
                and cur.get("bucket_cols") == cand.get("bucket_cols")
                and cur["current_schema"] == cand["current_schema"]
                and cur["schemas"].get(str(cur["current_schema"]))
                == cand["schemas"].get(str(cand["current_schema"]))
                and cur.get("merge_mode", "cow") == "cow"
                and sorted(cur.get("stats_keys", []))
                == sorted(cand.get("stats_keys", []))
            )
            disjoint = all(
                cur["buckets"].get(k) == e for k, e in base_entries.items()
            )
            if not (same_cfg and disjoint):
                raise CommitConflict(
                    "concurrent commit overlaps this merge's buckets or "
                    "changed the table configuration — recomputing"
                )
            if not self.io.list_dirs(os.path.join(self.root, rel)):
                # a concurrent expire_snapshots swept the not-yet-referenced
                # output dir during the conflict window — the data is gone,
                # only a recompute can recover
                raise CommitConflict(
                    "merge output dir was reclaimed during the conflict "
                    "window — recomputing"
                )
            m3 = cur
            for k in base_entries:
                m3["buckets"][k] = cand["buckets"][k]
            m3["version"] = cur["version"] + 1
            entry["snapshot"] = m3["version"]
            entry["rebased"] = True
            m3["history"].append(dict(entry))
            if app_meta is not None:
                m3["app_meta"] = dict(app_meta)
            try:
                self._commit_manifest(m3)
                return m3
            except CommitConflict:
                continue
        raise CommitConflict(
            "rebase lost the version CAS 3 times — recomputing the merge"
        )

    def _with_layers(
        self, m: dict, batch: DataFrame | None, bucket_ids: list[int]
    ) -> DataFrame | None:
        """``batch`` (current columns + ``bkt``) unioned with the RAW rows of
        every base and delta layer of ``bucket_ids``, schema-aligned but not
        resolved: the winner pass over the union resolves layers and batch
        in one sort. ``None`` only when there is neither."""
        layers: list[tuple[int, str]] = []
        for b in bucket_ids:
            e = m["buckets"].get(str(b))
            if e is not None:
                layers.append((e["schema"], e["path"]))
                layers += [(d["schema"], d["path"]) for d in e.get("deltas", ())]
        state = self._grouped_read(m, layers)
        if state is None:
            return batch
        bucket_cols = m.get("bucket_cols", m["key_cols"])
        state = state.withColumn("bkt", _bucket_expr(bucket_cols, m["num_buckets"]))
        return state if batch is None else state.unionByName(batch)

    def _winners(self, m: dict, unioned: DataFrame) -> DataFrame:
        """The merge's winner pass, shared by the COW merge, the MoR merge
        and its fold, and :meth:`compact_bucket_deltas`: one row per key
        per bucket, the same winner ``max(struct(_seq, payload...))``
        would pick (the read path's ``latest_by_key`` rule, so layering
        per-batch winners resolves to the COW result).

        A single shuffle: hash-partition by bucket, sort each partition by
        (key asc, _seq desc, payload desc), keep the first row per key via
        lag(). The output is already partitioned and ordered as the write
        layout (``partitionBy(bkt)``), so the write adds no second
        shuffle or sort."""
        key_cols, seq_col = m["key_cols"], m["seq_col"]
        cols = self.current_columns(m)
        payload = [c for c in cols if c not in key_cols and c != seq_col]
        # (measured: a leading xxhash64 sort-prefix column does not beat
        # the plain string sort here and costs 8B/row of shuffle — keep
        # it simple)
        w = Window.partitionBy("bkt").orderBy(
            *[F.asc(c) for c in key_cols], F.desc(seq_col),
            *[F.desc(c) for c in payload]
        )
        # NULL-safe group-start detection: a row starts a new key group
        # iff it is the partition's first row (lag over a constant is
        # NULL only there) or any key column differs null-safely from
        # its predecessor. A plain `prev != col` would mark EVERY row
        # whose predecessor key is NULL as a group start, so NULL-keyed
        # events would never dedup and tombstones could not reject late
        # NULL-key upserts.
        key_changed = F.lag(F.lit(1)).over(w).isNull()
        for c in key_cols:
            key_changed = key_changed | ~F.lag(c).over(w).eqNullSafe(F.col(c))
        return (
            unioned.withColumn("_is_first", key_changed)
            .where(F.col("_is_first"))
            .select(*cols, "bkt")
        )

    def compact_bucket_deltas(
        self, bucket_ids: list[int] | None = None, min_deltas: int = 1,
        max_retries: int = 5,
    ) -> int | None:
        """Merge-on-read maintenance: fold each selected bucket's
        base+delta layers back into ONE bucket file at the current schema
        (visible state unchanged — the fold is the read path's own
        resolution). Default selection = every bucket with at least
        ``min_deltas`` delta layers. Commits through the CAS protocol and
        simply retries on a racing merge (compaction has no work to lose —
        it re-reads and re-folds). Returns the new snapshot version, or
        None if nothing qualified.

        Scale shape: cost is O(selected buckets' resolved state), amortized
        O(table · batches / threshold) like any LSM compaction; untouched
        buckets carry over by reference. This is the merge's own fold
        (:meth:`_winners` over the raw layers) with no batch: a MoR merge
        already folds any bucket its layer would take to
        ``mor_max_deltas``, so this call is for operators and
        :func:`~data_ingestor_py_spark.plans.maintenance.auto_maintain`
        compacting earlier than that."""
        for _ in range(max_retries):
            m = self._load()
            if bucket_ids is None:
                ids = sorted(
                    int(b) for b, e in m["buckets"].items()
                    if len(e.get("deltas", ())) >= max(1, min_deltas)
                )
            else:
                ids = sorted(
                    b for b in bucket_ids
                    if m["buckets"].get(str(b), {}).get("deltas")
                )
            if not ids:
                return None
            out = self._winners(m, self._with_layers(m, None, ids))
            new_v = m["version"] + 1
            rel, out_dir = self._write_snap_dir(out, new_v, m)
            written = self._written_buckets(out_dir)
            for b in ids:
                if b in written:
                    old = m["buckets"][str(b)]
                    entry = {"path": f"{rel}/bkt={b}", "schema": m["current_schema"]}
                    if "ts_ub" in old:
                        # resolution can only DROP superseded tombstones, so
                        # the carried bound stays an upper bound
                        entry["ts_ub"] = old["ts_ub"]
                    m["buckets"][str(b)] = entry
                else:
                    m["buckets"].pop(str(b), None)
            m["version"] = new_v
            m["history"].append(
                {"at": time.time(), "snapshot": new_v, "op": "compact_deltas",
                 "buckets": ids}
            )
            try:
                self._commit_manifest(m)
                return new_v
            except CommitConflict:
                continue
        raise CommitConflict(
            f"compact_bucket_deltas lost {max_retries} version races in a row"
        )

    def bulk_load(self, df: DataFrame) -> MergeStats:
        """Initial-load fast path: the input is already one-row-per-key
        (e.g. a table snapshot), so the dedup window is unnecessary — just
        bucket-partition and write. The 100 TB first load is this code path;
        incremental batches then use :meth:`merge_apply`."""
        m = self._load()
        if m["buckets"]:
            raise ValueError("bulk_load requires an empty table")
        key_cols, B = m["key_cols"], m["num_buckets"]
        bucket_cols = m.get("bucket_cols", key_cols)
        cols = self.current_columns(m)
        out = df.select(*cols).withColumn("bkt", _bucket_expr(bucket_cols, B))
        new_v = m["version"] + 1
        rel, out_dir = self._write_snap_dir(out.repartition(B, F.col("bkt")), new_v, m)
        written = self._written_buckets(out_dir)
        for b in written:
            m["buckets"][str(b)] = {"path": f"{rel}/bkt={b}", "schema": m["current_schema"]}
        m["version"] = new_v
        m["history"].append({"at": time.time(), "snapshot": new_v, "op": "bulk_load"})
        self._commit_manifest(m)
        return MergeStats(-1, -1, len(written), new_v, [])

    def diff_versions(
        self, v_old: int, v_new: int, old_image: bool = False
    ) -> DataFrame:
        """Incremental read (Iceberg changelog-scan analogue): row-level
        changes between two snapshots' VISIBLE states — what a downstream
        consumer replays to stay in sync without rescanning the table.

        Returns key cols + ``_change_type`` ('I'nsert / 'U'pdate /
        'D'elete) + the payload (new image for I/U, last old image for D).
        ``old_image=True`` additionally emits every payload column's OLD
        image as ``_old_<name>`` (NULL for I) — what a delta-maintained
        downstream aggregate needs to retract an updated/deleted row's
        previous contribution (the update_before/update_after split of a
        Flink-style retraction stream, flattened into one row).
        NULL-safe on key columns (a NULL key is a real key here).

        Manifest-pruned: bucket data files are immutable (copy-on-write,
        writer-unique paths), so a bucket whose manifest ``path`` entry is
        identical in both versions CANNOT differ — only buckets with
        differing entries are read on either side. At 100 TB with a
        3%%-touched batch window this reads ~2x3%% of the table instead of
        2x100%%. (A partition-spec rewrite between the versions invalidates
        bucket-id comparison; the diff then falls back to the full scan.)"""
        m_old = self._get_manifest(self._version_path(v_old))
        m_new = self._get_manifest(self._version_path(v_new))
        # eager retention check (one delimiter listing): expire_snapshots
        # keeps version manifests but deletes unreferenced data dirs, so a
        # diff against an expired snapshot would otherwise fail LAZILY with
        # a path-not-found deep inside the join. Surface it here, typed, so
        # lagging consumers (IncrementalAggregate.refresh) can recover.
        live = {d for d in self.io.list_dirs(self.root) if d.startswith("snap-")}
        for mm, v in ((m_old, v_old), (m_new, v_new)):
            gone = _ref_dirs(mm) - live
            if gone:
                raise FileNotFoundError(
                    f"snapshot v{v} references expired data dirs "
                    f"{sorted(gone)[:3]} — retention (expire_snapshots) ran "
                    "past this version; changelog reads from it are gone"
                )
        key_cols = m_new["key_cols"]
        bucket_ids = None
        if (
            m_old["num_buckets"] == m_new["num_buckets"]
            and m_old.get("bucket_cols") == m_new.get("bucket_cols")
        ):
            bo, bn = m_old["buckets"], m_new["buckets"]
            bucket_ids = sorted(
                int(b)
                for b in set(bo) | set(bn)
                if _entry_data_id(bo.get(b, {})) != _entry_data_id(bn.get(b, {}))
            )
        old = self._state_df(m_old, bucket_ids).where(F.col("_op") != "D")
        new = self._state_df(m_new, bucket_ids).where(F.col("_op") != "D")
        payload = [c for c in new.columns if c not in key_cols]
        o = old.select(
            *[F.col(c).alias(f"_ko_{c}") for c in key_cols],
            F.struct(*payload).alias("_o"),
        )
        n = new.select(
            *[F.col(c).alias(f"_kn_{c}") for c in key_cols],
            F.struct(*payload).alias("_n"),
        )
        cond = F.lit(True)
        for c in key_cols:
            cond = cond & F.col(f"_ko_{c}").eqNullSafe(F.col(f"_kn_{c}"))
        j = o.join(n, cond, "full_outer")
        ct = (
            F.when(F.col("_o").isNull(), F.lit("I"))
            .when(F.col("_n").isNull(), F.lit("D"))
            .otherwise(F.lit("U"))
        )
        changed = (
            F.col("_o").isNull()
            | F.col("_n").isNull()
            | ~F.col("_o").eqNullSafe(F.col("_n"))
        )
        img = F.coalesce(F.col("_n"), F.col("_o"))
        # _kn is NULL for D rows; _ko for I rows — coalesce per key column
        keys = [
            F.coalesce(F.col(f"_kn_{c}"), F.col(f"_ko_{c}")).alias(c) for c in key_cols
        ]
        extra = (
            [F.col("_o")[c].alias(f"_old_{c}") for c in payload] if old_image else []
        )
        return (
            j.where(changed)
            .select(
                *keys, ct.alias("_change_type"),
                *[img[c].alias(c) for c in payload], *extra,
            )
        )

    def rewrite_partition_spec(
        self, new_num_buckets: int, new_bucket_cols: list[str] | None = None
    ) -> int:
        """Maintenance: rewrite the table under a new bucket layout
        (Iceberg's replace-partition-spec + rewrite_data_files). This is the
        growth path for the BENCH/BASELINE.md sizing rule — merge window
        parallelism is capped at num_buckets, so a table created small
        (B=64) must be able to grow to B≈2^18-2^20 before it reaches
        100 TB. One full-table shuffle+rewrite, committed atomically like
        any other snapshot; visible state (and snapshot_hash) is unchanged.
        Returns the new snapshot version."""
        m = self._load()
        key_cols = m["key_cols"]
        cols = self.current_columns(m)
        bucket_cols = new_bucket_cols or m.get("bucket_cols", key_cols)
        out = (
            self._state_df(m)  # raw: tombstones travel to the new layout too
            .select(*cols)
            .withColumn("bkt", _bucket_expr(bucket_cols, new_num_buckets))
        )
        new_v = m["version"] + 1
        rel, out_dir = self._write_snap_dir(
            out.repartition(new_num_buckets, F.col("bkt")), new_v, m
        )
        written = self._written_buckets(out_dir)
        m["buckets"] = {
            str(b): {"path": f"{rel}/bkt={b}", "schema": m["current_schema"]} for b in written
        }
        m["num_buckets"] = new_num_buckets
        m["bucket_cols"] = bucket_cols
        m["version"] = new_v
        m["history"].append(
            {"at": time.time(), "snapshot": new_v, "op": "rewrite_partition_spec",
             "num_buckets": new_num_buckets, "bucket_cols": bucket_cols}
        )
        self._commit_manifest(m)
        return new_v

    def rewrite_data_files(
        self,
        bucket_ids: list[int] | None = None,
        stale_after: int = 8,
        sort_by: list[str] | None = None,
        max_rows_per_file: int | None = None,
        zorder_by: list[str] | None = None,
    ) -> int | None:
        """Maintenance: Iceberg ``rewrite_data_files`` analogue — physically
        rewrite live bucket files into a fresh snapshot dir at the CURRENT
        schema, with no change to visible state, bucket layout, or history
        semantics. Two reasons this matters at 100 TB:

        - **schema debt**: a bucket written under an old schema version pays
          the ``_align`` projection on EVERY subsequent read; rewriting it
          once retires that cost (Iceberg migration of old-spec files).
        - **prefix sprawl / snapshot pinning**: copy-on-write touches only
          changed buckets, so cold buckets keep entire old ``snap-*`` dirs
          alive indefinitely; consolidating them lets ``expire_snapshots``
          actually delete those prefixes (object-listing pressure, S3
          lifecycle hygiene).

        Selection: explicit ``bucket_ids``, else every bucket written under
        a non-current schema or living in a snapshot more than
        ``stale_after`` versions old. ZERO-shuffle: input files are
        bucket-pure (one bucket per file by construction), so the
        ``partitionBy`` write needs no repartition — each scan task writes
        only its own bucket's rows. Raw state is copied verbatim (tombstones
        travel; ``purge_tombstones`` is the separate, seq-guarded op that
        may drop them). Commits through the CAS protocol; on
        :class:`CommitConflict` (a racing merge won the version) simply call
        again — compaction has no work to lose. Returns the new snapshot
        version, or None if nothing qualified.

        ``sort_by`` + ``max_rows_per_file`` turn the rewrite into a
        CLUSTERING pass: rows are sorted within each bucket on the given
        columns and split into bounded files, so per-file statistics get
        tight disjoint ranges on the sort columns and
        :meth:`read_where`/:meth:`scan_plan` can skip most files of even a
        hot bucket (Iceberg's sort-order rewrite). Still zero-shuffle —
        ``sortWithinPartitions`` keeps the bucket-pure task layout; the
        sort leads with ``bkt`` so multi-bucket tasks never interleave
        buckets across the partitionBy write."""
        if sort_by and zorder_by:
            raise ValueError("sort_by and zorder_by are mutually exclusive")
        if zorder_by and len(zorder_by) < 2:
            raise ValueError("zorder_by needs >= 2 columns (use sort_by for 1)")
        if (sort_by or zorder_by) and bucket_ids is None and stale_after > 0:
            # a clustering pass explicitly asked for should not silently
            # skip "fresh" buckets — cluster everything unless scoped
            bucket_ids = sorted(int(b) for b in self._load()["buckets"])
        m = self._load()
        cur_schema = m["current_schema"]
        v = m["version"]

        def _snap_v(rel: str) -> int:
            # rel is "snap-NNNNNN-xxxx/bkt=B"
            return int(rel.split("-")[1])

        if bucket_ids is None:
            bucket_ids = sorted(
                int(b)
                for b, e in m["buckets"].items()
                if e["schema"] != cur_schema or _snap_v(e["path"]) < v - stale_after
            )
        bucket_ids = [b for b in bucket_ids if str(b) in m["buckets"]]
        if not bucket_ids:
            return None
        bucket_cols = m.get("bucket_cols", m["key_cols"])
        out = self._state_df(m, bucket_ids).withColumn(
            "bkt", _bucket_expr(bucket_cols, m["num_buckets"])
        )
        if sort_by:
            cols_now = set(self.current_columns(m))
            bad = [c for c in sort_by if c not in cols_now]
            if bad:
                raise ValueError(f"sort_by columns not in table: {bad}")
            out = out.sortWithinPartitions("bkt", *sort_by)
        elif zorder_by:
            out = out.sortWithinPartitions(
                "bkt", self._zvalue(out, zorder_by)
            )
        new_v = v + 1
        rel, out_dir = self._write_snap_dir(
            out, new_v, m, max_rows_per_file=max_rows_per_file
        )
        written = self._written_buckets(out_dir)
        for b in bucket_ids:
            if b in written:
                old = m["buckets"][str(b)]
                entry = {"path": f"{rel}/bkt={b}", "schema": cur_schema}
                if "ts_ub" in old:
                    entry["ts_ub"] = old["ts_ub"]
                m["buckets"][str(b)] = entry
            else:
                # empty bucket (zero raw rows): no file written, drop the
                # entry — reads of a missing entry yield nothing, same state
                m["buckets"].pop(str(b), None)
        m["version"] = new_v
        m["history"].append(
            {"at": time.time(), "snapshot": new_v, "op": "rewrite_data_files",
             "buckets": sorted(bucket_ids)}
        )
        self._commit_manifest(m)
        return new_v

    def _zvalue(self, df: DataFrame, cols: list[str], bits: int = 16):
        """Z-order (Morton) key over 2-4 NUMERIC columns, pure Catalyst.

        Each column is linearly scaled to a ``bits``-bit rank from its
        LIVE min/max (one column-pruned agg, driver-collected literals —
        a maintenance-time cost, like Delta OSS's range binning), then
        the ranks' bits interleave into one 64-bit key. Sorting files by
        that key gives every z-order column tight per-file (min, max)
        ranges simultaneously, so :meth:`scan_plan` prunes on ANY of
        them — a single-column ``sort_by`` only ever serves its leading
        column. Linear scaling is skew-sensitive (a heavy hitter
        compresses the rest of the range); clustering only affects WHICH
        files rows land in, never correctness — statistics stay bounds
        and the residual filter always reapplies.

        NULLs rank 0 (sort first); a constant column contributes nothing.
        Strings are rejected: hashing would destroy the range locality
        that makes interleaving useful."""
        if not 2 <= len(cols) <= 4:
            raise ValueError("zorder_by supports 2-4 columns")
        m = self._load()
        types = {f["name"]: f["type"] for f in self.schema_fields(m)}
        types[m["seq_col"]] = "long"  # engine column, always numeric
        bad = [c for c in cols if c not in types]
        if bad:
            raise ValueError(f"zorder_by columns not in table: {bad}")
        non_num = [c for c in cols if filestats.kind_of(types[c]) != "num"]
        if non_num:
            raise ValueError(
                f"zorder_by columns must be numeric (got {non_num}); "
                "hashing strings would destroy the range locality "
                "interleaving relies on"
            )
        stats = self.read().agg(
            *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
            *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
        ).first()
        n = len(cols)
        # keep the interleaved key out of the sign bit: 4 columns at 16
        # bits would place a rank bit at position 63 and flip the sort
        # order of the upper half of column 1's range (review finding)
        bits = min(bits, 63 // n)
        top = (1 << bits) - 1
        ranks = []
        for c in cols:
            mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
            if mn is None or mx is None or mx <= mn:
                ranks.append(F.lit(0).cast("long"))
                continue
            scaled = (
                (F.col(c).cast("double") - F.lit(float(mn)))
                / F.lit(float(mx - mn))
                * F.lit(float(top))
            )
            ranks.append(
                F.coalesce(
                    F.least(F.lit(top).cast("long"), F.floor(scaled).cast("long")),
                    F.lit(0).cast("long"),
                )
            )
        z = F.lit(0).cast("long")
        for i in range(bits):
            for j, r in enumerate(ranks):
                bit = F.shiftright(r, i).bitwiseAND(F.lit(1))
                z = z.bitwiseOR(
                    F.shiftleft(bit.cast("long"), i * n + (n - 1 - j))
                )
        return z.alias("_z")

    # ---------------- verification / maintenance ----------------

    def snapshot_hash(self) -> str:
        """Order-insensitive content hash of the visible state: per-row
        sha256 over the canonical row repr, folded with an order-independent
        sum. Used for byte-for-byte replay equality (M7)."""
        df = self.read()
        # NULL-safe encode: concat_ws silently DROPS null inputs, so rows
        # whose NULL sits in different columns (or NULL vs '') would collide.
        # Coalesce each column to an out-of-band sentinel first.
        row_repr = F.concat_ws(
            "\x1f",
            *[F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL")) for c in sorted(df.columns)],
        )
        row_hash = F.conv(F.substring(F.sha2(row_repr, 256), 1, 15), 16, 10).cast("decimal(38,0)")
        agg = df.agg(F.sum(row_hash).alias("s"), F.count("*").alias("n")).collect()[0]
        return f"{agg['n']}:{agg['s']}"

    def delete_where(
        self,
        preds: list[tuple[str, str, object]],
        seq: int | None = None,
        app_meta: dict | None = None,
    ) -> MergeStats:
        """Engine-generated row deletion (retention / TTL / GDPR erasure):
        delete every currently-visible row matching a conjunction of simple
        predicates ``(col, op, value)``.

        Victims come from the statistics-pruned scan (:meth:`read_where` —
        at 100 TB a retention predicate over a clustered column reads only
        the files whose footer bounds admit a match), are stamped as
        tombstones with ALL payload columns NULL (the delete record itself
        must not re-persist the content being erased), and flow through the
        NORMAL merge path — so the atomic manifest commit, MoR delta
        layers, conflict retry, changelog old-images
        (:meth:`diff_versions`), and every downstream incremental consumer
        (MV / join view / distinct MV / SCD2) behave exactly as for a
        source-delivered delete; no consumer needs a special case.
        Re-running the same delete is a no-op (the victims are no longer
        visible, so the victim scan is empty).

        ``seq`` is the sequence number stamped on the tombstones. It must
        strictly exceed every victim's current sequence or the tombstone
        would lose the per-key max-seq winner rule (enforced — a stale
        caller value raises instead of silently half-applying). Default:
        ``max(victim seq) + 1``, one extra aggregate over the already-
        pruned victim scan. Callers interleaving engine deletes with a
        live replay should pass their replay high-water mark so the delete
        is totally ordered within the stream — a later source event with a
        higher seq for the same key legitimately resurrects it (standard
        CDC semantics), and on an exact seq tie the source event's
        non-NULL payload wins the struct tie-break over the NULL-payload
        tombstone.

        Logical deletion is immediate; PHYSICAL erasure of the old copies
        additionally needs the snapshots that still hold the data removed:
        follow with :meth:`expire_snapshots` (drops the pre-delete data
        files) and, once the source watermark passes ``seq``,
        :meth:`purge_tombstones` (drops the tombstones themselves).

        Reference parity: the reference has no delete path at all (its
        sink is INSERT/UPDATE only, db/postgres_query_builder.py); this is
        part of the lake-maintenance surface a CDC target needs."""
        m = self._load()
        seq_col = m["seq_col"]
        victims = self.read_where(preds)
        if seq is None:
            mx = victims.agg(F.max(seq_col).alias("mx")).collect()[0]["mx"]
            if mx is None:
                return MergeStats(0, 0, 0, m["version"], [])
            seq = int(mx) + 1
        else:
            seq = int(seq)
            stale = victims.where(F.col(seq_col) >= seq).limit(1).count()
            if stale:
                raise ValueError(
                    f"delete_where seq={seq} does not exceed every victim's "
                    f"current {seq_col} — the tombstones would lose the "
                    "per-key winner rule; pass a seq beyond the replay "
                    "high-water mark (or omit it)"
                )
        tombstones = victims.select(
            *[F.col(c) for c in m["key_cols"]],
            *[
                F.lit(None).cast(f["type"]).alias(f["name"])
                for f in self.schema_fields(m)
            ],
            F.lit(seq).cast("long").alias(seq_col),
            F.lit("D").alias("_op"),
            F.current_timestamp().alias("_ts"),
        )
        return self.merge_apply(tombstones, app_meta=app_meta)

    def purge_tombstones(self, older_than_seq: int) -> int:
        """Maintenance: rewrite buckets dropping delete tombstones with
        ``_seq < older_than_seq`` (safe once the source guarantees no events
        older than that offset can still arrive — the replay watermark).
        Bounds state growth for delete-heavy streams at 10^10 scale.
        Returns the number of tombstones removed.

        Two pruned passes, mirroring :meth:`merge_apply`'s shape: (1) a
        column-pruned scan of (_op, seq, bucket cols) over ONLY the buckets
        whose manifest tombstone upper bound is nonzero (merge commits
        maintain the bound; unknown = legacy entry = still scanned) finds
        WHICH of them hold eligible tombstones and counts them; (2) only
        those buckets are read in full and rewritten — untouched buckets
        keep their existing snapshot files by reference (at 100 TB a purge
        touches the delete-bearing slice of the table, never all of it).
        Pass 1 also recounts each scanned bucket's TOTAL tombstones, so the
        rewritten entries' bounds become exact and the next purge prunes
        even harder."""
        m = self._load()
        key_cols, seq_col, B = m["key_cols"], m["seq_col"], m["num_buckets"]
        bucket_cols = m.get("bucket_cols", key_cols)
        cols = self.current_columns(m)
        eligible = (F.col("_op") == "D") & (F.col(seq_col) < older_than_seq)
        candidates = sorted(
            int(b) for b, info in m["buckets"].items() if info.get("ts_ub", 1) != 0
        )
        if not candidates:
            return 0
        # pass 1: bucket discovery on pruned columns of candidate buckets
        stat_rows = (
            self._state_df(m, candidates)
            .select(*bucket_cols, seq_col, "_op")
            .where(F.col("_op") == "D")
            .groupBy(_bucket_expr(bucket_cols, B).alias("bkt"))
            .agg(
                F.sum(eligible.cast("long")).alias("n"),
                F.count(F.lit(1)).alias("total_d"),
            )
            .collect()
        )
        per_bucket = {r["bkt"]: int(r["n"] or 0) for r in stat_rows}
        total_d = {r["bkt"]: int(r["total_d"]) for r in stat_rows}
        # tighten bounds for every scanned bucket (exact counts now known);
        # scanned candidates with zero tombstones drop to 0 outright
        for b in candidates:
            if str(b) in m["buckets"]:
                m["buckets"][str(b)]["ts_ub"] = total_d.get(b, 0)
        per_bucket = {b: n for b, n in per_bucket.items() if n > 0}
        n_purged = sum(per_bucket.values())
        if n_purged == 0:
            # nothing eligible: skip the commit (the tightened bounds are a
            # missed optimization, not state — the next purge recomputes)
            return 0
        touched = sorted(per_bucket)
        # pass 2: rewrite only tombstone-bearing buckets
        keep = self._state_df(m, touched).where(~eligible)
        out = keep.select(*cols).withColumn("bkt", _bucket_expr(bucket_cols, B))
        new_v = m["version"] + 1
        rel, out_dir = self._write_snap_dir(out, new_v, m)
        written = self._written_buckets(out_dir)
        for b in touched:
            if b in written:
                m["buckets"][str(b)] = {
                    "path": f"{rel}/bkt={b}",
                    "schema": m["current_schema"],
                    # exact: total tombstones seen minus the ones purged
                    "ts_ub": total_d.get(b, 0) - per_bucket[b],
                }
            else:
                # bucket emptied entirely by the purge
                m["buckets"].pop(str(b), None)
        m["version"] = new_v
        m["history"].append(
            {"at": time.time(), "snapshot": new_v, "op": "purge_tombstones",
             "purged": n_purged, "buckets": touched}
        )
        self._commit_manifest(m)
        return n_purged

    def metrics_summary(self) -> dict:
        """Reference-parity counters (config/config.py:7-28's Prometheus set
        re-expressed over the checkpoint table): records read/applied,
        batches, error count, timing stats."""
        from data_ingestor_py_spark.plans.checkpoint import Checkpoint

        rows = Checkpoint(self.spark, self.root, storage=self.io).read().collect()
        # dedupe by (batch_id, checksum, status): a crash inside checkpoint
        # compaction can leave both the compacted file and the originals on
        # disk — duplicate rows are byte-identical, so keep one per batch.
        # The checksum carries the stream identity ('stream:<id>:<epoch>'),
        # so a stream's epoch 0 and a batch replay's batch 0 on the same
        # table stay DISTINCT records (they are distinct commits).
        rows = list(
            {(r["batch_id"], r["checksum"], r["status"]): r for r in rows}.values()
        )
        ok = [r for r in rows if r["status"] == "COMMITTED"]
        return {
            "records_read": sum(max(r["rows_in"], 0) for r in ok),
            "records_processed": sum(max(r["rows_applied"], 0) for r in ok),
            "batches_committed": len(ok),
            "errors": len(rows) - len(ok),
            "processing_time_seconds_sum": round(sum(r["duration_s"] for r in ok), 3),
            "processing_time_seconds_max": round(max((r["duration_s"] for r in ok), default=0.0), 3),
            "snapshot_version": self._load()["version"],
        }

    def export_prometheus(
        self, file_path: str | None = None, prefix: str = "ingestor"
    ) -> str:
        """Prometheus text-format (0.0.4) dump of :meth:`metrics_summary` —
        parity with the reference's exit-time ``generate_latest()`` file
        (fileprocesser/file_processor.py:34-52; counter set from
        config/config.py:7-28). Returns the exposition text; also writes it
        atomically when ``file_path`` is given."""
        m = self.metrics_summary()
        counters = [
            ("records_read", "Total number of records read from the source."),
            ("records_processed", "Total number of records applied to the target table."),
            ("batches_committed", "Total number of committed micro-batches."),
            ("errors", "Total number of batches that failed to commit."),
        ]
        lines: list[str] = []
        for name, help_ in counters:
            full = f"{prefix}_{name}"
            lines += [f"# HELP {full} {help_}", f"# TYPE {full} counter",
                      f"{full} {m[name]}"]
        pt = f"{prefix}_processing_time_seconds"
        lines += [
            f"# HELP {pt} Time taken to merge-apply a micro-batch.",
            f"# TYPE {pt} summary",
            f"{pt}_sum {m['processing_time_seconds_sum']}",
            f"{pt}_count {m['batches_committed']}",
        ]
        sv = f"{prefix}_snapshot_version"
        lines += [f"# HELP {sv} Current table snapshot version.",
                  f"# TYPE {sv} gauge", f"{sv} {m['snapshot_version']}"]
        text = "\n".join(lines) + "\n"
        if file_path:
            tmp = f"{file_path}.tmp-{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                f.write(text)
            os.replace(tmp, file_path)
        return text

    def expire_snapshots(self, keep_last: int = 1) -> None:
        """Delete snapshot dirs no longer referenced by the manifest; also
        sweep staging orphans a crashed writer may have left next to the
        manifest/version objects (grace-period guarded, so a live writer's
        in-flight upload is never touched)."""
        self.io.sweep_staging(self.root)
        self.io.sweep_staging(os.path.join(self.root, "_versions"))
        m = self._load()
        live = _ref_dirs(m)
        # tagged snapshots are retention anchors: their data dirs stay
        # live until the tag is dropped (Iceberg ref-aware expiry)
        for tag_v in set(m.get("tags", {}).values()):
            try:
                mt = self._get_manifest(self._version_path(tag_v))
            except FileNotFoundError:
                continue  # tag predates a manifest sweep — nothing to pin
            live |= _ref_dirs(mt)
        # data plane through the storage adapter too: delimiter listing +
        # batch prefix delete are the only ops GC needs, so on a real object
        # store the whole maintenance path rides the same adapter swap as
        # the commit protocol (no POSIX directory semantics assumed)
        snaps = sorted(
            d for d in self.io.list_dirs(self.root) if d.startswith("snap-")
        )
        for d in snaps[:-keep_last] if keep_last else snaps:
            if d not in live:
                self.io.delete_prefix(os.path.join(self.root, d))
