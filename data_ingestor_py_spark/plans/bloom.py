"""Per-file Bloom filters for point-lookup file skipping.

Min/max footer statistics (plans/filestats.py) prune range predicates on
CLUSTERED columns, but are useless for equality probes on hash-like or
unclustered columns — every file's [min, max] spans the whole domain, so
nothing prunes. The standard lakehouse answer (Parquet bloom filters,
Iceberg puffin blobs, Delta bloom indexes) is a per-file Bloom filter:
``=``/``IN`` probes skip every file whose filter proves the value absent.

Design (sharded — the round-6 rework of the one-JSON-per-column sidecar):

- **Build is one Catalyst job per written-schema group** (no Python in
  the data path): scan the uncovered snapshot dirs, explode each value
  into its ``k`` hash positions (``xxhash64(cast(v AS STRING), seed_i)
  mod m``), fold positions into 64-bit words with ``bit_or`` grouped by
  ``(file, word)``, and **the cluster itself writes the word store** as
  parquet partitioned by snapshot dir (``data/top=<snap-dir>/``) — the
  driver never collects a word row. Only the per-file non-NULL COUNTS
  (O(new files) rows, the path-match witness) come back to the driver,
  which then publishes one small ``meta/<snap-dir>.json`` per covered
  dir. Values are hashed via their STRING cast so probes stay consistent
  across schema-evolution retypes.
- **Shards, not a monolith**: coverage metadata and word data are both
  keyed per snapshot dir. A probe loads only the shards of the dirs the
  scan actually considers, each at most once; nothing is O(all live
  files) on the driver, and nothing is rewritten when other dirs change
  (incremental builds only ADD shards for new dirs).
- **Write ordering is the coverage commit**: word data lands before the
  dir's meta JSON, so a crash mid-build leaves data without meta —
  ignored, never consulted. A meta-covered file with a positive count
  but no word rows (path-normalization drift, lost data) degrades to
  "read", preserving the witness rule.
- **Soundness**: visible rows are a subset of physical rows (the MoR
  winner rule picks among physically present rows), so "no physical row
  can equal v" implies "no visible row can". ``=`` prunes a file iff all
  ``k`` bits are clear for the value; ``IN`` prunes iff EVERY value is
  provably absent. The residual filter is always applied regardless —
  false positives cost a read, never a wrong row; torn/corrupt shards
  degrade to no pruning.
- **Probe hashing reuses the build's own Spark expressions** over the
  probes as literal rows on the driver (no Spark job), so build and
  probe can never disagree on the hash function.

Reference parity note: no analogue in the reference (it has no scan
layer at all); this is the engine-native version of what its warehouse
target (Postgres) would do with a btree probe.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from data_ingestor_py_spark.plans.literal_rows import literal_rows

DEFAULT_M = 1 << 16  # bits per file-filter (8 KiB dense; stored sparse)
DEFAULT_K = 7


def _positions_exprs(col, m: int, k: int):
    v = col.cast("string")
    return [
        F.pmod(F.xxhash64(v, F.lit(i)), F.lit(m)).cast("long") for i in range(k)
    ]


def build_words(df, value_col: str, m: int, k: int):
    """``(f, w, bits)`` word rows plus ``(f, nn)`` non-NULL value counts
    per input file for one column: the distributed bloom build. ``df``
    must carry the data column plus ``_file``. The counts frame is the
    path-match witness: only files the job actually produced rows for
    may get sidecar entries (see TargetTable.build_bloom) — a
    path-normalization mismatch must degrade to "uncovered -> read",
    never to "empty filter -> prune everything"."""
    base = df.select("_file", F.col(value_col).alias("_v"))
    counts = base.groupBy("_file").agg(
        F.count(F.col("_v")).alias("nn")  # non-NULL values in the file
    )
    vals = base.where(F.col("_v").isNotNull()).distinct()
    pos = vals.select(
        "_file",
        F.explode(F.array(*_positions_exprs(F.col("_v"), m, k))).alias("_p"),
    )
    words = (
        pos.select(
            "_file",
            (F.col("_p") / 64).cast("long").alias("w"),
            # DataFrame shiftleft() only takes a literal bit count; the SQL
            # form accepts a column expression
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_p % 64 AS INT))").alias("b"),
        )
        .groupBy("_file", "w")
        .agg(F.bit_or("b").alias("bits"))
    )
    return words, counts


def probe_positions(
    spark: SparkSession, values: list, m: int, k: int, spark_type: str = "string"
) -> list[list[int]]:
    """The k bit positions of each probe value, cast first to the COLUMN'S
    current Spark type (values that cast to NULL are dropped) and then
    rendered through the same ``CAST(v AS STRING)`` the build hashed —
    str(python_value) is NOT that rendering (Java prints doubles as
    '1.23E7', booleans as 'true'). Evaluated on the driver: no Spark job."""
    def positions(r):
        v = r["v"].cast(spark_type)
        return F.when(v.isNotNull(), F.array(*_positions_exprs(v, m, k)))

    rows = [(v,) for v in sorted({str(v) for v in values if v is not None})]
    pos = literal_rows(spark, ["v"], rows).select(F.transform("_rows", positions))
    return [list(p) for p in pos.first()[0] if p is not None]


def may_contain(file_entry: dict, positions: list[int]) -> bool:
    """False => the value is PROVABLY absent from the file."""
    words = file_entry.get("w", {})
    for p in positions:
        bits = words.get(str(p // 64))
        if bits is None or not (bits >> (p % 64)) & 1:
            return False
    return True


def shape_words(words):
    """Project ``build_words`` output into the shard layout columns
    ``(top, leaf, f, w, bits)`` derived from the file path's last three
    components (``<root>/<snap-dir>/bkt=N/<file>`` — the table's fixed
    layout). Writing this ``partitionBy("top")`` IS the per-dir sharding:
    each snapshot dir's words land in their own ``top=<dir>`` partition,
    written by the cluster."""
    parts = F.split(F.col("_file"), "/")
    return words.select(
        F.element_at(parts, -3).alias("top"),
        F.element_at(parts, -2).alias("leaf"),
        F.element_at(parts, -1).alias("f"),
        F.col("w"),
        F.col("bits"),
    )


class BloomIndex:
    """Lazy reader over one column's sharded bloom index at
    ``<root>/_bloom/<colkey>/``:

    - ``_params.json``: ``{"col", "m", "k", "type"}`` — tiny, rewritten
      only on a parameter/type change (which discards the whole index).
    - ``meta/<snap-dir>.json``: per covered snapshot dir,
      ``{"dirs": {leaf: {"all": [...], "matched": [...],
      "nodata": [...]}}}``. ``all`` is the complete dir listing at build
      time (snapshot dirs are immutable); ``matched`` holds files the
      build job path-matched WITH at least one non-NULL value (their
      word maps live in the data store); ``nodata`` holds files proven
      to have zero non-NULL values (empty filter — provably absent for
      every probe, served from the meta alone). A file in ``all`` in
      neither list is always read.
    - ``data/top=<snap-dir>/``: Spark-written parquet word rows
      ``(leaf, f, w, bits)``.

    Every load is per-dir, cached, and fails soft: absent/torn meta =>
    dir uncovered; unreadable word partition => its matched files read.
    """

    def __init__(self, io, base_dir: str):
        self.io = io
        self.base = base_dir
        self.params_doc = self._json(io.get(os.path.join(base_dir, "_params.json")))
        self._meta: dict[str, dict | None] = {}
        self._words: dict[str, dict | None] = {}

    @staticmethod
    def _json(raw: bytes | None) -> dict | None:
        if raw is None:
            return None
        try:
            doc = json.loads(raw)
        except (json.JSONDecodeError, UnicodeDecodeError):
            return None
        return doc if isinstance(doc, dict) else None

    @property
    def params(self) -> tuple[int, int] | None:
        d = self.params_doc
        if not d or "m" not in d or "k" not in d:
            return None
        return int(d["m"]), int(d["k"])

    @property
    def col_type(self) -> str | None:
        return (self.params_doc or {}).get("type")

    def raw_meta(self, top: str) -> dict | None:
        if top not in self._meta:
            self._meta[top] = self._json(
                self.io.get(os.path.join(self.base, "meta", f"{top}.json"))
            )
        return self._meta[top]

    def _top_words(self, top: str) -> dict | None:
        """(leaf, fname) -> {word: bits} for one snapshot dir's word
        partition; None = unreadable (its matched files degrade to
        read)."""
        if top not in self._words:
            try:
                import pyarrow.parquet as pq

                tbl = pq.read_table(
                    os.path.join(self.base, "data", f"top={top}"),
                    columns=["leaf", "f", "w", "bits"],
                )
                out: dict[tuple, dict] = {}
                leafs, fs, ws, bs = (tbl.column(c).to_pylist() for c in ("leaf", "f", "w", "bits"))
                for leaf, fname, w, bits in zip(leafs, fs, ws, bs):
                    out.setdefault((leaf, fname), {})[str(w)] = bits
                self._words[top] = out
            except Exception:
                self._words[top] = None
        return self._words[top]

    def covered(self, reldir: str) -> bool:
        top, _, leaf = reldir.partition("/")
        meta = self.raw_meta(top)
        return meta is not None and leaf in meta.get("dirs", {})

    def file_entry(self, reldir: str, fname: str) -> dict | None:
        """The file's filter entry, or None = must read (uncovered,
        unmatched, or its word data is unavailable)."""
        top, _, leaf = reldir.partition("/")
        meta = self.raw_meta(top)
        d = (meta or {}).get("dirs", {}).get(leaf)
        if d is None:
            return None
        if fname in d.get("nodata", ()):
            return {"w": {}}
        if fname not in d.get("matched", ()):
            return None
        words = self._top_words(top)
        if words is None:
            return None
        wm = words.get((leaf, fname))
        # a matched file has >=1 distinct value => >=1 word row; absence
        # means path drift or data loss — read, never prune (witness rule)
        return None if wm is None else {"w": wm}

    def dir_entries(self, reldir: str) -> tuple[int, dict | None]:
        """(file count if covered else -1, {fname: entry} iff EVERY file
        of the dir has a usable entry — the whole-dir-prune precondition;
        None otherwise)."""
        top, _, leaf = reldir.partition("/")
        meta = self.raw_meta(top)
        d = (meta or {}).get("dirs", {}).get(leaf)
        if d is None:
            return -1, None
        files = d.get("all", [])
        out = {}
        for f in files:
            e = self.file_entry(reldir, f)
            if e is None:
                return len(files), None
            out[f] = e
        return len(files), out
