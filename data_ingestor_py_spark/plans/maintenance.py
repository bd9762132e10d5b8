"""Policy-driven auto-maintenance: one call that inspects the table and
runs exactly the upkeep it needs.

Production tables don't get hand-scheduled maintenance; an operator (or
a cron'd CLI) runs "optimize" and the engine decides. This wraps the
engine's existing maintenance primitives behind a manifest inspection —
every action is a no-op when the table doesn't need it, so the call is
safe on any schedule:

1. **analyze** — backfill footer statistics for dirs written before
   stats were enabled (only if ``stats_keys`` is configured);
2. **compact MoR deltas** — buckets at or past ``delta_threshold``
   layers fold back to a single base (read-amplification bound);
3. **rewrite stale buckets** — old-schema or long-unrewritten buckets
   consolidate so expiry can actually reclaim old snapshot dirs;
4. **refresh bloom sidecars** — every column that HAS a sidecar gets
   its uncovered dirs built (build_bloom is incremental by design);
5. **expire snapshots** — with ``expire_keep`` set, old versions drop
   (tagged snapshots stay pinned by the expiry itself).

Order matters and is fixed: compaction/rewrite create the new dirs that
bloom then covers, and expiry runs LAST so it can reclaim what the
rewrites made stale. The whole pass never changes visible state
(pinned by test) — it only reorganizes storage and metadata.
"""

from __future__ import annotations

import json
import os

from data_ingestor_py_spark.plans.target import TargetTable


def auto_maintain(
    table: TargetTable,
    expire_keep: int = 0,
    stale_after: int = 8,
    delta_threshold: int | None = None,
    max_rows_per_file: int | None = None,
) -> dict:
    """Run the needed subset of maintenance; returns an action report
    (``{action: result}`` — absent key = policy decided it wasn't
    needed). ``delta_threshold`` defaults to half the table's
    ``mor_max_deltas``: compact early, off the write path, so fewer merges
    pay for rewriting a bucket that reaches the threshold."""
    m = table._load()
    report: dict = {}

    if m.get("stats_keys"):
        v = table.analyze()
        if v is not None:
            report["analyze"] = v

    if m.get("merge_mode") == "mor":
        thr = (
            delta_threshold
            if delta_threshold is not None
            else max(1, int(m.get("mor_max_deltas", 8)) // 2)
        )
        layered = [
            b
            for b, e in m["buckets"].items()
            if len(e.get("deltas", ())) >= thr
        ]
        if layered:
            report["compact_deltas"] = table.compact_bucket_deltas(
                min_deltas=thr
            )

    m = table._load()
    cur_schema = m["current_schema"]
    v = m["version"]

    def _snap_v(rel: str) -> int:
        return int(rel.split("-")[1])

    stale = [
        int(b)
        for b, e in m["buckets"].items()
        if e["schema"] != cur_schema or _snap_v(e["path"]) < v - stale_after
    ]
    if stale:
        rv = table.rewrite_data_files(
            stale_after=stale_after, max_rows_per_file=max_rows_per_file
        )
        if rv is not None:
            report["rewrite"] = rv

    # bloom indexes: refresh every column that already has one (the
    # operator opted those columns in by building them once) — discovered
    # from the per-column index dirs under _bloom/
    for ck_dir in table.io.list_dirs(os.path.join(table.root, "_bloom")):
        raw = table.io.get(table._bloom_path(ck_dir))
        try:
            ck = json.loads(raw)["col"] if raw else None
        except (json.JSONDecodeError, UnicodeDecodeError, KeyError):
            continue
        if not ck:
            continue
        col = _colkey_to_name(table, ck)
        if col is None:
            continue
        r = table.build_bloom(col)
        if r["dirs_built"]:
            report.setdefault("bloom", {})[col] = r

    if expire_keep > 0:
        table.expire_snapshots(keep_last=expire_keep)
        report["expired_keep"] = expire_keep
    return report


def _colkey_to_name(table: TargetTable, colkey: str) -> str | None:
    """Invert the sidecar's schema-stable key to the CURRENT column
    name (renames move the name, never the field id)."""
    m = table._load()
    if colkey in m["key_cols"] or colkey == m["seq_col"]:
        return colkey
    if colkey.startswith("f"):
        try:
            fid = int(colkey[1:])
        except ValueError:
            return None
        for f in table.schema_fields(m):
            if f["id"] == fid:
                return f["name"]
    return None
