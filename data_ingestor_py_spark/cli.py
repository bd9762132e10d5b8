"""spark-submit entry point for the CDC replay engine.

Usage (cluster):
    spark-submit --py-files engine.zip -m data_ingestor_py_spark.cli \\
        replay --events-table s3://…/change_events --target s3://…/repo_files

Sandbox (local[N] proxy for N executors):
    python -m data_ingestor_py_spark.cli bench-replay \\
        --n-events 2000000 --cores 32 --batches 4 --target /tmp/t

The ``bench-replay`` subcommand generates the deterministic synthetic
binlog (sources/generator.py), replays it through the merge-apply engine,
and prints one JSON line with wall time + events/sec — the measurement the
two-cluster-size scaling evidence (BENCH/BASELINE.md) is built from.
"""

from __future__ import annotations

import argparse
import json
import shutil
import time


def _parse_pred(s: str) -> tuple[str, str, object]:
    """'lang=go' / 'value<5.0' / 'n>=10' -> (col, op, typed value).
    Two-char ops first so 'a<=b' does not parse as '<'."""
    for op in ("<=", ">=", "=", "<", ">"):
        if op in s:
            col, _, raw = s.partition(op)
            if not col or not raw:
                break
            v: object = raw
            try:
                v = int(raw)
            except ValueError:
                try:
                    v = float(raw)
                except ValueError:
                    pass
            return (col, op, v)
    raise SystemExit(f"--delete-where: cannot parse predicate {s!r} "
                     "(expected COL<OP>VALUE with op in = < <= > >=)")


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--cores", type=int, default=None, help="local[N] cores (default: all)")
    p.add_argument("--target", required=True, help="target table root directory")
    p.add_argument("--batches", type=int, default=4)
    p.add_argument("--num-buckets", type=int, default=64)
    p.add_argument("--salt-buckets", type=int, default=0)
    p.add_argument("--checksum", action="store_true", help="record snapshot hash per batch")
    p.add_argument("--warmup-batches", type=int, default=0,
                   help="batches excluded from the steady-state rate")
    p.add_argument("--light-stats", action="store_true",
                   help="per-bucket event counts instead of exact distinct-key lineage")
    p.add_argument("--expire-keep", type=int, default=0,
                   help="expire old snapshots after each batch, keeping N")
    p.add_argument("--merge-mode", choices=["cow", "mor"], default="cow",
                   help="copy-on-write bucket rewrite vs merge-on-read delta "
                        "layers (only applies when this run CREATES the table)")
    p.add_argument("--mor-max-deltas", type=int, default=8,
                   help="fold a bucket into a new base in the merge that would "
                        "give it this many delta layers (0 = manual)")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="data-ingestor-py-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("bench-replay", help="generate synthetic CDC events and replay")
    _add_common(b)
    b.add_argument("--n-events", type=int, default=1_000_000)
    b.add_argument("--n-repos", type=int, default=2000)
    b.add_argument("--paths-per-repo", type=int, default=500)
    b.add_argument("--seed", type=int, default=42)
    b.add_argument("--skew", type=float, default=2.0)
    b.add_argument("--fresh", action="store_true", help="remove target dir first")

    r = sub.add_parser("replay", help="replay an existing change-event parquet table")
    _add_common(r)
    r.add_argument("--events-table", required=True)

    v = sub.add_parser("verify-state", help="sha256-verified final table state")
    v.add_argument("--target", required=True)
    v.add_argument("--cores", type=int, default=None)

    st = sub.add_parser("stream", help="tail an events directory via Structured Streaming")
    _add_common(st)
    st.add_argument("--events-dir", required=True)
    st.add_argument("--events-schema", default=(
        "event_id long, repo string, path string, commit string, _seq long, "
        "_op string, _ts timestamp, lang string, content string, _schema_version int"
    ))
    st.add_argument("--stream-checkpoint", default=None)
    st.add_argument("--max-files-per-trigger", type=int, default=None)
    st.add_argument("--watermark-delay", default=None)
    st.add_argument("--follow", action="store_true",
                    help="keep running (processingTime trigger) instead of availableNow drain")

    mnt = sub.add_parser(
        "maintain", help="table maintenance: compaction, snapshot expiry, tags"
    )
    mnt.add_argument("--target", required=True)
    mnt.add_argument("--cores", type=int, default=None)
    mnt.add_argument("--rewrite-data-files", action="store_true",
                     help="consolidate stale/old-schema buckets (zero-shuffle)")
    mnt.add_argument("--compact-deltas", action="store_true",
                     help="fold merge-on-read delta layers back into their buckets")
    mnt.add_argument("--min-deltas", type=int, default=1,
                     help="compact only buckets with at least this many layers")
    mnt.add_argument("--stale-after", type=int, default=8)
    mnt.add_argument("--expire-keep", type=int, default=0,
                     help="expire snapshots, keeping N (tagged snapshots are pinned)")
    mnt.add_argument("--tag", default=None, help="pin the current (or --tag-version) snapshot")
    mnt.add_argument("--tag-version", type=int, default=None)
    mnt.add_argument("--drop-tag", default=None)
    mnt.add_argument("--delete-where", action="append", default=[],
                     metavar="COL<OP>VALUE",
                     help="retention/erasure delete: predicate like "
                          "'lang=go' or 'value<5.0' (repeat for AND; ops "
                          "= < <= > >=); runs before expiry so one "
                          "invocation completes logical+physical erasure")
    mnt.add_argument("--auto", action="store_true",
                     help="policy-driven pass: analyze missing stats, "
                          "compact MoR deltas, rewrite stale buckets, "
                          "refresh existing bloom sidecars, then expire "
                          "(with --expire-keep); every action no-ops when "
                          "not needed")
    mnt.add_argument("--zorder-by", action="append", default=[],
                     metavar="COL",
                     help="z-order clustering rewrite over 2-4 numeric "
                          "columns (repeat the flag; implies a full "
                          "clustering pass)")
    mnt.add_argument("--max-rows-per-file", type=int, default=None)
    mnt.add_argument("--build-bloom", action="append", default=[],
                     metavar="COL",
                     help="build/refresh the per-file Bloom point-lookup "
                          "sidecar for a column (repeatable); incremental "
                          "over uncovered snapshot dirs")
    mnt.add_argument("--delete-seq", type=int, default=None,
                     help="sequence stamped on the delete tombstones "
                          "(default: past every victim's current seq); pass "
                          "the replay high-water mark when interleaving "
                          "with a live stream")

    ins = sub.add_parser(
        "inspect", help="query table metadata (history / files / snapshots)"
    )
    ins.add_argument("--target", required=True)
    ins.add_argument("--cores", type=int, default=None)
    ins.add_argument("what", choices=["history", "files", "snapshots"])
    ins.add_argument("--limit", type=int, default=50,
                     help="rows to print (newest first for history/snapshots)")

    ex = sub.add_parser(
        "export-changelog", help="publish a snapshot range as Debezium JSON-lines"
    )
    ex.add_argument("--target", required=True)
    ex.add_argument("--cores", type=int, default=None)
    ex.add_argument("--from-version", type=int, required=True)
    ex.add_argument("--to-version", type=int, default=None,
                    help="default: current version")
    ex.add_argument("--out", required=True)
    ex.add_argument("--table-name", default="table")

    args = ap.parse_args(argv)

    if args.cmd == "maintain":
        from data_ingestor_py_spark.plans.target import TargetTable
        from data_ingestor_py_spark.session import get_spark as _gs

        spark = _gs("maintain", cores=args.cores)
        spark.sparkContext.setLogLevel("ERROR")
        t = TargetTable(spark, args.target)
        out: dict = {"target": args.target}
        if args.tag:
            out["tagged"] = {args.tag: t.tag_snapshot(args.tag, args.tag_version)}
        if args.drop_tag:
            t.drop_tag(args.drop_tag)
            out["dropped_tag"] = args.drop_tag
        if args.delete_where:
            st = t.delete_where(
                [_parse_pred(p) for p in args.delete_where], seq=args.delete_seq
            )
            out["deleted_rows"] = st.rows_in
            out["delete_snapshot"] = st.snapshot_version
        if args.auto:
            from data_ingestor_py_spark.plans.maintenance import auto_maintain

            out["auto"] = auto_maintain(
                t, expire_keep=args.expire_keep,
                stale_after=args.stale_after,
                max_rows_per_file=args.max_rows_per_file,
            )
        if args.zorder_by:
            if len(args.zorder_by) < 2:
                ap.error("--zorder-by needs at least 2 columns (repeat the flag)")
            out["zorder_snapshot"] = t.rewrite_data_files(
                zorder_by=args.zorder_by,
                max_rows_per_file=args.max_rows_per_file,
            )
        if args.rewrite_data_files:
            out["rewrite_snapshot"] = t.rewrite_data_files(
                stale_after=args.stale_after,
                max_rows_per_file=args.max_rows_per_file,
            )
        if args.compact_deltas:
            out["compact_snapshot"] = t.compact_bucket_deltas(min_deltas=args.min_deltas)
        for col in args.build_bloom:
            out[f"bloom_{col}"] = t.build_bloom(col)
        if args.expire_keep and not args.auto:  # --auto already expired
            t.expire_snapshots(keep_last=args.expire_keep)
            out["expired_keep_last"] = args.expire_keep
        out["version"] = t._load()["version"]
        print(json.dumps(out))
        spark.stop()
        return 0

    if args.cmd == "inspect":
        from data_ingestor_py_spark.plans import inspect as meta
        from data_ingestor_py_spark.plans.target import TargetTable
        from data_ingestor_py_spark.session import get_spark as _gs

        spark = _gs("inspect", cores=args.cores)
        spark.sparkContext.setLogLevel("ERROR")
        t = TargetTable(spark, args.target)
        if args.what == "history":
            df = meta.history_df(t).orderBy("snapshot", ascending=False)
        elif args.what == "files":
            df = meta.files_df(t).orderBy("bucket", "layer", "file")
        else:
            df = meta.snapshots_df(t).orderBy("version", ascending=False)
        df.show(args.limit, truncate=False)
        spark.stop()
        return 0

    if args.cmd == "export-changelog":
        from data_ingestor_py_spark.plans.target import TargetTable
        from data_ingestor_py_spark.session import get_spark as _gs
        from data_ingestor_py_spark.sources.debezium import write_debezium_changelog

        spark = _gs("export-changelog", cores=args.cores)
        spark.sparkContext.setLogLevel("ERROR")
        t = TargetTable(spark, args.target)
        v_to = args.to_version if args.to_version is not None else t._load()["version"]
        fields = write_debezium_changelog(
            t, args.from_version, v_to, args.out, table_name=args.table_name
        )
        print(json.dumps({"out": args.out, "from": args.from_version, "to": v_to,
                          "row_fields": fields}))
        spark.stop()
        return 0

    if args.cmd == "verify-state":
        from data_ingestor_py_spark.plans.target import TargetTable
        from data_ingestor_py_spark.session import get_spark as _gs

        spark = _gs("verify-state", cores=args.cores)
        spark.sparkContext.setLogLevel("ERROR")
        t = TargetTable(spark, args.target)
        h = t.snapshot_hash()
        n, s = h.split(":")
        print(json.dumps({"target": args.target, "rows": int(n), "state_hash": s,
                          "snapshot_version": t._load()["version"]}))
        spark.stop()
        return 0

    from pyspark.sql import functions as F

    from data_ingestor_py_spark.functions.content import content_sha256
    from data_ingestor_py_spark.plans.replay import replay, split_batches
    from data_ingestor_py_spark.plans.target import TargetTable
    from data_ingestor_py_spark.session import get_spark

    spark = get_spark("cdc-replay", cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")

    if getattr(args, "fresh", False):
        shutil.rmtree(args.target, ignore_errors=True)

    if args.cmd == "bench-replay":
        from data_ingestor_py_spark.sources.generator import change_events

        events = change_events(
            spark, args.n_events, n_repos=args.n_repos,
            paths_per_repo=args.paths_per_repo, seed=args.seed, skew=args.skew,
        )
        n_events = args.n_events
    elif args.cmd == "replay":
        events = spark.read.parquet(args.events_table)
        n_events = events.count()

    table = TargetTable(spark, args.target)
    if not table.exists():
        table = TargetTable.create(
            spark, args.target, key_cols=["repo", "path"],
            columns=[
                ("commit", "string"), ("lang", "string"), ("content", "string"),
                ("_content_sha256", "string"),
            ],
            num_buckets=args.num_buckets,
            merge_mode=getattr(args, "merge_mode", "cow"),
            mor_max_deltas=getattr(args, "mor_max_deltas", 8),
        )

    def prep(df, i):
        return df.withColumn("_content_sha256", content_sha256("content")).select(
            "repo", "path", "commit", "lang", "content", "_content_sha256",
            "_seq", "_op", "_ts",
        )

    if args.cmd == "stream":
        from data_ingestor_py_spark.streaming.stream_replay import stream_replay

        q = stream_replay(
            spark, args.events_dir, args.events_schema, table, prepare=prep,
            checkpoint_dir=args.stream_checkpoint,
            max_files_per_trigger=args.max_files_per_trigger,
            available_now=not args.follow,
            salt_buckets=args.salt_buckets,
            stats="light" if args.light_stats else "full",
            watermark_delay=args.watermark_delay,
        )
        q.awaitTermination()
        print(json.dumps({"mode": "stream", "target": args.target,
                          "metrics": table.metrics_summary()}))
        spark.stop()
        return 0

    t0 = time.time()
    if "_batch" in events.columns:
        # pre-assigned batches (partitioned binlog segments): the filter on
        # the partition column prunes the scan to one segment per batch
        batches = [
            events.where(F.col("_batch") == i).drop("_batch")
            for i in range(args.batches)
        ]
    else:
        batches = split_batches(events, args.batches)
    pt: list = []
    recs = replay(table, batches, salt_buckets=args.salt_buckets,
                  prepare=prep, checksum=args.checksum,
                  stats="light" if args.light_stats else "full",
                  expire_keep=args.expire_keep, phase_times=pt)
    wall = time.time() - t0
    # steady-state rate: skip warmup batches (JIT compile + cold caches);
    # best-batch rate filters host-level stall noise (VM steal time)
    w = args.warmup_batches
    steady = recs[w:] if len(recs) > w else recs
    steady_rows = sum(r.rows_in for r in steady)
    steady_secs = sum(r.duration_s for r in steady)
    best = max((r.rows_in / r.duration_s for r in steady if r.duration_s), default=None)
    out = {
        "n_events": n_events,
        "batches_run": [r.batch_id for r in recs],
        "wall_s": round(wall, 2),
        "events_per_sec": round(n_events / wall, 1),
        "steady_events_per_sec": round(steady_rows / steady_secs, 1) if steady_secs else None,
        "best_batch_events_per_sec": round(best, 1) if best else None,
        "batch_secs": [round(r.duration_s, 2) for r in recs],
        "batch_rows": [r.rows_in for r in recs],
        "final_rows": (
            sum(r.rows_applied for r in recs)
            if all(r.rows_applied >= 0 for r in recs) else None  # light stats
        ),
        "snapshot_version": recs[-1].snapshot_version if recs else None,
        "cores": args.cores,
        "phase_times": pt,
    }
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
