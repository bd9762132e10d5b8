"""SCD Type-2 history maintenance (plans/scd.py): incremental apply must
equal the one-pass transform, re-application must be a no-op, late feeds
are quarantined, and per-key intervals must chain correctly."""

import os
import tempfile
from collections import defaultdict

from pyspark.sql import functions as F

from data_ingestor_py_spark.plans.scd import (
    Scd2History,
    create_history_table,
    read_history,
    scd2_apply,
    scd2_transform,
)
from data_ingestor_py_spark.sources import change_events

KEYS = ["repo", "path"]
PAY = ["lang", "content"]


def _mkroot():
    d = tempfile.mkdtemp(prefix="scd2-")
    os.rmdir(d)
    return d


def _events(spark, n=4000, seed=23):
    return change_events(
        spark, n, n_repos=10, paths_per_repo=10, seed=seed
    ).select("repo", "path", "lang", "content", "_seq", "_op", "_ts")


def _range_batches(ev, k):
    mx = ev.agg(F.max("_seq")).collect()[0][0]
    return [
        ev.where((F.col("_seq") * k / (mx + 1)).cast("int") == i) for i in range(k)
    ]


def _ns(rows):
    """None-safe row sort (valid_to is NULL for open intervals)."""
    return sorted(rows, key=lambda t: [(x is None, x) for x in t])


def _hist_rows(h):
    return _ns(
        tuple(r)
        for r in read_history(h)
        .select(*KEYS, *PAY, "valid_from", "valid_to")
        .collect()
    )


def test_incremental_equals_transform(spark):
    ev = _events(spark)
    full = _ns(tuple(r) for r in scd2_transform(ev, KEYS, PAY).collect())
    h = create_history_table(
        spark, _mkroot(), KEYS, [("lang", "string"), ("content", "string")],
        num_buckets=8,
    )
    for b in _range_batches(ev, 4):
        st = scd2_apply(h, b, KEYS, PAY)
        assert st.n_late == 0
    assert _hist_rows(h) == full and full


def test_reapply_is_noop(spark):
    ev = _events(spark, n=1500, seed=5)
    h = create_history_table(
        spark, _mkroot(), KEYS, [("lang", "string"), ("content", "string")],
        num_buckets=4,
    )
    b1, b2 = _range_batches(ev, 2)
    scd2_apply(h, b1, KEYS, PAY)
    scd2_apply(h, b2, KEYS, PAY)
    before = _hist_rows(h)
    st = scd2_apply(h, b2, KEYS, PAY)  # exact duplicate batch
    assert _hist_rows(h) == before
    st = scd2_apply(h, b1, KEYS, PAY)  # out-of-order duplicate: all late
    assert st.n_late > 0
    assert _hist_rows(h) == before


def test_current_rows_match_merge_state(spark):
    """Open intervals == the merged current state (independent paths to the
    same truth: SCD2 windowing vs max-seq merge dedup)."""
    from data_ingestor_py_spark.operators.dedup import latest_by_key

    ev = _events(spark, n=2500, seed=31)
    h = create_history_table(
        spark, _mkroot(), KEYS, [("lang", "string"), ("content", "string")],
        num_buckets=8,
    )
    for b in _range_batches(ev, 3):
        scd2_apply(h, b, KEYS, PAY)
    cur = read_history(h).where("is_current").select(*KEYS, *PAY, "valid_from")
    want = (
        latest_by_key(ev, KEYS, "_seq")
        .where(F.col("_op") != "D")
        .select(*KEYS, *PAY, F.col("_seq").alias("valid_from"))
    )
    assert _ns(map(tuple, cur.collect())) == _ns(map(tuple, want.collect()))


def test_intervals_chain_per_key(spark):
    ev = _events(spark, n=1200, seed=77)
    h = create_history_table(
        spark, _mkroot(), KEYS, [("lang", "string"), ("content", "string")],
        num_buckets=4,
    )
    for b in _range_batches(ev, 2):
        scd2_apply(h, b, KEYS, PAY)
    by_key = defaultdict(list)
    for r in read_history(h).collect():
        by_key[(r["repo"], r["path"])].append((r["valid_from"], r["valid_to"]))
    # deletes may interpose (closing without opening), so consecutive
    # intervals never overlap and at most ONE open interval exists per key
    for k, ivs in by_key.items():
        ivs.sort()
        opens = [iv for iv in ivs if iv[1] is None]
        assert len(opens) <= 1, k
        for (f1, t1), (f2, _) in zip(ivs, ivs[1:]):
            assert t1 is not None and t1 <= f2, (k, ivs)


def test_partial_segment_invisible_and_swept(spark):
    """A crashed segment write (no _SUCCESS, open table NOT yet advanced —
    the only reachable crash state given segment-before-merge ordering) is
    invisible to readers, sweepable after the grace period, and the retry
    of the same batch repairs history exactly."""
    h = create_history_table(
        spark, _mkroot(), KEYS, [("lang", "string"), ("content", "string")],
        num_buckets=4,
    )
    ev = _events(spark, n=1000, seed=88)
    b1, b2 = _range_batches(ev, 2)
    scd2_apply(h, b1, KEYS, PAY)
    after_b1 = _hist_rows(h)
    # simulate batch 2 crashing mid-segment-write: a partial dir with no
    # _SUCCESS (the open table was not touched yet)
    os.makedirs(os.path.join(h.closed_dir, "seg-crashed-partial"))
    with open(os.path.join(h.closed_dir, "seg-crashed-partial", "part-0.parquet"), "wb") as f:
        f.write(b"garbage")
    assert _hist_rows(h) == after_b1  # invisible to readers
    # a live writer's fresh partial is protected by the grace period...
    assert h.sweep_partial_segments(grace_s=3600) == []
    # ...and sweepable once stale
    assert h.sweep_partial_segments(grace_s=0) == ["seg-crashed-partial"]
    # the driver retry applies batch 2 normally
    st = scd2_apply(h, b2, KEYS, PAY)
    assert st.n_late == 0 and st.segment is not None
    full = _ns(tuple(r) for r in scd2_transform(ev, KEYS, PAY).collect())
    assert _hist_rows(h) == full


def test_segment_compaction(spark):
    """Closed-log bin-packing: rows identical before/after, inputs retired
    BY NAME via the merged segment's _COMMIT the instant it lands (a
    crashed input delete is invisible to readers and cleaned by the next
    call)."""
    h = create_history_table(
        spark, _mkroot(), KEYS, [("lang", "string"), ("content", "string")],
        num_buckets=4,
    )
    ev = _events(spark, n=2400, seed=66)
    for b in _range_batches(ev, 6):
        scd2_apply(h, b, KEYS, PAY)
    before = _hist_rows(h)
    inputs = [os.path.basename(s) for s in h.closed_segments()]
    assert len(inputs) == 6
    assert h.compact_segments(max_live_segments=8) is None  # below threshold
    merged = h.compact_segments(max_live_segments=3)
    assert merged is not None
    assert [os.path.basename(s) for s in h.closed_segments()] == [merged]
    assert _hist_rows(h) == before
    # the commit records the exact original batch ranges, so the applied-
    # range idempotence key survives the input dirs' deletion
    assert h.applied_ranges() == {
        Scd2History._seg_range(n) for n in inputs
    }
    # crashed delete: resurrect a retired INPUT segment next to the merged
    # one -> the _COMMIT inputs list keeps it invisible; next compact cleans
    import shutil as _sh

    ghost = os.path.join(h.closed_dir, inputs[0])
    _sh.copytree(os.path.join(h.closed_dir, merged), ghost)
    os.remove(os.path.join(ghost, "_COMMIT"))
    assert _hist_rows(h) == before  # retired by name -> not double-counted
    assert h.compact_segments(max_live_segments=99) is None  # hygiene only
    assert not os.path.exists(ghost)
    # incremental apply continues on the compacted log
    ev2 = _events(spark, n=800, seed=67)
    late_free = ev2.where(F.col("_seq") > ev.agg(F.max("_seq")).collect()[0][0])
    if late_free.count():
        scd2_apply(h, late_free, KEYS, PAY)
    assert _hist_rows(h) == _ns(
        tuple(r)
        for r in scd2_transform(
            ev.unionByName(late_free) if late_free.count() else ev, KEYS, PAY
        ).collect()
    )


def test_late_events_for_deleted_key_quarantined(spark):
    """The late guard must hold for DELETED keys too: the tombstone's seq
    anchors the comparison, so a contract-violating replay of pre-delete
    events is counted + dropped instead of writing overlapping intervals."""
    h = create_history_table(
        spark, _mkroot(), KEYS, [("lang", "string"), ("content", "string")],
        num_buckets=4,
    )
    ddl = ("repo string, path string, lang string, content string, "
           "_seq long, _op string, _ts timestamp")
    b1 = spark.createDataFrame(
        [("r1", "a", "py", "v1", 10, "U", None),
         ("r1", "a", "py", "v2", 20, "U", None),
         ("r1", "a", None, None, 30, "D", None)], ddl,
    ).withColumn("_ts", F.current_timestamp())
    scd2_apply(h, b1, KEYS, PAY)
    before = _hist_rows(h)
    assert [t[-1] for t in before] == [20, 30]  # both intervals closed
    # late replay of the key's OLD events (seq < tombstone)
    late = spark.createDataFrame(
        [("r1", "a", "py", "v1b", 12, "U", None)], ddl
    ).withColumn("_ts", F.current_timestamp())
    st = scd2_apply(h, late, KEYS, PAY)
    assert st.n_late == 1
    assert _hist_rows(h) == before  # no overlapping interval appeared
    # a legitimate RE-INSERT after the delete opens a fresh interval
    re_ins = spark.createDataFrame(
        [("r1", "a", "go", "v3", 40, "U", None)], ddl
    ).withColumn("_ts", F.current_timestamp())
    st = scd2_apply(h, re_ins, KEYS, PAY)
    assert st.n_late == 0
    rows = _hist_rows(h)
    assert (("r1", "a", "go", "v3", 40, None) in rows) and len(rows) == 3


def test_history_follows_schema_evolution(spark):
    """Segments record their schema version; after open.evolve(rename=...)
    old segments are field-id-aligned, not silently NULLed."""
    h = create_history_table(
        spark, _mkroot(), KEYS, [("lang", "string"), ("content", "string")],
        num_buckets=4,
    )
    ev = _events(spark, n=800, seed=91)
    b1, b2 = _range_batches(ev, 2)
    scd2_apply(h, b1, KEYS, PAY)
    h.open.evolve(rename={"lang": "language"})
    # apply batch 2 under the NEW schema
    scd2_apply(h, b2.withColumnRenamed("lang", "language"),
               KEYS, ["language", "content"])
    hist = read_history(h)
    assert "language" in hist.columns and "lang" not in hist.columns
    # pre-evolve closed intervals still carry their values under the new name
    n_null = hist.where(F.col("language").isNull()).count()
    assert n_null == 0
    # and the whole history equals the transform over renamed events
    full = _ns(
        tuple(r) for r in scd2_transform(
            ev.withColumnRenamed("lang", "language"), KEYS, ["language", "content"]
        ).collect()
    )
    got = _ns(
        tuple(r)
        for r in hist.select(*KEYS, "language", "content", "valid_from", "valid_to").collect()
    )
    assert got == full


def test_streaming_scd2_matches_transform(spark, tmp_path):
    """stream_scd2: seq-ordered event files drained per-file converge to
    the one-pass transform; a restart with no new files is a no-op."""
    from data_ingestor_py_spark.streaming.stream_scd2 import stream_scd2

    ev = _events(spark, n=1500, seed=52)
    src = str(tmp_path / "events")
    # seq-ranged files written in order -> per-key-ordered epochs
    mx = ev.agg(F.max("_seq")).collect()[0][0]
    for i in range(3):
        ev.where((F.col("_seq") * 3 / (mx + 1)).cast("int") == i).coalesce(1)\
          .write.mode("append").parquet(src)
    h = create_history_table(
        spark, _mkroot(), KEYS, [("lang", "string"), ("content", "string")],
        num_buckets=4,
    )
    schema = ("repo string, path string, lang string, content string, "
              "_seq long, _op string, _ts timestamp")
    stats = []
    q = stream_scd2(
        spark, src, schema, h, KEYS, PAY,
        checkpoint_dir=str(tmp_path / "cp"), max_files_per_trigger=1,
        on_epoch=lambda e, s: stats.append((e, s.n_late)),
    )
    q.awaitTermination(120)
    assert len(stats) == 3 and all(n == 0 for _, n in stats)
    full = _ns(tuple(r) for r in scd2_transform(ev, KEYS, PAY).collect())
    assert _hist_rows(h) == full
    # restart with the same checkpoint: no new files -> no new epochs
    q = stream_scd2(spark, src, schema, h, KEYS, PAY,
                    checkpoint_dir=str(tmp_path / "cp"))
    q.awaitTermination(120)
    assert _hist_rows(h) == full


def test_null_seq_bucket_does_not_break_segment_range(spark):
    """One batch: a bucket whose rows all carry a NULL _seq next to a
    bucket with real _seq values. The per-bucket range fold must skip the
    NULL range instead of raising, and name the segment from the non-NULL
    range (what a global min/max over the batch gives)."""
    from data_ingestor_py_spark.plans.target import _bucket_expr

    h = create_history_table(
        spark, _mkroot(), KEYS, [("lang", "string"), ("content", "string")],
        num_buckets=4,
    )
    bkt = _bucket_expr(KEYS, 4).alias("b")
    real_b = spark.createDataFrame([("r", "x")], "repo string, path string") \
        .select(bkt).first()["b"]
    cands = spark.createDataFrame(
        [("n", f"p{i}") for i in range(32)], "repo string, path string"
    ).select("repo", "path", bkt).collect()
    null_key = next((r["repo"], r["path"]) for r in cands if r["b"] != real_b)
    batch = spark.createDataFrame(
        [("r", "x", "py", "a", 10, "U"), ("r", "x", "py", "b", 11, "U"),
         (*null_key, "go", "c", None, "U")],
        "repo string, path string, lang string, content string, _seq long, _op string",
    ).withColumn("_ts", F.lit(None).cast("timestamp"))
    st = scd2_apply(h, batch, KEYS, PAY)
    assert st.segment is not None
    assert st.segment.startswith(f"seg-{10:020d}-{11:020d}-3-")
