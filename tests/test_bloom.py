"""Bloom-filter point-lookup file skipping (plans/bloom.py +
TargetTable.build_bloom / scan_plan bloom consult).

Soundness contract under test: pruning may only ever REMOVE reads that
provably cannot match — results must equal the unpruned scan + filter for
present values, absent values must read zero files once covered, files
not covered by the sidecar are always read, and a corrupt sidecar
degrades to no pruning (never an error, never a wrong row).
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from data_ingestor_py_spark.plans.target import TargetTable


def _mk(spark, tmp_path, name="t", merge_mode="cow", num_buckets=8):
    return TargetTable.create(
        spark, str(tmp_path / name),
        key_cols=["id"],
        columns=[("commit", "string"), ("lang", "string"), ("val", "long")],
        num_buckets=num_buckets,
        merge_mode=merge_mode,
    )


def _batch(spark, n, seq0, commit_salt=""):
    # commit is hash-like: useless for min/max pruning, ideal for bloom
    return spark.range(n).select(
        F.col("id").cast("string").alias("id"),
        F.sha2(F.concat(F.col("id").cast("string"), F.lit(commit_salt)), 256).alias("commit"),
        F.element_at(
            F.array(F.lit("py"), F.lit("go"), F.lit("rs")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("lang"),
        (F.col("id") * 7).alias("val"),
        (F.col("id") + seq0).alias("_seq"),
        F.lit("U").alias("_op"),
        F.lit(None).cast("timestamp").alias("_ts"),
    )


def _commit_of(spark, i, salt=""):
    return spark.range(1).select(
        F.sha2(F.lit(f"{i}{salt}"), 256).alias("c")
    ).first()["c"]


def test_present_value_exact_and_fewer_files(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_apply(_batch(spark, 400, 0), stats="light")
    t.build_bloom("commit")
    c = _commit_of(spark, 123)
    plan = t.scan_plan([("commit", "=", c)])
    # the value lives in exactly one file — bloom fp rate might admit a
    # couple more, but nothing near the full file count
    assert 1 <= plan["files_read"] <= max(2, plan["files_total"] // 4)
    rows = t.read_where([("commit", "=", c)]).collect()
    assert len(rows) == 1 and rows[0]["id"] == "123"
    # parity with the unpruned read for a handful of present values
    for i in (0, 17, 399):
        ci = _commit_of(spark, i)
        got = sorted(map(tuple, t.read_where([("commit", "=", ci)]).collect()))
        want = sorted(
            map(tuple, t.read().where(F.col("commit") == ci).collect())
        )
        assert got == want and len(got) == 1


def test_absent_value_reads_zero_files(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_apply(_batch(spark, 300, 0), stats="light")
    t.build_bloom("commit")
    plan = t.scan_plan([("commit", "=", "not-a-real-sha")])
    assert plan["files_read"] == 0
    assert t.read_where([("commit", "=", "not-a-real-sha")]).count() == 0


def test_in_probe_prunes_only_if_all_absent(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_apply(_batch(spark, 200, 0), stats="light")
    t.build_bloom("commit")
    present = _commit_of(spark, 55)
    got = t.read_where([("commit", "in", [present, "ghost"])]).collect()
    assert len(got) == 1 and got[0]["id"] == "55"
    assert t.scan_plan([("commit", "in", ["g1", "g2"])])["files_read"] == 0


def test_uncovered_batch_is_read_then_covered_after_rebuild(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_apply(_batch(spark, 200, 0), stats="light")
    r1 = t.build_bloom("commit")
    # new batch: adds rows 200..299 in NEW snapshot dirs (not covered)
    t.merge_apply(_batch(spark, 300, 1000).where(F.col("id").cast("long") >= 200), stats="light")
    c_new = _commit_of(spark, 250)
    rows = t.read_where([("commit", "=", c_new)]).collect()
    assert len(rows) == 1 and rows[0]["id"] == "250"  # uncovered -> read, found
    r2 = t.build_bloom("commit")
    assert r2["dirs_built"] > 0 and r2["dirs_covered"] > r1["dirs_covered"] - r2["dirs_built"]
    assert t.scan_plan([("commit", "=", "ghost")])["files_read"] == 0
    rows = t.read_where([("commit", "=", c_new)]).collect()
    assert len(rows) == 1 and rows[0]["id"] == "250"


def test_no_false_negatives_over_every_value(spark, tmp_path):
    t = _mk(spark, tmp_path, num_buckets=4)
    t.merge_apply(_batch(spark, 120, 0), stats="light")
    t.build_bloom("commit")
    # every present value must come back through the pruned path
    all_rows = t.read().select("id", "commit").collect()
    assert len(all_rows) == 120
    for r in all_rows[::7]:
        got = t.read_where([("commit", "=", r["commit"])]).collect()
        assert [x["id"] for x in got] == [r["id"]]


def test_rename_evolution_probes_old_files(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_apply(_batch(spark, 100, 0), stats="light")
    t.evolve(rename={"commit": "sha"})
    t.build_bloom("sha")  # old files written under the old name
    c = _commit_of(spark, 42)
    rows = t.read_where([("sha", "=", c)]).collect()
    assert len(rows) == 1 and rows[0]["id"] == "42"
    assert t.scan_plan([("sha", "=", "ghost")])["files_read"] == 0


def test_mor_bucket_level_pruning_sound(spark, tmp_path):
    t = _mk(spark, tmp_path, name="mor", merge_mode="mor")
    t.merge_apply(_batch(spark, 200, 0), stats="light")
    t.merge_apply(  # delta layer: rewrite commits of ids 0..49
        _batch(spark, 50, 1000, commit_salt="v2"), stats="light"
    )
    t.build_bloom("commit")
    # old commit of id 7 was superseded by the delta: physical row still
    # present -> bloom says may-contain -> bucket read -> residual filter
    # sees the WINNER (new commit), so the old value returns nothing
    assert t.read_where([("commit", "=", _commit_of(spark, 7))]).count() == 0
    new7 = _commit_of(spark, 7, "v2")
    rows = t.read_where([("commit", "=", new7)]).collect()
    assert len(rows) == 1 and rows[0]["id"] == "7"
    plan = t.scan_plan([("commit", "=", "ghost")])
    assert plan["buckets_read"] == 0


def test_corrupt_sidecar_degrades_to_no_pruning(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_apply(_batch(spark, 100, 0), stats="light")
    t.build_bloom("commit")
    ck = t._bloom_key(t._load(), "commit")
    with open(t._bloom_path(ck), "w") as f:
        f.write("{ not json")
    plan = t.scan_plan([("commit", "=", "ghost")])
    assert plan["files_read"] == plan["files_total"]  # no pruning
    c = _commit_of(spark, 9)
    rows = t.read_where([("commit", "=", c)]).collect()
    assert len(rows) == 1 and rows[0]["id"] == "9"


def test_param_change_discards_and_rebuilds(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_apply(_batch(spark, 100, 0), stats="light")
    t.build_bloom("commit")
    r = t.build_bloom("commit", m_bits=1 << 12, k=5)
    assert r["dirs_built"] == r["dirs_covered"]  # full rebuild
    ck = t._bloom_key(t._load(), "commit")
    doc = json.loads(open(t._bloom_path(ck)).read())
    assert (doc["m"], doc["k"]) == (1 << 12, 5)
    assert t.scan_plan([("commit", "=", "ghost")])["files_read"] == 0


def test_unknown_column_raises(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError):
        t.build_bloom("nope")


def test_numeric_probe_matches_java_rendering(spark, tmp_path):
    """Probe values are cast through the column's Spark type before
    hashing: str(12345678.0) = '12345678.0' but Java renders the double
    as '1.2345678E7' — the build hashed the latter (review finding)."""
    t = TargetTable.create(
        spark, str(tmp_path / "n"),
        key_cols=["id"], columns=[("val", "double")], num_buckets=2,
    )
    batch = spark.range(50).select(
        F.col("id").cast("string").alias("id"),
        (F.col("id") * 1e6 + 12345678.0).alias("val"),
        F.col("id").alias("_seq"),
        F.lit("U").alias("_op"),
        F.lit(None).cast("timestamp").alias("_ts"),
    )
    t.merge_apply(batch, stats="light")
    t.build_bloom("val")
    rows = t.read_where([("val", "=", 12345678.0)]).collect()
    assert len(rows) == 1 and rows[0]["id"] == "0"
    rows = t.read_where([("val", "=", 3 * 1e6 + 12345678.0)]).collect()
    assert len(rows) == 1 and rows[0]["id"] == "3"
    assert t.scan_plan([("val", "=", 17.5)])["files_read"] == 0


def test_retype_invalidates_sidecar(spark, tmp_path):
    """A sidecar built under one type's string rendering must not prune
    probes against the retyped column (long '5' vs double '5.0')."""
    t = TargetTable.create(
        spark, str(tmp_path / "r"),
        key_cols=["id"], columns=[("n", "long")], num_buckets=2,
    )
    batch = spark.range(40).select(
        F.col("id").cast("string").alias("id"),
        (F.col("id") * 3).alias("n"),
        F.col("id").alias("_seq"),
        F.lit("U").alias("_op"),
        F.lit(None).cast("timestamp").alias("_ts"),
    )
    t.merge_apply(batch, stats="light")
    t.build_bloom("n")
    t.evolve(retype={"n": "double"})
    # stale sidecar ignored -> full read, correct rows
    plan = t.scan_plan([("n", "=", 9.0)])
    assert plan["files_read"] == plan["files_total"]
    rows = t.read_where([("n", "=", 9.0)]).collect()
    assert len(rows) == 1 and rows[0]["id"] == "3"
    # rebuild under the new type restores pruning with correct hashing
    t.build_bloom("n")
    rows = t.read_where([("n", "=", 9.0)]).collect()
    assert len(rows) == 1 and rows[0]["id"] == "3"
    assert t.scan_plan([("n", "=", 9.5)])["files_read"] == 0


def test_probe_positions_run_no_spark_job(spark):
    """Probe hashing evaluates over literal rows on the driver, and gives
    the positions the build's own expression gives over a typed column."""
    from data_ingestor_py_spark.plans import bloom
    from tests.conftest import spark_jobs

    pos, jobs = spark_jobs(spark, lambda: bloom.probe_positions(
        spark, [12345678.0, "1.5", None], 4096, 5, spark_type="double"
    ))
    assert jobs == 0
    want = spark.createDataFrame([(12345678.0,), (1.5,)], "v double").select(
        F.array(*bloom._positions_exprs(F.col("v"), 4096, 5))
    ).collect()
    assert sorted(pos) == sorted(list(r[0]) for r in want)
    assert bloom.probe_positions(spark, [None], 4096, 5) == []
