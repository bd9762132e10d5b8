"""The merge's discovery seam: ``merge_apply(discovery=...)`` takes a bucket
discovery computed ahead of the merge (``TargetTable._discover``) and must
land exactly where a merge that discovers for itself lands."""

import pytest
from pyspark.sql import functions as F

from data_ingestor_py_spark.plans.mv import IncrementalAggregate
from data_ingestor_py_spark.plans.target import TargetTable
from data_ingestor_py_spark.sources.generator import change_events
from tests.conftest import make_table, spark_jobs

COLS = ["repo", "path", "commit", "lang", "content", "_content_sha256", "_seq", "_op", "_ts"]


def _prep(df):
    return df.withColumn("_content_sha256", F.sha2(F.col("content"), 256)).select(*COLS)


def _halves(spark, n, seed):
    ev = _prep(change_events(spark, n, n_repos=12, paths_per_repo=12, seed=seed))
    return ev.where(F.col("_seq") % 2 == 0), ev.where(F.col("_seq") % 2 == 1)


def _entries(t):
    """Bucket id -> tombstone upper bound (paths are writer-unique)."""
    return {b: e.get("ts_ub") for b, e in t._load()["buckets"].items()}


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_precomputed_discovery_lands_like_a_plain_merge(spark, tmp_path, mode):
    first, second = _halves(spark, 600, seed=3)
    a = make_table(spark, tmp_path / "a", merge_mode=mode, mor_max_deltas=0)
    b = make_table(spark, tmp_path / "b", merge_mode=mode, mor_max_deltas=0)
    for t in (a, b):
        t.merge_apply(first, stats="light")
    st_a, plain_jobs = spark_jobs(spark, lambda: a.merge_apply(second, stats="light"))
    disc, _ = b._discover(b._load(), second)
    st_b, seam_jobs = spark_jobs(
        spark, lambda: b.merge_apply(second, stats="light", discovery=disc)
    )
    assert _entries(a) == _entries(b)
    assert a._load()["history"][-1]["rows_in"] == b._load()["history"][-1]["rows_in"]
    fields = ("rows_in", "touched_buckets", "bucket_rows", "seq_min", "seq_max")
    assert [getattr(st_a, f) for f in fields] == [getattr(st_b, f) for f in fields]
    assert a.snapshot_hash() == b.snapshot_hash()
    assert seam_jobs < plain_jobs


def test_discovery_under_a_replaced_partition_spec_is_rerun(spark, tmp_path):
    first, second = _halves(spark, 600, seed=8)
    a = make_table(spark, tmp_path / "a")
    b = make_table(spark, tmp_path / "b")
    for t in (a, b):
        t.merge_apply(first, stats="light")
    stale, _ = b._discover(b._load(), second)
    for t in (a, b):
        t.rewrite_partition_spec(4)
    a.merge_apply(second, stats="light")
    st = b.merge_apply(second, stats="light", discovery=stale)
    assert st.touched_buckets <= 4 and _entries(a) == _entries(b)
    assert a.snapshot_hash() == b.snapshot_hash()


def test_empty_discovery_returns_without_commit(spark, tmp_path):
    t = make_table(spark, tmp_path / "t")
    first, _ = _halves(spark, 200, seed=4)
    t.merge_apply(first, stats="light")
    v = t._load()["version"]
    empty = first.where(F.lit(False))
    disc, _ = t._discover(t._load(), empty)
    st, jobs = spark_jobs(
        spark, lambda: t.merge_apply(empty, stats="light", discovery=disc)
    )
    assert (st.touched_buckets, st.snapshot_version, jobs) == (0, v, 0)
    assert t._load()["version"] == v


@pytest.mark.parametrize("kw", [{"stats": "full"}, {"stats": "light", "salt_buckets": "auto"}])
def test_discovery_rejects_stats_it_does_not_carry(spark, tmp_path, kw):
    t = make_table(spark, tmp_path / "t")
    first, _ = _halves(spark, 100, seed=5)
    disc, _ = t._discover(t._load(), first)
    with pytest.raises(ValueError, match="light stats"):
        t.merge_apply(first, discovery=disc, **kw)
    assert t._load()["version"] == 0


def test_conflict_retry_reuses_the_discovery(spark, tmp_path, monkeypatch):
    """A concurrent writer commits the same buckets while the merge writes;
    the rebase cannot apply, so the merge recomputes against the winner —
    with the discovery it was handed, never running its own."""
    first, second = _halves(spark, 400, seed=6)
    t = make_table(spark, tmp_path / "t")
    other = TargetTable(spark, t.root)
    calls = {"once": []}
    orig_once, orig_write = t._merge_apply_once, t._write_snap_dir

    def once(*a):
        calls["once"].append(a[-1])
        return orig_once(*a)

    def discover(*a, **kw):
        raise AssertionError("the merge re-ran its discovery")

    def write(*a, **kw):
        if len(calls["once"]) == 1:
            other.merge_apply(first)  # the concurrent writer wins the CAS
        return orig_write(*a, **kw)

    disc, _ = t._discover(t._load(), second)
    monkeypatch.setattr(t, "_merge_apply_once", once)
    monkeypatch.setattr(t, "_discover", discover)
    monkeypatch.setattr(t, "_write_snap_dir", write)
    t.merge_apply(second, stats="light", discovery=disc)
    assert len(calls["once"]) == 2 and all(d is disc for d in calls["once"])

    ref = make_table(spark, tmp_path / "ref")
    ref.merge_apply(first)
    ref.merge_apply(second, stats="light")
    assert t.snapshot_hash() == ref.snapshot_hash()


def test_steady_state_max_view_refresh_job_count(spark, tmp_path):
    """A refresh of a COUNT/SUM/MAX(_seq) view on a tail-like COW table is
    two actions: the fold with the view's discovery, then the view write.
    Inserts carry the batch's newer _seq, so no group is re-aggregated."""
    ev = _prep(change_events(spark, 3000, n_repos=20, paths_per_repo=20, seed=7))
    t = make_table(spark, tmp_path / "src")
    mv = IncrementalAggregate.create(
        spark, str(tmp_path / "view"), t, ["lang"],
        sum_cols=[("sum_seq", "_seq")], max_cols=[("max_seq", "_seq", "long")],
    )
    jobs = []
    for i in range(3):
        t.merge_apply(ev.where(F.col("_seq") % 3 == i), stats="light")
        _, n = spark_jobs(spark, mv.refresh)
        jobs.append(n)
    assert jobs[-1] <= 10, jobs
    got = sorted(map(tuple, mv.read().collect()))
    assert got == sorted(map(tuple, mv.recompute().select(*mv.read().columns).collect()))


def test_empty_table_read_runs_no_job_and_keeps_schema(spark, tmp_path):
    t = make_table(spark, tmp_path / "t", columns=[("lang", "string"), ("n", "bigint"),
                                                   ("tags", "array<string>")])
    df, _ = spark_jobs(spark, t.read)
    rows, jobs = spark_jobs(spark, df.collect)
    assert rows == [] and jobs == 0
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("repo", "string"), ("path", "string"), ("lang", "string"), ("n", "bigint"),
        ("tags", "array<string>"), ("_seq", "bigint"), ("_op", "string"),
        ("_ts", "timestamp"),
    ]
