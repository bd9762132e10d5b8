"""TargetTable.lookup: bucket-pruned point reads."""
import pytest
from pyspark.sql import functions as F
from data_ingestor_py_spark.plans.target import TargetTable
from data_ingestor_py_spark.sources import change_events
from data_ingestor_py_spark.plans.replay import replay, split_batches
import os, tempfile
from tests.conftest import spark_jobs

def _mkroot():
    d = tempfile.mkdtemp(prefix="lookup-")
    os.rmdir(d)
    return d

def test_lookup_prunes_buckets_and_matches_filter(spark):
    t = TargetTable.create(
        spark, _mkroot(), key_cols=["repo", "path"],
        columns=[("lang", "string"), ("content", "string")], num_buckets=16,
    )
    ev = change_events(spark, 8000, n_repos=30, paths_per_repo=20, seed=5)
    prep = lambda df, i: df.select("repo", "path", "lang", "content", "_seq", "_op", "_ts")
    replay(t, split_batches(ev, 2), prepare=prep)

    probes = [{"repo": "repo-3", "path": "f3.py"}, {"repo": "repo-7", "path": "f11.py"}]
    got = t.lookup(probes)
    # correctness: equals the naive full-scan filter
    want = t.read().where(
        ((F.col("repo") == "repo-3") & (F.col("path") == "f3.py"))
        | ((F.col("repo") == "repo-7") & (F.col("path") == "f11.py"))
    )
    assert sorted(map(tuple, got.select("repo","path","lang").collect())) == \
           sorted(map(tuple, want.select("repo","path","lang").collect()))
    # pruning: the lookup scan touches at most 2 of 16 bucket dirs
    full_dirs = {os.path.dirname(f) for f in t.read().inputFiles()}
    probe_dirs = {os.path.dirname(f) for f in got.inputFiles()}
    assert len(probe_dirs) <= 2 < len(full_dirs)

def test_lookup_validates_probes(spark):
    t = TargetTable.create(
        spark, _mkroot(), key_cols=["repo", "path"],
        columns=[("lang", "string")], num_buckets=4,
    )
    with pytest.raises(ValueError, match="at least one"):
        t.lookup([])
    with pytest.raises(ValueError, match="bucket column"):
        t.lookup([{"repo": "r"}])  # path (bucket col) unbound
    with pytest.raises(ValueError, match="same column set"):
        t.lookup([{"repo": "a", "path": "b"}, {"repo": "a"}])
    with pytest.raises(ValueError, match="key columns"):
        t.lookup([{"repo": "a", "path": "b", "lang": "x"}])

def test_lookup_large_probe_set_semijoin(spark):
    t = TargetTable.create(
        spark, _mkroot(), key_cols=["repo", "path"],
        columns=[("lang", "string"), ("content", "string")], num_buckets=8,
    )
    ev = change_events(spark, 6000, n_repos=20, paths_per_repo=25, seed=9)
    prep = lambda df, i: df.select("repo", "path", "lang", "content", "_seq", "_op", "_ts")
    replay(t, split_batches(ev, 2), prepare=prep)
    keys = [r for r in t.read().select("repo", "path").limit(100).collect()]
    probes = [{"repo": r["repo"], "path": r["path"]} for r in keys]
    got = t.lookup(probes).select("repo", "path").collect()
    assert sorted(map(tuple, got)) == sorted({(r["repo"], r["path"]) for r in keys})


def _null_key_table(spark):
    """Rows whose keys a NULL probe must tell apart: (NULL, a) against
    ('', a), ('None', a) and (NULL, b)."""
    t = TargetTable.create(
        spark, _mkroot(), key_cols=["repo", "path"],
        columns=[("lang", "string")], num_buckets=8,
    )
    rows = [(None, "a", "n"), ("", "a", "e"), ("None", "a", "s"), (None, "b", "nb"),
            *[(f"r{i}", f"p{i}", "x") for i in range(40)]]
    t.merge_apply(spark.createDataFrame(
        [(r, p, lang, i, "U") for i, (r, p, lang) in enumerate(rows)],
        "repo string, path string, lang string, _seq long, _op string",
    ).withColumn("_ts", F.lit(None).cast("timestamp")))
    return t


@pytest.mark.parametrize("n_absent", [0, 80])
def test_null_probe_matches_only_the_null_key(spark, n_absent):
    """n_absent=0 takes the <=64-probe filter, 80 the semi-join."""
    t = _null_key_table(spark)
    probes = [{"repo": None, "path": "a"}] + [
        {"repo": f"absent{i}", "path": "a"} for i in range(n_absent)
    ]
    got = t.lookup(probes).select("repo", "path", "lang").collect()
    assert [tuple(r) for r in got] == [(None, "a", "n")]


def test_mor_lookup_with_pending_deltas_equals_filtered_read(spark):
    t = TargetTable.create(
        spark, _mkroot(), key_cols=["repo", "path"],
        columns=[("lang", "string"), ("content", "string")], num_buckets=8,
        merge_mode="mor", mor_max_deltas=0,
    )
    ev = change_events(spark, 4000, n_repos=10, paths_per_repo=20, seed=21)
    prep = lambda df, i: df.select("repo", "path", "lang", "content", "_seq", "_op", "_ts")
    replay(t, split_batches(ev, 3), prepare=prep)
    assert any(e.get("deltas") for e in t._load()["buckets"].values())
    raw = t.read_raw().select("repo", "path", "_op").orderBy("repo", "path").collect()
    # live keys plus deleted ones (tombstones in the layers must stay hidden)
    picked = [r for r in raw if r["_op"] != "D"][:6] + [r for r in raw if r["_op"] == "D"][:2]
    probes = [{"repo": r["repo"], "path": r["path"]} for r in picked]
    cond = F.lit(False)
    for p in probes:
        cond = cond | ((F.col("repo") == p["repo"]) & (F.col("path") == p["path"]))
    got = sorted(map(tuple, t.lookup(probes).collect()))
    assert got == sorted(map(tuple, t.read().where(cond).collect()))
    assert got  # the probes hit live keys, so the check compares rows


def test_lookup_routed_to_empty_buckets_returns_empty(spark):
    from data_ingestor_py_spark.plans.target import _bucket_expr

    t = TargetTable.create(
        spark, _mkroot(), key_cols=["repo", "path"],
        columns=[("lang", "string")], num_buckets=16,
    )
    t.merge_apply(spark.createDataFrame(
        [("r", "x", "py", 1, "U")],
        "repo string, path string, lang string, _seq long, _op string",
    ).withColumn("_ts", F.lit(None).cast("timestamp")))
    live = {int(b) for b in t._load()["buckets"]}
    cands = spark.createDataFrame(
        [(f"q{i}", "x") for i in range(64)], "repo string, path string"
    ).select("repo", "path", _bucket_expr(["repo", "path"], 16).alias("b")).collect()
    probes = [{"repo": r["repo"], "path": r["path"]} for r in cands if r["b"] not in live][:8]
    assert len(probes) == 8
    df = t.lookup(probes)
    assert df.collect() == [] and df.inputFiles() == []


def test_lookup_job_counts(spark):
    """Routing the probes starts no Spark job; collecting an 8-probe COW
    lookup takes exactly one."""
    t = _null_key_table(spark)
    probes = [{"repo": f"r{i}", "path": f"p{i}"} for i in range(7)] + [
        {"repo": None, "path": "a"}
    ]
    df, routing_jobs = spark_jobs(spark, lambda: t.lookup(probes))
    assert routing_jobs == 0
    rows, collect_jobs = spark_jobs(spark, df.collect)
    assert len(rows) == 8 and collect_jobs == 1
