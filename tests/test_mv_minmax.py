"""MIN/MAX maintenance in the incremental MV (VERDICT r4 next-round #5):
inserts fold via greatest/least; only groups where a retraction ties-or-
beats the stored extremum are re-aggregated (targeted recompute). The
incremental state must equal a full recompute at EVERY refresh point."""

import os
import tempfile

from pyspark.sql import functions as F

from data_ingestor_py_spark.plans.mv import IncrementalAggregate
from data_ingestor_py_spark.plans.replay import replay, split_batches
from data_ingestor_py_spark.plans.target import TargetTable
from data_ingestor_py_spark.sources import change_events

DDL = ("repo string, path string, lang string, v double, "
       "_seq long, _op string, _ts timestamp")


def _mkroot(prefix="mvmm-"):
    d = tempfile.mkdtemp(prefix=prefix)
    os.rmdir(d)
    return d


def _rows(df):
    cols = sorted(df.columns)
    return sorted(
        (tuple(r) for r in df.select(*cols).collect()),
        key=lambda t: tuple((x is None, x) for x in t),
    )


def _mk(spark):
    t = TargetTable.create(
        spark, _mkroot("mvmm-src-"), key_cols=["repo", "path"],
        columns=[("lang", "string"), ("v", "double")], num_buckets=4,
    )
    mv = IncrementalAggregate.create(
        spark, _mkroot("mvmm-agg-"), t,
        group_cols=["lang"], sum_cols=[("sum_seq", "_seq")],
        min_cols=[("min_v", "v", "double")], max_cols=[("max_v", "v", "double")],
    )
    return t, mv


def _apply(spark, t, mv, rows):
    df = spark.createDataFrame(rows, DDL).withColumn("_ts", F.current_timestamp())
    t.merge_apply(df)
    mv.refresh()
    assert _rows(mv.read()) == _rows(mv.recompute())


def test_minmax_insert_update_delete_and_extremum_removal(spark):
    t, mv = _mk(spark)
    # inserts: extremes come straight from the fold's fast path
    _apply(spark, t, mv, [
        ("r1", "a", "py", 5.0, 1, "U", None),
        ("r1", "b", "py", 9.0, 2, "U", None),
        ("r2", "a", "go", 3.0, 3, "U", None),
    ])
    st = {r["lang"]: r for r in mv.read().collect()}
    assert (st["py"]["min_v"], st["py"]["max_v"]) == (5.0, 9.0)
    # insert improving the max only
    _apply(spark, t, mv, [("r3", "a", "py", 11.0, 4, "U", None)])
    st = {r["lang"]: r for r in mv.read().collect()}
    assert (st["py"]["min_v"], st["py"]["max_v"]) == (5.0, 11.0)
    # DELETE the max holder -> targeted re-aggregation of 'py' only
    _apply(spark, t, mv, [("r3", "a", None, None, 5, "D", None)])
    st = {r["lang"]: r for r in mv.read().collect()}
    assert (st["py"]["min_v"], st["py"]["max_v"]) == (5.0, 9.0)
    # UPDATE the min holder upward (retraction of old min + insert)
    _apply(spark, t, mv, [("r1", "a", "py", 7.5, 6, "U", None)])
    st = {r["lang"]: r for r in mv.read().collect()}
    assert (st["py"]["min_v"], st["py"]["max_v"]) == (7.5, 9.0)
    # group-migrating update: (r2,a) moves go -> py with a new extreme
    _apply(spark, t, mv, [("r2", "a", "py", 0.5, 7, "U", None)])
    st = {r["lang"]: r for r in mv.read().collect()}
    assert (st["py"]["min_v"], st["py"]["max_v"]) == (0.5, 9.0)
    assert "go" not in st  # group emptied
    # delete down to a single row
    _apply(spark, t, mv, [("r1", "a", None, None, 8, "D", None),
                          ("r1", "b", None, None, 9, "D", None)])
    st = {r["lang"]: r for r in mv.read().collect()}
    assert (st["py"]["n_rows"], st["py"]["min_v"], st["py"]["max_v"]) == (1, 0.5, 0.5)


def test_minmax_null_values_ignored(spark):
    t, mv = _mk(spark)
    _apply(spark, t, mv, [
        ("r1", "a", "py", None, 1, "U", None),
        ("r1", "b", "py", 4.0, 2, "U", None),
    ])
    st = {r["lang"]: r for r in mv.read().collect()}
    assert (st["py"]["n_rows"], st["py"]["min_v"], st["py"]["max_v"]) == (2, 4.0, 4.0)
    # delete the only non-null row: extremes collapse to NULL via re-agg
    _apply(spark, t, mv, [("r1", "b", None, None, 3, "D", None)])
    st = {r["lang"]: r for r in mv.read().collect()}
    assert (st["py"]["n_rows"], st["py"]["min_v"], st["py"]["max_v"]) == (1, None, None)


def test_minmax_replay_fold_equals_recompute_and_reseed(spark):
    """Generator-driven end-to-end: per-batch folds with min/max stay
    value-exact vs recompute; reseed() rebuilds the same state."""
    t = TargetTable.create(
        spark, _mkroot("mvmm-src-"), key_cols=["repo", "path"],
        columns=[("lang", "string"), ("content", "string")], num_buckets=8,
    )
    ev = change_events(spark, 4000, n_repos=12, paths_per_repo=12, seed=9)
    mv = IncrementalAggregate.create(
        spark, _mkroot("mvmm-agg-"), t,
        group_cols=["lang"], sum_cols=[("sum_seq", "_seq")],
        min_cols=[("min_seq", "_seq", "long")],
        max_cols=[("max_seq", "_seq", "long")],
    )
    prep = lambda df, i: df.select("repo", "path", "lang", "content", "_seq", "_op", "_ts")  # noqa: E731
    checked = []

    def on_end(i, table, rec):
        mv.refresh()
        checked.append(_rows(mv.read()) == _rows(mv.recompute()))

    replay(t, split_batches(ev, 4), prepare=prep, on_batch_end=on_end)
    assert len(checked) == 4 and all(checked)
    # reseed converges to the identical state
    fresh = IncrementalAggregate.create(
        spark, _mkroot("mvmm-agg2-"), t,
        group_cols=["lang"], sum_cols=[("sum_seq", "_seq")],
        min_cols=[("min_seq", "_seq", "long")],
        max_cols=[("max_seq", "_seq", "long")],
    )
    fresh.reseed()
    assert _rows(fresh.read()) == _rows(mv.read())


def _spy_read_version(monkeypatch, t):
    """Record every pinned source read (the targeted re-aggregation)."""
    calls = []
    orig = t.read_version

    def spy(version):
        calls.append(version)
        return orig(version)

    monkeypatch.setattr(t, "read_version", spy)
    return calls


def _ext(mv, lang="py"):
    r = {r["lang"]: r for r in mv.read().collect()}[lang]
    return r["min_v"], r["max_v"]


def test_dominating_or_tying_insert_skips_reaggregation(spark, monkeypatch):
    """A retraction of the extremum holder needs no source read when an
    insert of the same batch ties or beats the stored extremum: that insert
    holds the new extremum whatever the retraction took away."""
    t, mv = _mk(spark)
    _apply(spark, t, mv, [
        ("r1", "a", "py", 5.0, 1, "U", None),
        ("r1", "b", "py", 9.0, 2, "U", None),
        ("r1", "c", "py", 7.0, 3, "U", None),
    ])
    calls = _spy_read_version(monkeypatch, t)
    # MAX: delete the holder (9), insert a dominating 12
    _apply(spark, t, mv, [("r1", "b", None, None, 4, "D", None),
                          ("r2", "x", "py", 12.0, 5, "U", None)])
    assert _ext(mv) == (5.0, 12.0)
    # MIN: update the holder (5) away, insert a dominating 1
    _apply(spark, t, mv, [("r1", "a", "py", 6.0, 6, "U", None),
                          ("r2", "y", "py", 1.0, 7, "U", None)])
    assert _ext(mv) == (1.0, 12.0)
    # ties: the holders (12 and 1) move away while new rows match them
    _apply(spark, t, mv, [("r2", "x", "py", 3.0, 8, "U", None),
                          ("r3", "z", "py", 12.0, 9, "U", None),
                          ("r2", "y", "py", 2.0, 10, "U", None),
                          ("r3", "w", "py", 1.0, 11, "U", None)])
    assert _ext(mv) == (1.0, 12.0)
    assert calls == []


def test_short_insert_reaggregates_to_runner_up(spark, monkeypatch):
    t, mv = _mk(spark)
    _apply(spark, t, mv, [
        ("r1", "a", "py", 5.0, 1, "U", None),
        ("r1", "b", "py", 9.0, 2, "U", None),
        ("r1", "c", "py", 7.0, 3, "U", None),
    ])
    calls = _spy_read_version(monkeypatch, t)
    # MAX holder 9 deleted; the insert (6) falls short of it -> runner-up 7
    _apply(spark, t, mv, [("r1", "b", None, None, 4, "D", None),
                          ("r2", "x", "py", 6.0, 5, "U", None)])
    assert _ext(mv) == (5.0, 7.0)
    # MIN holder 5 deleted; the insert (8) falls short of it -> runner-up 6
    _apply(spark, t, mv, [("r1", "a", None, None, 6, "D", None),
                          ("r2", "y", "py", 8.0, 7, "U", None)])
    assert _ext(mv) == (6.0, 8.0)
    assert len(calls) == 2


def test_null_inserts_keep_reaggregation(spark, monkeypatch):
    """An insert with a NULL value decides nothing: the group is still
    re-aggregated from the pinned source."""
    t, mv = _mk(spark)
    _apply(spark, t, mv, [
        ("r1", "a", "py", 5.0, 1, "U", None),
        ("r1", "b", "py", 9.0, 2, "U", None),
    ])
    calls = _spy_read_version(monkeypatch, t)
    _apply(spark, t, mv, [("r1", "b", None, None, 3, "D", None),
                          ("r2", "x", "py", None, 4, "U", None)])
    assert _ext(mv) == (5.0, 5.0)
    assert len(calls) == 1


def test_row_transform_view_with_max(spark):
    """A row_transform view (one row per word of ``lang``) keeps the
    two-sided fold; its MAX(v) per word must equal a recompute after
    dominating, tying and short retractions."""
    t = TargetTable.create(
        spark, _mkroot("mvmm-src-"), key_cols=["repo", "path"],
        columns=[("lang", "string"), ("v", "double")], num_buckets=4,
    )
    mv = IncrementalAggregate.create(
        spark, _mkroot("mvmm-agg-"), t, group_cols=["word"],
        max_cols=[("max_v", "v", "double")],
        row_transform=lambda df: df.select(
            F.explode(F.split("lang", " ")).alias("word"), "v"
        ),
    )
    batches = [
        [("r1", "a", "py go", 5.0, 1, "U", None),
         ("r1", "b", "py", 9.0, 2, "U", None),
         ("r1", "c", "go rs", 7.0, 3, "U", None)],
        # py's holder 9 moves to rs with a higher value; go's holder (7)
        # is deleted with no insert -> re-aggregates to 5
        [("r1", "b", "rs", 10.0, 4, "U", None),
         ("r1", "c", None, None, 5, "D", None)],
        # ties and a dominating insert for rs, a short one for py
        [("r1", "b", "py", 10.0, 6, "U", None),
         ("r2", "a", "rs", 10.0, 7, "U", None),
         ("r2", "b", "py go", 4.0, 8, "U", None)],
    ]
    for rows in batches:
        df = spark.createDataFrame(rows, DDL).withColumn("_ts", F.current_timestamp())
        t.merge_apply(df)
        mv.refresh()
        assert _rows(mv.read()) == _rows(mv.recompute())
    st = {r["word"]: r["max_v"] for r in mv.read().collect()}
    assert st == {"py": 10.0, "go": 5.0, "rs": 10.0}
