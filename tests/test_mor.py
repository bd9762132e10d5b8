"""Merge-on-read (MoR) mode: delta-layer merges, read-path resolution,
the threshold fold inside the merge, manual compaction, GC safety, and
byte-identical equality with the copy-on-write merge (plans/target.py
merge_mode='mor').

The reference engine always writes through (INSERT/UPDATE per record,
db/postgres_query_builder.py:16-45); COW vs MoR is the lake-side
generalization of that tradeoff at 10^10-event scale — the final-state
contract (per-key max-_seq winner, content sha256 invariant) is identical
in both modes, which every test here pins via snapshot_hash equality.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from data_ingestor_py_spark.plans.inspect import history_df
from data_ingestor_py_spark.plans.replay import replay, split_batches
from data_ingestor_py_spark.plans.target import TargetTable, _ref_dirs
from data_ingestor_py_spark.sources.generator import change_events
from tests.conftest import make_table
from tests.test_commit_rebase import _ids_by_bucket


def _prep(df):
    return df.withColumn("_content_sha256", F.sha2(F.col("content"), 256)).select(
        "repo", "path", "commit", "lang", "content", "_content_sha256",
        "_seq", "_op", "_ts",
    )


def _mk_events(spark, rows):
    """rows: (repo, path, seq, op, content)"""
    df = spark.createDataFrame(
        [(r, p, f"c{s}", "py", c, s, o) for (r, p, s, o, c) in rows],
        "repo string, path string, commit string, lang string, content string, "
        "_seq long, _op string",
    )
    return df.withColumn("_ts", F.timestamp_seconds(F.col("_seq")))


def _pair(spark, tmp_path, **mor_kw):
    cow = make_table(spark, tmp_path / "cow")
    mor = make_table(spark, tmp_path / "mor", merge_mode="mor", **mor_kw)
    return cow, mor


def test_mor_equals_cow_full_replay(spark, tmp_path):
    """Same event stream through both modes -> identical state hash and
    identical visible rows (inserts, updates, deletes, late events — the
    generator produces all four)."""
    cow, mor = _pair(spark, tmp_path, mor_max_deltas=0)  # no auto-compaction
    ev = change_events(spark, 4000, n_repos=30, paths_per_repo=20, seed=13)
    batches = split_batches(ev, 5)
    replay(cow, batches, prepare=lambda d, i: _prep(d))
    replay(mor, batches, prepare=lambda d, i: _prep(d))
    assert mor.snapshot_hash() == cow.snapshot_hash()
    a = sorted(map(tuple, cow.read().collect()))
    b = sorted(map(tuple, mor.read().select(*cow.read().columns).collect()))
    assert a == b
    # and the deltas really accumulated (no silent compaction)
    m = mor._load()
    assert any(e.get("deltas") for e in m["buckets"].values())


def test_mor_tombstone_blocks_late_upsert_across_layers(spark, tmp_path):
    """The late-event guard must hold when the tombstone and the zombie
    upsert live in DIFFERENT delta layers, both before and after
    compaction."""
    t = make_table(spark, tmp_path / "t", merge_mode="mor", mor_max_deltas=0)
    t.merge_apply(_prep(_mk_events(spark, [("r1", "a", 10, "D", None)])))
    t.merge_apply(_prep(_mk_events(spark, [("r1", "a", 3, "U", "zombie")])))
    assert t.read().count() == 0
    t.merge_apply(_prep(_mk_events(spark, [("r1", "a", 11, "I", "alive")])))
    assert t.read().collect()[0]["content"] == "alive"
    h = t.snapshot_hash()
    t.compact_bucket_deltas()
    assert t.snapshot_hash() == h
    assert t.read().collect()[0]["content"] == "alive"


def test_mor_redelivery_idempotent(spark, tmp_path):
    t = make_table(spark, tmp_path / "t", merge_mode="mor", mor_max_deltas=0)
    ev = change_events(spark, 800, n_repos=20, paths_per_repo=10, seed=3)
    batch = _prep(ev)
    t.merge_apply(batch)
    h1 = t.snapshot_hash()
    t.merge_apply(batch)  # re-delivered layer resolves to the same winners
    assert t.snapshot_hash() == h1


def test_mor_auto_compaction_bounds_layers(spark, tmp_path):
    """With mor_max_deltas=2, no bucket may end a merge_apply with 2 delta
    layers: the merge that would add the second folds the bucket inside its
    own commit (no separate compaction commit); state is invariant."""
    cow, mor = _pair(spark, tmp_path, mor_max_deltas=2)
    ev = change_events(spark, 3000, n_repos=20, paths_per_repo=15, seed=5)
    batches = split_batches(ev, 6)
    replay(cow, batches, prepare=lambda d, i: _prep(d))
    replay(mor, batches, prepare=lambda d, i: _prep(d))
    m = mor._load()
    assert all(len(e.get("deltas", [])) < 2 for e in m["buckets"].values())
    hist = mor.read_history()
    assert any(h["op"] == "merge_delta" and h["compacted"] for h in hist)
    assert not any(h["op"] == "compact_deltas" for h in hist)
    assert mor.snapshot_hash() == cow.snapshot_hash()


def test_mor_schema_evolution_across_layers(spark, tmp_path):
    """Delta layers written under different schema versions align on read
    (field-id add), matching the COW table fed the same evolving stream."""
    cow, mor = _pair(spark, tmp_path, mor_max_deltas=0)
    b1 = _mk_events(spark, [("r1", "a", 1, "I", "v1"), ("r2", "b", 2, "I", "v1")])
    for t in (cow, mor):
        t.merge_apply(_prep(b1))
        t.evolve(add=[("stars", "int")])
    b2 = (
        _mk_events(spark, [("r1", "a", 3, "U", "v2"), ("r3", "c", 4, "I", "v1")])
        .withColumn("stars", F.lit(7))
    )
    prep2 = lambda df: df.withColumn(  # noqa: E731
        "_content_sha256", F.sha2(F.col("content"), 256)
    ).select(
        "repo", "path", "commit", "lang", "content", "_content_sha256",
        "stars", "_seq", "_op", "_ts",
    )
    for t in (cow, mor):
        t.merge_apply(prep2(b2))
    assert mor.snapshot_hash() == cow.snapshot_hash()
    got = {
        (r["repo"], r["path"]): r["stars"] for r in mor.read().collect()
    }
    assert got == {("r1", "a"): 7, ("r2", "b"): None, ("r3", "c"): 7}
    # compaction rewrites the LAYERED buckets at the CURRENT schema
    # (untouched single-layer buckets legitimately keep their old version)
    layered = {b for b, e in mor._load()["buckets"].items() if e.get("deltas")}
    mor.compact_bucket_deltas()
    m = mor._load()
    assert layered and all(
        m["buckets"][b]["schema"] == m["current_schema"]
        and not m["buckets"][b].get("deltas")
        for b in layered
        if b in m["buckets"]
    )
    assert mor.snapshot_hash() == cow.snapshot_hash()


def test_mor_diff_versions_matches_cow(spark, tmp_path):
    """Changelog reads across delta commits equal the COW changelog for the
    same batches — including the pruning predicate, which must treat a
    bucket as changed when only its delta LIST changed."""
    cow, mor = _pair(spark, tmp_path, mor_max_deltas=0)
    ev = change_events(spark, 2000, n_repos=15, paths_per_repo=10, seed=11)
    batches = split_batches(ev, 4)
    replay(cow, batches, prepare=lambda d, i: _prep(d))
    replay(mor, batches, prepare=lambda d, i: _prep(d))
    cols = None
    for v0, v1 in [(1, 2), (2, 4), (0, 4)]:
        dc = cow.diff_versions(v0, v1)
        dm = mor.diff_versions(v0, v1)
        cols = cols or sorted(dc.columns)
        a = sorted(map(tuple, dc.select(*cols).collect()))
        b = sorted(map(tuple, dm.select(*cols).collect()))
        assert a == b, (v0, v1)


def test_mor_expire_keeps_referenced_layers(spark, tmp_path):
    """expire_snapshots must never collect a delta layer the current
    manifest still reads; after compaction the layers become collectable
    and are actually removed."""
    t = make_table(spark, tmp_path / "t", merge_mode="mor", mor_max_deltas=0)
    ev = change_events(spark, 1500, n_repos=10, paths_per_repo=10, seed=9)
    batches = split_batches(ev, 3)
    replay(t, batches, prepare=lambda d, i: _prep(d))
    h = t.snapshot_hash()
    t.expire_snapshots(keep_last=1)
    assert t.snapshot_hash() == h  # layers survived (all referenced)
    n_dirs_before = len([d for d in t.io.list_dirs(t.root) if d.startswith("snap-")])
    t.compact_bucket_deltas()
    t.expire_snapshots(keep_last=1)
    n_dirs_after = len([d for d in t.io.list_dirs(t.root) if d.startswith("snap-")])
    assert t.snapshot_hash() == h
    assert n_dirs_after < n_dirs_before  # old layers actually collected
    m = t._load()
    assert not any(e.get("deltas") for e in m["buckets"].values())


def test_mor_purge_tombstones_resolves_and_clears_deltas(spark, tmp_path):
    t = make_table(spark, tmp_path / "t", merge_mode="mor", mor_max_deltas=0)
    t.merge_apply(_prep(_mk_events(spark, [
        ("r1", "a", 1, "I", "v1"), ("r1", "b", 2, "I", "v1"),
    ])))
    t.merge_apply(_prep(_mk_events(spark, [("r1", "a", 3, "D", None)])))
    assert t.read().count() == 1
    purged = t.purge_tombstones(older_than_seq=10)
    assert purged == 1
    assert t.read().count() == 1
    m = t._load()
    # the rewritten (tombstone-bearing) bucket lost its delta layers
    assert not any(
        e.get("deltas") for b, e in m["buckets"].items()
    ) or t.read().count() == 1


def test_mor_lookup_resolves_layers(spark, tmp_path):
    t = make_table(spark, tmp_path / "t", merge_mode="mor", mor_max_deltas=0)
    t.merge_apply(_prep(_mk_events(spark, [("r1", "a", 1, "I", "old")])))
    t.merge_apply(_prep(_mk_events(spark, [("r1", "a", 5, "U", "new")])))
    rows = t.lookup([{"repo": "r1", "path": "a"}]).collect()
    assert len(rows) == 1 and rows[0]["content"] == "new"


def test_mor_merge_single_exchange(spark, tmp_path, monkeypatch):
    """The MoR merge stays one shuffle whether it only layers or also
    folds: batch rows and the folded buckets' raw layers share the winner
    pass's hash partitioning on the bucket, and the partitionBy(bkt) write
    rides it."""
    t = make_table(spark, tmp_path / "t", merge_mode="mor", mor_max_deltas=2)
    plans = []
    real = TargetTable._write_snap_dir

    def spy(self, df, *a, **kw):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(self, df, *a, **kw)

    monkeypatch.setattr(TargetTable, "_write_snap_dir", spy)
    ev = _prep(change_events(spark, 500, n_repos=10, paths_per_repo=5, seed=1))
    for _ in range(3):  # base, delta layer, fold
        t.merge_apply(ev)
    assert t._load()["history"][-1]["compacted"]
    assert len(plans) == 3
    for plan in plans:
        assert plan.count("Exchange hashpartitioning") == 1, plan


def test_mor_mode_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="merge_mode"):
        make_table(spark, tmp_path / "t", merge_mode="bogus")


# ------------------------------------------------ fold at the threshold
# A merge whose delta layer would take a bucket to mor_max_deltas rewrites
# that bucket as a new base in the same write and commit.


def _id_table(spark, tmp, **kw):
    return make_table(spark, tmp, key_cols=["id"], columns=[("val", "long")], **kw)


def _id_batch(spark, ids, seq0, dels=()):
    rows = [(i, n, seq0 + n, "D" if i in dels else "U") for n, i in enumerate(ids)]
    df = spark.createDataFrame(rows, "id string, val long, _seq long, _op string")
    return df.withColumn("_ts", F.timestamp_seconds(F.col("_seq")))


def test_mor_fold_mixed_batch(spark, tmp_path):
    """One batch folds a bucket at the threshold, layers one below it and
    starts a new one — one snapshot dir, one version, COW-equal state."""
    by_b = _ids_by_bucket(spark)
    cow = _id_table(spark, tmp_path / "cow")
    mor = _id_table(spark, tmp_path / "mor", merge_mode="mor", mor_max_deltas=2)
    batches = [
        # bases in buckets 0, 1, 2; two tombstones in bucket 0
        _id_batch(spark, by_b[0][:20] + by_b[1][:20] + by_b[2][:20], 100,
                  dels=by_b[0][:2]),
        # one delta layer in buckets 0 and 1
        _id_batch(spark, by_b[0][:10] + by_b[1][:10], 1000),
        # 0 reaches the threshold, 2 stays below it, 5 is new
        _id_batch(spark, by_b[0][5:25] + by_b[2][:10] + by_b[5][:10], 2000,
                  dels=by_b[0][20:23]),
    ]
    for b in batches:
        cow.merge_apply(b)
        mor.merge_apply(b)
    m = mor._load()
    assert m["version"] == 3
    h = m["history"][-1]
    assert (h["op"], h["buckets"], h["compacted"]) == ("merge_delta", [0, 2, 5], [0])
    bk = m["buckets"]
    rel = bk["5"]["path"].split("/")[0]
    assert rel.startswith("snap-000003-")
    assert bk["0"]["path"] == f"{rel}/bkt=0" and not bk["0"].get("deltas")
    assert [d["path"] for d in bk["2"]["deltas"]] == [f"{rel}/bkt=2"]
    assert len(bk["1"]["deltas"]) == 1 and not bk["1"]["deltas"][0]["path"].startswith(rel)
    assert "deltas" not in bk["5"]
    # the folded bucket carries its bound plus this batch's deletes
    assert bk["0"]["ts_ub"] == 2 + 3
    assert bk["5"]["ts_ub"] == 0
    assert mor.snapshot_hash() == cow.snapshot_hash()
    detail = history_df(mor).where("snapshot = 3").first()["detail"]
    assert json.loads(detail)["compacted"] == [0]


def test_mor_fold_across_evolve(spark, tmp_path):
    """Layers written under the old schema fold with a batch written under
    the new one into a base at the current schema."""
    cow = _id_table(spark, tmp_path / "cow")
    mor = _id_table(spark, tmp_path / "mor", merge_mode="mor", mor_max_deltas=2)
    ids = [str(i) for i in range(120)]
    for t in (cow, mor):
        t.merge_apply(_id_batch(spark, ids[:80], 100))
        t.merge_apply(_id_batch(spark, ids[:40], 1000, dels=ids[:5]))
        t.evolve(add=[("note", "string")])
        t.merge_apply(
            _id_batch(spark, ids[20:120], 2000).withColumn("note", F.lit("n"))
        )
    m = mor._load()
    h = m["history"][-1]
    assert h["compacted"]
    for b in h["compacted"]:
        e = m["buckets"][str(b)]
        assert e["schema"] == m["current_schema"] and not e.get("deltas")
    assert mor.snapshot_hash() == cow.snapshot_hash()
    got = {r["id"]: r["note"] for r in mor.read().collect()}
    assert got["10"] is None and got["30"] == "n" and "3" not in got


def test_mor_threshold_one_folds_every_merge(spark, tmp_path):
    cow, mor = _pair(spark, tmp_path, mor_max_deltas=1)
    ev = change_events(spark, 2000, n_repos=15, paths_per_repo=10, seed=17)
    batches = split_batches(ev, 4)
    seen = []

    def no_layers(i, t, rec):
        seen.append(i)
        assert not any(e.get("deltas") for e in t._load()["buckets"].values())

    replay(cow, batches, prepare=lambda d, i: _prep(d))
    replay(mor, batches, prepare=lambda d, i: _prep(d), on_batch_end=no_layers)
    assert seen == [0, 1, 2, 3]
    hist = mor.read_history()
    assert [h["compacted"] for h in hist[1:]] == [h["buckets"] for h in hist[1:]]
    assert mor.snapshot_hash() == cow.snapshot_hash()


def test_mor_threshold_replay_commits_one_version_per_batch(spark, tmp_path):
    cow, mor = _pair(spark, tmp_path, mor_max_deltas=2)
    ev = change_events(spark, 2500, n_repos=15, paths_per_repo=10, seed=19)
    batches = split_batches(ev, 5)
    replay(cow, batches, prepare=lambda d, i: _prep(d))
    recs = replay(mor, batches, prepare=lambda d, i: _prep(d))
    assert [r.snapshot_version for r in recs] == [1, 2, 3, 4, 5]
    hist = mor.read_history()
    assert [h["op"] for h in hist] == ["merge_delta"] * 5
    assert sum(bool(h["compacted"]) for h in hist) >= 2
    assert mor.snapshot_hash() == cow.snapshot_hash()


def test_mor_fold_commit_crash_resumes(spark, tmp_path, monkeypatch):
    """A crash after the fold's data write, before its manifest commit:
    resume through replay reaches the uninterrupted state, and the
    orphaned snapshot dir is never referenced (expiry reclaims it)."""
    ev = change_events(spark, 2000, n_repos=15, paths_per_repo=10, seed=21)
    batches = split_batches(ev, 4)
    prep = lambda d, i: _prep(d)  # noqa: E731
    ref = make_table(spark, tmp_path / "ref", merge_mode="mor", mor_max_deltas=2)
    replay(ref, batches, prepare=prep)
    t = make_table(spark, tmp_path / "t", merge_mode="mor", mor_max_deltas=2)

    writes = []
    real_write, real_commit = TargetTable._write_snap_dir, TargetTable._commit_manifest

    def spy_write(self, *a, **kw):
        out = real_write(self, *a, **kw)
        writes.append(out[0])
        return out

    crashed = []

    def crash_once(self, m):
        if not crashed and (m.get("history") or [{}])[-1].get("compacted"):
            crashed.append(writes[-1])
            raise RuntimeError("crash between the fold's write and its commit")
        return real_commit(self, m)

    monkeypatch.setattr(TargetTable, "_write_snap_dir", spy_write)
    monkeypatch.setattr(TargetTable, "_commit_manifest", crash_once)
    with pytest.raises(RuntimeError, match="crash between"):
        replay(t, batches, prepare=prep)
    orphan = crashed[0]
    assert t._load()["version"] == 2  # batches 0 and 1 committed
    monkeypatch.setattr(TargetTable, "_commit_manifest", real_commit)
    recs = replay(t, batches, prepare=prep)
    assert [r.batch_id for r in recs] == [2, 3]
    assert t.snapshot_hash() == ref.snapshot_hash()
    assert os.path.isdir(os.path.join(t.root, orphan))
    assert orphan not in _ref_dirs(t._load())
    t.expire_snapshots(keep_last=1)
    assert not os.path.exists(os.path.join(t.root, orphan))
    assert t.snapshot_hash() == ref.snapshot_hash()


def test_mor_fold_conflict_recomputes_against_winner(spark, tmp_path, monkeypatch):
    """A second writer commits between the fold's write and its CAS: the
    retry re-folds against the winner's manifest and lands on the state of
    the serial order."""
    by_b = _ids_by_bucket(spark)
    everything = [i for b in range(8) for i in by_b[b][:20]]
    layer = [i for b in range(4) for i in by_b[b][:10]]
    mine = by_b[0][:30] + by_b[1][:30]    # folds buckets 0 and 1
    theirs = by_b[1][:30] + by_b[2][:30]  # folds buckets 1 and 2 first
    t = _id_table(spark, tmp_path / "t", merge_mode="mor", mor_max_deltas=2)
    serial = _id_table(spark, tmp_path / "serial")
    for b in (_id_batch(spark, everything, 100), _id_batch(spark, layer, 1000)):
        t.merge_apply(b)
        serial.merge_apply(b)
    other = TargetTable(spark, t.root)

    writes = {"n": 0}
    fired = []
    real_write, real_commit = TargetTable._write_snap_dir, TargetTable._commit_manifest

    def counting_write(self, *a, **kw):
        writes["n"] += self is t
        return real_write(self, *a, **kw)

    def race(self, m):
        if self is t and not fired:
            fired.append(True)
            other.merge_apply(_id_batch(spark, theirs, 3000, dels=by_b[2][:3]))
        return real_commit(self, m)

    monkeypatch.setattr(TargetTable, "_write_snap_dir", counting_write)
    monkeypatch.setattr(TargetTable, "_commit_manifest", race)
    st = t.merge_apply(_id_batch(spark, mine, 5000))
    assert fired and writes["n"] == 2  # the lost fold was recomputed
    m = t._load()
    assert m["version"] == st.snapshot_version == 4
    theirs_h, mine_h = m["history"][-2:]
    assert theirs_h["compacted"] == [1, 2]
    # the winner already folded bucket 1, so the retry layers it
    assert mine_h["compacted"] == [0]
    assert len(m["buckets"]["1"]["deltas"]) == 1
    serial.merge_apply(_id_batch(spark, theirs, 3000, dels=by_b[2][:3]))
    serial.merge_apply(_id_batch(spark, mine, 5000))
    assert t.snapshot_hash() == serial.snapshot_hash()
