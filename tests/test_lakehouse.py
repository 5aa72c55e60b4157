"""Snapshot-table semantics (SURVEY.md §2.1 S2/S3/S5): atomic commits,
snapshot isolation, append lineage, resume visibility."""

from __future__ import annotations

import os

import pytest

from relation_extraction_spark.sources.lakehouse import SnapshotTable


def test_commit_read_roundtrip(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "t")
    assert not t.exists()
    df = spark.range(10).selectExpr("id", "id * 2 as v")
    m = t.commit(df, stage="s1")
    assert m["snapshot_id"] == 0 and m["parent_id"] is None
    assert m["n_rows"] == 10 and m["files"]
    got = t.read(spark)
    assert got.count() == 10
    assert sorted(r.v for r in got.collect()) == [2 * i for i in range(10)]


def test_snapshot_isolation_readers_see_committed_only(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "t")
    t.commit(spark.range(5), stage="s1")
    # a second commit produces NEW data files; the old snapshot's files
    # remain untouched (time travel by manifest id stays possible)
    m0 = t.latest_manifest()
    t.commit(spark.range(7), stage="s2")
    m1 = t.latest_manifest()
    assert m1["snapshot_id"] == 1 and m1["parent_id"] == 0
    assert not set(m0["files"]) & set(m1["files"])
    for f in m0["files"]:
        assert os.path.exists(os.path.join(t.dir, f))
    assert t.read(spark).count() == 7
    # time travel: read the previous snapshot by id
    assert t.read(spark, snapshot_id=0).count() == 5


def test_no_partial_manifest_visible(spark, tmp_path):
    """A crash before manifest publish leaves exists() false; the next
    commit succeeds and removes the dead writer's data directory and
    temp manifest."""
    t = SnapshotTable(str(tmp_path), "t")
    # simulate a crashed writer: data files and a temp manifest exist,
    # no published manifest (killed between the temp write and the rename)
    dead = os.path.join(t.dir, "data", "snap-0-dead")
    spark.range(3).write.parquet(dead)
    os.makedirs(t.manifest_dir)
    with open(os.path.join(t.manifest_dir, ".tmp-dead.json"), "w") as fh:
        fh.write("{}")
    assert not t.exists()
    with pytest.raises(FileNotFoundError):
        t.read(spark)
    m = t.commit(spark.range(5), stage="s1")
    assert m["snapshot_id"] == 0 and t.read(spark).count() == 5
    assert not os.path.exists(dead)
    assert os.listdir(t.manifest_dir) == ["snapshot-0.json"]
    assert os.listdir(os.path.join(t.dir, "data")) == [m["files"][0].split("/")[1]]


def test_append_unions_previous(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "t")
    t.append(spark.range(3), stage="a")
    m0 = t.latest_manifest()
    t.append(spark.range(3, 5), stage="b")
    m1 = t.latest_manifest()
    assert sorted(r.id for r in t.read(spark).collect()) == [0, 1, 2, 3, 4]
    assert m1["snapshot_id"] == 1
    # fast-append: old files are reused, never rewritten
    assert set(m0["files"]) < set(m1["files"])
    assert m1["n_rows"] == 5 and m1["operation"] == "append"
