"""write_training_shards: the deterministic-epoch materialization —
shard layout, within-file order, exactly-once membership, epoch
re-salt, and atomic-rewrite idempotence."""

import glob
import os

import pyarrow.parquet as pq
import pytest

from vertica_hadoop_integration__spark.sources import load_table
from vertica_hadoop_integration__spark.sources.writers import (
    write_training_shards,
)

N_SHARDS = 8


@pytest.fixture(scope="module")
def shard_dir(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("shards") / "corpus")
    d = load_table(spark, sf_dir, "documents")
    write_training_shards(d, path, n_shards=N_SHARDS)
    return path


def test_shard_layout(shard_dir):
    dirs = sorted(
        os.path.basename(p)
        for p in glob.glob(os.path.join(shard_dir, "shard=*"))
    )
    assert dirs == [f"shard={i}" for i in range(N_SHARDS)]


def test_membership_exactly_once(spark, sf_dir, shard_dir):
    d = load_table(spark, sf_dir, "documents")
    out = spark.read.parquet(shard_dir)
    assert out.count() == d.count()
    assert (
        sorted(r["doc_id"] for r in out.select("doc_id").collect())
        == sorted(r["doc_id"] for r in d.select("doc_id").collect())
    )


def test_files_internally_sorted_by_key(shard_dir):
    files = glob.glob(os.path.join(shard_dir, "shard=*", "*.parquet"))
    assert files
    checked = 0
    for f in files:
        keys = pq.read_table(f, columns=["sort_key"])["sort_key"].to_pylist()
        assert keys == sorted(keys), f"unsorted shard file {f}"
        checked += len(keys)
    assert checked > 0


def test_rewrite_identical_and_resalt_differs(spark, sf_dir, shard_dir, tmp_path):
    d = load_table(spark, sf_dir, "documents")

    def snapshot(p):
        return sorted(
            (r["doc_id"], r["shard"], r["sort_key"])
            for r in spark.read.parquet(p)
            .select("doc_id", "shard", "sort_key")
            .collect()
        )

    before = snapshot(shard_dir)
    # atomic overwrite of the SAME path reproduces the permutation
    write_training_shards(d, shard_dir, n_shards=N_SHARDS)
    assert snapshot(shard_dir) == before
    parent, name = os.path.split(shard_dir)
    assert not glob.glob(os.path.join(parent, f".{name}.inprogress-*"))
    assert not glob.glob(os.path.join(parent, f".{name}.replaced-*"))
    # a new salt is a different epoch permutation over the same docs
    other = str(tmp_path / "epoch2")
    write_training_shards(d, other, n_shards=N_SHARDS, salt="epoch2")
    after = snapshot(other)
    assert [t[0] for t in sorted(before)] == [t[0] for t in sorted(after)]
    assert before != after
