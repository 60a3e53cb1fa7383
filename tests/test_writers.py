"""writers.write_atomic / replace_dir staging: the temp dir and the
moved-aside old copy are hidden siblings, so no reader sees a write in
flight or the debris a killed write leaves behind."""

import os

from vertica_hadoop_integration__spark.sources import writers


def test_staging_dir_is_not_read_mid_write(spark, tmp_path, monkeypatch):
    """While batch 1 is staged but not yet renamed into place, a glob
    read and a partition-discovery read of the sink both see batch 0's
    10 rows only, and ``batch`` stays an integer column."""
    d = str(tmp_path / "d")
    writers.write_atomic(spark.range(10), f"{d}/batch=0", output_format="orc")
    seen = {}
    replace_dir = writers.replace_dir

    def read_then_replace(tmp, final_path):
        assert os.path.isdir(tmp)
        seen["glob"] = spark.read.orc(f"{d}/batch=*").count()
        by_discovery = spark.read.orc(d)
        seen["discovery"] = by_discovery.count()
        seen["batch_type"] = by_discovery.schema["batch"].dataType.typeName()
        replace_dir(tmp, final_path)

    monkeypatch.setattr(writers, "replace_dir", read_then_replace)
    writers.write_atomic(spark.range(10), f"{d}/batch=1", output_format="orc")
    assert seen == {"glob": 10, "discovery": 10, "batch_type": "integer"}
    assert spark.read.orc(d).count() == 20


def test_staging_and_aside_names_are_hidden(spark, tmp_path, monkeypatch):
    """Every rename of an overwrite (trailing ``/`` on the target
    included) moves a ``.``-prefixed sibling: the staged dir
    ``.t.inprogress-*`` and the old copy ``.t.replaced-*``. Nothing is
    left beside the target afterwards."""
    final = str(tmp_path / "t") + "/"
    writers.write_atomic(spark.range(3), final, output_format="parquet")
    moved = []
    real_replace = os.replace

    def recording_replace(src, dst):
        moved.append((os.path.basename(src), os.path.basename(dst)))
        real_replace(src, dst)

    monkeypatch.setattr(writers.os, "replace", recording_replace)
    writers.write_atomic(spark.range(5), final, output_format="parquet")
    monkeypatch.undo()
    (aside_src, aside), (staged, committed) = moved
    assert (aside_src, committed) == ("t", "t")
    assert aside.startswith(".t.replaced-")
    assert staged.startswith(".t.inprogress-")
    assert os.listdir(tmp_path) == ["t"]
    assert spark.read.parquet(final).count() == 5
