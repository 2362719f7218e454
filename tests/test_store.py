"""store.py: the crash-safe swap, its recovery, the batch listing and
the partition-overwrite write, driven on a local tmp dir.  No test here
runs a Spark job — the session only provides the Hadoop FileSystem."""

from __future__ import annotations

import os

import pytest

from variant_load_pipeline_spark import store

MODE = "spark.sql.sources.partitionOverwriteMode"


def _mk(root, *rels):
    for rel in rels:
        p = os.path.join(root, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as fh:
            fh.write(rel)


def _tree(root):
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p) as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_whole_table_recover(spark, tmp_path):
    live, old = str(tmp_path / "t"), str(tmp_path / ".t_old")
    # crash between the two renames: only old is on disk -> restored
    _mk(old, "part-0.parquet")
    store.recover(spark, live, old)
    assert _tree(live) == {"part-0.parquet": "part-0.parquet"}
    assert not os.path.exists(old)
    # crash after the swap: old beside live is stale -> deleted
    _mk(old, "stale.parquet")
    store.recover(spark, live, old)
    assert _tree(live) == {"part-0.parquet": "part-0.parquet"}
    assert not os.path.exists(old)
    # nothing torn: a no-op
    store.recover(spark, live, old)
    assert os.path.exists(live)


def test_partition_recover(spark, tmp_path):
    live, old = str(tmp_path / "lists"), str(tmp_path / ".lists_old")
    # mid-swap crash: k=1 moved out (live missing), k=2 already swapped
    # (its old copy is stale), k=3 never touched
    _mk(live, "k=2/new.parquet", "k=3/keep.parquet")
    _mk(old, "k=1/one.parquet", "k=2/old.parquet")
    store.recover(spark, live, old, "k")
    assert _tree(live) == {
        "k=1/one.parquet": "k=1/one.parquet",
        "k=2/new.parquet": "k=2/new.parquet",
        "k=3/keep.parquet": "k=3/keep.parquet",
    }
    assert not os.path.exists(old)
    # a whole old with live missing (a torn whole-store swap) -> restored
    live2, old2 = str(tmp_path / "b"), str(tmp_path / ".b_old")
    _mk(old2, "k=5/five.parquet")
    store.recover(spark, live2, old2, "k")
    assert _tree(live2) == {"k=5/five.parquet": "k=5/five.parquet"}
    assert not os.path.exists(old2)


def test_failed_second_rename_restores_live_and_deletes_nothing(
    spark, tmp_path
):
    live, old = str(tmp_path / "t"), str(tmp_path / ".t_old")
    tmp = str(tmp_path / ".t_tmp")  # never written: the rename fails
    _mk(live, "part-0.parquet")
    with pytest.raises(IOError):
        store.swap(spark, live, tmp, old)
    assert _tree(live) == {"part-0.parquet": "part-0.parquet"}
    assert not os.path.exists(old)
    assert sorted(os.listdir(tmp_path)) == ["t"]


def test_swap_whole_table_and_per_partition(spark, tmp_path):
    live, tmp, old = (str(tmp_path / n) for n in ("t", ".t_tmp", ".t_old"))
    _mk(live, "a.parquet")
    _mk(tmp, "b.parquet")
    store.swap(spark, live, tmp, old)
    assert _tree(live) == {"b.parquet": "b.parquet"}
    assert _tree(old) == {"a.parquet": "a.parquet"}
    assert not os.path.exists(tmp)

    live, tmp, old = (str(tmp_path / n) for n in ("p", ".p_tmp", ".p_old"))
    _mk(live, "k=1/a1.parquet", "k=2/a2.parquet")
    _mk(tmp, "k=1/b1.parquet", "k=3/b3.parquet", "k=4/unnamed.parquet")
    before = os.stat(os.path.join(live, "k=2", "a2.parquet")).st_ino
    # k=9 is named but absent from tmp: skipped
    store.swap(spark, live, tmp, old, ["k=1", "k=3", "k=9"])
    assert _tree(live) == {
        "k=1/b1.parquet": "k=1/b1.parquet",
        "k=2/a2.parquet": "k=2/a2.parquet",
        "k=3/b3.parquet": "k=3/b3.parquet",
    }
    # the untouched partition never moved
    assert os.stat(os.path.join(live, "k=2", "a2.parquet")).st_ino == before
    assert _tree(old) == {"k=1/a1.parquet": "k=1/a1.parquet"}
    assert _tree(tmp) == {"k=4/unnamed.parquet": "k=4/unnamed.parquet"}


def test_child_ids_and_drop_children(spark, tmp_path):
    root = str(tmp_path / "delta")
    assert store.child_ids(spark, root, "batch_id") == []
    _mk(root, "batch_id=3/x", "batch_id=10/x", "batch_id=-1/x", "_SUCCESS")
    _mk(root, "bpart=7/x")
    assert store.child_ids(spark, root, "batch_id") == [-1, 3, 10]
    # folding up to 3 keeps the uncommitted batch 10 and the root
    store.drop_children(spark, root, [-1, 3], "batch_id")
    assert store.child_ids(spark, root, "batch_id") == [10]
    # the last batch goes: the root goes with it (other names are not
    # batch partitions)
    store.drop_children(spark, root, [10], "batch_id")
    assert not os.path.exists(root)
    # an absent root is fine
    store.drop_children(spark, root, [1], "batch_id")


class _Writer:
    """Records the overwrite mode the write sees; optionally fails."""

    def __init__(self, spark, fail):
        self.spark, self.fail, self.seen = spark, fail, []

    def mode(self, m):
        self.seen.append(m)
        return self

    def partitionBy(self, *cols):
        self.seen.append(cols)
        return self

    def parquet(self, path):
        self.seen.append(self.spark.conf.get(MODE, None))
        if self.fail:
            raise RuntimeError("write failed")


class _Frame:
    def __init__(self, spark, fail):
        self.sparkSession = spark
        self.write = _Writer(spark, fail)


@pytest.mark.parametrize("before", [None, "static"])
@pytest.mark.parametrize("fail", [False, True])
def test_overwrite_partitions_restores_conf(spark, before, fail):
    if before is None:
        spark.conf.unset(MODE)
    else:
        spark.conf.set(MODE, before)
    df = _Frame(spark, fail)
    try:
        if fail:
            with pytest.raises(RuntimeError):
                store.overwrite_partitions(df, "/unused", ["batch_id"])
        else:
            store.overwrite_partitions(df, "/unused", ["batch_id"])
        assert df.write.seen == ["overwrite", ("batch_id",), "dynamic"]
        assert spark.conf.get(MODE, None) == before
    finally:
        spark.conf.unset(MODE)
