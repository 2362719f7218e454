"""Persisted-store primitives: the one place that touches the Hadoop
FileSystem API and ``partitionOverwriteMode``.

The reference loads atomically through Oracle transactions (batched
INSERT/UPDATE in ``VariantProcessingBase``, PolyphenLoader2's per-sample
reload).  The engine's stores (BM25, IVF, KMV, the ingest generations,
the PolyPhen per-sample reload) replace them with one directory
protocol:

1. write the new copy to a hidden (dot-prefixed) temp dir — partition
   discovery never lists it;
2. ``swap`` it in: move the live copy (or each touched partition) aside
   to ``old``, rename the temp into place, and if that second rename
   fails put ``old`` back and raise before anything is deleted;
3. delete the folded sources last (``drop_children``), then ``old``;
4. batch appends overwrite only their own partition
   (``overwrite_partitions``).

A crash leaves one of three states: only temp dirs (the next run
overwrites them), a moved-aside ``old`` (``recover``, run at the top of
every fold, puts it back or drops it), or folded sources beside their
folded copy (each store's own merge law or watermark makes those
harmless).  Paths are Hadoop paths, so the same code runs on HDFS/S3A.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError

_MODE = "spark.sql.sources.partitionOverwriteMode"


def _fs(spark, path: str):
    """(the FileSystem serving ``path``, the Hadoop Path class)."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    return Path(path).getFileSystem(spark._jsc.hadoopConfiguration()), Path


def exists(spark, path: str) -> bool:
    fs, Path = _fs(spark, path)
    return bool(fs.exists(Path(path)))


def touch(spark, path: str) -> None:
    """Create an empty marker file at ``path`` unless something is
    already there."""
    fs, Path = _fs(spark, path)
    if not fs.exists(Path(path)):
        fs.create(Path(path), True).close()


def delete(spark, path: str) -> None:
    """Recursive delete; a missing path is a no-op."""
    fs, Path = _fs(spark, path)
    fs.delete(Path(path), True)


def files(spark, path: str) -> list[tuple[str, int, int]]:
    """(path, length, mtime) of every file under ``path``, recursively —
    a driver-side listing, no Spark job."""
    fs, Path = _fs(spark, path)
    out = []
    it = fs.listFiles(Path(path), True)
    while it.hasNext():
        st = it.next()
        out.append(
            (st.getPath().toString(), st.getLen(), st.getModificationTime())
        )
    return out


def child_ids(spark, root: str, key: str) -> list[int]:
    """Sorted integer ids of the ``<key>=<n>`` children of ``root``
    (empty when ``root`` is missing)."""
    fs, Path = _fs(spark, root)
    if not fs.exists(Path(root)):
        return []
    prefix = f"{key}="
    return sorted(
        int(st.getPath().getName()[len(prefix):])
        for st in fs.listStatus(Path(root))
        if st.getPath().getName().startswith(prefix)
    )


def overwrite_partitions(df, path: str, partition_by: list[str]) -> None:
    """Overwrite only the partitions ``df`` holds rows for (dynamic
    partition overwrite), so a redelivered batch replaces itself and
    nothing else.  The session conf is restored afterwards — left unset
    if it was unset, or every later partitioned overwrite in the session
    would silently keep stale partitions."""
    spark = df.sparkSession
    before = spark.conf.get(_MODE, None)
    spark.conf.set(_MODE, "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        if before is None:
            spark.conf.unset(_MODE)
        else:
            spark.conf.set(_MODE, before)


def _rename(fs, Path, src: str, dst: str) -> bool:
    try:
        return bool(fs.rename(Path(src), Path(dst)))
    except Py4JJavaError:  # a missing source raises instead of returning false
        return False


def recover(spark, live: str, old: str, key: str | None = None) -> None:
    """Repair a torn ``swap`` before a fold starts.

    Whole-table (``key=None``): ``old`` alone is restored to ``live``;
    ``old`` beside ``live`` is a stale copy and is deleted.
    Per-partition (``key`` given): a whole ``old`` with ``live`` missing
    is restored; otherwise every ``<key>=`` partition in ``old`` whose
    live partition is missing is renamed back (a mid-swap crash), and
    the rest of ``old`` is deleted (stale copies)."""
    fs, Path = _fs(spark, live)
    if not fs.exists(Path(old)):
        return
    if not fs.exists(Path(live)):
        if not _rename(fs, Path, old, live):
            raise IOError(f"store recovery: {old} -> {live} failed")
        return
    if key is not None:
        for st in fs.listStatus(Path(old)):
            name = st.getPath().getName()
            dest = f"{live}/{name}"
            if name.startswith(f"{key}=") and not fs.exists(Path(dest)):
                if not _rename(fs, Path, f"{old}/{name}", dest):
                    raise IOError(f"store recovery: restore {name} failed")
    fs.delete(Path(old), True)


def swap(
    spark,
    live: str,
    tmp: str,
    old: str | None = None,
    parts: list[str] | None = None,
) -> None:
    """Rename ``tmp`` into place as ``live``.

    Whole-table (``parts=None``): an existing ``live`` first moves to
    ``old`` (pass ``old=None`` only when ``live`` is a fresh name).
    Per-partition: only the named ``parts`` (``<key>=<n>`` children of
    ``tmp``) move — ``live/<p>`` to ``old/<p>``, then ``tmp/<p>`` to
    ``live/<p>`` — and every other partition of ``live`` stays where it
    is; a part missing from ``tmp`` is skipped.

    If a rename into ``live`` fails, what was moved aside is put back
    and IOError is raised before anything is deleted.  ``old`` and
    ``tmp`` are left for the caller to delete once its sources are gone
    (``recover`` treats a leftover ``old`` beside ``live`` as stale)."""
    fs, Path = _fs(spark, live)
    if parts is None:
        pairs = [(live, tmp, old)]
    else:
        # a delta-only store creates its live dir at the first fold
        fs.mkdirs(Path(live))
        fs.mkdirs(Path(old))
        pairs = [
            (f"{live}/{p}", f"{tmp}/{p}", f"{old}/{p}")
            for p in parts
            if fs.exists(Path(f"{tmp}/{p}"))
        ]
    for live_p, tmp_p, old_p in pairs:
        moved = old_p is not None and fs.exists(Path(live_p))
        if moved and not _rename(fs, Path, live_p, old_p):
            raise IOError(f"store swap: rename {live_p} -> {old_p} failed")
        if not _rename(fs, Path, tmp_p, live_p):
            # the live copy must never stay missing
            if moved:
                _rename(fs, Path, old_p, live_p)
            raise IOError(
                f"store swap: rename {tmp_p} -> {live_p} failed; "
                "nothing deleted"
            )


def drop_children(spark, root: str, ids, key: str) -> None:
    """Delete the folded ``<key>=<id>`` partitions of ``root``, then
    ``root`` itself once no ``<key>=`` child is left (an empty root
    would break readers' schema inference)."""
    fs, Path = _fs(spark, root)
    for i in ids:
        fs.delete(Path(f"{root}/{key}={i}"), True)
    if fs.exists(Path(root)) and not child_ids(spark, root, key):
        fs.delete(Path(root), True)
