"""Set-based upsert (MERGE emulation) for plain-parquet targets.

The reference upserts one row at a time: PUT, then POST when the PUT
fails with HTTP 400 (``connectors/hrflow/__init__.py:89-101``,
``connectors/hrflow/actions.py:37-67``) — 1-2 HTTP calls *per row*.
The set-based replacement is MERGE semantics (whenMatched update,
whenNotMatched insert) executed as one distributed plan.

On Delta/Iceberg this is literally ``MERGE INTO``; on plain parquet
(what this container has) the equivalent is the classic
anti-join + union rewrite:

    new_target = target ⟕anti source  ∪  source(last-wins per key)

which rewrites the target atomically (write temp dir, swap). At 100 TB
the rewrite must not touch unaffected data: `merge_upsert` therefore
supports a ``partition_col`` — only target partitions that actually
receive source keys are rewritten (dynamic partition overwrite), the
rest are untouched.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hrtech_etl_spark.operators.joins import last_wins_dedup

#: Upper bound on driver-collected distinct partition values in
#: `merge_upsert(partition_col=...)` — past this, the caller almost
#: certainly passed a high-cardinality column by mistake.
MAX_AFFECTED_PARTITIONS = 10_000


def merge_frames(
    target: DataFrame,
    source: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[Column] | None = None,
) -> DataFrame:
    """Pure-DataFrame MERGE. Without ``order_cols``: rows of ``target``
    whose key appears in ``source`` are replaced by the (arbitrary-
    dedup'd) source row; unmatched source rows are inserted. With
    ``order_cols``: the merge is *order-aware* — per key, the globally
    greatest row across target ∪ source wins (source wins ties), so
    out-of-order micro-batches can never regress a newer target row.
    Schemas must be union-compatible by name."""
    if order_cols is None:
        source = source.dropDuplicates(list(key_cols))
        kept = target.join(
            source.select(*key_cols), on=list(key_cols), how="left_anti"
        )
        return kept.unionByName(source.select(*target.columns))
    tagged = target.withColumn("__src", F.lit(0)).unionByName(
        source.select(*target.columns).withColumn("__src", F.lit(1))
    )
    merged = last_wins_dedup(
        tagged, list(key_cols), list(order_cols) + [F.col("__src")]
    )
    return merged.drop("__src")


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[Column] | None = None,
    partition_col: str | None = None,
) -> None:
    """Upsert ``source`` into the parquet dataset at ``target_path``.

    Without ``partition_col`` the whole target is rewritten (fine for
    dimension-sized tables; the write is staged to ``<path>.__tmp``
    then swapped so a failed job never leaves a half-written target).

    With ``partition_col`` the target must be written partitioned by
    that column; only partitions containing source keys are rewritten
    via dynamic partition overwrite — the 100 TB path: a day's upsert
    touches a day's partitions. A key's ``partition_col`` value must
    never change: the merge only reads the partitions the source
    touches, so a key moved to another partition keeps its old row
    there as well.
    """
    _recover_swap(spark, target_path.rstrip("/"))

    if not _dataset_exists(spark, target_path):
        w = source.write.mode("overwrite")
        if partition_col:
            w = w.partitionBy(partition_col)
        w.parquet(target_path)
        # An empty partitioned batch writes no partition, only
        # `_SUCCESS`: a directory no reader can infer a schema from.
        # Leave no target instead, so the next batch bootstraps again.
        # (Unpartitioned, Spark writes one schema-bearing empty file.)
        if partition_col and not _dataset_exists(spark, target_path):
            _rm(spark, target_path)
        return

    target = spark.read.parquet(target_path)

    if partition_col:
        # Driver-side partition enumeration is bounded by the number of
        # partitions the source batch touches (days, not rows) — but a
        # mis-keyed call (e.g. partition_col=primary key) would collect
        # millions of values. The limit caps what can ever reach the
        # driver, one job total: collecting MAX+1 rows proves overflow
        # without counting the full distinct set.
        rows = (
            source.select(partition_col)
            .distinct()
            .limit(MAX_AFFECTED_PARTITIONS + 1)
            .collect()
        )
        if len(rows) > MAX_AFFECTED_PARTITIONS:
            raise ValueError(
                f"merge_upsert: source touches more than "
                f"{MAX_AFFECTED_PARTITIONS} distinct '{partition_col}' "
                "partitions. Is the partition column right? For "
                "unpartitioned merges use partition_col=None "
                "(full-table rewrite)."
            )
        affected = [r[0] for r in rows]
        in_affected = F.col(partition_col).isin(affected)
        if None in affected:
            # isin never matches NULL: without this, the NULL
            # partition's existing rows would skip the merge and the
            # dynamic overwrite would replace them with the source alone
            in_affected = in_affected | F.col(partition_col).isNull()
        sub_target = target.where(in_affected)
        merged = merge_frames(sub_target, source, key_cols, order_cols)
        # Dynamic mode replaces only the partitions present in `merged`.
        # Session-scoped conf: save/restore so later mode('overwrite')
        # writes in the same session keep full-truncate semantics.
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            merged.write.mode("overwrite").partitionBy(partition_col).parquet(
                target_path
            )
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
            else:
                spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        return

    merged = merge_frames(target, source, key_cols, order_cols)
    tmp = target_path.rstrip("/") + ".__tmp"
    merged.write.mode("overwrite").parquet(tmp)
    # Swap with directory renames (no second Spark job onto the live
    # target): a crash leaves either the live target or `.__old`
    # (restored by the recovery check above on the next call), never a
    # half-written directory. All FS ops go through the Hadoop
    # FileSystem API, so the swap works identically on file://, HDFS,
    # or any other Hadoop-supported scheme — NOT just the driver's
    # local disk. (Caveat: object stores without atomic directory
    # rename, e.g. raw S3A, copy per object during rename — prefer a
    # table format with a transactional commit there.)
    _swap_in(spark, tmp, target_path.rstrip("/"))


def _recover_swap(spark: SparkSession, target: str) -> None:
    """Undo an interrupted :func:`_swap_in`: a crash between its two
    renames leaves the data in ``.__old`` with no live target —
    restore it BEFORE any exists-check, or the caller would take its
    bootstrap branch and silently orphan the table. Shared by
    ``merge_upsert`` and the streaming SCD2 sink."""
    old = target + ".__old"
    if not _dataset_exists(spark, target) and _dataset_exists(spark, old):
        _rename(spark, old, target)


def _swap_in(spark: SparkSession, staged: str, target: str) -> None:
    """Rename-based swap of a fully staged directory into place: live
    target → ``.__old`` → staged → target → drop ``.__old``. A crash
    leaves either the live target or ``.__old`` (restored by
    :func:`_recover_swap` on the next call), never a half-written
    table."""
    old = target + ".__old"
    _rm(spark, old)
    _rename(spark, target, old)
    _rename(spark, staged, target)
    _rm(spark, old)


def _fs_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the JVM Hadoop FS API —
    resolves the scheme (file://, hdfs://, s3a://, ...) against the
    session's Hadoop configuration, so every caller works on whatever
    filesystem the cluster actually uses."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, jpath


def _dataset_exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _fs_path(spark, path)
    if not fs.exists(jpath):
        return False
    status = fs.getFileStatus(jpath)
    if status.isFile():
        return True
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        # `_temporary`/`.staging` debris from a crashed write must NOT
        # count as data: a killed bootstrap would otherwise route the
        # replayed batch into a doomed read of a half-written table.
        # Real partition directories are `col=value` names; committed
        # writes leave part files. A bare `_SUCCESS` (an empty
        # partitioned write) holds no schema, so it is not data either.
        if st.isDirectory() and not name.startswith(("_", ".")):
            return True
        if name.endswith(".parquet"):
            return True
    return False


def _rename(spark: SparkSession, src: str, dst: str) -> None:
    fs, jsrc = _fs_path(spark, src)
    _, jdst = _fs_path(spark, dst)
    # Hadoop rename reports failure as False, not an exception
    if not fs.rename(jsrc, jdst):
        raise IOError(f"merge_upsert: rename failed: {src} -> {dst}")


def _rm(spark: SparkSession, path: str) -> None:
    fs, jpath = _fs_path(spark, path)
    if fs.exists(jpath):
        fs.delete(jpath, True)  # recursive
