"""Columnar sinks mirroring the reference's storage tuning.

The reference writes ORC with SNAPPY, 256 MiB stripes, 500k-row index
stride, row index on (sqoop_pyhive.py:53; values from the job yamls). Here
that's writer options on a single ``df.write`` — the text-staging +
Hive-MR conversion hop (sqoop_pyhive.py:28-40,67-98) collapses into the
same job.

Commit protocol for exactly-once per-partition loads: write to a temp dir,
fsync-rename into place, only then flip the ledger flag — same ordering as
the reference's extract -> convert -> cleanup -> mark-complete sequence
(sqoop_etl.py:43-46). The temp dir and the moved-aside old copy are
HIDDEN siblings (``.<name>.inprogress-<id>`` / ``.<name>.replaced-<id>``):
Spark's file listing skips names starting with ``.``, so neither a glob
read (``d/batch=*``) nor partition discovery (``d``) sees a write in
flight or a killed write's leftovers.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_columnar(
    df: DataFrame,
    path: str,
    output_format: str = "orc",
    compression: str = "snappy",
    orc_stripe_size: int = 268435456,
    orc_index_stride: int = 500000,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if output_format == "orc":
        writer = (
            writer.option("compression", compression)
            .option("orc.stripe.size", str(orc_stripe_size))
            .option("orc.row.index.stride", str(orc_index_stride))
            .option("orc.create.index", "true")
        )
        writer.orc(path)
    elif output_format == "parquet":
        writer.option("compression", compression).parquet(path)
    elif output_format == "csv":
        # the reference's text-staging shape: headerless, comma, \n
        writer.option("header", "false").csv(path)
    else:
        raise ValueError(f"unsupported output format: {output_format}")


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    output_format: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (optionally sorted) managed table — the
    co-located-join layout. Two tables bucketed the same way on their
    join key are joined with NO exchange on either side (and no sort,
    if sorted): at 100 TB that removes the single largest cost of every
    fact-fact join that repeats per run. The reference approximated this
    with its rowId round-robin PARTITION BY (sqoop_table.py:81); hash
    bucketing is content-addressed, so it also co-locates groupBy keys.

    Bucket count is fixed at write time: size it to ~(table size /
     128 MiB) at the target scale; readers get bucket-pruned scans for
    key-equality filters."""
    writer = (
        df.write.mode(mode).format(output_format).bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    num_files: int | None = None,
    output_format: str = "parquet",
    **kwargs,
) -> None:
    """Range-partitioned, sorted columnar layout for data skipping: rows
    are range-partitioned on ``sort_cols`` (one contiguous key range per
    output file) and sorted within each file, so parquet/ORC min-max
    footer stats are DISJOINT across files and tight within row groups —
    a predicate on the leading sort column prunes whole files at plan
    time and row groups at scan time. At 100 TB this is the difference
    between scanning everything and scanning the one-in-N slice a
    filter touches (the engine-side equivalent of the reference's
    Vertica projections ordered by the partition key).

    ``repartitionByRange`` samples the key distribution, so files come
    out size-balanced even on skewed keys. One shuffle, paid once at
    write time, amortized over every subsequent pruned scan."""
    cols = [F.col(c) for c in sort_cols]
    n = num_files or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
    write_columnar(ranged, path, output_format=output_format, **kwargs)


def _staging_name(final_path: str, tag: str) -> str:
    """``<parent>/.<name>.<tag>-<id>``: a sibling of ``final_path`` on the
    same filesystem (so the rename is atomic) that readers skip."""
    parent, name = os.path.split(os.path.normpath(final_path))
    return os.path.join(parent, f".{name}.{tag}-{uuid.uuid4().hex[:8]}")


def replace_dir(tmp: str, final_path: str) -> None:
    """Commit the finished directory ``tmp`` as ``final_path`` by rename.

    Local/HDFS rename is atomic at the directory level; on object stores
    swap this for a manifest commit. A reader never sees a half-written
    directory.

    Overwrite path: the previous committed directory is atomically moved
    ASIDE (never deleted in place) before the new one is renamed in — a
    crash between the two renames leaves the old data at the hidden
    ``<parent>/.<name>.replaced-<id>`` instead of permanently lost, and a
    concurrent reader that resolved the path before the swap still reads
    a complete directory. The aside copy is deleted only after the new
    directory is committed. Missing parent directories are created."""
    final_path = os.path.normpath(final_path)
    os.makedirs(os.path.dirname(final_path) or ".", exist_ok=True)
    aside = None
    if os.path.exists(final_path):
        aside = _staging_name(final_path, "replaced")
        os.replace(final_path, aside)
    try:
        os.replace(tmp, final_path)
    except BaseException:
        if aside is not None:
            os.replace(aside, final_path)  # restore the old committed data
        raise
    if aside is not None:
        shutil.rmtree(aside, ignore_errors=True)


def write_atomic(
    df: DataFrame,
    final_path: str,
    **kwargs,
) -> None:
    """Write to the hidden ``<parent>/.<name>.inprogress-<id>``, then
    :func:`replace_dir` it into place (``kwargs`` go to
    :func:`write_columnar`, ``partition_by`` included). An existing
    ``final_path`` is replaced whole, never appended to. A write that
    raises removes its staging dir, so a failed job leaves the committed
    data as it was and no debris beside it (idempotence via the ledger's
    is_complete flag); a killed one leaves only hidden debris."""
    tmp = _staging_name(final_path, "inprogress")
    try:
        write_columnar(df, tmp, **kwargs)
        replace_dir(tmp, final_path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    output_format: str = "parquet",
    mode: str = "overwrite",
    dynamic: bool = True,
) -> None:
    """Hive-style directory partitioning (``pcol=value/``) — the
    time/tenant layout for a 100 TB fact table: a predicate on the
    partition column prunes whole DIRECTORIES at plan time
    (PartitionFilters in the scan, zero I/O for untouched partitions),
    and each incremental load rewrites only the partitions it carries.

    ``dynamic=True`` (default) uses dynamic partition overwrite: an
    overwrite-mode write replaces ONLY the partitions present in
    ``df`` and leaves every other partition's data intact — the
    idempotent daily-reload primitive (static overwrite would truncate
    the whole table first). The session conf is restored afterwards.

    Partition columns should be low-cardinality (dates, tenants);
    high-cardinality keys belong in bucketing (write_bucketed) or
    range layout (write_sorted), not directories."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        if dynamic:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        (
            df.write.mode(mode)
            .partitionBy(*partition_cols)
            .format(output_format)
            .save(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def zorder_stage(df: DataFrame, cols: list[str], bits: int = 16) -> DataFrame:
    """Attach the Z-order (Morton) key ``_z`` for 2-3 numeric columns:
    each column min-max scaled to ``bits``-bit integers off a 1-row
    broadcast of the column bounds, then bit-interleaved with pure
    shift/mask Catalyst expressions (codegen-friendly, no UDF, no global
    rank window — skewed columns degrade to coarser cells, they never
    serialize the computation).  Shared by :func:`write_zorder` (the
    sink) and the oracle-checked ``layout_zorder_profile`` query (the
    same arithmetic is deterministic IEEE-double both engines)."""
    if not 2 <= len(cols) <= 3:
        raise ValueError("z-order wants 2-3 columns")
    n = len(cols)
    bounds = df.agg(
        *[F.min(c).cast("double").alias(f"_lo_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"_hi_{c}") for c in cols],
    )
    staged = df.crossJoin(F.broadcast(bounds))
    scale = float((1 << bits) - 1)

    def scaled(c: str):
        lo, hi = F.col(f"_lo_{c}"), F.col(f"_hi_{c}")
        frac = F.when(hi > lo, (F.col(c).cast("double") - lo) / (hi - lo)).otherwise(
            F.lit(0.0)
        )
        return F.floor(frac * scale).cast("long")

    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cols):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(scaled(c), i).bitwiseAND(F.lit(1)), i * n + j
                )
            )
    return staged.withColumn("_z", z).drop(
        *[f"_lo_{c}" for c in cols], *[f"_hi_{c}" for c in cols]
    )


def write_zorder(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int | None = None,
    bits: int = 16,
    output_format: str = "parquet",
    **kwargs,
) -> None:
    """Multi-dimensional data-skipping layout: rows ordered by the
    Z-order (Morton) interleave of 2-3 numeric columns, so parquet
    footer min/max stats are tight on EVERY clustered column at once —
    where ``write_sorted`` prunes on the leading column only, a
    box-filter on any clustered dimension skips most files here (the
    engine-side analogue of Delta/Iceberg OPTIMIZE ZORDER BY).

    Each column is min-max scaled to ``bits``-bit integers off a 1-row
    broadcast of the column bounds (no global rank window — skewed
    columns degrade gracefully to coarser cells, they never serialize
    the write); the interleave is a pure shift/mask Catalyst expression
    (codegen-friendly, no UDF); the final placement is one
    ``repartitionByRange`` + in-file sort on the z-value, exactly
    ``write_sorted``'s single paid-once shuffle."""
    staged = zorder_stage(df, cols, bits=bits)
    nf = num_files or df.sparkSession.sparkContext.defaultParallelism
    ranged = (
        staged.repartitionByRange(nf, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    write_columnar(ranged, path, output_format=output_format, **kwargs)


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 16,
    id_col: str = "doc_id",
    salt: str = "shuf",
    output_format: str = "parquet",
    **kwargs,
) -> None:
    """Materialize a deterministically shuffled training corpus as
    ``shard=K`` partition directories, each file internally ordered by
    the 60-bit shuffle key (operators/corpus.py::shuffle_shards).

    This is the write shape that scales: ONE exchange on the shard id
    (hash partitioning, n_shards reducers) and a per-partition local
    sort — never a global orderBy, so 100 TB / 1024 shards keeps every
    sort spillable and the permutation identical across reruns (the
    key is hash-derived; no RNG state survives in the output). A
    training loader reads ``shard=K`` directories round-robin and gets
    a uniform random document order per epoch; re-sharding with a new
    ``salt`` is a fresh epoch permutation at the cost of one rewrite.

    The write itself goes through :func:`write_atomic` — a crashed job
    leaves only a hidden ``.inprogress`` directory, a re-run replaces
    committed output atomically."""
    from ..operators.corpus import shuffle_shards

    sharded = (
        shuffle_shards(df, n_shards=n_shards, id_col=id_col, salt=salt)
        .repartition(n_shards, "shard")
        # shard leads the sort so each task writes its shard directories
        # contiguously (one open file at a time, no writer fan-out); the
        # per-shard-file order is still ascending sort_key
        .sortWithinPartitions("shard", "sort_key")
    )
    write_atomic(
        sharded,
        path,
        output_format=output_format,
        partition_by=["shard"],
        **kwargs,
    )
