"""Storage layout operators: partitioned & bucketed writes for scale reads.

At 100 TB the dominant costs are scans and shuffles; both are controlled at
WRITE time:

- ``write_partitioned``: hive-style directory partitioning (e.g. by date) —
  partition pruning turns time-range queries into reads of only the
  matching directories.
- ``write_bucketed``: pre-hash the rows by join/aggregation key into N
  buckets (persistent table). Two tables bucketed on the same key with the
  same N join with ZERO exchange on either side — the shuffle happened once
  at write time and is amortized over every subsequent join/aggregation.
  ``tests/test_storage.py`` asserts the no-Exchange plan.

Bucket-count guidance: N ≈ (table size / 256 MiB) rounded to a power of
two; all tables sharing a join key must share N (or be exact multiples,
with AQE bucket coalescing).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def drop_warehouse_dir(spark: SparkSession, table_name: str) -> None:
    """Delete a managed table's warehouse directory through the Hadoop
    FileSystem API — correct on HDFS/S3A/GCS as well as file:// (a local
    ``shutil.rmtree`` on the stripped path is a silent no-op on remote
    warehouses; same rationale as ``compact_files``' file counting)."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(warehouse + "/" + table_name)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(jpath):
        fs.delete(jpath, True)


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str],
                      mode: str = "overwrite") -> None:
    """Hive-style partitioned parquet: one directory per partition value."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (+ optionally sorted) persistent table.

    Bucketing requires ``saveAsTable`` (bucket metadata lives in the
    catalog). Sorted buckets additionally enable merge-join without an
    in-memory sort.

    INVARIANT — one file per bucket: the input is repartitioned on the
    bucket column first, so each bucket is written by exactly one task
    as one sorted file. This is what makes (a) reads cost one split per
    bucket instead of N_writers × N_buckets scattered files (~3× read
    cost, measured), and (b) the session's bucketed-scan ordering conf
    sound — with multiple files per bucket the claimed per-bucket order
    would be false and sort-merge joins could silently produce wrong
    results.
    """
    df = df.repartition(num_buckets, F.col(bucket_col))
    writer = df.write.mode(mode).bucketBy(num_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def bucketed_pair(spark: SparkSession, sf_dir: str,
                  num_buckets: int | None = None):
    """lineitem + orders persisted bucketed-by-orderkey (once per sf_dir).

    The fact-fact join shape broadcast can't save: neither side fits in
    memory at 100 TB, so the ONLY way to kill the shuffle is to have
    paid it at write time. Both tables are bucketed (and sorted) on the
    join key with the same N, so Catalyst plans the join with zero
    Exchange on either side — each task zips bucket i with bucket i.
    Returns (lineitem, orders) DataFrames reading the bucketed tables.

    ``num_buckets`` defaults to the cluster parallelism: bucket count
    is the PARALLELISM CEILING of every downstream bucketed join (one
    task per bucket, no AQE splitting), so undersizing it idles cores —
    measured at 60M rows on local[32]: 8 buckets 4.7 s, 32 buckets
    2.3 s, identical zero-Exchange plans. On a real cluster follow the
    size rule (≈ table size / 256 MiB, a multiple of total cores).

    Table names carry an (sf_dir, num_buckets) digest so different
    scale factors / layouts never collide in the session catalog; the
    write is skipped when the tables already exist (the amortization
    that makes write-time bucketing pay).
    """
    from stream_processor_spark.catalog import Tables

    li_name, o_name = bucketed_pair_names(spark, sf_dir, num_buckets)
    if num_buckets is None:
        num_buckets = max(8, spark.sparkContext.defaultParallelism)
    t = Tables(spark, sf_dir)
    for name, df, key in (
        (li_name, t.lineitem, "l_orderkey"),
        (o_name, t.orders, "o_orderkey"),
    ):
        if not spark.catalog.tableExists(name):
            # a fresh session's in-memory catalog forgets managed tables,
            # but their warehouse directories persist — clear any stale
            # location or saveAsTable aborts with LOCATION_ALREADY_EXISTS
            drop_warehouse_dir(spark, name)
            write_bucketed(df, name, key, num_buckets, sort_col=key)
    return spark.table(li_name), spark.table(o_name)


def bucketed_pair_names(
    spark: SparkSession, sf_dir: str, num_buckets: int | None = None
) -> tuple[str, str]:
    """Deterministic (lineitem, orders) bucketed-table names — pure tag
    computation for layout probes (see `postings.postings_names`)."""
    import hashlib

    if num_buckets is None:
        num_buckets = max(8, spark.sparkContext.defaultParallelism)
    tag = hashlib.md5(f"{sf_dir}|{num_buckets}".encode()).hexdigest()[:8]
    return f"b_lineitem_{tag}", f"b_orders_{tag}"


# ------------------------------------------------------------- compaction ----


def swap_tables(spark: SparkSession, published: str, staged: str) -> None:
    """Publish ``staged`` under ``published``'s catalog name.

    NOT atomic — Spark's catalog has no multi-statement transaction, so
    a concurrent reader can observe a window where ``published`` is
    absent (single-writer, quiesced-reader assumption, same as Hive
    INSERT OVERWRITE; round-7 ADVICE corrected an earlier docstring
    that over-claimed atomicity). What the protocol DOES guarantee is
    that no crash point loses data: the old table is RENAMED aside (not
    dropped) before the staged table takes the name, so every
    intermediate state still holds a complete copy and
    :func:`recover_swap` can finish or roll back the publish.

    Rename moves a managed table's warehouse directory with it, which
    is why the retired slot is cleared first. For PARTITIONED tables
    the rename moves the directory but the catalog keeps each
    partition's OLD location (measured: a renamed partitioned table
    reads 0 rows while its files sit under the new path — round 11,
    hit by `compact_ivf_lists`), so the publish ends with a partition-
    location repair."""
    retired = f"{published}__retired"
    spark.sql(f"DROP TABLE IF EXISTS {retired}")
    drop_warehouse_dir(spark, retired)
    if spark.catalog.tableExists(published):
        _rename_table(spark, published, retired)
    _rename_table(spark, staged, published)
    spark.sql(f"DROP TABLE IF EXISTS {retired}")
    drop_warehouse_dir(spark, retired)


def _rename_table(spark: SparkSession, src: str, dst: str) -> None:
    """ALTER TABLE RENAME plus, for PARTITIONED tables, an immediate
    partition-location repair. Rename moves a managed table's directory
    but the catalog keeps each partition's OLD location (measured:
    a renamed partitioned table reads 0 rows, and a later DROP of the
    renamed-aside copy deletes the NEW owner's partition directories
    through those dangling locations — round 11, hit by
    `compact_ivf_lists`). Repairing right after every rename keeps each
    table's partition metadata inside its own directory at all times,
    so reads see the data and drops can never reach across."""
    spark.sql(f"ALTER TABLE {src} RENAME TO {dst}")
    parted = any(
        str(r[0]).strip() == "# Partition Information"
        for r in spark.sql(f"DESCRIBE FORMATTED {dst}").collect()
    )
    if parted:
        spark.sql(f"MSCK REPAIR TABLE {dst} SYNC PARTITIONS")


def recover_swap(spark: SparkSession, published: str, staged: str) -> bool:
    """Heal a crash inside :func:`swap_tables`: if ``published`` is
    missing, finish the publish from the staged copy when it survived,
    else roll back to the retired copy. Returns True when the published
    name exists afterwards. Safe (and cheap — catalog probes only) to
    call before any read of a swap-maintained table."""
    retired = f"{published}__retired"
    if spark.catalog.tableExists(published):
        # A crash after 'staged -> published' but before the retired
        # drop leaves a full '__retired' copy (and its warehouse dir)
        # on disk; clean it here so the orphan can't persist until the
        # next swap of this table. If the crash fell between the
        # retired RENAME and its partition repair, the retired copy's
        # partition locations may still dangle into the published dir —
        # repair it first so the drop can only reach its own files.
        if spark.catalog.tableExists(retired):
            parted = any(
                str(r[0]).strip() == "# Partition Information"
                for r in spark.sql(
                    f"DESCRIBE FORMATTED {retired}"
                ).collect()
            )
            if parted:
                spark.sql(f"MSCK REPAIR TABLE {retired} SYNC PARTITIONS")
        spark.sql(f"DROP TABLE IF EXISTS {retired}")
        drop_warehouse_dir(spark, retired)
        return True
    if spark.catalog.tableExists(staged):
        _rename_table(spark, staged, published)
    elif spark.catalog.tableExists(retired):
        _rename_table(spark, retired, published)
    else:
        return False
    spark.sql(f"DROP TABLE IF EXISTS {retired}")
    drop_warehouse_dir(spark, retired)
    return True


def compact_files(
    spark: SparkSession,
    src_path: str,
    dest_path: str,
    sort_cols: list[str],
    rows_per_file: int,
) -> int:
    """Small-file compaction: rewrite a fragmented parquet dataset as
    ~``rows_per_file``-row files RANGE-CLUSTERED on ``sort_cols``.

    Streaming sinks and over-parallel writers leave thousands of tiny
    files; at 100 TB that multiplies scan tasks, NameNode/listing load
    and footer overhead. The rewrite both coalesces (repartitionByRange
    sizes the output) and sort-clusters (each output file covers a
    disjoint ``sort_cols`` range, so parquet min/max footer stats prune
    files for range predicates — the same effect bucketing gives equi
    keys). Returns the output file count.

    Scale notes: one count job sizes the output (swap for file-size
    statistics from the catalog at scale); the rewrite itself is one
    range shuffle. maxRecordsPerFile caps stragglers if the range
    sampling under-splits a hot key.
    """
    df = spark.read.parquet(src_path)
    n = df.count()
    num_files = max(1, -(-n // rows_per_file))
    (
        df.repartitionByRange(num_files, *[F.col(c) for c in sort_cols])
        .sortWithinPartitions(*sort_cols)
        .write.option("maxRecordsPerFile", rows_per_file)
        .mode("overwrite")
        .parquet(dest_path)
    )
    # Count output files through the Hadoop FileSystem API so the same
    # call is correct on HDFS/S3A/GCS, not just file:// (a local
    # glob('*.parquet') silently returns 0 on remote destinations —
    # round-5 ADVICE).
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(dest_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return sum(
        1
        for st in fs.listStatus(jpath)
        if st.getPath().getName().endswith(".parquet")
    )


def compact_bucketed_table(
    spark: SparkSession,
    name: str,
    bucket_col: str,
    dedup_keys: tuple[str, ...] | None = None,
    sort_col: str | None = None,
) -> int:
    """Restore the one-file-per-bucket read profile of a BUCKETED
    catalog table after LSM-style appends (round 12: the
    `compact_postings` protocol generalized so every bucketed layout —
    postings, minhash bands, minhash hash-sets — shares one staging+
    swap implementation). ``dedup_keys`` permanently heals byte-
    identical rows left by at-least-once streaming replays. The swap is
    NOT atomic (no catalog transaction): single writer, quiesced
    readers; every crash point is healed by `recover_swap`, which runs
    first. Returns the bucket count."""
    recover_swap(spark, name, f"{name}_compacting")
    num_buckets = None
    for r in spark.sql(f"DESCRIBE FORMATTED {name}").collect():
        if str(r[0]).strip().startswith("Num Buckets"):
            num_buckets = int(str(r[1]).strip())
    if num_buckets is None:
        raise ValueError(f"{name} is not a bucketed table")
    rows = spark.table(name)
    if dedup_keys:
        rows = rows.dropDuplicates(list(dedup_keys))
    tmp = f"{name}_compacting"
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    drop_warehouse_dir(spark, tmp)
    (
        rows.repartition(num_buckets, F.col(bucket_col))
        .write.bucketBy(num_buckets, bucket_col)
        .sortBy(sort_col or bucket_col)
        .format("parquet")
        .saveAsTable(tmp)
    )
    swap_tables(spark, name, tmp)
    return num_buckets


def stream_updates(
    stream: DataFrame, append: Callable[[DataFrame], object], checkpoint_dir: str
):
    """Maintain a persisted layout from a STREAM: every micro-batch is
    handed to ``append(batch_df)`` through foreachBatch, drained with
    ``availableNow`` and checkpointed at ``checkpoint_dir``; returns the
    started query. ``append`` is the layout's own ``append_*`` closed
    over its table names, e.g.
    ``lambda b: append_postings(spark, post, stats, b)``.

    Delivery contract: at-least-once. A foreachBatch retry calls
    ``append`` again with the same rows; each ``append_*`` docstring
    says how that layout heals the replay (serve-time dedup, write-time
    fingerprint skip, or compaction)."""
    return (
        stream.writeStream.foreachBatch(lambda b, _id: append(b))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------- z-order ----

_MORTON_MASKS = (
    (8, 16711935),      # 0x00FF00FF
    (4, 252645135),     # 0x0F0F0F0F
    (2, 858993459),     # 0x33333333
    (1, 1431655765),    # 0x55555555
)


def morton_sql(x: str, y: str) -> str:
    """SQL expression (valid in both Spark SQL and DuckDB) interleaving
    the low 16 bits of ``x`` and ``y`` into a 32-bit Morton (Z-order)
    key. Pure bit arithmetic — identical results in any engine."""

    def spread(col: str) -> str:
        e = f"(CAST({col} AS BIGINT) & 65535)"
        for shift, mask in _MORTON_MASKS:
            e = f"(({e} | ({e} << {shift})) & {mask})"
        return e

    return f"({spread(x)} | ({spread(y)} << 1))"


def morton_key(x_col: str, y_col: str):
    """Column form of :func:`morton_sql` for DataFrame pipelines (takes
    column NAMES — the expression is compiled from SQL text so the same
    generator serves Spark and the DuckDB oracles)."""
    return F.expr(morton_sql(x_col, y_col))


def quantile_bucket_exprs(df: DataFrame, cols: list[str], bits: int):
    """Rank-normalize each of ``cols`` to 0..2^bits-1 via quantile
    boundaries, computed for ALL columns in ONE approxQuantile pass.

    Raw-value interleaving degenerates when dimensions have very
    different bit widths (the wide dimension's high bits dominate the
    sort), so production z-ordering — Delta's OPTIMIZE ZORDER does the
    same — interleaves RANK space, not value space. Boundaries come from
    approxQuantile (exact here; raise relativeError to ~0.001 at 100 TB
    — boundary jitter only blurs rectangle edges, never correctness);
    each bucket id is a codegen-friendly sum of boundary comparisons."""
    n = 1 << bits
    probs = [i / n for i in range(1, n)]
    all_bounds = df.stat.approxQuantile(cols, probs, 0.0)
    exprs = []
    for col, bounds in zip(cols, all_bounds):
        expr = F.lit(0)
        for b in sorted(set(bounds)):
            expr = expr + F.when(F.col(col) > F.lit(b), 1).otherwise(0)
        exprs.append(expr.cast("long"))
    return exprs


def quantile_bucket_expr(df: DataFrame, col: str, bits: int):
    """Single-column convenience wrapper over quantile_bucket_exprs."""
    return quantile_bucket_exprs(df, [col], bits)[0]


def write_zordered(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    num_files: int,
    bits: int = 4,
) -> None:
    """Z-order clustered write: range-partition + sort by the Morton
    interleave of the two dimensions' QUANTILE RANKS, so EVERY file
    covers a small rectangle in (x, y) space and parquet min/max stats
    prune files for predicates on EITHER dimension — the
    multi-dimensional generalization of the single-key clustering
    `compact_files` gives, the layout trick behind Delta/Iceberg
    OPTIMIZE ZORDER, implemented directly on parquet.

    Scale notes: two approxQuantile passes size the rank grid (sampled
    at scale), then one range shuffle on the z-key; the interleave is
    whole-stage-codegen bit arithmetic (no UDF)."""
    zx, zy = quantile_bucket_exprs(df, [x_col, y_col], bits)
    keyed = df.withColumn("__zx", zx).withColumn("__zy", zy)
    (
        keyed.withColumn("__z", F.expr(morton_sql("__zx", "__zy")))
        .repartitionByRange(num_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z", "__zx", "__zy")
        .write.mode("overwrite")
        .parquet(path)
    )
