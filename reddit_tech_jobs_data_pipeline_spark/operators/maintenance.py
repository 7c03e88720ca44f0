"""Table maintenance for the parquet lake: small-file compaction and
multi-dimensional (Z-order) file layout.

At 100 TB the scan cost of a table is set less by its logical size than
by its FILE GEOMETRY: thousands of kilobyte files per partition (the
natural residue of incremental micro-batch appends, e.g. the reference's
daily loads — dags/dag.py:449) drown a scan in open/seek overhead, and
files whose min/max footer stats span the whole key domain make
stats-based skipping useless. Compaction fixes the first; Z-ordering
fixes the second for multi-column predicates (a single-column sort only
helps that column).

Both rewrite data files only — pure DataFrame jobs, no table format
required; with a transactional format (Delta/Iceberg) the same rewrites
run under OPTIMIZE.

It also owns the crash-safe swaps both rewrites and sources/sink.py's
partition rewrites use, their recovery, and read_store, the one read
that tells a table that never existed from one that cannot be read.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def hadoop_fs(spark: SparkSession, path: str):
    """The Hadoop FileSystem holding ``path``, and ``path`` as a Hadoop
    Path."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def table_file_sizes(spark: SparkSession, path: str) -> list[int]:
    """Byte sizes of the table's data files, via the JVM FileSystem API
    (works on any Hadoop-supported store, not just local disk)."""
    fs, p = hadoop_fs(spark, path)
    sizes: list[int] = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        f = it.next()
        name = f.getPath().getName()
        if not name.startswith(("_", ".")):
            sizes.append(f.getLen())
    return sizes


def _scan_bytes(df: DataFrame) -> int:
    """Bytes of a file-source read: its relation's ``sizeInBytes``, the
    sum of the file index's leaf-file lengths (``_``/``.`` names
    skipped, as in table_file_sizes). No job and a constant few py4j
    calls, where table_file_sizes walks ``listFiles`` one round trip at
    a time (~1 s for a 100-file store)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _glob_count(spark: SparkSession, pattern: str) -> int:
    """Number of paths matching a Hadoop glob: one ``globStatus`` call, a
    constant few py4j round trips and no job, where a Python walk over
    ``listStatus``/``listFiles`` pays round trips per entry and counting
    through a Spark read lists the partition dirs in a job once there
    are more than 32. Like ``spark.read.parquet``, it reads glob
    characters in the base path as a pattern."""
    fs, p = hadoop_fs(spark, pattern)
    return len(fs.globStatus(p))


def partition_dirs(spark: SparkSession, path: str) -> list[str]:
    """Names of the Hive-style partition columns (``col=value`` top-level
    subdirectories) under ``path``; empty for a flat table. Uses the JVM
    FileSystem API so it answers for any Hadoop-supported store. Layout
    guards (compact_append_store, compact_ivf_index) and
    run_store_maintenance key off this: a
    partitioned table must be rewritten WITH partitionBy or its
    directory-level pruning is silently destroyed."""
    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        return []
    cols: set[str] = set()
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isDirectory() and "=" in name and not name.startswith(("_", ".")):
            cols.add(name.split("=", 1)[0])
    return sorted(cols)


def compact(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    partition_col: str | None = None,
) -> int:
    """Rewrite ``path`` into ≈``target_bytes`` files; returns the new
    file count. Output file count = ceil(current_bytes / target): sized
    from the table's REAL bytes, not row counts, so the same call is
    right at any SF. For a partitioned table pass ``partition_col``:
    rows are hash-distributed per partition value so each partition
    compacts independently (at 100 TB you'd additionally restrict to
    recently-appended partitions — the write path below is already
    per-partition). Swap is write-to-staging + rename (_swap_dirs) —
    two metadata ops, and every crash state is recoverable BY
    recover_interrupted_swap, which runs first here so a rerun after a
    mid-swap crash self-heals instead of failing the read."""
    recover_interrupted_swap(spark, path)
    df = spark.read.parquet(path)
    current = _scan_bytes(df)
    n_out = max(1, math.ceil(current / target_bytes))
    staging = _staging_path(path)
    if partition_col is None:
        df.repartition(n_out).write.mode("overwrite").parquet(staging)
    else:
        # partition count from the col=value directory names (the
        # metadata partition discovery uses) — no job; a partitioned
        # table with zero dirs cannot occur here (compact is only called
        # on existing stores)
        n_parts = _glob_count(spark, f"{path.rstrip('/')}/{partition_col}=*")
        per_part = max(1, math.ceil(n_out / max(n_parts, 1)))
        # staging keeps the partitioned directory layout — downstream
        # partition pruning and PARTITION_COL-based rewrites
        # (purge_keys, upsert) depend on the col=value dirs existing
        df.repartition(per_part * n_parts, F.col(partition_col)).write.mode(
            "overwrite"
        ).partitionBy(partition_col).parquet(staging)
    _swap_dirs(spark, staging, path)
    # data files in the layout just written: at the root, or one
    # col=value level down; _/. names skipped, as in table_file_sizes
    level = f"{partition_col}=*/" if partition_col else ""
    return _glob_count(spark, f"{path.rstrip('/')}/{level}[^_.]*")


def _staging_path(path: str) -> str:
    """The staging sibling ``compact`` writes before swapping — a fixed
    derivation so crash recovery can find it without any state."""
    return path.rstrip("/") + "__compact_staging"


def partition_staging_path(path: str) -> str:
    """The staging sibling a partition swap (swap_partitions) moves
    into ``path`` — fixed, like _staging_path, so recovery needs no
    state."""
    return path.rstrip("/") + "__staging"


def recover_interrupted_swap(spark: SparkSession, path: str) -> bool:
    """Finish or discard what a crashed swap left beside ``path``. Every
    reader and rewriter of a store or of gold runs this first
    (read_store, compact, run_store_maintenance, purge_keys), so a crash
    anywhere in a swap is repaired by the next run instead of being read
    as a missing or half-written table. Returns True iff it restored a
    missing table from compaction staging.

    Both swaps write a complete staging sibling first; its ``_SUCCESS``
    marker (written by the staging job's commit, before any delete or
    rename) says the staged copy is whole. State table:

    ===================== =================== ============================
    staging sibling       state               rule
    ===================== =================== ============================
    ``__staging``         no ``_SUCCESS``     crashed write; ``path`` was
    (swap_partitions)                         never touched: drop staging
    ``__staging``         ``_SUCCESS``        staging wins (roll forward):
                                              move every partition still
                                              staged into ``path``, then
                                              drop staging
    ``__compact_staging`` ``path`` exists     table wins: the crash came
    (compact/_swap_dirs)                      before the delete and both
                                              hold the same rows: drop
                                              staging
    ``__compact_staging`` ``path`` missing,   the interrupted swap:
                          ``_SUCCESS``        finish the rename (True)
    ``__compact_staging`` ``path`` missing,   corruption, not a crash
                          no ``_SUCCESS``     artifact: raise IOError
    ===================== =================== ============================

    The rules are opposite because the staged rows differ. Compaction is
    row-preserving, so while the table exists it is as good as its
    staging. A partition swap stages NEW rows (a merge or purge result),
    and once one partition has moved, ``path`` is half old and half
    new; only finishing the moves makes it consistent again.
    """
    fs, dst = hadoop_fs(spark, path)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    parts = Path(partition_staging_path(path))
    if fs.exists(parts):
        if fs.exists(Path(parts, "_SUCCESS")):
            swap_partitions(spark, partition_staging_path(path), path)
        else:
            fs.delete(parts, True)
    src = Path(_staging_path(path))
    if not fs.exists(src):
        return False
    if fs.exists(dst):
        fs.delete(src, True)
        return False
    if not fs.exists(Path(src, "_SUCCESS")):
        raise IOError(
            f"recover_interrupted_swap: {path} is missing and its staging "
            f"sibling has no _SUCCESS marker — refusing to promote a "
            "partial table; inspect the staging dir by hand."
        )
    _replace_dir(fs, src, dst)
    return True


def _replace_dir(fs, src, dst) -> None:
    """Make ``dst`` the directory ``src`` is, with two metadata
    operations (delete + rename) instead of a re-read and rewrite. The
    delete must succeed first: a rename onto an existing directory would
    nest ``src`` inside it. Hadoop FileSystem API, so it holds on any
    store with directory rename (local, HDFS; object stores emulate it
    per key, but the ordering argument is unchanged)."""
    if fs.exists(dst) and not fs.delete(dst, True):
        raise IOError(f"swap: could not remove {dst.toString()}")
    if not fs.rename(src, dst):
        raise IOError(f"swap: rename {src.toString()} -> {dst.toString()} failed")


def _swap_dirs(spark: SparkSession, staging: str, path: str) -> None:
    """Promote a fully-written staging table over ``path`` (_replace_dir).
    Every crash state is recoverable: before the delete, ``path`` still
    exists and staging is a complete spare; after it, staging is complete
    and recovery is the one rename (recover_interrupted_swap)."""
    fs, src = hadoop_fs(spark, staging)
    _replace_dir(fs, src, spark._jvm.org.apache.hadoop.fs.Path(path))


def swap_partitions(spark: SparkSession, staging: str, path: str) -> None:
    """Move each ``col=value`` directory of a committed staging table
    (``partition_staging_path``) into ``path``, replacing that partition
    — the metadata sequence Spark's own dynamic partition overwrite runs
    at job commit, without writing the data a second time. Partitions
    absent from staging keep their files byte-identical; an EMPTY staged
    partition directory means "delete this partition" (purge_keys marks
    emptied partitions that way, since no row can carry them). Every
    step is idempotent and staging, with its ``_SUCCESS``, is removed
    only after the last move, so recover_interrupted_swap finishes a
    crashed swap by running this again. Ends by refreshing the session's
    cached file listing of ``path``."""
    fs, src = hadoop_fs(spark, staging)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    for st in fs.listStatus(src):
        name = st.getPath().getName()
        if not st.isDirectory() or name.startswith(("_", ".")):
            continue
        staged, target = st.getPath(), Path(path.rstrip("/") + "/" + name)
        if len(fs.listStatus(staged)) == 0:
            fs.delete(target, True)
            fs.delete(staged, True)
        else:
            _replace_dir(fs, staged, target)
    fs.delete(src, True)
    # the session's cached file listing of ``path`` names replaced files
    spark.catalog.refreshByPath(path)


def read_store(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame | None:
    """Read a persisted store or the gold table with ``schema`` (no
    inference job), after recover_interrupted_swap has repaired whatever
    a crashed swap left. A path that does not exist means the table never
    existed and gives None, without attempting a read. Any failure to
    read an existing path raises: treating it as "no table" would reset a
    store's state and append duplicates permanently, or overwrite gold
    with one batch."""
    recover_interrupted_swap(spark, path)
    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        return None
    return spark.read.schema(schema).parquet(path)


def compact_append_store(
    spark: SparkSession,
    store_path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Compact an append-only streaming store (streaming/{cms,hll,
    boilerplate}_ingest.py): those stores grow one parquet fragment per
    micro-batch FOREVER, so after N ingest days a merged read opens N
    kilobyte files — exactly the small-file geometry ``compact`` exists
    for. This is a row-preserving rewrite (no dedup, no re-aggregation):
    merged reads are groupBy-sums/unions over the same rows, and replay
    skip keys off ``batch_key`` values, so both are invariant under the
    rewrite (proved by tests/test_store_compaction.py, which checks
    merged-read equivalence AND that a replayed batch is still skipped
    after compaction). Run it only while no writer is active — the
    staging+overwrite swap would drop a concurrent append (under
    Delta/Iceberg the same rewrite runs as a transactional OPTIMIZE).

    FLAT STORES ONLY: this rewrite does not partitionBy, so running it
    on a Hive-partitioned directory (e.g. an IVF index's ``cell_id=``
    layout) would flatten it — a later partitioned append would then mix
    root-level files with ``col=`` subdirs, which Spark's partition
    discovery rejects, and directory-level pruning would be silently
    lost even without one. It refuses such paths; use compact_ivf_index
    (or ``compact(..., partition_col=...)``) for those. Returns the new
    file count."""
    parts = partition_dirs(spark, store_path)
    if parts:
        raise ValueError(
            f"compact_append_store: {store_path} is partitioned by "
            f"{parts}; a flat rewrite would destroy the col= layout. "
            "Use compact_ivf_index / compact(..., partition_col=...)."
        )
    return compact(spark, store_path, target_bytes=target_bytes)


def compact_ivf_index(
    spark: SparkSession,
    index_path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Compact the hot-cell fragments an append_ivf_index /
    append_ivfpq_index ingest loop leaves behind, PRESERVING the
    ``cell_id=`` directory layout that directory-level probe pruning
    (ivf_index_topk / ivfpq_index_topk's ``isin`` filter) depends on.
    Accepts either index root: write_ivf_index puts the cell dirs at
    ``index_path`` itself; write_ivfpq_index nests them at
    ``index_path/codes`` beside the frozen ``books``/``cents`` model
    tables (which hold no fragments and are never touched). Probe
    results are invariant — the rewrite is row-preserving and cell
    membership rides on the directory key (test_store_compaction.py
    value-checks probes before/after). Same single-writer caveat as
    compact_append_store. Returns the new data-file count."""
    if partition_dirs(spark, index_path) == ["cell_id"]:
        root = index_path
    else:
        codes = index_path.rstrip("/") + "/codes"
        if partition_dirs(spark, codes) != ["cell_id"]:
            raise ValueError(
                f"compact_ivf_index: neither {index_path} nor {codes} has a "
                "cell_id= partition layout — for flat stores use "
                "compact_append_store."
            )
        root = codes
    return compact(spark, root, target_bytes=target_bytes, partition_col="cell_id")


def run_store_maintenance(
    spark: SparkSession,
    store_path: str,
    batch_id: int,
    every_n_batches: int = 8,
    target_bytes: int = 128 * 1024 * 1024,
) -> int | None:
    """Scheduled compaction hook for streaming foreachBatch loops — the
    piece that makes every store's fragment growth BOUNDED in operation,
    not just compactable in principle: call it at the end of every
    micro-batch and it compacts the store on every
    ``every_n_batches``-th batch (cadence keyed to the engine's
    monotonic batch_id, so restarts don't reset the schedule). Between
    compactions a store holds at most ``every_n_batches`` fresh
    fragments on top of the compacted base — O(interval), not O(total
    batches ever ingested).

    The rewrite keeps the store's layout, read from its directories
    (partition_dirs): a flat store compacts flat, a store with one
    ``col=`` partition level (the SRP index's ``sig=``, IVF-PQ codes'
    ``cell_id=``) compacts per partition so directory pruning survives;
    top-level dirs of more than one column are not a layout this engine
    writes, and raise.

    Safe inside foreachBatch: the caller is the store's ONLY writer and
    its append completed before this runs (the single-writer requirement
    of compact_append_store), and the rewrite is row-preserving so
    merged reads and replay skips survive it — including a crash-replay
    of the same batch after a compaction
    (tests/test_store_compaction.py). Returns the new file count, or
    None when this batch isn't on the cadence (or the store doesn't
    exist yet)."""
    if every_n_batches <= 0 or (batch_id + 1) % every_n_batches != 0:
        return None
    # a crash between the previous compaction's delete and rename leaves
    # the store missing with staging holding the only copy — repair that
    # BEFORE the existence check, or this batch would skip maintenance
    # and the next cadence's staging write would destroy the copy
    recover_interrupted_swap(spark, store_path)
    if not os.path.exists(store_path):
        fs, p = hadoop_fs(spark, store_path)
        if not fs.exists(p):
            return None
    parts = partition_dirs(spark, store_path)
    if len(parts) > 1:
        raise ValueError(
            f"run_store_maintenance: {store_path} has top-level partition "
            f"dirs of several columns {parts}; refusing to guess its layout"
        )
    return compact(
        spark,
        store_path,
        target_bytes=target_bytes,
        partition_col=parts[0] if parts else None,
    )


def morton_code(a: Column, b: Column, bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of two non-negative ints into a
    Z-order (Morton) key — pure Catalyst bit arithmetic, codegen'd.
    Callers with non-integer columns rank them first (see
    zorder_write)."""
    code = F.lit(0).cast("long")
    for i in range(bits):
        abit = F.shiftright(a.cast("long"), i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(b.cast("long"), i).bitwiseAND(F.lit(1))
        code = (
            code.bitwiseOR(F.shiftleft(abit, 2 * i)).bitwiseOR(
                F.shiftleft(bbit, 2 * i + 1)
            )
        )
    return code


def morton_decode(z: Column, bits: int = 16) -> tuple[Column, Column]:
    """Inverse of morton_code: (a, b) back from the interleaved key —
    used to recover the bucket rectangle a file covers when debugging a
    layout (and to property-test the encoding round-trips)."""
    a = F.lit(0).cast("long")
    b = F.lit(0).cast("long")
    for i in range(bits):
        a = a.bitwiseOR(
            F.shiftleft(F.shiftright(z.cast("long"), 2 * i).bitwiseAND(F.lit(1)), i)
        )
        b = b.bitwiseOR(
            F.shiftleft(F.shiftright(z.cast("long"), 2 * i + 1).bitwiseAND(F.lit(1)), i)
        )
    return a, b


def zorder_write(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    num_files: int = 8,
    bits: int = 16,
) -> None:
    """Write ``df`` range-partitioned and sorted by the Morton key of
    (col_a, col_b): every output file then covers a small RECTANGLE of
    the 2-D key space, so parquet footer min/max stats prune files for
    predicates on EITHER column (a plain sort would prune only its lead
    column). Columns are first mapped to equi-depth integer buckets via
    the DISTRIBUTED exact rank (operators/ranking.py two-phase prefix
    sum) + ntile arithmetic — no global-sort window anywhere, so the
    whole layout job is range shuffles + narrow arithmetic at any scale.
    The row count is a scalar probe (bounded collect, same class as the
    watermark). tests/test_maintenance.py MEASURES the effect on footer
    stats rather than trusting this docstring."""
    from reddit_tech_jobs_data_pipeline_spark.operators.ranking import (
        global_row_number,
        ntile_from_rank,
    )

    n_buckets = 1 << bits
    n_rows = F.lit(df.count())
    keyed = global_row_number(
        df, [F.col(col_a), F.col(col_b)], "__ra", scale=True
    )
    keyed = global_row_number(
        keyed, [F.col(col_b), F.col(col_a)], "__rb", scale=True
    )
    za = ntile_from_rank(F.col("__ra"), n_rows, n_buckets) - 1
    zb = ntile_from_rank(F.col("__rb"), n_rows, n_buckets) - 1
    keyed = keyed.withColumn("__z", morton_code(za, zb, bits)).drop("__ra", "__rb")
    (
        keyed.repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def file_stat_coverage(path: str, col: str) -> float:
    """Mean fraction of the column's global [min, max] range that a
    single data file's footer stats span — the file-skipping figure of
    merit (1.0 = every file covers everything, stats prune nothing;
    1/num_files = perfect clustering)."""
    import pyarrow.parquet as pq

    spans: list[tuple[float, float]] = []
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(root, fn))
            idx = md.schema.names.index(col)
            lo = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
            hi = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
            spans.append((lo, hi))
    gmin = min(s[0] for s in spans)
    gmax = max(s[1] for s in spans)
    rng = (gmax - gmin) or 1
    return sum((hi - lo) / rng for lo, hi in spans) / len(spans)
