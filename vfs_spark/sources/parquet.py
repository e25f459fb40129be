"""Parquet sources/sinks.

The reference's storage layer (append-only framed binary log +
memtable + id→offset B-tree, ``storage_manager.rs:139-217``,
``serializer.rs:25-153``) collapses to Parquet here:

- append-only log      → ``df.write.mode("append").parquet(dir)``
- memtable buffering   → the writer's own buffering / micro-batches
- id→offset index      → Parquet row-group min/max stats on ``id``
  (write sorted-by-id within partitions so pushdown prunes row
  groups — the declarative analogue of the B-tree)
- batched scan cursor  → partitioned scan; ``files.maxPartitionBytes``
  is the batch size knob.
"""

from __future__ import annotations

import fnmatch
import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vfs_spark.schema import TABLES


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# One scan-partition budget (mirrors spark.sql.files.maxPartitionBytes).
_FAN_OUT_CEILING = 128 * 1024 * 1024


def parquet_row_count(path: str) -> int | None:
    """Exact row count from Parquet FOOTERS only — no data pages are
    read, so this is metadata-cheap even for a 100 TB table (one
    ~KB-sized footer per file; on an object store, one ranged GET
    each — production catalogs cache these anyway). Used by cost
    dispatches that want store size without a scan, e.g.
    knn_batch_auto's tiny-batch/huge-N escape hatch (r12 VERDICT
    task #8). Returns None when the path has no readable parquet
    footers (empty store, remote FS without local visibility)."""
    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            files = [
                os.path.join(root, f)
                for root, _, fs in os.walk(path)
                for f in fs
                if f.endswith(".parquet")
            ]
            if not files:
                return None
            return sum(
                pq.ParquetFile(f).metadata.num_rows for f in files
            )
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:  # noqa: BLE001 — a probe, never a failure
        return None


NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
# Reader confs that change what schema inference returns for the same
# files; each is part of the schema memo key.
_INFERENCE_CONFS = (
    NANOS_AS_LONG,
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
_SCHEMA_MEMO_SIZE = 128
_schema_memo: OrderedDict = OrderedDict()
_schema_memo_lock = threading.Lock()


def file_signature(path: str, glob: str | None) -> tuple | None:
    """Sorted ``(name, size, mtime_ns)`` of every file under ``path``
    (only names matching ``glob`` when given), or None when the path is
    not on a locally visible filesystem or changes while it is listed.
    Any rewrite of the table changes a name, a size or an mtime."""
    if not os.path.exists(path):
        return None
    try:
        if os.path.isfile(path):
            st = os.stat(path)
            return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
        sig = []
        for root, _, files in os.walk(path):
            for f in files:
                if glob is None or fnmatch.fnmatchcase(f, glob):
                    full = os.path.join(root, f)
                    st = os.stat(full)
                    sig.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    except OSError:  # a file vanished mid-listing
        return None
    return tuple(sorted(sig))


def parquet_schema(
    spark: SparkSession, path: str, glob: str | None = None
) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` infers, inferred once per
    process. Inference is a Spark job (a footer read on the executors);
    the memo makes every later read of unchanged files job-free. Keyed
    by the path, the glob, the ``(name, size, mtime_ns)`` of its files
    and the reader confs that change inference, so a rewritten table is
    never read with a stale schema. Paths that are not locally visible
    are inferred on every call. Raises what inference raises (e.g. an
    empty directory) and memoizes nothing then."""
    if glob is not None and not any(c in glob for c in "*?[{\\"):
        named = os.path.join(path, glob)
        if os.path.isfile(named):
            # a glob naming one file: infer from that file, which shares
            # the memo entry of a direct read of the same table
            path, glob = named, None
    sig = file_signature(path, glob)
    reader = spark.read if glob is None else spark.read.option("pathGlobFilter", glob)
    if sig is None:
        return reader.parquet(path).schema
    key = (
        os.path.abspath(path),
        glob,
        sig,
        tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS),
    )
    with _schema_memo_lock:
        if key in _schema_memo:
            _schema_memo.move_to_end(key)
            return _schema_memo[key]
    schema = reader.parquet(path).schema
    with _schema_memo_lock:
        _schema_memo[key] = schema
        while len(_schema_memo) > _SCHEMA_MEMO_SIZE:
            _schema_memo.popitem(last=False)
    return schema


def read_parquet(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """``spark.read.parquet(path)`` with the memoized schema declared,
    so building the plan runs no Spark job once the files were seen."""
    reader = spark.read if glob is None else spark.read.option("pathGlobFilter", glob)
    return reader.schema(parquet_schema(spark, path, glob)).parquet(path)


def _table_bytes(path: str) -> int:
    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(path)
            for f in files
        )
    return os.path.getsize(path)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = False
) -> DataFrame:
    """Read a fixture table.

    ``fan_out=True`` is for compute-bound consumers (shingling, UDF
    hashing, distance kernels): when the WHOLE table fits inside one
    scan-partition budget, parquet row-group layout caps scan
    parallelism (a single row group = one core no matter how many byte
    splits), so we explicitly spread the rows across all cores — a
    sub-128MB shuffle, i.e. free. Above the budget the input already
    splits and this is a no-op. Keep it OFF for filter-heavy access
    paths: repartition sits between the scan and the filter, and the
    point-lookup path (#3) relies on pushdown reaching the scan.
    """
    df = _load_raw(spark, sf_dir, name)
    if fan_out:
        try:
            small = _table_bytes(table_path(sf_dir, name)) < _FAN_OUT_CEILING
        except OSError:
            small = False
        if small:
            df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def _load_raw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Every fixture read runs with NANOS_AS_LONG on, not only events
    # (normalize_event_ts needs it): the conf is part of the schema
    # memo key, so one setting for all tables keeps an entry valid
    # across the first events read. Tables without TIMESTAMP(NANOS)
    # columns infer the same schema either way.
    spark.conf.set(NANOS_AS_LONG, "true")
    df = read_parquet(spark, table_path(sf_dir, name))
    return normalize_event_ts(df) if name == "events" else df


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to tz-aware TIMESTAMP, for the
    batch loader and the file stream alike. The fixture's on-disk ts
    encoding has changed across driver versions, so downstream
    unix_micros()/window() call sites need one type:

    - TIMESTAMP(NANOS): Spark's reader rejects it, so it is read as the
      raw int64 nanos (``NANOS_AS_LONG``) and truncated to micros with
      integer division (ns values ~1.7e18 exceed double's 2^53 exact
      range; float division would drift by a microsecond).
    - timestamp[us] (no tz) -> TIMESTAMP_NTZ: cast to TIMESTAMP. Session
      tz is UTC, so wall-clock values are unchanged.

    Reads ``df.schema`` only, so it runs no Spark job."""
    ts = df.schema["ts"].dataType
    if isinstance(ts, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view (for spark.sql)."""
    dfs = load_all(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def append_vectors(df: DataFrame, dir_path: str, sort_by_id: bool = True) -> None:
    """Append a batch of vectors (reference flush_memtable_to_disk,
    storage_manager.rs:139-162). Sorting within partitions by id keeps
    Parquet min/max stats tight so id point-lookups prune row groups —
    the role the reference's BTreeMap index plays."""
    if sort_by_id and "id" in df.columns:
        df = df.sortWithinPartitions("id")
    df.write.mode("append").parquet(dir_path)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_col: str,
    n_files: int = 8,
    row_group_bytes: int = 1 << 20,
) -> None:
    """Sort-on-write clustering: range-partition on the cluster key and
    sort within partitions before writing, with small row groups, so
    every (file, row group) covers a DISJOINT key range. A point or
    range predicate on the key then touches one file and one row group
    (Parquet min/max stats) instead of the whole store — the flat-file
    analogue of the reference's id→offset B-tree, and the single-column
    case of Z-ordering. Verified via actual Parquet footer stats in
    tests/test_storage.py::test_clustered_write_prunes_row_groups, not
    plan text."""
    (
        df.repartitionByRange(n_files, F.col(cluster_col))
        .sortWithinPartitions(cluster_col)
        .write.mode("overwrite")
        .option("parquet.block.size", row_group_bytes)
        .parquet(path)
    )


def zorder_key2(a, b, bits: int = 16):
    """Morton (Z-order) key of two non-negative integer columns: the
    low `bits` bits of each, interleaved — a pure Catalyst expression
    (bitwise shifts/ors, codegen'd). Sorting by this key clusters rows
    so that BOTH columns' value ranges stay narrow within every run of
    rows: a quad-tree-cell layout, where single-column sorting narrows
    only the leading column."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    a, b = a.cast("long"), b.cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(a, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        ).bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(b, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    bits: int = 16,
    n_files: int = 8,
    row_group_bytes: int = 1 << 20,
) -> None:
    """Z-order-on-write: range-partition + sort by the Morton key of
    (col_a, col_b), small row groups. Footer min/max stats on BOTH
    columns then prune scans filtered on EITHER — the 2-D analogue of
    `write_clustered` (which is the 1-D/leading-column case). Proven
    via Parquet stats in tests/test_storage.py."""
    zdf = df.withColumn("__z", zorder_key2(col_a, col_b, bits))
    (
        zdf.repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .option("parquet.block.size", row_group_bytes)
        .parquet(path)
    )


def row_group_prunable_fraction(path: str, col: str, lo, hi) -> float:
    """Fraction of row groups whose [min, max] stats OVERLAP [lo, hi] —
    i.e. must be read for that range predicate; everything else is
    pruned from footer stats alone. This measures the pruning a scan
    gets, engine-independently (Parquet metadata, no Spark plan)."""
    import pyarrow.parquet as pq

    overlap = total = 0
    for root, _, files in os.walk(path):
        for fname in files:
            if not fname.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, fname)).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[col]
            for rg in range(md.num_row_groups):
                stats = md.row_group(rg).column(idx).statistics
                total += 1
                if stats is None or stats.min is None:
                    overlap += 1  # no stats -> must read
                elif not (stats.max < lo or stats.min > hi):
                    overlap += 1
    return overlap / max(1, total)


def write_training_shards(
    df: DataFrame,
    path: str,
    order_col: str,
    rows_per_shard: int = 100_000,
    manifest: bool = True,
) -> dict:
    """Training-shard export — the SINK side of the corpus pipeline
    (the webdataset/Megatron loader contract): deterministic
    fixed-size shards cut from the ``order_col`` ordering, one file
    per shard named shard-NNNNN, plus a JSON manifest recording every
    shard's row count and content checksum so a loader can verify and
    resume. The ordering is the ranked-shuffle manifest's job
    (sample_shuffle_order) — this op materializes it.

    Scale shape: shard assignment is the scale-true ranged id pass
    (operators/ids.assign_dense_ids_ranged — no single-partition
    window), then one shuffle on shard_id writes each shard as one
    file (partitionBy keeps writers parallel across shards). The
    checksum is a per-shard bit_xor of row hashes — order-insensitive
    and map-side combinable, so verification never resorts the data.
    Returns the manifest dict (also written to <path>/_MANIFEST.json
    when ``manifest`` is set)."""
    import json

    from vfs_spark.operators.ids import assign_dense_ids_ranged

    clash = {"_rid", "shard_id"} & set(df.columns)
    if clash:
        raise ValueError(
            f"input columns {sorted(clash)} collide with shard-export "
            "bookkeeping columns — rename them first (a re-export of a "
            "previous shard store must drop shard_id/_rid)"
        )
    ranked = assign_dense_ids_ranged(df, order_col, id_name="_rid")
    sharded = ranked.withColumn(
        "shard_id", F.expr(f"(_rid - 1) div {int(rows_per_shard)}").cast("int")
    )
    (
        sharded.repartition("shard_id")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(path)
    )
    stats = (
        sharded.groupBy("shard_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("_rid").alias("first_rid"),
            F.max("_rid").alias("last_rid"),
            F.bit_xor(F.xxhash64(*[c for c in df.columns])).alias("checksum"),
        )
        .orderBy("shard_id")
        .collect()
    )
    man = {
        "rows_per_shard": rows_per_shard,
        "n_shards": len(stats),
        "total_rows": sum(r["n_rows"] for r in stats),
        "shards": [
            {
                "shard_id": r["shard_id"],
                "n_rows": r["n_rows"],
                "first_rid": r["first_rid"],
                "last_rid": r["last_rid"],
                "checksum": int(r["checksum"]),
            }
            for r in stats
        ],
    }
    if manifest:
        # local-filesystem write; an HDFS/S3 deploy must swap this for
        # the Hadoop FileSystem API (open() cannot address those URIs)
        with open(f"{path}/_MANIFEST.json", "w") as fh:
            json.dump(man, fh, indent=1, sort_keys=True)
    return man


def read_training_shards(
    spark: SparkSession, path: str, verify: bool = True
) -> DataFrame:
    """Load a shard export and (optionally) verify it against the
    manifest: per-shard row counts and checksums recomputed with the
    same order-insensitive aggregate; a corrupted/truncated shard
    raises before any training job consumes it."""
    import json

    df = spark.read.parquet(path)
    if verify:
        with open(f"{path}/_MANIFEST.json") as fh:
            man = json.load(fh)
        data_cols = [
            c for c in df.columns if c not in ("shard_id", "_rid")
        ]
        got = {
            r["shard_id"]: (r["n"], int(r["ck"]))
            for r in df.groupBy("shard_id")
            .agg(
                F.count("*").alias("n"),
                F.bit_xor(F.xxhash64(*data_cols)).alias("ck"),
            )
            .collect()
        }
        listed = {s["shard_id"] for s in man["shards"]}
        extra = set(got) - listed
        if extra:
            raise ValueError(
                f"shards {sorted(extra)} exist in the store but not in "
                "the manifest — stale or partially-written export"
            )
        for s in man["shards"]:
            if got.get(s["shard_id"]) != (s["n_rows"], s["checksum"]):
                raise ValueError(
                    f"shard {s['shard_id']} failed manifest verification: "
                    f"expected (rows, checksum) = "
                    f"({s['n_rows']}, {s['checksum']}), got "
                    f"{got.get(s['shard_id'])}"
                )
        total = sum(r[0] for r in got.values())
        if total != man["total_rows"]:
            raise ValueError(
                f"store holds {total} rows but manifest records "
                f"{man['total_rows']}"
            )
    return df
