"""Data-lake readers/writers.

Re-expresses the reference's lake layout (load.go:19-21 ``DataKey``:
``DATA/<Dataset>/importdate=<date>/...``) as Spark-native partitioned
tables, and its Athena ``MSCK REPAIR`` + partition listing
(agency-delta.go:20,97-124) as catalog/partition discovery on the
DataFrame API.

Scale notes: partitioned parquet + ``importdate`` partition column means
Catalyst prunes snapshots at the metadata level -- a two-snapshot delta on a
100 TB lake touches exactly two partitions, never the full table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from abr_etl_spark.functions.event_time import normalize_event_time
from abr_etl_spark.functions.type_contract import normalize_table_types

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (columnar parquet scan; pruning/pushdown
    verified in tests/test_plans.py).

    events.ts is parquet TIMESTAMP(NANOS, isAdjustedToUTC=false); depending
    on the runtime Spark reads it as bigint nanos (legacy nanosAsLong),
    TIMESTAMP_NTZ (Spark 4.x), or TIMESTAMP. normalize_event_time
    (functions/event_time.py) is the single type contract turning any of
    those into an LTZ timestamp whose epoch treats the naive wall-clock as
    UTC -- identical to DuckDB's epoch(ts) on the same file. Confs are set
    at runtime so the engine also works under a CALLER-OWNED SparkSession
    (e.g. the verification driver) that didn't set them at build time.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # timestamp rendering (date_format etc.) must match the TZ-naive
        # oracle regardless of the caller session's zone
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # locked static conf: session.py already set it
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # runtime-proof type contract: bigint nanos / TIMESTAMP_NTZ /
        # TIMESTAMP all leave here as an LTZ timestamp with UTC epoch
        # semantics (see functions/event_time.py).
        df = normalize_event_time(df, "ts")
    # date/money contract (functions/type_contract.py): DATE-like columns
    # leave as timestamp_ntz, MONEY-like as double, whatever the runtime
    # inferred -- a no-op projection when nothing drifted.
    return normalize_table_types(df, name)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TPCH_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so operators can use spark.sql."""
    for t in TPCH_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def write_partitioned(
    df: DataFrame,
    path: str,
    *,
    partition_col: str = "importdate",
    fmt: str = "parquet",
    mode: str = "append",
    compression: str | None = None,
) -> None:
    """Write a snapshot into the lake partitioned by ``partition_col``.

    The reference gzips whole text files and names keys by hand
    (load.go:19-36); here the writer emits partition directories
    (``importdate=<date>/``) that any engine -- Spark, Athena/Trino, DuckDB
    -- discovers natively, with columnar compression instead of whole-file
    gzip. The default ``append`` mode adds ``df``'s rows to the
    partitions it carries, so writing one snapshot twice doubles it.
    ``mode="overwrite"`` runs with dynamic partitionOverwriteMode: only
    the partitions present in ``df`` are replaced, every other snapshot
    stays as it is (``run_weekly`` writes this way).
    """
    w = df.write.format(fmt).mode(mode).partitionBy(partition_col)
    if compression:
        w = w.option("compression", compression)
    w.option("partitionOverwriteMode", "dynamic").save(path)


def read_lake(spark: SparkSession, path: str) -> DataFrame:
    """Read a partitioned lake table; partition values become columns.

    ``mergeSchema`` is on: the weekly-feed evolution contract (additive
    columns only -- see ``abr_schemas.ingest_abr``) means partitions
    written before a column appeared lack it on disk; schema merge
    unions the per-file schemas (a parquet FOOTER read per file, no row
    data) so old partitions surface the new column as NULL instead of
    the read schema being whichever file listed first. Destructive
    changes (drop / retype) are rejected at ingest and merge time, so
    the union here is always well-formed."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def discover_partitions(df: DataFrame, partition_col: str = "importdate") -> list[str]:
    """Sorted distinct partition values (MSCK-equivalent listing,
    agency-delta.go:97-124). For partitioned parquet the scan prunes to
    the partition column so this is near-metadata-only, but it IS a
    Spark job (the distinct still lists/plans every file); for lakes
    where even that matters, ``discover_partitions_listing`` answers
    from the directory layout alone.
    """
    rows = df.select(partition_col).distinct().collect()
    return sorted(str(r[0]) for r in rows)


def discover_partitions_listing(
    path: str, partition_col: str = "importdate"
) -> list[str]:
    """Partition discovery from the directory layout alone -- ZERO Spark
    jobs, zero data-page reads (the r6 verdict's catalog-backed option).

    Hive-style layouts encode one directory per partition value
    (``importdate=2019-04-29/``); listing the table root IS the
    authoritative partition set -- the same metadata a catalog's MSCK
    REPAIR (agency-delta.go:20) derives its partition list from. At
    cloud scale this maps to one object-store LIST per table (or a
    catalog partitions API call), independent of data volume. Values are
    percent-decoded exactly as Spark's partition writer escapes them.
    """
    import os
    from urllib.parse import unquote

    prefix = f"{partition_col}="
    vals = [
        unquote(name[len(prefix):])
        for name in os.listdir(path)
        if name.startswith(prefix)
        and os.path.isdir(os.path.join(path, name))
    ]
    return sorted(vals)


def newest_previous(
    df_or_path: DataFrame | str, partition_col: str = "importdate"
) -> tuple[str, str]:
    """The two newest snapshot dates (agency-delta.go:118-123); raises like
    the reference's 'Not enough partitions' error when <2 exist. Accepts
    either a lake DataFrame (pruned-scan discovery) or a table-root path
    (pure directory-listing discovery)."""
    if isinstance(df_or_path, str):
        parts = discover_partitions_listing(df_or_path, partition_col)
    else:
        parts = discover_partitions(df_or_path, partition_col)
    if len(parts) < 2:
        raise ValueError("Not enough partitions to run delta")
    return parts[-1], parts[-2]


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_col: str,
    *,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet range-clustered on ``cluster_col``: rows are range-
    partitioned then sorted within each file, so every file covers a
    narrow value range and parquet min/max stats (zone maps) let any
    engine skip whole files on range predicates -- the cheap 80% of an
    index at 100 TB.
    """
    part = df.repartitionByRange(*( [n_files] if n_files else [] ), F.col(cluster_col))
    part.sortWithinPartitions(cluster_col).write.mode(mode).parquet(path)


def export_stable_csv(df: DataFrame, directory: str, filename: str) -> str:
    """Single stable-named CSV export (reference RenameDelta,
    agency-delta.go:44-72: rename Athena's <query-id>.csv to a fixed name).

    coalesce(1) is an explicit single-file contract for downstream SFTP
    consumers -- a deliberate driver-side funnel, only for small delta
    outputs, never for bulk data (bulk stays partitioned).
    """
    import glob
    import os
    import shutil

    tmp = os.path.join(directory, "_tmp_export")
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
    target = os.path.join(directory, filename)
    shutil.move(part, target)
    shutil.rmtree(tmp, ignore_errors=True)
    return target


def partition_ddl(
    table: str,
    partitions: list[str],
    *,
    partition_col: str = "importdate",
    table_root: str | None = None,
    if_not_exists: bool = True,
) -> list[str]:
    """ANSI ``ALTER TABLE ... ADD PARTITION`` statements for a discovered
    partition list -- the catalog-registration half of MSCK REPAIR
    semantics (agency-delta.go:20's Athena `MSCK`): discovery
    (``discover_partitions_listing``) finds what is ON DISK, this emits
    what an external Hive-compatible catalog must be TOLD. One statement
    per partition (not one giant multi-partition ALTER) so a partial
    failure leaves a resumable prefix; values escape embedded quotes.

    With ``table_root`` each statement pins the Hive-layout LOCATION
    explicitly (object-store tables where the catalog must not guess);
    without it the catalog derives the location from the table root.
    """
    ine = "IF NOT EXISTS " if if_not_exists else ""
    out = []
    for v in partitions:
        esc = str(v).replace("'", "''")
        loc = ""
        if table_root is not None:
            from urllib.parse import quote

            loc = (
                f" LOCATION '{table_root.rstrip('/')}/"
                f"{partition_col}={quote(str(v), safe='')}'"
            )
        out.append(
            f"ALTER TABLE {table} ADD {ine}"
            f"PARTITION ({partition_col}='{esc}'){loc}"
        )
    return out


def register_partitions(
    spark: SparkSession,
    table: str,
    path: str,
    *,
    partition_col: str = "importdate",
) -> int:
    """Discover the lake's partitions from the directory layout (zero
    Spark jobs) and register every one in the session catalog via ADD
    PARTITION DDL -- the engine-side MSCK REPAIR. Idempotent (IF NOT
    EXISTS); returns the number of partitions registered. At cloud
    scale the same statements go to Glue/Hive over one LIST per table.
    """
    parts = discover_partitions_listing(path, partition_col)
    for stmt in partition_ddl(
        table, parts, partition_col=partition_col
    ):
        spark.sql(stmt)
    return len(parts)
