"""Format connectors beyond parquet: CSV / JSON(L) readers with explicit
schemas, and partitioned writers.

The reference has no storage layer at all (SURVEY.md §2.4 — its tests use
host-engine temp tables), so this module is pure host-engine surface: thin,
declarative wrappers that keep Catalyst's pushdown/pruning intact (always
explicit schemas — schema inference reads the data twice and types drift).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    *,
    header: bool = True,
    delimiter: str = ",",
) -> DataFrame:
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("delimiter", delimiter)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def read_jsonl(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    return spark.read.schema(schema).json(path)


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    """Partitioned parquet sink.  ``partition_by`` should be low-cardinality
    columns (e.g. date, lang) — at 100 TB, partition-pruned reads are the
    difference between scanning a shard and scanning the lake.
    ``max_records_per_file`` caps file sizes without an extra repartition
    shuffle."""
    w = df.write.mode(mode)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def clear_stale_table_location(spark: SparkSession, table_name: str) -> None:
    """Remove a managed table's on-disk location when the directory
    survives from an earlier session but the (in-memory) catalog has no
    entry for it — ``mode("overwrite")`` only overwrites tables the
    catalog KNOWS about, and ``saveAsTable`` fails with
    LOCATION_ALREADY_EXISTS on the orphaned directory otherwise.  With a
    persistent metastore the catalog check short-circuits, so this is a
    no-op outside the stale-orphan case."""
    import os
    import shutil
    from urllib.parse import urlparse

    if spark.catalog.tableExists(table_name):
        return
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", ""))
    if wh.scheme not in ("", "file"):
        return  # remote warehouse: nothing local to clean
    loc = os.path.join(wh.path, table_name.lower())
    if wh.path and os.path.isdir(loc):
        shutil.rmtree(loc, ignore_errors=True)


def _prepare_table_write(spark: SparkSession, table_name: str,
                         mode: str) -> None:
    """Pre-write hygiene shared by save_table / write_bucketed_table.

    Beyond the stale-orphan clear, an OVERWRITE over a table the
    catalog knows as EXTERNAL at its default warehouse location (the
    ``attach_*`` default) dead-ends: saveAsTable drops the external
    entry but keeps its files, then the managed CREATE throws
    LOCATION_ALREADY_EXISTS on the surviving directory.  Rebuilding
    over an attached index is legitimate intent, so that exact case
    drops the entry AND files first — precisely what overwriting a
    managed table would have done.  External tables at CUSTOM
    locations are untouched (their files are someone else's)."""
    import os

    clear_stale_table_location(spark, table_name)
    if mode != "overwrite" or not spark.catalog.tableExists(table_name):
        return
    ttype = _describe_detail(spark, table_name, "Type")
    if ttype is None or ttype.strip().upper() == "MANAGED":
        return
    loc = _table_location(spark, table_name)
    default_loc = os.path.realpath(
        os.path.join(_warehouse_path(spark), table_name.lower()))
    if loc is not None and os.path.realpath(loc) == default_loc:
        drop_table_and_files(spark, table_name)


def save_table(df: DataFrame, table_name: str, *,
               mode: str = "overwrite", single_file: bool = False) -> None:
    """``saveAsTable`` that stays idempotent across sessions (see
    :func:`clear_stale_table_location`).  ``single_file=True`` coalesces
    tiny tables (meta rows, centroid lists) to one partition — a 1-row
    createDataFrame otherwise inherits defaultParallelism and pays a
    32-task write for 32 near-empty files (measured ~1.5 s of pure task
    overhead locally)."""
    _prepare_table_write(df.sparkSession, table_name, mode)
    if single_file:
        df = df.coalesce(1)
    df.write.mode(mode).saveAsTable(table_name)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    *,
    bucket_by: list[str],
    num_buckets: int,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: pre-shuffles once at write time so future
    equi-joins/aggregations on ``bucket_by`` skip their exchange entirely —
    the standard way to amortize a hot join key across many queries.

    The input is first repartitioned on the bucket columns with exactly
    ``num_buckets`` partitions: ``repartition``'s murmur3 hash-partitioning
    matches the bucket-id function, so every task holds exactly one bucket
    and the table lands as ONE file per bucket.  Without it each of P
    input partitions writes its own file per bucket — P×B small files
    (measured locally: 1024 files for a 97k-row table; at 1000 executors ×
    1000 buckets that is a million files per index build)."""
    _prepare_table_write(df.sparkSession, table_name, mode)
    df = df.repartition(num_buckets, *bucket_by)
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_by)
    if sort_by:
        w = w.sortBy(*sort_by)
    w.saveAsTable(table_name, format="parquet")


def write_orc(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """ORC sink (columnar alternative where the lake standardizes on ORC;
    same pushdown/pruning properties as parquet in Spark's reader)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_orc(spark: SparkSession, path: str,
             schema: StructType | None = None) -> DataFrame:
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.orc(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    *,
    path_glob: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """Raw-media ingest via Spark's built-in ``binaryFile`` source:
    one row per file with ``(path, modificationTime, length, content
    BINARY)`` — the front door for the multimodal pipeline
    (``multimodal.media.extract_features`` consumes the ``content``
    blobs).  The source never splits a file, so partitioning follows
    file boundaries; keep individual media files under the executor
    memory budget and let ``spark.sql.files.maxPartitionBytes`` pack
    small files into shared tasks."""
    r = spark.read.format("binaryFile")
    if path_glob:
        r = r.option("pathGlobFilter", path_glob)
    if recursive:
        r = r.option("recursiveFileLookup", "true")
    return r.load(path)


def read_avro(spark: SparkSession, path: str,
              schema: StructType | None = None) -> DataFrame:
    """Avro reader, gated: the pip ``pyspark`` distribution ships Avro's
    core jars but NOT the ``spark-avro`` datasource module, so this
    raises a clear error here unless the deployment adds
    ``org.apache.spark:spark-avro`` to ``spark.jars.packages``."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    try:
        return r.format("avro").load(path)
    except Exception as exc:  # AnalysisException: failed to find source
        raise RuntimeError(
            "the spark-avro datasource module is not on the classpath; "
            "add org.apache.spark:spark-avro_2.13 to spark.jars.packages"
        ) from exc


def write_avro(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """Avro sink, gated exactly like ``read_avro`` (the datasource module
    is a deployment add-on, not part of the pip distribution)."""
    try:
        df.write.mode(mode).format("avro").save(path)
    except Exception as exc:
        raise RuntimeError(
            "the spark-avro datasource module is not on the classpath; "
            "add org.apache.spark:spark-avro_2.13 to spark.jars.packages"
        ) from exc


def read_xml(spark: SparkSession, path: str, *, row_tag: str = "row",
             schema: StructType | None = None) -> DataFrame:
    """XML reader over Spark 4's BUILT-IN xml datasource (spark-xml was
    merged into core in 4.0 — no external package needed, unlike Avro):
    one row per ``row_tag`` element, schema inferred unless given
    (give it in production — inference scans the data twice)."""
    r = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        r = r.schema(schema)
    return r.load(path)


def write_xml(df: DataFrame, path: str, *, row_tag: str = "row",
              root_tag: str = "rows", mode: str = "overwrite") -> None:
    """XML sink (built-in datasource; one ``row_tag`` element per row
    under ``root_tag`` per output file)."""
    (df.write.mode(mode).format("xml")
     .option("rowTag", row_tag).option("rootTag", root_tag).save(path))


def read_text(spark: SparkSession, path: str, *,
              whole_file: bool = False) -> DataFrame:
    """Raw-text corpus ingest: one row per line (``value`` string), or one
    row per file with ``wholetext`` — the front door for document
    pipelines whose corpus arrives as plain text files."""
    return spark.read.text(path, wholetext=whole_file)


def _warehouse_path(spark: SparkSession) -> str:
    from urllib.parse import urlparse

    return urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path


def _describe_detail(spark: SparkSession, table_name: str,
                     col: str) -> "str | None":
    """One ``DESCRIBE TABLE EXTENDED`` detail row (``Location``,
    ``Type``, ...) — shared by the file-drop path and the compaction
    guard so the two can never disagree about a table's metadata."""
    try:
        row = (spark.sql(f"DESCRIBE TABLE EXTENDED {table_name}")
               .where(f"col_name = '{col}'").first())
        return None if row is None else row["data_type"]
    except Exception:
        return None


def _table_location(spark: SparkSession, table_name: str) -> "str | None":
    loc = _describe_detail(spark, table_name, "Location")
    # strip only the URI scheme PREFIX — a replace-all would
    # mangle paths that contain "file:" mid-string and rmtree
    # the wrong directory
    return None if loc is None else loc.removeprefix("file:")


def drop_table_and_files(spark: SparkSession, table_name: str) -> None:
    """Drop a table from the catalog AND remove its files.  A bare
    ``DROP TABLE`` is not enough for lifecycle tables (e.g. index
    tombstones): externally-attached tables keep their files on DROP,
    and a table written by a DEAD session isn't in the catalog at all —
    either way the surviving directory would be silently re-attached
    later.  Resolves the location from the catalog when known, and
    always clears the default warehouse directory as well."""
    import os
    import shutil

    locations = {os.path.join(_warehouse_path(spark), table_name.lower())}
    if spark.catalog.tableExists(table_name):
        loc = _table_location(spark, table_name)
        if loc is not None:
            locations.add(loc)
        spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    for loc in locations:
        shutil.rmtree(loc, ignore_errors=True)


def attach_table(spark: SparkSession, table_name: str,
                 location: str | None = None) -> None:
    """(Re-)register an on-disk parquet table in the catalog as an
    EXTERNAL table.  The default catalog is in-memory: managed tables
    written by one session are invisible to the next even though their
    files survive in the warehouse — which would defeat the whole point
    of a persisted index.  ``location`` defaults to the table's warehouse
    directory.  No-op if the catalog already knows the table."""
    import os

    if spark.catalog.tableExists(table_name):
        return
    location = location or os.path.join(_warehouse_path(spark),
                                        table_name.lower())
    schema = spark.read.parquet(location).schema
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                     for f in schema.fields)
    spark.sql(f"CREATE TABLE {table_name} ({cols}) USING parquet "
              f"LOCATION '{location}'")


def attach_bucketed_table(
    spark: SparkSession,
    table_name: str,
    *,
    bucket_by: list[str],
    num_buckets: int,
    sort_by: list[str] | None = None,
    location: str | None = None,
) -> None:
    """:func:`attach_table` for a table written by
    :func:`write_bucketed_table`: re-registers it WITH its bucket spec so
    joins/aggregations on ``bucket_by`` keep skipping their exchange in
    the new session.  The spec must match the one used at write time —
    callers persist it alongside the data (e.g. the LSH index meta row)
    rather than trusting a human to remember it."""
    import os

    if spark.catalog.tableExists(table_name):
        return
    location = location or os.path.join(_warehouse_path(spark),
                                        table_name.lower())
    schema = spark.read.parquet(location).schema
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                     for f in schema.fields)
    clustered = ", ".join(f"`{c}`" for c in bucket_by)
    sorted_sql = (
        f"SORTED BY ({', '.join(f'`{c}`' for c in sort_by)}) "
        if sort_by else "")
    spark.sql(
        f"CREATE TABLE {table_name} ({cols}) USING parquet "
        f"CLUSTERED BY ({clustered}) {sorted_sql}"
        f"INTO {num_buckets} BUCKETS LOCATION '{location}'")
