

def test_events_ts_decode_pinned(spark):
    """Pin the events.ts decode across Spark upgrades: the parquet file
    stores TIMESTAMP(NANOS); on Spark 4.1 the reader yields TIMESTAMP_NTZ
    truncated to micros and ``nanosAsLong`` no-ops.  If an upgrade changes
    the loaded dtype or unit, batch and stream readers could silently
    diverge by 1000x (the round-2 1970-collapse bug) — this test fails
    loudly instead."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType

    from lsh_spark.sources.io import load_table
    from lsh_spark.streaming.drain import file_stream
    from lsh_spark.streaming.events import EVENTS_SCHEMA, read_events_stream

    sf_dir = "/root/testdata/sf0.001"
    ev = load_table(spark, sf_dir, "events")
    assert isinstance(ev.schema["ts"].dataType, TimestampType)
    # the stream reads the schema the file stores, before the ts cast
    assert file_stream(spark, sf_dir, "events").schema == EVENTS_SCHEMA
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    # the generator writes 2024-dated events; a unit bug lands in 1970
    # (nanos read as micros) or year ~56k (micros read as nanos)
    assert lo.year >= 2020 and hi.year <= 2030, (lo, hi)

    # stream reader must decode to the identical instant type and values
    stream = read_events_stream(spark, sf_dir)
    assert isinstance(stream.schema["ts"].dataType, TimestampType)


def test_events_ts_batch_stream_parity(spark, tmp_path):
    """Batch and streaming readers must produce bit-identical ts values."""
    from lsh_spark.sources.io import load_table
    from lsh_spark.streaming.events import read_events_stream, run_available_now

    sf_dir = "/root/testdata/sf0.001"
    q = run_available_now(
        read_events_stream(spark, sf_dir).select("event_id", "ts"),
        "ts_parity_sink", output_mode="append")
    q.awaitTermination(120)
    got = {r.event_id: r.ts
           for r in spark.table("ts_parity_sink").collect()}
    want = {r.event_id: r.ts
            for r in load_table(spark, sf_dir, "events")
            .select("event_id", "ts").collect()}
    assert got == want


def test_read_binary_files(spark, tmp_path):
    from lsh_spark.sources.formats import read_binary_files

    (tmp_path / "a.bin").write_bytes(b"\x00\x01media-a")
    (tmp_path / "b.bin").write_bytes(b"\x02media-bb")
    (tmp_path / "skip.txt").write_text("not media")
    df = read_binary_files(spark, str(tmp_path), path_glob="*.bin")
    rows = {r.path.rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"a.bin", "b.bin"}
    assert bytes(rows["a.bin"].content) == b"\x00\x01media-a"
    assert rows["b.bin"].length == 9


def test_xml_round_trip(spark, tmp_path):
    # Spark 4's built-in xml datasource: write documents out, read them
    # back with an explicit schema, values survive exactly
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from lsh_spark.sources.formats import read_xml, write_xml

    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "g<a>mma & amp"), (3, None)],
        "doc_id long, text string")
    out = str(tmp_path / "docs_xml")
    write_xml(df, out, row_tag="doc", root_tag="docs")
    schema = StructType([StructField("doc_id", LongType()),
                         StructField("text", StringType())])
    back = read_xml(spark, out, row_tag="doc", schema=schema)
    got = {(r.doc_id, r.text) for r in back.collect()}
    # XML sinks omit null fields; they read back as null
    assert got == {(1, "alpha beta"), (2, "g<a>mma & amp"), (3, None)}


def test_read_avro_gated(spark, tmp_path):
    import pytest

    from lsh_spark.sources.formats import read_avro

    with pytest.raises(RuntimeError, match="spark-avro"):
        read_avro(spark, str(tmp_path / "missing.avro"))


def test_write_avro_gated(spark, tmp_path):
    import pytest

    from lsh_spark.sources.formats import write_avro

    with pytest.raises(RuntimeError, match="spark-avro"):
        write_avro(spark.range(3), str(tmp_path / "out.avro"))


def test_read_text_lines_and_whole(spark, tmp_path):
    from lsh_spark.sources.formats import read_text

    (tmp_path / "a.txt").write_text("line one\nline two\n")
    (tmp_path / "b.txt").write_text("solo")
    lines = {r.value for r in read_text(spark, str(tmp_path)).collect()}
    assert lines == {"line one", "line two", "solo"}
    whole = {r.value for r in
             read_text(spark, str(tmp_path), whole_file=True).collect()}
    assert whole == {"line one\nline two\n", "solo"}


def test_append_mode_evicts_state(spark):
    """The append-mode hourly rollup must EVICT window state mid-stream:
    the two-file time split advances the watermark between micro-batches,
    so some batch before the last removes state rows (the property that
    keeps the operator finite on an unbounded stream).  Also pins that
    emitted windows stop at the watermark horizon: no window end may
    exceed max(ts) - 2h."""
    import datetime

    from lsh_spark.sources.io import load_table
    from lsh_spark.streaming import events as se

    out = se.events_hourly_append_streaming(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert rows, "append sink empty — no window ever closed"

    progress = se.LAST_APPEND_PROGRESS
    assert progress, "no progress captured"
    removed = [
        sum(op["numRowsRemoved"] for op in p["stateOperators"])
        for p in progress
    ]
    assert sum(removed[:-1]) > 0, (
        f"state eviction never fired before the final batch: {removed}")

    hi = load_table(spark, "/root/testdata/sf0.001", "events").agg(
        {"ts": "max"}).first()[0]
    horizon = hi - datetime.timedelta(hours=2)
    last_emitted = max(
        datetime.datetime.strptime(r.hour, "%Y-%m-%d %H:%M:%S")
        + datetime.timedelta(hours=1)
        for r in rows)
    assert last_emitted <= horizon


def test_bucketed_write_survives_orphaned_warehouse_dir(spark, tmp_path):
    """A warehouse directory left by a DEAD session (catalog has no entry)
    must not fail the next build with LOCATION_ALREADY_EXISTS — the gate
    queries that build persisted indexes rebuild per run, and the driver
    reuses /root/repo as cwd across rounds."""
    import os
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    from lsh_spark.sources.formats import write_bucketed_table

    name = "orphan_rebuild_tbl"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", ""))
    loc = os.path.join(wh.path, name)
    os.makedirs(loc, exist_ok=True)
    with open(os.path.join(loc, "stale-file"), "w") as f:
        f.write("left by a previous session")

    df = spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("k"))
    write_bucketed_table(df, name, bucket_by=["k"], num_buckets=4)
    assert spark.table(name).count() == 100
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bucketed_write_one_file_per_bucket(spark, tmp_path):
    """The pre-write repartition must keep bucketed tables at one file
    per bucket: without it every input partition writes its own file per
    bucket (P x B small files — the metadata scale-killer)."""
    import os
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    from lsh_spark.sources.formats import write_bucketed_table

    name = "bucket_filecount_tbl"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    df = (spark.range(10_000).repartition(8)
          .select("id", (F.col("id") % 97).alias("k")))
    write_bucketed_table(df, name, bucket_by=["k"], num_buckets=4)
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path
    files = [f for f in os.listdir(os.path.join(wh, name))
             if f.endswith(".parquet")]
    assert len(files) <= 4, files
    assert spark.table(name).count() == 10_000
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_compact_parquet_reduces_files(spark, tmp_path):
    from lsh_spark.sources.layout import compact_parquet

    src = str(tmp_path / "many")
    spark.range(100000).repartition(40).write.parquet(src)
    import glob

    assert len(glob.glob(f"{src}/*.parquet")) == 40
    out = str(tmp_path / "few")
    n = compact_parquet(spark, src, out, target_mb=512)
    files = glob.glob(f"{out}/*.parquet")
    assert n == 1 and len(files) == 1
    assert spark.read.parquet(out).count() == 100000


def test_zorder_clusters_both_columns(spark, tmp_path):
    """After z-ordering on (x, y), row-group min/max ranges must be tight
    on BOTH columns — i.e. each output file covers a small sub-rectangle,
    so a predicate on either column can prune files.  A plain sort on x
    leaves y spanning the full domain in every file."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from lsh_spark.sources.layout import zorder_by

    n = 40000
    df = (spark.range(n)
          .select((F.col("id") % 200).alias("x"),
                  (F.col("id") / 200).cast("long").alias("y")))
    out = str(tmp_path / "z")
    zorder_by(df, ["x", "y"]).write.parquet(out)
    # the baseline a z-order must beat: a plain sort on x alone leaves
    # y spanning (nearly) the full domain in every file
    base_out = str(tmp_path / "plain")
    df.repartitionByRange(4, "x").sortWithinPartitions("x") \
        .write.parquet(base_out)

    import glob

    def avg_spans(path):
        spans_x, spans_y = [], []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                cols = {md.row_group(rg).column(i).path_in_schema:
                        md.row_group(rg).column(i).statistics
                        for i in range(md.row_group(rg).num_columns)}
                spans_x.append(cols["x"].max - cols["x"].min)
                spans_y.append(cols["y"].max - cols["y"].min)
        return (sum(spans_x) / len(spans_x), sum(spans_y) / len(spans_y))

    zx, zy = avg_spans(out)
    bx, by = avg_spans(base_out)
    # each z-ordered file's row groups cover well under the full 0..199
    # x-range, and the y clustering must decisively beat the x-only sort
    # (whose files each span ~the whole y domain).  Comparative bounds,
    # not absolute cutoffs: range-partition sampling shifts file
    # boundaries run to run (an absolute 140 cutoff measured 140.25 on
    # an unlucky split of identical data).
    assert zx < 160
    assert zy < 160
    assert zy < 0.85 * by
    # round-trip content unchanged
    got = spark.read.parquet(out)
    assert got.count() == n
    assert got.agg(F.sum("x")).first()[0] == df.agg(F.sum("x")).first()[0]


def test_zorder_point_predicate_prunes_row_groups(spark, tmp_path):
    """Data-skipping evidence: for a selective point predicate on the
    SECOND z-order column, far fewer z-ordered row groups admit the
    value (min/max footer check — exactly what Spark's parquet reader
    consults) than under an x-only sort, whose every group spans the
    full y domain."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from lsh_spark.sources.layout import zorder_by

    n = 40000
    df = (spark.range(n)
          .select((F.col("id") % 200).alias("x"),
                  (F.col("id") / 200).cast("long").alias("y")))
    zout = str(tmp_path / "z2")
    # small parquet blocks -> many row groups per file, so the footer
    # check sees the curve at fine granularity (the 100 TB analogue:
    # row groups are always much finer than files)
    opts = {"parquet.block.size": "32768"}
    zorder_by(df, ["x", "y"]).write.options(**opts).parquet(zout)
    bout = str(tmp_path / "plain2")
    df.repartitionByRange(4, "x").sortWithinPartitions("x") \
        .write.options(**opts).parquet(bout)

    def admitting_groups(path, y_val):
        total = hit = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                cols = {md.row_group(rg).column(i).path_in_schema:
                        md.row_group(rg).column(i).statistics
                        for i in range(md.row_group(rg).num_columns)}
                total += 1
                if cols["y"].min <= y_val <= cols["y"].max:
                    hit += 1
        return hit, total

    # probe near the domain edge: at coarse file granularity the
    # z-curve still isolates corner cells into few segments, while the
    # x-only sort's every file spans the full y domain
    zh, zt = admitting_groups(zout, 5)
    bh, bt = admitting_groups(bout, 5)
    assert zt > 1 and bt > 1
    # the x-only sort admits (nearly) every group; z-order must prune
    # more than half relative to it
    assert bh / bt > 0.9
    assert zh / zt < 0.5 * (bh / bt)
