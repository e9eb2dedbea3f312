"""S1-S5 scan surface + M6 streaming ingest (SURVEY.md §2.1, §7 M6)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from evidence_images_etl_airflow_spark.sources.parquet_source import (
    SourceConfig,
    date_window,
    scan_parquet,
    scan_sources,
)
from evidence_images_etl_airflow_spark.streaming.file_stream import (
    ingest_available_now,
    windowed_counts,
)


def test_date_window_semantics():
    today = dt.date(2023, 8, 16)
    start, stop = date_window(15, -1, today=today)
    assert start == dt.date(2023, 8, 1)  # 15-day lookback
    assert stop == dt.date(2023, 8, 17)  # stop=-1 -> tomorrow (no cutoff)
    s2, e2 = date_window(0, 0, today=today)
    assert s2 == e2 == today


def _write_two_files(spark, base):
    old, new = f"{base}/old", f"{base}/new"
    spark.range(0, 5).withColumn("src", F.lit("old")).coalesce(1).write.parquet(old)
    spark.range(5, 8).withColumn("src", F.lit("new")).coalesce(1).write.parquet(new)
    past = dt.datetime(2020, 1, 1).timestamp()
    for root, _, files in os.walk(old):
        for f in files:
            os.utime(os.path.join(root, f), (past, past))
    return old, new


def test_scan_parquet_modified_after_prunes_files(spark, tmp_path):
    """S3: mtime window pruning skips files before any read."""
    old, new = _write_two_files(spark, str(tmp_path))
    both = scan_parquet(spark, [f"{old}/*.parquet", f"{new}/*.parquet"])
    assert both.count() == 8
    pruned = scan_parquet(
        spark,
        [f"{old}/*.parquet", f"{new}/*.parquet"],
        modified_after=dt.date(2021, 1, 1),
    )
    assert set(r.src for r in pruned.select("src").distinct().collect()) == {"new"}


def test_scan_sources_tags_constants(spark, tmp_path):
    """D3 replacement: per-source constant columns (country code)."""
    a, b = f"{tmp_path}/a", f"{tmp_path}/b"
    spark.range(0, 3).write.parquet(a)
    spark.range(3, 5).write.parquet(b)
    df = scan_sources(
        spark,
        [
            SourceConfig(path=a, constants={"country": "KEN"}),
            SourceConfig(path=b, constants={"country": "TZA"}),
        ],
    )
    counts = {r.country: r.n for r in df.groupBy("country").agg(F.count("*").alias("n")).collect()}
    assert counts == {"KEN": 3, "TZA": 2}


def test_ingest_available_now_exactly_once(spark, tmp_path):
    """M6: the streaming file source reads each file exactly once across
    restarts (checkpoint), subsuming the reference's 15-day lookback +
    conflict-skip idempotency."""
    src = f"{tmp_path}/src"
    sink = f"{tmp_path}/sink"
    ckpt = f"{tmp_path}/ckpt"
    spark.range(0, 10).select(F.col("id"), (F.col("id") * 2).alias("v")).write.parquet(src)
    schema = spark.read.parquet(src).schema

    ingest_available_now(spark, src, schema, sink, ckpt)
    assert spark.read.parquet(sink).count() == 10

    # second drain with nothing new: no duplicates
    ingest_available_now(spark, src, schema, sink, ckpt)
    assert spark.read.parquet(sink).count() == 10

    # a late-arriving file is picked up incrementally
    spark.range(10, 12).select(F.col("id"), (F.col("id") * 2).alias("v")).write.mode(
        "append"
    ).parquet(src)
    ingest_available_now(spark, src, schema, sink, ckpt)
    assert spark.read.parquet(sink).count() == 12


def test_windowed_counts_batch_streaming_agree(spark, tmp_path):
    """The windowed agg gives the same answer on the batch and streaming
    engines (unified-engine contract)."""
    import uuid

    rows = [
        (dt.datetime(2024, 1, 1, h, m), "click", 1.5)
        for h in (0, 1) for m in (0, 30, 59)
    ]
    src = f"{tmp_path}/ev"
    spark.createDataFrame(rows, "ts timestamp, event_type string, value double").write.parquet(src)

    batch = windowed_counts(spark.read.parquet(src)).orderBy("window_start").collect()

    name = f"t_{uuid.uuid4().hex[:8]}"
    q = (
        windowed_counts(spark.readStream.schema("ts timestamp, event_type string, value double").parquet(src))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = spark.table(name).orderBy("window_start").collect()
    assert [tuple(r) for r in batch] == [tuple(r) for r in streamed]
    assert [r.n_events for r in batch] == [3, 3]


def test_sessionize_stateful_state_machine(spark, tmp_path):
    """M6 custom stateful operator (applyInPandasWithState): sessions
    close by a later-event gap AND by event-time timeout when the
    watermark passes last_event + gap; still-open sessions stay in the
    state store (resumable), emitted exactly once either way."""
    import uuid

    from evidence_images_etl_airflow_spark.streaming.stateful import sessionize_stateful

    sec = 1_000_000  # µs
    # offset all event times off epoch 0: the initial watermark is 0,
    # and stateful operators drop rows at-or-before the watermark
    t0 = 3600 * sec
    files = [
        # file 1: user A session 1 (two events), user B lone event
        [("A", "e1", t0), ("A", "e2", t0 + 10 * sec), ("B", "e3", t0 + 5 * sec)],
        # file 2: A's next event 2000s later -> closes A session 1 by gap
        [("A", "e4", t0 + 2000 * sec)],
        # file 3: watermark (=2000s after file 2) passes B's 5s+60s
        # timeout -> B's session closes by silence
        [("C", "e5", t0 + 4000 * sec)],
    ]
    src = f"{tmp_path}/sessions_src"
    for i, rows in enumerate(files):
        pdf = [
            (u, e, ts, dt.datetime.fromtimestamp(ts / sec, dt.timezone.utc).replace(tzinfo=None))
            for u, e, ts in rows
        ]
        spark.createDataFrame(
            pdf, "user_id string, event_id string, ts_us long, ts_utc timestamp"
        ).coalesce(1).write.parquet(f"{src}/f{i}")
        # file source processes oldest-mtime first: pin the order
        t = dt.datetime(2024, 1, 1 + i).timestamp()
        for root, _, fs in os.walk(f"{src}/f{i}"):
            for f in fs:
                os.utime(os.path.join(root, f), (t, t))

    stream = (
        spark.readStream.schema("user_id string, event_id string, ts_us long, ts_utc timestamp")
        .option("maxFilesPerTrigger", 1)  # one file per micro-batch
        .parquet(f"{src}/f*")
    )
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = (
        sessionize_stateful(stream, gap_minutes=1)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in spark.table(name).collect()
    }
    assert got == {
        ("A", t0, t0 + 10 * sec, 2),  # closed by e4's gap
        ("B", t0 + 5 * sec, t0 + 5 * sec, 1),  # closed by watermark timeout
        # availableNow runs a final zero-row batch that commits the
        # advanced watermark (4000s), timing out A's second session too
        ("A", t0 + 2000 * sec, t0 + 2000 * sec, 1),
        # C's session (timeout 4060s > final watermark 4000s) stays open
    }


def test_sessionize_stateful_survives_restart(spark, tmp_path):
    """State-store recovery: stop the sessionizer mid-stream, start a
    NEW query on the same checkpoint, and the open session crosses the
    restart — closed by a gap event that arrives in run 2, emitted
    exactly once. This is the resumability contract that makes the
    operator production-grade at scale (driver loss != state loss)."""
    from evidence_images_etl_airflow_spark.streaming.stateful import sessionize_stateful

    sec = 1_000_000
    t0 = 3600 * sec
    src = f"{tmp_path}/restart_src"
    sink = f"{tmp_path}/restart_sink"
    ckpt = f"{tmp_path}/restart_ckpt"

    def write_file(i, rows):
        pdf = [
            (u, e, ts, dt.datetime.fromtimestamp(ts / sec, dt.timezone.utc).replace(tzinfo=None))
            for u, e, ts in rows
        ]
        spark.createDataFrame(
            pdf, "user_id string, event_id string, ts_us long, ts_utc timestamp"
        ).coalesce(1).write.parquet(f"{src}/f{i}")
        t = dt.datetime(2024, 1, 1 + i).timestamp()
        for root, _, fs in os.walk(f"{src}/f{i}"):
            for f in fs:
                os.utime(os.path.join(root, f), (t, t))

    def run_once():
        stream = (
            spark.readStream.schema(
                "user_id string, event_id string, ts_us long, ts_utc timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/f*")
        )
        q = (
            sessionize_stateful(stream, gap_minutes=1)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: A opens s1 then s2 (gap at +2000s closes s1); B times out
    write_file(0, [("A", "e1", t0), ("A", "e2", t0 + 10 * sec), ("B", "e3", t0 + 5 * sec)])
    write_file(1, [("A", "e4", t0 + 2000 * sec)])
    run_once()
    after_run1 = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in spark.read.parquet(sink).collect()
    }
    assert after_run1 == {
        ("A", t0, t0 + 10 * sec, 2),
        ("B", t0 + 5 * sec, t0 + 5 * sec, 1),
    }

    # run 2 (fresh query, same checkpoint): e5 closes A's s2 by gap —
    # only possible if s2's state survived the restart
    write_file(2, [("A", "e5", t0 + 4000 * sec)])
    run_once()
    final = [
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in spark.read.parquet(sink).collect()
    ]
    assert sorted(final) == sorted(
        [
            ("A", t0, t0 + 10 * sec, 2),
            ("B", t0 + 5 * sec, t0 + 5 * sec, 1),
            ("A", t0 + 2000 * sec, t0 + 2000 * sec, 1),  # crossed the restart
        ]
    )  # list-compare: a duplicate emission would fail here


def test_upsert_stream_idempotent_across_overlap(spark, tmp_path):
    """foreachBatch + conflict-skip upsert: overlapping deliveries of
    the same keyed rows (the at-least-once failure mode) land exactly
    once in the target."""
    from evidence_images_etl_airflow_spark.streaming.file_stream import (
        upsert_stream_available_now,
    )

    schema = "k long, v string"
    src = f"{tmp_path}/up_src"
    tgt = f"{tmp_path}/up_tgt"

    spark.createDataFrame([(1, "a"), (2, "b")], schema).write.parquet(f"{src}/f0")
    upsert_stream_available_now(
        spark, f"{src}/f*", schema, tgt, ["k"], f"{tmp_path}/up_ckpt"
    )
    # second delivery overlaps key 2 (redelivery) and adds key 3; a
    # fresh checkpoint simulates a retried producer re-sending f1's data
    spark.createDataFrame([(2, "b"), (3, "c")], schema).write.parquet(f"{src}/f1")
    upsert_stream_available_now(
        spark, f"{src}/f*", schema, tgt, ["k"], f"{tmp_path}/up_ckpt2"
    )
    got = sorted((r.k, r.v) for r in spark.read.parquet(tgt).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]  # no dup for keys 1/2


def test_upsert_stream_sink_resolved_through_module(spark, tmp_path, monkeypatch):
    """The per-batch sink looks ``writers.idempotent_append_parquet`` up
    through the module on every batch, so a wrapper swapped in there
    after import (a tracing or counting hook) sees each call."""
    from evidence_images_etl_airflow_spark.sinks import writers
    from evidence_images_etl_airflow_spark.streaming.file_stream import (
        upsert_stream_available_now,
    )

    schema = "k long, v string"
    src = f"{tmp_path}/src"
    tgt = f"{tmp_path}/tgt"
    spark.createDataFrame([(1, "a"), (2, "b")], schema).write.parquet(f"{src}/f0")

    inner = writers.idempotent_append_parquet
    appended = []

    def counting(spark_, df, path, keys, order_by=None):
        n = inner(spark_, df, path, keys, order_by)
        appended.append(n)
        return n

    monkeypatch.setattr(writers, "idempotent_append_parquet", counting)
    upsert_stream_available_now(spark, f"{src}/f*", schema, tgt, ["k"], f"{tmp_path}/ck")
    assert appended == [2]
    assert sorted(r.k for r in spark.read.parquet(tgt).collect()) == [1, 2]


def test_interval_join_bounds_and_state(spark, tmp_path):
    """interval_join: inclusive [0, upper] bounds, keyed isolation, and
    batch/streaming agreement over a drained file source."""
    import datetime as dt

    from pyspark.sql import functions as F

    from evidence_images_etl_airflow_spark.streaming.file_stream import interval_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    views = [(1, 100, ts(0)), (1, 101, ts(60)), (2, 200, ts(0))]
    buys = [
        (1, 900, ts(0)),    # exact lower bound of view 100
        (1, 901, ts(30)),   # inside for view 100 (30m <= 30m upper), before 101
        (1, 902, ts(95)),   # inside for view 101 (35m > 30m upper for 100? no: 95-60=35 -> outside 101's 30m too)
        (2, 903, ts(29)),   # user 2, inside
        (3, 904, ts(5)),    # no view for user 3
    ]
    vdir, bdir = str(tmp_path / "v"), str(tmp_path / "b")
    spark.createDataFrame(views, "user_id long, view_id long, vts timestamp").write.parquet(vdir)
    spark.createDataFrame(buys, "user_id long, buy_id long, bts timestamp").write.parquet(bdir)

    vschema = spark.read.parquet(vdir).schema
    bschema = spark.read.parquet(bdir).schema
    joined = interval_join(
        spark.readStream.schema(vschema).parquet(vdir),
        spark.readStream.schema(bschema).parquet(bdir),
        key="user_id",
        left_ts="vts",
        right_ts="bts",
        left_watermark="10 minutes",
        right_watermark="10 minutes",
        upper_bound="30 MINUTES",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ij_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["view_id"], r["buy_id"])
        for r in spark.table("ij_test").collect()
    }
    assert got == {(1, 100, 900), (1, 100, 901), (2, 200, 903)}


def test_continuous_rollup_merges_across_runs(spark, tmp_path):
    """Two availableNow drains over a growing source: the additively
    merged rollup equals the from-scratch batch aggregate each time."""
    import datetime as dt

    from pyspark.sql import functions as F

    from evidence_images_etl_airflow_spark.streaming.file_stream import (
        continuous_rollup_available_now,
    )

    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)
    src, tgt, ckpt = str(tmp_path / "src"), str(tmp_path / "tgt"), str(tmp_path / "ck")

    def mk(rows):
        return spark.createDataFrame(rows, "ts timestamp, event_type string, value double")

    batch1 = [(t0, "view", 1.5), (t0 + dt.timedelta(minutes=30), "view", 2.0),
              (t0 + dt.timedelta(hours=1), "click", 4.25)]
    mk(batch1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    continuous_rollup_available_now(spark, src, schema, tgt, ckpt)

    # second wave: same hour as batch1's views (must ADD, not replace)
    # plus a brand-new hour
    batch2 = [(t0 + dt.timedelta(minutes=45), "view", 3.0),
              (t0 + dt.timedelta(hours=2), "view", 7.0)]
    mk(batch2).write.mode("append").parquet(src)
    continuous_rollup_available_now(spark, src, schema, tgt, ckpt)

    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], float(r["total_value"]))
        for r in spark.read.parquet(tgt).collect()
    }
    expect = (
        mk(batch1 + batch2)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"),
             F.sum(F.col("value").cast("decimal(18,2)")).alias("t"))
        .select(F.col("w.start").alias("ws"), "event_type", "n", "t")
    )
    want = {
        (r["ws"], r["event_type"]): (r["n"], float(r["t"]))
        for r in expect.collect()
    }
    assert got == want
    assert got[(t0, "view")] == (3, 6.5)  # merged across the two drains

    # replay the SAME files through a FRESH checkpoint: batch ids repeat
    # (0...), and the store-side guard must reject them all
    continuous_rollup_available_now(spark, src, schema, tgt, str(tmp_path / "ck2"))
    replayed = {
        (r["window_start"], r["event_type"]): (r["n_events"], float(r["total_value"]))
        for r in spark.read.parquet(tgt).collect()
    }
    assert replayed == got  # no double count


def test_format_roundtrips_and_guards(spark, tmp_path):
    """CSV/JSON/ORC roundtrips preserve data + schema; text formats
    refuse schema inference; csv FAILFAST surfaces corruption."""
    import pytest

    from pyspark.sql import functions as F

    from evidence_images_etl_airflow_spark.sources.formats import (
        convert_table,
        read_table,
        write_table,
    )

    src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").limit(200)
    # timestamps roundtrip through text formats as strings unless cast;
    # keep the exercise honest with a date column included
    src = src.withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    want = {tuple(r) for r in src.collect()}
    schema = src.schema

    for fmt in ("orc", "csv", "json"):
        p = str(tmp_path / fmt)
        write_table(src, p, fmt)
        got = read_table(spark, p, fmt, schema=schema if fmt != "orc" else None)
        assert got.schema == schema
        assert {tuple(r) for r in got.collect()} == want

    with pytest.raises(ValueError, match="explicit schema"):
        read_table(spark, str(tmp_path / "csv"), "csv")
    with pytest.raises(ValueError, match="unsupported format"):
        read_table(spark, "x", "avro")

    n = convert_table(
        spark, str(tmp_path / "csv"), "csv", str(tmp_path / "conv"), "parquet",
        schema=schema,
    )
    assert n == 200
    assert spark.read.parquet(str(tmp_path / "conv")).count() == 200

    # FAILFAST: malformed row must raise, not silently null
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part.csv").write_text(
        "o_orderkey,o_custkey,o_orderstatus,o_totalprice,o_orderdate,o_orderpriority\n"
        "notanint,2,O,1.5,2024-01-01 00:00:00,1-URGENT\n"
    )
    with pytest.raises(Exception):
        read_table(spark, str(bad), "csv", schema=schema).collect()


def test_scan_parquet_merges_drifted_schemas(spark, tmp_path):
    """Schema evolution across batches: a later batch adds a column;
    the default mergeSchema scan unions the schemas and null-fills
    the files written before the column existed."""
    from evidence_images_etl_airflow_spark.sources.parquet_source import scan_parquet

    base = str(tmp_path / "drift")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(f"{base}/b1")
    spark.createDataFrame(
        [(2, "b", 0.5)], "id long, name string, score double"
    ).write.parquet(f"{base}/b2")
    df = scan_parquet(spark, [f"{base}/b1", f"{base}/b2"])
    assert set(df.columns) == {"id", "name", "score"}
    rows = {r.id: r.score for r in df.collect()}
    assert rows == {1: None, 2: 0.5}
    # an explicit schema narrows instead of merging (the scale default:
    # metastore-declared schema, no footer-reading inference pass)
    narrowed = scan_parquet(
        spark, [f"{base}/b1", f"{base}/b2"], schema="id long, name string"
    )
    assert set(narrowed.columns) == {"id", "name"}
    assert narrowed.count() == 2


def test_python_datasource_synthetic_events(spark):
    """Spark 4 Python DataSource API: partition-parallel generator —
    content is a pure function of global row id, so any partitioning
    yields the same dataset; partitions option controls parallelism."""
    from evidence_images_etl_airflow_spark.sources import pyds

    pyds.register(spark)
    df4 = (
        spark.read.format("synthetic_events")
        .option("rows", 1000)
        .option("partitions", 4)
        .option("users", 50)
        .load()
    )
    assert df4.count() == 1000
    assert df4.rdd.getNumPartitions() == 4
    assert set(df4.columns) == {"event_id", "user_id", "event_type", "value"}
    assert df4.agg({"user_id": "max"}).first()[0] < 50

    # same rows under a different parallelism
    df7 = (
        spark.read.format("synthetic_events")
        .option("rows", 1000)
        .option("partitions", 7)
        .option("users", 50)
        .load()
    )
    assert df7.exceptAll(df4).count() == 0
    assert df4.exceptAll(df7).count() == 0


def test_xml_format_roundtrip_native(spark, tmp_path):
    """Spark 4 native XML source through the formats facade: write +
    read back preserves values; schema is mandatory like other text
    formats."""
    import pytest

    from pyspark.sql import functions as F

    from evidence_images_etl_airflow_spark.sources.formats import (
        read_table,
        write_table,
    )

    src = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .limit(50)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
    )
    want = {tuple(r) for r in src.collect()}
    p = str(tmp_path / "xml")
    write_table(src, p, "xml")
    got = read_table(spark, p, "xml", schema=src.schema)
    assert {tuple(r) for r in got.collect()} == want
    with pytest.raises(ValueError, match="explicit schema"):
        read_table(spark, p, "xml")


def test_permissive_quarantine_counts_corrupt_rows(spark, tmp_path):
    """The documented PERMISSIVE escape hatch: corrupt rows land in the
    quarantine column instead of failing the load, and the clean/dirty
    split is exact — the pattern for salvaging a 100 TB load where
    FAILFAST would burn the whole job for three bad lines."""
    from pyspark.sql import functions as F

    from evidence_images_etl_airflow_spark.sources.formats import read_table

    p = tmp_path / "j"
    p.mkdir()
    (p / "part.json").write_text(
        '{"id": 1, "v": "a"}\n'
        "this is not json\n"
        '{"id": 2, "v": "b"}\n'
        '{"id": 3, "v": }\n'
    )
    schema = "id long, v string, _corrupt_record string"
    df = read_table(
        spark,
        str(p),
        "json",
        schema=schema,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    ).cache()
    clean = df.filter(F.col("_corrupt_record").isNull())
    dirty = df.filter(F.col("_corrupt_record").isNotNull())
    assert {(r.id, r.v) for r in clean.collect()} == {(1, "a"), (2, "b")}
    assert dirty.count() == 2
    # quarantined payloads are preserved verbatim for triage
    assert {r._corrupt_record for r in dirty.collect()} == {
        "this is not json",
        '{"id": 3, "v": }',
    }
    df.unpersist()


def test_state_inspection_reads_live_checkpoint(spark, tmp_path):
    """Spark 4 state data sources through the state_inspect facade:
    after draining a watermarked windowed count, the checkpoint's
    statestore read exposes exactly the open windows' state, and the
    health report aggregates it with the metadata's batch range."""
    from pyspark.sql import functions as F

    from evidence_images_etl_airflow_spark.streaming.state_inspect import (
        state_health_report,
        state_metadata,
        state_rows,
    )

    src, ck = str(tmp_path / "src"), str(tmp_path / "ck")
    spark.createDataFrame(
        [("a", "2024-01-01 10:00:00"), ("a", "2024-01-01 10:10:00"),
         ("b", "2024-01-01 10:30:00")],
        "k string, ts_s string",
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts")).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    agg = stream.withWatermark("ts", "1 hour").groupBy(
        F.window("ts", "1 hour"), "k"
    ).count()
    q = (
        agg.writeStream.format("memory").queryName("si_probe")
        .outputMode("append").option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()

    meta = state_metadata(spark, ck).collect()
    assert len(meta) == 1 and meta[0]["operatorName"] == "stateStoreSave"

    st = state_rows(spark, ck)
    got = {(r["key"]["k"], r["value"]["count"]) for r in st.collect()}
    assert got == {("a", 2), ("b", 1)}  # both windows still open (watermark)

    rep = state_health_report(spark, ck).collect()
    assert len(rep) == 1
    r = rep[0]
    assert r["n_state_rows"] == 2
    assert r["maxBatchId"] >= r["minBatchId"]
    assert r["max_partition_rows"] >= 1
    assert r["skew_ratio"] >= 1.0


def test_journey_sessions_stateful_cross_batch_append(spark, tmp_path):
    """r10: the journey state machine's CROSS-BATCH append path — a
    session spanning micro-batches accumulates its symbol string in
    the state store (the single-batch parity run never exercises
    state.exists=True on entry)."""
    import uuid

    from evidence_images_etl_airflow_spark.streaming.stateful import (
        journey_sessions_stateful,
    )

    sec = 1_000_000
    t0 = 3600 * sec
    files = [
        # batch 1: user A starts a session v, c (state left open)
        [("A", 1, t0, "v"), ("A", 2, t0 + 10 * sec, "c")],
        # batch 2: p EXTENDS the open session via state append, then a
        # 2000s-later event closes it by gap -> journey must be "vcp"
        [("A", 3, t0 + 20 * sec, "p"), ("A", 4, t0 + 3000 * sec, "e")],
    ]
    src = f"{tmp_path}/journeys_src"
    for i, rows in enumerate(files):
        pdf = [
            (u, e, ts, dt.datetime.fromtimestamp(ts / sec, dt.timezone.utc).replace(tzinfo=None), s)
            for u, e, ts, s in rows
        ]
        spark.createDataFrame(
            pdf,
            "user_id string, event_id long, ts_us long, ts_utc timestamp, sym string",
        ).coalesce(1).write.parquet(f"{src}/f{i}")
        t = dt.datetime(2024, 1, 1 + i).timestamp()
        for root, _, fs in os.walk(f"{src}/f{i}"):
            for f in fs:
                os.utime(os.path.join(root, f), (t, t))

    stream = (
        spark.readStream.schema(
            "user_id string, event_id long, ts_us long, ts_utc timestamp, sym string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = (
        journey_sessions_stateful(stream, gap_minutes=1)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.journey, r.n_events) for r in spark.table(name).collect()
    }
    # session 1 accumulated ACROSS batches: v,c (batch 1) + p (batch 2);
    # session 2 ('e', timeout 3060s > final watermark 3000s) correctly
    # STAYS in the state store, not emitted
    assert got == {("A", "vcp", 3)}


def test_daily_counts_store_equals_single_pass(spark, tmp_path):
    """The streaming day-count store after N micro-batches is
    bit-identical to a one-shot day-grain count over everything
    streamed — the additivity that lets streaming_cusum_monitor share
    the exact batch oracle."""
    from evidence_images_etl_airflow_spark.streaming.file_stream import (
        daily_counts_stream_available_now,
    )

    rows = [(d,) for d in [1, 1, 2, 5, 5, 5, 9]]
    df = spark.createDataFrame(rows, "d bigint")
    src = str(tmp_path / "src")
    df.filter(F.col("d") <= 2).write.parquet(f"{src}/f0")
    df.filter(F.col("d") > 2).write.parquet(f"{src}/f1")
    store_path = str(tmp_path / "store")
    daily_counts_stream_available_now(
        spark,
        f"{src}/f*",
        "d bigint",
        store_path,
        str(tmp_path / "ck"),
        "d",
        max_files_per_trigger=1,
    )
    got = {
        r["d"]: r["y"]
        for r in spark.read.parquet(store_path).drop("_last_batch").collect()
    }
    assert got == {1: 2, 2: 1, 5: 3, 9: 1}
    # replay protection: re-running the whole availableNow stream over
    # the SAME checkpoint adds nothing (no new files)
    daily_counts_stream_available_now(
        spark,
        f"{src}/f*",
        "d bigint",
        store_path,
        str(tmp_path / "ck"),
        "d",
    )
    got2 = {
        r["d"]: r["y"]
        for r in spark.read.parquet(store_path).drop("_last_batch").collect()
    }
    assert got2 == got


def test_score_ingest_stream_bootstrap_append_replay(spark, tmp_path):
    """score_ingest_stream_available_now: batch 0 bootstraps the score
    table, batch 1 anti-joins and scores only new ids, a REPLAY (fresh
    checkpoint, same store) appends zero rows (idempotent sink =
    exactly-once contents), and a torn bootstrap (no _SUCCESS marker)
    re-materializes instead of anti-joining a partial table."""
    import os
    import time

    from pyspark.sql import functions as F

    from evidence_images_etl_airflow_spark.streaming.file_stream import (
        score_ingest_stream_available_now,
    )

    src, store = f"{tmp_path}/src", f"{tmp_path}/store"
    f0 = spark.createDataFrame(
        [(1, "aa bb cc"), (2, "dd ee ff")], "doc_id long, text string"
    )
    # re-crawl overlaps history (ids 1-2) and adds id 3
    f1 = spark.createDataFrame(
        [(1, "aa bb cc"), (2, "dd ee ff"), (3, "gg hh ii")],
        "doc_id long, text string",
    )
    f0.coalesce(1).write.parquet(f"{src}/f0")
    f1.coalesce(1).write.parquet(f"{src}/f1")
    now = time.time()
    for sub, ts in (("f0", now - 120), ("f1", now - 60)):
        d = f"{src}/{sub}"
        for name in os.listdir(d):
            os.utime(os.path.join(d, name), (ts, ts))

    def run(ck):
        score_ingest_stream_available_now(
            spark,
            f"{src}/f*",
            "doc_id long, text string",
            store,
            ck,
            F.length("text").cast("double"),
            "doc_id",
            ["doc_id"],
            max_files_per_trigger=1,
        )

    run(f"{tmp_path}/ck1")
    rows = {r.doc_id: r.score for r in spark.read.parquet(store).collect()}
    assert rows == {1: 8.0, 2: 8.0, 3: 8.0}

    # replay from scratch: at-least-once delivery, exactly-once contents
    run(f"{tmp_path}/ck2")
    assert spark.read.parquet(store).count() == 3

    # torn bootstrap: marker gone -> next first batch re-materializes
    os.remove(f"{store}/_SUCCESS")
    run(f"{tmp_path}/ck3")
    rows = {r.doc_id: r.score for r in spark.read.parquet(store).collect()}
    assert rows == {1: 8.0, 2: 8.0, 3: 8.0}
