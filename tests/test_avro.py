"""Avro fallback: roundtrip, empty write, JVM reference-implementation
interop, batch write() fallback, streaming A17 sink.

The environment has no spark-avro datasource jar, so these tests exercise
the pure-Python container-file implementation end-to-end. The interop
test is the load-bearing one: files written by ``write_avro`` are read
back through the JVM's bundled org.apache.avro (the Java reference
implementation of the spec) — if that accepts the bytes, a real
spark-avro deployment reads them too.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_streaming_spark.sources.avro_fallback import (
    avro_schema_json,
    read_avro,
    write_avro,
)

ALL_TYPES_SCHEMA = T.StructType(
    [
        T.StructField("s", T.StringType()),
        T.StructField("l", T.LongType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("f", T.FloatType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("raw", T.BinaryType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("day", T.DateType()),
        T.StructField("money", T.DecimalType(38, 18)),
        T.StructField("vec", T.ArrayType(T.FloatType())),
    ]
)

ROWS = [
    (
        "héllo wörld",
        2**53,
        -42,
        3.141592653589793,
        1.5,
        True,
        b"\x00\x01\xff",
        dt.datetime(2024, 1, 2, 3, 4, 5, 123456),
        dt.date(2024, 2, 29),
        Decimal("0.123456789012345678"),
        [1.0, -2.5, 0.0],
    ),
    (None, None, None, None, None, None, None, None, None, None, None),
    (
        "",
        -(2**53),
        2**31 - 1,
        -0.0,
        -3.25,
        False,
        b"",
        dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
        dt.date(1969, 7, 20),
        Decimal("-12345678901234.567890123456789012"),
        [],
    ),
]


def test_avro_roundtrip_all_types(spark, tmp_path):
    df = spark.createDataFrame(ROWS, ALL_TYPES_SCHEMA).repartition(2)
    path = str(tmp_path / "all_types")
    write_avro(df, path)
    back = read_avro(spark, path)
    assert back.schema == ALL_TYPES_SCHEMA
    assert sorted(map(str, back.collect())) == sorted(
        map(str, spark.createDataFrame(ROWS, ALL_TYPES_SCHEMA).collect())
    )


def test_avro_empty_write_keeps_schema(spark, tmp_path):
    """An empty DataFrame still leaves a schema-bearing container file, so
    the read comes back empty with the written columns."""
    path = str(tmp_path / "empty")
    write_avro(spark.range(10).where("id < 0").select("id"), path)
    back = read_avro(spark, path)
    assert back.count() == 0
    assert back.schema.fieldNames() == ["id"]


def test_avro_append_keeps_earlier_rows(spark, tmp_path):
    """An append to a directory that already holds part files adds rows
    instead of overwriting the earlier write's files."""
    path = str(tmp_path / "appended")
    write_avro(spark.range(0, 5, numPartitions=1), path)
    write_avro(spark.range(100, 103, numPartitions=1), path, mode="append")
    ids = sorted(r.id for r in read_avro(spark, path).collect())
    assert ids == [0, 1, 2, 3, 4, 100, 101, 102]


def test_avro_roundtrip_deflate(spark, tmp_path):
    df = spark.range(1_000).select(
        F.col("id"), F.concat(F.lit("row-"), F.col("id")).alias("name")
    )
    path = str(tmp_path / "deflated")
    write_avro(df, path, codec="deflate")
    back = read_avro(spark, path)
    assert back.count() == 1_000
    assert back.agg(F.sum("id")).first()[0] == 499_500


def test_avro_interop_with_jvm_reference_impl(spark, tmp_path):
    """Files from the pure-Python writer must parse with the Java Avro
    reference implementation (org.apache.avro, bundled with Spark)."""
    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", -2.25), (3, None, None)],
        ["id", "name", "score"],
    ).coalesce(1)
    path = str(tmp_path / "interop")
    write_avro(df, path)
    fpath = sorted(glob.glob(os.path.join(path, "*.avro")))[0]

    jvm = spark._jvm
    jfile = jvm.java.io.File(fpath)
    datum = jvm.org.apache.avro.generic.GenericDatumReader()
    reader = jvm.org.apache.avro.file.DataFileReader(jfile, datum)
    try:
        # schema accepted and identical to what we declared
        got_schema = json.loads(reader.getSchema().toString())
        want_schema = json.loads(avro_schema_json(df.schema))
        assert got_schema == want_schema
        records = []
        while reader.hasNext():
            records.append(json.loads(reader.next().toString()))
    finally:
        reader.close()
    assert records == [
        {"id": 1, "name": "alpha", "score": 1.5},
        {"id": 2, "name": "beta", "score": -2.25},
        {"id": 3, "name": None, "score": None},
    ]


def test_avro_interop_deflate_jvm(spark, tmp_path):
    df = spark.range(100).coalesce(1)
    path = str(tmp_path / "interop_deflate")
    write_avro(df, path, codec="deflate")
    fpath = glob.glob(os.path.join(path, "*.avro"))[0]
    jvm = spark._jvm
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(fpath), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    try:
        n = 0
        while reader.hasNext():
            reader.next()
            n += 1
    finally:
        reader.close()
    assert n == 100


def test_spark_avro_missing_matches_only_the_missing_datasource(spark, tmp_path):
    """The fallback answers Spark's missing-datasource failure only, not
    any error whose text mentions avro."""
    from big_data_streaming_spark.sources.avro_fallback import spark_avro_missing

    with pytest.raises(Exception) as missing:
        spark.read.format("avro").load(str(tmp_path))
    assert spark_avro_missing(missing.value)
    assert not spark_avro_missing(ValueError(f"cannot read {tmp_path}/avro_in"))


def test_files_write_falls_back_for_avro(spark, sf_small, tmp_path):
    """files.write(fmt='avro') must produce readable data even without the
    spark-avro jar (previously it raised a remedy error)."""
    from big_data_streaming_spark.sources.catalog import load_table
    from big_data_streaming_spark.sources.files import read_avro as files_read
    from big_data_streaming_spark.sources.files import write

    ev = (
        load_table(spark, sf_small, "events")
        .select("event_id", "user_id", "event_type", "value")
        .limit(50)
    )
    path = str(tmp_path / "ev_avro")
    write(ev, path, "avro")
    back = files_read(spark, path)
    assert back.count() == 50
    assert set(back.columns) == {"event_id", "user_id", "event_type", "value"}


def test_streaming_avro_sink_writes_per_batch_dirs(spark, tmp_path):
    """A17: streaming avro sink — one container-file directory per
    micro-batch (the reference's layout), via the foreachBatch fallback."""
    from big_data_streaming_spark.streaming.sinks import start_file_sink
    from tests.test_streaming import COINS, make_kline, write_jsonl

    src = str(tmp_path / "src")
    write_jsonl(src, "a.jsonl", [make_kline(c, m) for c in COINS for m in range(10)])
    sdf = (
        spark.readStream.schema("coin string, timestamp long, volume double")
        .json(src)
    )
    out = str(tmp_path / "avro_out")
    q = start_file_sink(
        sdf,
        out,
        checkpoint=str(tmp_path / "ckpt"),
        fmt="avro",
        trigger={"availableNow": True},
    )
    q.awaitTermination()
    batch_dirs = sorted(glob.glob(os.path.join(out, "batch_*")))
    assert batch_dirs, "no per-batch avro directories written"
    total = sum(
        read_avro(spark, d).count() for d in batch_dirs
    )
    assert total == len(COINS) * 10


def test_streaming_avro_sink_partitioned_fallback(spark, tmp_path):
    """A17 with ``partition_by``: the fallback writes one
    ``batch_<id>/coin=<c>/`` container-file dir per coin, the coin only in
    the path, and every input row lands under its coin — a NULL coin
    under Spark's ``__HIVE_DEFAULT_PARTITION__``."""
    from big_data_streaming_spark.streaming.sinks import start_file_sink
    from tests.test_streaming import COINS, make_kline, write_jsonl

    src = str(tmp_path / "src")
    rows = [make_kline(c, m) for i, c in enumerate(COINS) for m in range(3 + i)]
    rows.append({**make_kline(COINS[0], 50), "coin": None})
    write_jsonl(src, "a.jsonl", rows)
    sdf = (
        spark.readStream.schema("coin string, timestamp long, volume double")
        .json(src)
    )
    out = str(tmp_path / "avro_out")
    q = start_file_sink(
        sdf,
        out,
        checkpoint=str(tmp_path / "ckpt"),
        fmt="avro",
        partition_by=("coin",),
        trigger={"availableNow": True},
    )
    q.awaitTermination()
    coin_dirs = sorted(glob.glob(os.path.join(out, "batch_*", "coin=*")))
    assert coin_dirs, "no per-coin avro directories written"
    counts: dict[str, int] = {}
    for d in coin_dirs:
        back = read_avro(spark, d)
        assert "coin" not in back.columns
        assert set(back.columns) == {"timestamp", "volume"}
        coin = os.path.basename(d).split("=", 1)[1]
        counts[coin] = counts.get(coin, 0) + back.count()
    want: dict[str, int] = {}
    for r in rows:
        coin = r["coin"] or "__HIVE_DEFAULT_PARTITION__"
        want[coin] = want.get(coin, 0) + 1
    assert counts == want


def test_streaming_avro_sink_refuses_complete_mode(spark, tmp_path):
    """Spark's file sinks accept append mode only and fail at start; the
    Avro fallback does the same instead of running in append mode."""
    from big_data_streaming_spark.streaming.sinks import start_file_sink
    from tests.test_streaming import COINS, make_kline, write_jsonl

    src = str(tmp_path / "src")
    write_jsonl(src, "a.jsonl", [make_kline(c, 0) for c in COINS])
    counts = (
        spark.readStream.schema("coin string, timestamp long, volume double")
        .json(src)
        .groupBy("coin")
        .count()
    )
    active = len(spark.streams.active)
    with pytest.raises(Exception, match="output mode: complete"):
        start_file_sink(
            counts,
            str(tmp_path / "avro_out"),
            checkpoint=str(tmp_path / "ckpt"),
            fmt="avro",
            output_mode="complete",
            trigger={"availableNow": True},
        )
    assert len(spark.streams.active) == active
    assert not os.path.exists(tmp_path / "avro_out")


@pytest.mark.parametrize("bad", [T.MapType(T.StringType(), T.LongType())])
def test_avro_unsupported_type_raises(spark, bad):
    with pytest.raises(TypeError, match="unsupported Spark type"):
        avro_schema_json(T.StructType([T.StructField("m", bad)]))
