"""JDBC source/sink tests against embedded Derby (on Spark's classpath) —
the live-RDBMS half of the reference surface: A14 (partitioned batch
scan), A18 (append sink), A20 (per-key table routing), A10/A15 (predicate
pushdown into the JDBC source)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_streaming_spark.sources.catalog import load_table
from big_data_streaming_spark.streaming.router import foreach_batch_router
from big_data_streaming_spark.streaming.sinks import (
    read_jdbc_partitioned,
    write_jdbc_append,
)

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@pytest.fixture(scope="module")
def derby_url(tmp_path_factory):
    db = tmp_path_factory.mktemp("derby") / "testdb"
    return f"jdbc:derby:{db};create=true"


def _write(df, url, table):
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", DRIVER)
        .mode("append")
        .save()
    )


def test_jdbc_roundtrip_and_pushdown(spark, sf_small, derby_url):
    ev = load_table(spark, sf_small, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    _write(ev, derby_url, "events_t")

    back = (
        spark.read.format("jdbc")
        .option("url", derby_url)
        .option("dbtable", "events_t")
        .option("driver", DRIVER)
        .load()
    )
    assert back.count() == ev.count()

    # A10/A15: range predicate pushed into the JDBC source (no manual
    # subquery-as-dbtable needed — Catalyst hands the filter to the driver)
    filtered = back.filter(F.col("value") > 100.0)
    phys = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in phys and "value" in phys, phys
    expected = ev.filter(F.col("value") > 100.0).count()
    assert filtered.count() == expected


def test_jdbc_partitioned_scan(spark, sf_small, derby_url):
    """A14 with the single-task fix: bound-partitioned read produces the
    same rows across N parallel range queries."""
    ev = load_table(spark, sf_small, "events").select("event_id", "value")
    _write(ev, derby_url, "events_part")

    lo, hi = 0, ev.count()
    df = read_jdbc_partitioned(
        spark,
        derby_url,
        "events_part",
        partition_column="event_id",
        lower_bound=lo,
        upper_bound=hi,
        num_partitions=4,
        driver=DRIVER,
    )
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == ev.count()
    assert write_jdbc_append is not None  # wrapper exists for prod URLs


def test_jdbc_per_key_routing(spark, sf_small, derby_url):
    """A20 against a real RDBMS: one batch scan, K per-key table writes
    (the reference's db-per-coin/table-per-interval shape, minus the
    injection-prone f-string DDL — Spark creates tables)."""
    ev = (
        load_table(spark, sf_small, "events")
        .select("event_id", "event_type", "value")
        .filter(F.col("event_type").isin("click", "error"))
    )
    written = []

    def write_partition(slice_df, key_tuple, batch_id):
        (etype,) = key_tuple
        _write(slice_df, derby_url, f"route_{etype}")
        written.append(etype)

    router = foreach_batch_router(["event_type"], write_partition)
    router(ev, batch_id=0)

    assert sorted(written) == ["click", "error"]
    for etype in ("click", "error"):
        back = (
            spark.read.format("jdbc")
            .option("url", derby_url)
            .option("dbtable", f"route_{etype}")
            .option("driver", DRIVER)
            .load()
        )
        assert back.count() == ev.filter(F.col("event_type") == etype).count()


def test_jdbc_idempotent_batch_write(spark, sf_small, derby_url):
    """Replaying a batch (the at-least-once failure mode of foreachBatch)
    must not duplicate rows — DELETE-then-INSERT keyed on _batch_id."""
    from big_data_streaming_spark.streaming.sinks import write_jdbc_idempotent

    ev = load_table(spark, sf_small, "events").select("event_id", "value").limit(100)

    write_jdbc_idempotent(ev, derby_url, "idem_t", batch_id=7, driver=DRIVER)
    write_jdbc_idempotent(ev, derby_url, "idem_t", batch_id=7, driver=DRIVER)  # replay
    write_jdbc_idempotent(ev, derby_url, "idem_t", batch_id=8, driver=DRIVER)

    back = (
        spark.read.format("jdbc")
        .option("url", derby_url)
        .option("dbtable", "idem_t")
        .option("driver", DRIVER)
        .load()
    )
    assert back.count() == 200  # batch 7 once + batch 8 once
    assert back.filter("_batch_id = 7").count() == 100


def test_jdbc_v2_catalog_aggregate_pushdown(spark, tmp_path):
    """A15 extension: through the DS v2 JDBCTableCatalog the AGGREGATION
    itself is pushed into the database — the scan returns one row per
    group (PushedAggregates + PushedGroupByExpressions in the plan), not
    the raw table. At 100 TB against a warehouse RDBMS this is the
    difference between shipping the table and shipping the answer."""
    url = f"jdbc:derby:{tmp_path}/pushdb;create=true"
    confs = {
        "spark.sql.catalog.derbycat":
            "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog",
        "spark.sql.catalog.derbycat.url": url,
        "spark.sql.catalog.derbycat.driver": DRIVER,
        "spark.sql.catalog.derbycat.pushDownAggregate": "true",
    }
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        src = spark.range(100).selectExpr(
            "id", "id % 5 AS grp", "CAST(id * 1.5 AS DOUBLE) AS v"
        )
        _write(src, url, "TPUSH")
        df = spark.sql(
            "SELECT grp, COUNT(*) AS n, MAX(v) AS mx "
            "FROM derbycat.TPUSH GROUP BY grp"
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedAggregates" in plan, plan[:1500]
        assert "PushedGroupByExpressions: [grp]" in plan.replace('"', ""), plan[:1500]
        got = {r.grp: (r.n, r.mx) for r in df.collect()}
        assert got[0] == (20, 142.5)
        assert len(got) == 5
    finally:
        for k in confs:
            spark.conf.unset(k)


def test_fanout_sink_both_legs_identical_and_idempotent(spark, tmp_path, derby_url):
    """One micro-batch → parquet batch dir AND Derby table from a single
    persisted evaluation; a replayed batch (same batch_id) must not
    duplicate either leg."""
    import os

    from pyspark.sql import functions as F

    from big_data_streaming_spark.streaming.sinks import (
        start_fanout_sink,
        write_jdbc_idempotent,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.range(50).selectExpr(
        "id", "CAST(id % 5 AS INT) AS k"
    ).write.mode("overwrite").parquet(src)

    sdf = spark.readStream.schema("id bigint, k int").parquet(src)
    pq_dir = str(tmp_path / "pq")
    q = start_fanout_sink(
        sdf,
        str(tmp_path / "ckpt"),
        parquet_dir=pq_dir,
        jdbc_url=derby_url,
        jdbc_table="fanout_t",
        jdbc_driver="org.apache.derby.jdbc.EmbeddedDriver",
        trigger={"availableNow": True},
    )
    q.awaitTermination()

    pq = spark.read.parquet(os.path.join(pq_dir, "batch_0"))
    jd = (
        spark.read.format("jdbc")
        .option("url", derby_url)
        .option("dbtable", "fanout_t")
        .load()
    )
    assert pq.count() == 50
    assert jd.count() == 50
    assert sorted(r["id"] for r in pq.collect()) == sorted(
        r["id"] for r in jd.select("id").collect()
    )

    # Simulate a WAL replay of batch 0: the idempotent JDBC leg converges
    # to one copy, and the parquet leg overwrites in place.
    batch = spark.read.parquet(src)
    write_jdbc_idempotent(
        batch, derby_url, "fanout_t", 0,
        driver="org.apache.derby.jdbc.EmbeddedDriver",
    )
    batch.write.mode("overwrite").parquet(os.path.join(pq_dir, "batch_0"))
    assert (
        spark.read.format("jdbc")
        .option("url", derby_url)
        .option("dbtable", "fanout_t")
        .load()
        .count()
        == 50
    )
    assert spark.read.parquet(os.path.join(pq_dir, "batch_0")).count() == 50


def test_ensure_table_provisions_idempotently(spark, derby_url):
    """A21 (reference spark/streaming-longtime.py:69-106, minus the
    injection bug): provision → exists-check → write → read-back, and a
    second ensure is a no-op."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from big_data_streaming_spark.streaming.ddl import ensure_table

    schema = StructType(
        [
            StructField("id", LongType(), nullable=False),
            StructField("sym", StringType()),
            StructField("px", DoubleType()),
            StructField("ts", TimestampType()),
        ]
    )
    assert ensure_table(spark, derby_url, "prov_t", schema, driver=DRIVER)
    # idempotent: second call sees the table and does nothing
    assert not ensure_table(spark, derby_url, "prov_t", schema, driver=DRIVER)

    df = spark.createDataFrame(
        [(1, "BTC", 42.5, None), (2, "ETH", 7.25, None)],
        schema=schema,
    )
    write_jdbc_append(df, derby_url, "prov_t", user="", password="")
    back = (
        spark.read.format("jdbc")
        .option("url", derby_url)
        .option("dbtable", "prov_t")
        .option("driver", DRIVER)
        .load()
    )
    assert back.count() == 2
    assert {r.sym for r in back.collect()} == {"BTC", "ETH"}


def test_ensure_table_schema_qualified(spark, derby_url):
    """Schema-qualified provisioning creates the schema too (the
    reference's CREATE DATABASE analog), idempotently."""
    from pyspark.sql.types import LongType, StructField, StructType

    from big_data_streaming_spark.streaming.ddl import ensure_table

    schema = StructType([StructField("v", LongType())])
    assert ensure_table(spark, derby_url, "serving.prov_q", schema, driver=DRIVER)
    assert not ensure_table(spark, derby_url, "serving.prov_q", schema, driver=DRIVER)


def test_ensure_table_rejects_injection(spark, derby_url):
    """The reference's f-string DDL would execute a hostile key; the
    allow-list refuses it before any connection is opened."""
    import pytest as _pytest
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from big_data_streaming_spark.streaming.ddl import (
        build_create_table,
        ensure_table,
    )

    ok = StructType([StructField("v", LongType())])
    for bad_table in ('x"; DROP TABLE t --', "a.b.c", "1tbl", "t;--", ""):
        with _pytest.raises(ValueError):
            ensure_table(spark, derby_url, bad_table, ok, driver=DRIVER)
    bad_col = StructType([StructField('v" CASCADE; --', LongType())])
    with _pytest.raises(ValueError):
        ensure_table(spark, derby_url, "t_ok", bad_col, driver=DRIVER)
    # unsupported nested types are refused, not emitted as broken DDL
    from pyspark.sql.types import ArrayType

    nested = StructType([StructField("v", ArrayType(StringType()))])
    with _pytest.raises(ValueError):
        build_create_table("t_ok", nested)
    # audit the emitted DDL shape once
    ddl = build_create_table(
        "s.t",
        StructType(
            [
                StructField("a", LongType(), nullable=False),
                StructField("b", StringType()),
            ]
        ),
        string_length=128,
    )
    assert ddl == 'CREATE TABLE "s"."t" ("a" BIGINT NOT NULL, "b" VARCHAR(128))'


def test_ensure_table_underscore_is_not_a_wildcard(spark, derby_url):
    """getTables treats '_' as a single-char LIKE wildcard: an existence
    probe for 'wild_t' used to match an existing 'wildxt' and falsely
    skip creation (ADVICE r3). The patterns are now escaped with the
    driver's search-string escape."""
    from pyspark.sql.types import LongType, StructField, StructType

    from big_data_streaming_spark.streaming.ddl import ensure_table

    schema = StructType([StructField("v", LongType())])
    assert ensure_table(spark, derby_url, "wildxt", schema, driver=DRIVER)
    # 'wild_t' does NOT exist; the unescaped probe would match 'wildxt'
    # and return False without creating it.
    assert ensure_table(spark, derby_url, "wild_t", schema, driver=DRIVER)
    # both now exist; both re-ensures are no-ops
    assert not ensure_table(spark, derby_url, "wildxt", schema, driver=DRIVER)
    assert not ensure_table(spark, derby_url, "wild_t", schema, driver=DRIVER)


def test_jdbc_idempotent_underscore_is_not_a_wildcard(spark, derby_url):
    """The idempotent writer's existence probe is the exact-name probe of
    ``ensure_table``: with 'wipxt' present, a first write to the missing
    'wip_t' must not take 'wipxt' for it and DELETE from a table that
    does not exist."""
    from big_data_streaming_spark.streaming.sinks import write_jdbc_idempotent

    _write(spark.range(3).selectExpr("id", "0 AS _batch_id"), derby_url, "wipxt")
    src = spark.range(5).select("id")
    write_jdbc_idempotent(src, derby_url, "wip_t", 0, driver=DRIVER)
    write_jdbc_idempotent(src, derby_url, "wip_t", 0, driver=DRIVER)  # replay
    back = (
        spark.read.format("jdbc")
        .option("url", derby_url)
        .option("dbtable", "wip_t")
        .option("driver", DRIVER)
        .load()
    )
    assert back.count() == 5
