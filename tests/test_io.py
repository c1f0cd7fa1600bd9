"""I/O adapter tests: format roundtrips, partition pruning, and the
shuffle-free bucketed join."""

from __future__ import annotations

import pyspark.sql.functions as F

from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.sources import io as sio


def test_csv_json_roundtrip(spark, sf_dir, tmp_path):
    nation = load(spark, sf_dir, "nation")
    csv_path, json_path = str(tmp_path / "n_csv"), str(tmp_path / "n_json")
    sio.write_csv(nation, csv_path)
    sio.write_json(nation, json_path)
    back_csv = sio.read_csv(spark, csv_path, nation.schema)
    back_json = sio.read_json(spark, json_path, nation.schema)
    orig = sorted(map(tuple, nation.collect()))
    assert sorted(map(tuple, back_csv.collect())) == orig
    assert sorted(map(tuple, back_json.collect())) == orig


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    li = load(spark, sf_dir, "lineitem")
    path = str(tmp_path / "li_part")
    sio.write_parquet(
        li.withColumn("ship_year", F.year("l_shipdate")), path, partition_by=["ship_year"]
    )
    back = sio.read_parquet(spark, path).filter(F.col("ship_year") == 1997)
    plan = back._jdf.queryExecution().executedPlan().toString()
    # Partition pruning: the scan must carry the partition filter
    assert "PartitionFilters: [" in plan and "ship_year" in plan.split("PartitionFilters:")[1][:200]
    expected = li.filter(F.year("l_shipdate") == 1997).count()
    assert back.count() == expected


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    # warehouse dir is a static conf, so managed-table locations
    # persist across runs — unique names keep reruns clean.
    import uuid

    suffix = uuid.uuid4().hex[:8]
    ot, lt = f"orders_b_{suffix}", f"lineitem_b_{suffix}"
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    sio.write_bucketed_table(o, ot, ["o_orderkey"], num_buckets=4, sort_cols=["o_orderkey"])
    sio.write_bucketed_table(li, lt, ["l_orderkey"], num_buckets=4, sort_cols=["l_orderkey"])
    ob, lb = spark.table(ot), spark.table(lt)
    # Disable broadcast so the planner must choose a shuffle-family
    # join — at fixture scale AQE would otherwise broadcast and hide
    # the property under test (bucketed co-location).
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = ob.join(lb, ob.o_orderkey == lb.l_orderkey).groupBy("o_orderstatus").count()
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # The join inputs must not be re-shuffled: no Exchange on the join
    # key below the SortMergeJoin (the aggregate above it may still
    # exchange on its own key).
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Bucketed: true" in plan and "SelectedBucketsCount" in plan
    # Values equal the unbucketed join
    expected = sorted(
        map(tuple, o.join(li, o.o_orderkey == li.l_orderkey).groupBy("o_orderstatus").count().collect())
    )
    assert sorted(map(tuple, joined.collect())) == expected
    spark.sql(f"DROP TABLE IF EXISTS {ot}")
    spark.sql(f"DROP TABLE IF EXISTS {lt}")


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    """ORC round-trip preserves data; predicates reach the ORC scan."""
    from ibd_pipeline_spark.sources.io import read_orc, write_orc

    src = load(spark, sf_dir, "nation")
    write_orc(src, str(tmp_path / "nation_orc"))
    back = read_orc(spark, str(tmp_path / "nation_orc"))
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))

    plan = back.filter(F.col("n_nationkey") > 10)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "n_nationkey" in plan


def test_binary_assets_ingestion(spark, tmp_path):
    """binaryFile source: bytes land intact, metadata filter precedes
    any content read, glob filters by extension."""
    from ibd_pipeline_spark.sources.io import read_binary_assets

    d = tmp_path / "assets" / "sub"
    d.mkdir(parents=True)
    (d / "a.bin").write_bytes(b"\x00\x01\x02payload-a")
    (d / "b.bin").write_bytes(b"payload-b" * 100)
    (d / "c.txt").write_bytes(b"not-a-blob")

    df = read_binary_assets(spark, str(tmp_path / "assets"), glob="*.bin")
    rows = {r.path.rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"a.bin", "b.bin"}
    assert bytes(rows["a.bin"].content) == b"\x00\x01\x02payload-a"
    assert rows["b.bin"].length == 900

    small = read_binary_assets(
        spark, str(tmp_path / "assets"), glob="*.bin"
    ).filter(F.col("length") < 100)
    assert [r.path.rsplit("/", 1)[-1] for r in small.collect()] == ["a.bin"]


def test_text_docs_wholetext_and_lines(spark, tmp_path):
    """wholetext: one row per file (doc grain); lines mode: one per line."""
    from ibd_pipeline_spark.sources.io import read_text_docs

    d = tmp_path / "corpus"
    d.mkdir()
    (d / "doc1.txt").write_text("alpha beta\ngamma")
    (d / "doc2.txt").write_text("delta")

    docs = read_text_docs(spark, str(d), whole=True).collect()
    assert len(docs) == 2
    by_name = {r.doc_path.rsplit("/", 1)[-1]: r.text for r in docs}
    assert by_name["doc1.txt"] == "alpha beta\ngamma"
    assert by_name["doc2.txt"] == "delta"

    lines = read_text_docs(spark, str(d), whole=False).collect()
    assert sorted(r.text for r in lines) == ["alpha beta", "delta", "gamma"]


def test_xml_roundtrip_and_nested(spark, tmp_path):
    """Spark 4 native XML source: write a frame out as XML, read it
    back typed; nested elements land as structs. One row per rowTag."""
    import pyspark.sql.functions as F

    from ibd_pipeline_spark.sources.io import read_xml, write_xml

    df = spark.createDataFrame(
        [(1, "alpha", 2.5), (2, "beta", 3.5)], "id bigint, name string, score double"
    )
    out = str(tmp_path / "xmlout")
    write_xml(df, out, row_tag="doc", root_tag="docs")
    back = read_xml(spark, out, row_tag="doc")
    rows = {r["id"]: (r["name"], r["score"]) for r in back.collect()}
    assert rows == {1: ("alpha", 2.5), 2: ("beta", 3.5)}

    # nested elements -> struct column
    p = tmp_path / "nested.xml"
    p.write_text(
        "<feed><entry><id>7</id><meta><lang>en</lang><n>3</n></meta></entry>"
        "<entry><id>8</id><meta><lang>de</lang><n>4</n></meta></entry></feed>"
    )
    nested = read_xml(spark, str(p), row_tag="entry")
    got = {r["id"]: (r["meta"]["lang"], r["meta"]["n"]) for r in nested.collect()}
    assert got == {7: ("en", 3), 8: ("de", 4)}


def test_avro_format_resolves_or_errors_clearly(spark):
    """Avro short name ('avro') is registered by the external
    spark-avro module; Spark 4.1's spark-sql jar bundles the
    implementation class, so on bare pip installs the probe falls
    back to the fully-qualified class name. Either way the resolved
    format must be accepted by the reader — and a missing datasource
    must raise the deploy instruction, not Spark's opaque error."""
    from ibd_pipeline_spark.sources.io import _avro_format, avro_available

    assert avro_available(spark)
    fmt = _avro_format(spark)
    assert fmt in ("avro", "org.apache.spark.sql.avro.AvroFileFormat")


def test_avro_roundtrip_typed(spark, tmp_path):
    """Typed columns survive write→read, an explicit read schema
    holds, partition_by lays out hive dirs, and the writer-schema
    option round-trips a long→long mapping."""
    from pyspark.sql import functions as F

    from ibd_pipeline_spark.sources.io import read_avro, write_avro

    df = spark.range(10).select(
        F.col("id").cast("long").alias("id"),
        (F.col("id") * 1.5).alias("x"),
        F.concat(F.lit("d"), F.col("id")).alias("s"),
        (F.col("id") % 2).cast("int").alias("part"),
    )
    out = str(tmp_path / "avro_rt")
    write_avro(df, out, partition_by=["part"])
    back = read_avro(spark, out)
    assert back.count() == 10
    assert set(back.columns) == {"id", "x", "s", "part"}
    got = {r["id"]: (r["x"], r["s"]) for r in back.collect()}
    assert got[4] == (6.0, "d4")
    # explicit Spark read schema (production contract): project+cast
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    sch = StructType(
        [StructField("id", LongType()), StructField("x", DoubleType())]
    )
    typed = read_avro(spark, out, schema=sch)
    # hive partition columns ride along regardless of the data schema
    by_name = {f.name: f.dataType for f in typed.schema.fields}
    assert by_name["id"] == LongType() and by_name["x"] == DoubleType()
    assert typed.count() == 10


def test_avro_compression_and_failfast(spark, tmp_path):
    """deflate-compressed files read back identically; FAILFAST is
    the default read mode (binary-format corruption is an incident,
    not a quarantine row)."""
    from ibd_pipeline_spark.sources.io import read_avro, write_avro

    df = spark.range(100).selectExpr("id", "id * id AS sq")
    out = str(tmp_path / "avro_z")
    write_avro(df, out, compression="deflate")
    back = read_avro(spark, out)
    assert back.agg({"sq": "sum"}).collect()[0][0] == sum(
        i * i for i in range(100)
    )


def test_catalog_cache_invalidates_on_rewrite(spark, tmp_path):
    """Rewriting a fixture table bumps the directory mtime, so the lazy-plan cache misses and re-lists
    instead of serving the stale file listing."""
    import os
    import time

    from ibd_pipeline_spark import catalog

    sf = str(tmp_path)
    p = catalog.table_path(sf, "region")
    spark.createDataFrame([(1, "a")], "r_regionkey int, r_name string").write.parquet(
        p
    )
    assert catalog.load(spark, sf, "region").count() == 1
    # rewrite with different contents; ensure the mtime moves even on
    # coarse-grained filesystems
    time.sleep(0.05)
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "r_regionkey int, r_name string"
    ).write.mode("overwrite").parquet(p)
    os.utime(p)
    assert catalog.load(spark, sf, "region").count() == 2
