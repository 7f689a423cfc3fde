"""Avro codec / OCF sink / Confluent framing / registry tests (B4-B7)."""

from __future__ import annotations

import datetime
import io
import json
import struct

import pyspark.sql.functions as F

from shredder_spark.sinks import avro_codec as ac
from shredder_spark.sinks.avro import read_avro_ocf, spark_schema_to_avro, write_avro_ocf
from shredder_spark.sinks.kafka import (
    deframe_value_col, frame_confluent_col, magic_ok_col, prepare_kafka_batch,
    schema_id_col,
)
from shredder_spark.sinks.registry import SchemaRegistryClient

SCHEMA = json.dumps({
    "type": "record", "name": "t",
    "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": "string"},
        {"name": "c", "type": ["null", "double"]},
        {"name": "d", "type": "boolean"},
    ],
})


def test_codec_roundtrip_and_golden_bytes():
    rc = ac.RecordCodec(SCHEMA)
    row = (3, "hi", None, True)
    enc = rc.encode(row)
    # golden: zigzag(3)=6; "hi" = len 2 (zigzag 4) + bytes; null union idx 0; true
    assert enc == bytes([6, 4]) + b"hi" + bytes([0, 1])
    assert rc.decode(enc) == row
    row2 = (-1, "", 2.5, False)
    assert rc.decode(rc.encode(row2)) == row2


def test_varint_edges():
    buf = io.BytesIO()
    for v in [0, -1, 1, 63, 64, -64, -65, 2**62, -(2**62), 2**63 - 1, -(2**63)]:
        buf.seek(0); buf.truncate()
        ac.write_long(buf, v)
        buf.seek(0)
        assert ac.read_long(buf) == v, v


def test_ocf_roundtrip_all_codecs():
    rc = ac.RecordCodec(SCHEMA)
    rows = [(i, f"s{i}", None if i % 3 == 0 else i / 2, i % 2 == 0)
            for i in range(1000)]
    for codec in ["null", "deflate", "snappy"]:
        fh = io.BytesIO()
        n = ac.write_ocf(fh, rc, rows, codec=codec, block_rows=128)
        assert n == 1000
        fh.seek(0)
        schema, out = ac.read_ocf_all(fh)
        assert out == rows
        assert schema["name"] == "t"


def test_confluent_frame_layout():
    framed = ac.frame_confluent(1042, b"\x06payload")
    # magic byte 0x00 + 4-byte BE id (kafkaavro/producer.go:191-210)
    assert framed[0] == 0
    assert framed[1:5] == struct.pack(">I", 1042)
    sid, payload = ac.deframe_confluent(framed)
    assert sid == 1042 and payload == b"\x06payload"


def test_spark_ocf_roundtrip(spark, tmp_path):
    df = spark.range(500).select(
        F.col("id").alias("k"),
        F.concat(F.lit("row-"), F.col("id")).alias("s"),
        (F.col("id") * 1.5).alias("x"),
        (F.col("id") % 2 == 0).alias("flag"),
        F.timestamp_micros(F.col("id") * 1_000_000 + 1_590_000_000_000_000).alias("ts"),
        F.date_add(F.lit("2020-01-01").cast("date"), F.col("id").cast("int")).alias("d"),
    ).repartition(4)
    out = str(tmp_path / "ocf")
    write_avro_ocf(df, out, codec="snappy")
    import glob
    files = glob.glob(out + "/*.avro")
    assert len(files) == 4  # one file per partition (reference A24)

    back = read_avro_ocf(spark, out)
    assert back.count() == 500
    a = sorted([tuple(r) for r in df.collect()])
    b = sorted([tuple(r) for r in back.collect()])
    assert a == b


def test_jvm_written_ocf_decodes_with_reference_codec(spark, tmp_path):
    """Interop: OCF files written by Spark's JVM Avro writer decode with
    the from-scratch codec (``avro_codec.read_ocf_all``) to the rows of
    ``_to_wire(df)`` — epoch days and micros for the temporal columns."""
    import glob

    from shredder_spark.sinks.avro import _to_wire

    df = spark.range(300).select(
        F.col("id").alias("k"),
        F.concat(F.lit("r"), F.col("id")).alias("s"),
        (F.col("id") / 7.0).alias("x"),
        F.timestamp_micros(F.col("id") * 1_000_003).alias("ts"),
        F.date_add(F.lit("1999-12-31").cast("date"), F.col("id").cast("int")).alias("d"),
    ).repartition(3)
    out = str(tmp_path / "jvmocf")
    write_avro_ocf(df, out, codec="snappy")
    files = glob.glob(out + "/*.avro")
    assert len(files) == 3  # one file per partition (reference A24)
    got = []
    for path in files:
        with open(path, "rb") as fh:
            _schema, rows = ac.read_ocf_all(fh)
        got.extend(rows)
    want = [tuple(r) for r in _to_wire(df).collect()]
    assert len(got) == 300
    assert sorted(got) == sorted(want)


def test_prepare_kafka_batch_bytes(spark):
    df = spark.range(10).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("s"))
    batch = prepare_kafka_batch(df, schema_id=7, key_col="k")
    assert set(batch.columns) == {"key", "value", "partition"}
    rows = batch.collect()
    schema_json = spark_schema_to_avro(df.schema)
    rc = ac.RecordCodec(schema_json)
    for r in rows:
        sid, payload = ac.deframe_confluent(bytes(r.value))
        assert sid == 7
        k, s = rc.decode(payload)
        assert s == f"v{k}"
        assert bytes(r.key).decode() == str(k)
        assert r.partition is not None

    # deframe column expressions recover id + payload JVM-side
    dec = batch.select(
        schema_id_col(F.col("value")).alias("sid"),
        magic_ok_col(F.col("value")).alias("ok"),
        deframe_value_col(F.col("value")).alias("raw"))
    out = dec.collect()
    assert all(r.sid == 7 and r.ok for r in out)
    assert {rc.decode(bytes(r.raw))[1] for r in out} == {f"v{i}" for i in range(10)}


def test_registry_client_cached():
    calls = {"get": 0, "post": 0}

    def fake_get(url):
        calls["get"] += 1
        return 200, {"schema": '"string"'}

    def fake_post(url, payload):
        calls["post"] += 1
        return 200, {"id": 5}

    c = SchemaRegistryClient("http://fake:8081", http_get=fake_get, http_post=fake_post)
    kid, vid = c.register_topic("t1", SCHEMA)
    assert (kid, vid) == (5, 5)
    c.register_topic("t1", SCHEMA)  # cached
    assert calls["post"] == 2
    assert c.get_schema(9) == '"string"'
    c.get_schema(9)
    assert calls["get"] == 1
