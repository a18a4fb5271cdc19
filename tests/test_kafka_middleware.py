"""Kafka producer middleware semantics without a broker.

Pins the reference contract (middlewares/kafka/producer.py): wire
bytes, skip-don't-fail on bad messages, idempotent topic creation,
dense single-partition offsets across appends, and send_and_wait's
raise-on-unserializable. The TopicLog is the container's broker
stand-in; `kafka_messages` output is the real `format("kafka")` sink
schema, value-oracled separately by the `kafka_wire_format` query.
"""

from __future__ import annotations

import json
import tempfile

import pytest
from pyspark.sql import functions as F

from crawl4ai_spark.streaming.kafka import TopicLog, kafka_messages


@pytest.fixture()
def log(spark):
    with tempfile.TemporaryDirectory(prefix="c4as_kafka_") as d:
        yield TopicLog(spark, d)


def test_wire_bytes_exact(spark):
    df = spark.createDataFrame([(7, "café « ok »")], "k long, v string")
    row = kafka_messages(df, "t", "k", ["k", "v"]).first()
    assert row.key == b"7"
    # ensure_ascii=False: unicode stays literal utf-8, json.dumps spacing kept
    assert row.value == json.dumps(
        {"k": 7, "v": "café « ok »"}, ensure_ascii=False
    ).encode("utf-8")
    assert row.value.decode("utf-8") == '{"k": 7, "v": "café « ok »"}'


def test_null_key_skipped_batch_survives(spark):
    df = spark.createDataFrame([(None, "a"), ("x", "b")], "k string, v string")
    out = kafka_messages(df, "t", "k", ["v"]).collect()
    assert [r.key for r in out] == [b"x"]   # producer.py KeyError skip path


def test_offsets_dense_across_sends(spark, log):
    df1 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, n long")
    df2 = spark.createDataFrame([("c", 3)], "k string, n long")
    log.send(kafka_messages(df1, "topic1", "k", ["n"]))
    log.send(kafka_messages(df2, "topic1", "k", ["n"]))
    rows = log.read("topic1").collect()
    assert [r.offset for r in rows] == [0, 1, 2]
    assert rows[2].key == b"c"


def test_topics_isolated_and_idempotent(spark, log):
    assert log.ensure_topic("t1") and log.ensure_topic("t1")
    df = spark.createDataFrame([("a", 1)], "k string, n long")
    log.send(kafka_messages(df, "t1", "k", ["n"]))
    log.send(kafka_messages(df, "t2", "k", ["n"]))
    assert log.next_offset("t1") == 1
    assert log.next_offset("t2") == 1
    assert log.next_offset("t3") == 0


def test_send_and_wait_critical_message(spark, log):
    log.send_and_wait("signals", "init", {"task": "crawl", "round": 0})
    row = log.read("signals").first()
    assert row.offset == 0 and row.key == b"init"
    assert json.loads(row.value) == {"task": "crawl", "round": 0}
    with pytest.raises(TypeError):
        log.send_and_wait("signals", "bad", {"x": object()})  # producer.py:141-143 raise


def test_wire_bytes_arrays_nulls_and_bool_keys(spark, tmp_path):
    """Arrow->pandas artifacts must not corrupt the wire: array values
    serialize as JSON arrays (size-1 included), a null in a long
    column stays null (not the invalid token NaN) and leaves the
    other rows' ints as ints, and a boolean key serializes as
    str(k) like the reference's producer."""
    import json as _json

    from crawl4ai_spark.streaming.kafka import kafka_messages

    df = spark.createDataFrame(
        [("u1", ["a"], 5, True),
         ("u2", ["a", "b"], None, False)],
        "url string, links array<string>, n long, flag boolean")
    rows = {r.key: r for r in
            kafka_messages(df, "t", "url", ["links", "n"]).collect()}
    v1 = _json.loads(bytes(rows[b"u1"].value))
    v2 = _json.loads(bytes(rows[b"u2"].value))
    assert v1 == {"links": ["a"], "n": 5}
    assert bytes(rows[b"u1"].value) == b'{"links": ["a"], "n": 5}'
    assert v2 == {"links": ["a", "b"], "n": None}

    keys = {bytes(r.key) for r in
            kafka_messages(df, "t", "flag", ["n"]).collect()}
    assert keys == {b"True", b"False"}


def test_array_long_with_null_keeps_ints(spark):
    """A null element in an array<long> column turns every row's
    elements float64 on the Arrow->pandas hop; the wire must still
    carry ints (and null for the null), in every row of the batch."""
    df = spark.createDataFrame(
        [("u1", [1, None, 3]), ("u2", [4])],
        "url string, ids array<long>").coalesce(1)
    rows = {bytes(r.key): bytes(r.value) for r in
            kafka_messages(df, "t", "url", ["ids"]).collect()}
    assert rows == {b"u1": b'{"ids": [1, null, 3]}', b"u2": b'{"ids": [4]}'}


def test_null_bool_key_skipped(spark):
    """A NULL boolean key drops the row like any null key; it must not
    serialize as b"False"."""
    df = spark.createDataFrame([(None, 1), (True, 2), (False, 3)],
                               "flag boolean, n long")
    rows = kafka_messages(df, "t", "flag", ["n"]).collect()
    assert sorted((bytes(r.key), bytes(r.value)) for r in rows) == [
        (b"False", b'{"n": 3}'), (b"True", b'{"n": 2}')]


def test_mixed_send_paths_share_offset_type(spark, tmp_path):
    """send_and_wait writes offset as long; send() must too, or the
    topic dir holds conflicting parquet types and reads break."""
    from crawl4ai_spark.streaming.kafka import TopicLog, kafka_messages

    log = TopicLog(spark, str(tmp_path / "log"))
    log.send_and_wait("t", "init", {"x": 1})
    df = spark.createDataFrame([("u1", 7)], "url string, n long")
    log.send(kafka_messages(df, "t", "url", ["n"]))
    rows = log.read("t").collect()
    assert [r.offset for r in rows] == [0, 1]
    assert log.next_offset("t") == 2


def test_read_empty_topic_yields_zero_records(spark, tmp_path):
    from crawl4ai_spark.streaming.kafka import TopicLog

    log = TopicLog(spark, str(tmp_path / "log2"))
    log.ensure_topic("fresh")
    assert log.read("fresh").count() == 0
    assert log.read("never_created").count() == 0
