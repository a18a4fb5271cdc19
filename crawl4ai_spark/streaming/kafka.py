"""Kafka producer middleware, re-expressed Spark-first.

Reference: middlewares/kafka/producer.py (KafkaMiddleware.send:88-116,
send_and_wait:118-143, ensure_topic_exists:13-40). Its contract:

  * a message is {'key': k, 'value': v}; on the wire
    key   = str(k).encode('utf-8')
    value = json.dumps(v, ensure_ascii=False).encode('utf-8')
  * messages missing 'key'/'value' or with unserializable values are
    SKIPPED (logged), the batch still sends
  * topics are created with num_partitions=1 — one totally-ordered log

The Spark-native split: `kafka_messages` turns any DataFrame into the
(topic, key binary, value binary) frame that Spark's real Kafka sink
(`df.write.format("kafka")`) consumes directly when the
spark-sql-kafka jar is present — serialization is the reference-exact
part and runs as an Arrow-batched pandas UDF (json.dumps spacing and
unicode behavior beat a to_json reimplementation, same trade as
urlnorm). `TopicLog` is the brokerless stand-in sink for this
container: a single-partition parquet log with dense offsets, append =
produce, read = consume-from-0, so the middleware's semantics are
testable end to end without a broker. Swapping TopicLog.append for
format("kafka") is a one-line change at the call site.
"""

from __future__ import annotations

import json
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType


def _to_plain(v, integral: bool = False):
    """numpy/pandas value -> python native so json.dumps emits the
    reference's bytes. Arrow->pandas artifacts handled explicitly:
    arrays arrive as np.ndarray (``.item()`` would raise on size>1 and
    silently UNWRAP size 1), structs as dicts, and a null in a numeric
    column turns the whole column float64 with NaN — NaN must become
    JSON null (the bare token ``NaN`` is not JSON), and an integral
    column's values must serialize as ints again, not 5.0. The same
    holds inside an array<integral> (a null element anywhere in the
    batch turns every row's elements float64), so ``integral`` carries
    into array elements."""
    if v is None or (isinstance(v, float) and v != v):
        return None
    if isinstance(v, dict):
        return {k: _to_plain(x) for k, x in v.items()}
    if hasattr(v, "tolist") and getattr(v, "ndim", 0):
        return [_to_plain(x, integral) for x in v.tolist()]
    if hasattr(v, "item"):
        v = v.item()
    if integral and isinstance(v, float):
        return int(v)
    if isinstance(v, (list, tuple)):
        return [_to_plain(x, integral) for x in v]
    return v


def _make_json_value_udf(integral_cols: frozenset):
    @pandas_udf(BinaryType())
    def _json_value_udf(values: pd.DataFrame) -> pd.Series:
        out = []
        for row in values.to_dict(orient="records"):
            try:
                out.append(
                    json.dumps({k: _to_plain(v, k in integral_cols)
                                for k, v in row.items()},
                               ensure_ascii=False).encode("utf-8")
                )
            except (TypeError, OverflowError, ValueError):
                # producer.py:111-112 — unserializable value: skip the
                # message
                out.append(None)
        return pd.Series(out, dtype=object)

    return _json_value_udf


def kafka_messages(df: DataFrame, topic: str, key_col: str,
                   value_cols: list[str]) -> DataFrame:
    """Wire-format frame (topic, key, value), reference-exact bytes.

    Null keys and serialization failures drop the row (producer.py's
    KeyError / TypeError skip paths) — the rest of the batch survives.
    """
    from pyspark.sql.types import ArrayType, BooleanType, IntegralType

    def is_integral(t) -> bool:
        while isinstance(t, ArrayType):
            t = t.elementType
        return isinstance(t, IntegralType)

    integral = frozenset(
        f.name for f in df.select(*value_cols).schema.fields
        if is_integral(f.dataType)
    )
    key_expr = F.col(key_col)
    if isinstance(df.schema[key_col].dataType, BooleanType):
        # reference key bytes are str(k).encode() (producer.py:108):
        # Python str(True) is 'True', Spark's cast is 'true'. A NULL
        # key stays NULL (no otherwise branch), so the row is dropped
        # like any other null key.
        key_expr = F.when(key_expr, "True").when(~key_expr, "False")
    msgs = df.select(
        F.lit(topic).alias("topic"),
        F.encode(key_expr.cast("string"), "UTF-8").alias("key"),
        _make_json_value_udf(integral)(F.struct(*value_cols)).alias("value"),
    )
    return msgs.where(F.col("key").isNotNull() & F.col("value").isNotNull())


class TopicLog:
    """Single-partition topic log (the broker stand-in).

    Offsets are dense and total-ordered per topic, like the reference's
    num_partitions=1 NewTopic: each append claims [next, next+n). The
    log is parquet under dir/topic=<name>/ so a real consumer-side scan
    partition-prunes on topic.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _dir(self, topic: str) -> str:
        return os.path.join(self.root, f"topic={topic}")

    def ensure_topic(self, topic: str) -> bool:
        """ensure_topic_exists (producer.py:13-40): idempotent create."""
        os.makedirs(self._dir(topic), exist_ok=True)
        return True

    def next_offset(self, topic: str) -> int:
        d = self._dir(topic)
        if not os.path.isdir(d) or not any(
            f.endswith(".parquet") for f in os.listdir(d)
        ):
            return 0
        row = self.spark.read.parquet(d).agg(F.max("offset")).first()
        return 0 if row[0] is None else int(row[0]) + 1

    def send(self, messages: DataFrame) -> None:
        """Produce a wire-format batch (one topic per call, like
        KafkaMiddleware.send). Offsets are assigned by a single
        total-order window — correct because the log is one partition
        by contract; a multi-partition topic would shard this by a
        (topic, partition) hash instead. Intra-batch order is PRODUCER
        order, as real single-partition Kafka preserves it: a
        monotonically_increasing_id captured on the input df before the
        topic split encodes (partition, position) — the batch's send
        order — so consumers of the stand-in log observe the same
        ordering the reference middleware's sequential produce() loop
        (producer.py:104-116) would yield."""
        # one materialization of the serialization UDF: the distinct-
        # topics collect and every per-topic write read the SAME
        # persisted frame instead of recomputing the lineage T+1 times
        seq = messages.withColumn(
            "__seq", F.monotonically_increasing_id()).persist()
        try:
            topics = [r.topic
                      for r in seq.select("topic").distinct().collect()]
            for topic in topics:
                self.ensure_topic(topic)
                base = self.next_offset(topic)
                batch = seq.where(F.col("topic") == topic)
                from pyspark.sql import Window
                w = Window.orderBy(F.col("__seq").asc())
                out = batch.select(
                    # cast: send_and_wait writes 'offset long'; mixing
                    # INT32 and INT64 footers in one topic dir breaks
                    # the schema-inferred read
                    (F.lit(base) + F.row_number().over(w) - 1)
                    .cast("long").alias("offset"),
                    "key", "value",
                )
                out.write.mode("append").parquet(self._dir(topic))
        finally:
            seq.unpersist()

    def send_and_wait(self, topic: str, key: str, value: dict) -> None:
        """Single critical signaling message (producer.py:118-143):
        raises on serialization failure instead of skipping."""
        payload = json.dumps(value, ensure_ascii=False).encode("utf-8")
        self.ensure_topic(topic)
        base = self.next_offset(topic)
        df = self.spark.createDataFrame(
            [(base, str(key).encode("utf-8"), payload)],
            "offset long, key binary, value binary",
        )
        df.write.mode("append").parquet(self._dir(topic))

    def read(self, topic: str) -> DataFrame:
        """Consume from offset 0: (offset, key, value) in log order.
        An existing-but-empty topic yields zero records, like a real
        consumer on a fresh topic — not an inference error."""
        d = self._dir(topic)
        if not os.path.isdir(d) or not any(
            f.endswith(".parquet") for f in os.listdir(d)
        ):
            return self.spark.createDataFrame(
                [], "offset long, key binary, value binary")
        return self.spark.read.parquet(d).orderBy("offset")
