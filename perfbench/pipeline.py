"""The dws_stream job graph, assembled from the program's public entry
points: ODS text files -> DWD (parse, split, cart-add, daily-unique
dedup) -> parquet landing dir -> DWS (10 s tumbling window, 2 s
watermark) -> incremental aggregate store.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gmall_211027_flink_spark.jobs.dwd_log_split import parse_log, split_log
from gmall_211027_flink_spark.jobs.trade_cart_pipeline import dwd_cart_add
from gmall_211027_flink_spark.sources.files import stream_parquet
from gmall_211027_flink_spark.streaming.incremental import IncrementalAggStore
from gmall_211027_flink_spark.streaming.state import daily_unique
from gmall_211027_flink_spark.streaming.windows import tumbling_agg

DWD_SCHEMA = T.StructType([
    T.StructField("ukey", T.StringType()),
    T.StructField("kind", T.StringType()),
    T.StructField("ch", T.StringType()),
    T.StructField("ar", T.StringType()),
    T.StructField("is_new", T.StringType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("dt", T.StringType()),
])
DWS_KEYS = ["stt", "edt", "kind", "ch", "ar", "is_new"]
STORE_SPECS = {"uv_ct": ("sum", "uv_ct"), "epoch": ("min", "epoch")}


def is_cdc(line: Column) -> Column:
    """CDC envelopes and behaviour logs share the ODS topic."""
    return line.startswith('{"database"')


def dwd_stream(spark: SparkSession, ods_dir: str,
               max_files: int) -> DataFrame:
    """Page-view and cart-add unique visitors, one row per (key, day)."""
    ods = spark.readStream.option("maxFilesPerTrigger", max_files).text(
        ods_dir)
    log, _dirty = parse_log(ods.filter(~is_cdc(F.col("value"))))
    page = split_log(log)["page"].select(
        F.concat(F.lit("page:"),
                 F.substring("common.mid", 5, 20)).alias("ukey"),
        F.lit("page").alias("kind"),
        F.col("common.ch").alias("ch"), F.col("common.ar").alias("ar"),
        F.col("common.is_new").alias("is_new"),
        F.timestamp_millis("ts").alias("ts"))
    cart = dwd_cart_add(ods.filter(is_cdc(F.col("value")))).select(
        F.concat(F.lit("cart:"),
                 F.col("user_id").cast("string")).alias("ukey"),
        F.lit("cart").alias("kind"),
        F.col("source_type").alias("ch"), F.lit("-").alias("ar"),
        F.lit("-").alias("is_new"),
        F.timestamp_millis("ts").alias("ts"))
    events = page.unionByName(cart).withColumn(
        "dt", F.date_format("ts", "yyyy-MM-dd"))
    return daily_unique(events, "ukey", "ts", DWD_SCHEMA)


def dws_stream(spark: SparkSession, dwd_dir: str) -> DataFrame:
    uv = stream_parquet(spark, dwd_dir, DWD_SCHEMA)
    return tumbling_agg(uv, "ts", "10 seconds", "2 seconds",
                        ["kind", "ch", "ar", "is_new"],
                        [F.count("*").alias("uv_ct")])


class TimedStore:
    """The incremental store, with each epoch's commit wall time kept so
    row latency can be computed afterwards.  Rows carry the epoch that
    first wrote them (``min(epoch)``)."""

    def __init__(self, path: str, tracer):
        self.store = IncrementalAggStore(path, DWS_KEYS, STORE_SPECS)
        self.marker = f"{path}._epoch"
        self.tracer = tracer
        self.commit_wall: dict[int, float] = {}
        self.write_ms = 0.0
        self.skipped = 0

    def write_batch(self, batch: DataFrame, epoch_id: int) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("sink.write_batch", "streaming",
                              trace_id=f"dws-{epoch_id}"):
            self.store.write_batch(
                batch.withColumn("epoch", F.lit(epoch_id)), epoch_id)
        t1 = time.perf_counter()
        self.commit_wall[epoch_id] = t1
        self.write_ms += (t1 - t0) * 1000
        if self.tracer.enabled and not self._committed(epoch_id):
            self.skipped += 1

    def _committed(self, epoch_id: int) -> bool:
        try:
            with open(self.marker) as fh:
                return fh.read().strip() == str(epoch_id)
        except OSError:
            return False

    def read(self, spark: SparkSession) -> DataFrame:
        return self.store.read(spark)
