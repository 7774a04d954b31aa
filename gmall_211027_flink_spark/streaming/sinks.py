"""foreachBatch sinks (SURVEY §2.1 S4/S8/S9/S12).

The reference's sinks are: upsert-kafka changelog topics with a declared
PK (utils/MyKafkaUtil.java:80-89), dynamic Phoenix dim upserts
(app/func/DimSinkFunction.java:28-75), and batched ClickHouse JDBC
writes (utils/MyClickHouseUtil.java:19-62). Structured Streaming's
equivalent is a ``foreachBatch`` writer; the upsert semantics are
emulated keyed-parquet-side (prod target would be Delta/Iceberg MERGE —
those jars aren't in this image, noted in SURVEY §7.3).

Every parquet store here (``ParquetUpsertSink``, ``incremental.py``'s
aggregate store, ``scd2.py``'s versioned dim) commits through
``EpochCommit``: an epoch fence plus a staged directory swap.

The upsert store layout: one directory per table of hash(pk)-bucket
parquet subdirectories; each micro-batch rewrites, per bucket it
touches, the (old ∖ batch-keys) ∪ batch rows. Last-wins within a batch
is resolved by ``order_col`` alone — the same last-row-wins rule as the
reference's OrderDetailFilterFunction.java:42-81; rows of one key tied
on ``order_col`` pick an arbitrary winner.
"""

from __future__ import annotations

import logging
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

DEFAULT_RUN_TAG = "default"


class EpochCommit:
    """The commit protocol of a parquet store at ``path``.

    - **Epoch fence (effectively-once).** After a failure between the
      store write and the checkpoint commit, Structured Streaming
      re-delivers the SAME micro-batch under the SAME epoch_id. The
      last committed epoch lives in ``<path>._epoch`` and every epoch
      at or below it is skipped, so foreachBatch + checkpointing yields
      exactly-once store state (the guarantee the reference scaffolds
      with Flink checkpoint configs, DwdTradePayDetailSuc.java:27-39).
      The marker holds the bare epoch id; a non-default ``run_tag``
      follows on a second line. The fence applies only to the same
      run_tag: if a checkpoint is reset (epoch ids restart at 0) under
      a NEW tag, batches are not silently dropped.
    - **Staged swap.** ``replace`` writes the new directory once under
      ``<path>._staging/`` — never inside ``path``, so a crash mid-write
      leaves no files a reader would scan — then renames the live
      directory aside to ``old-<target relative to path>`` (``old-.``
      for ``path`` itself) and the staged copy into place. A crash
      between the two renames leaves the target missing and its only
      copy displaced; ``begin`` moves it back before sweeping the
      staging directory.

    A crash after a swap but before ``commit`` re-runs the epoch on
    replay: harmless for the keyed upsert, which is idempotent, but the
    aggregate and SCD2 merges would apply that epoch twice.
    """

    def __init__(self, path: str, run_tag: str = DEFAULT_RUN_TAG):
        self.path = path.rstrip("/")
        self.run_tag = run_tag
        self.marker = f"{self.path}._epoch"
        self.staging = f"{self.path}._staging"

    def last_epoch(self) -> int:
        """Last committed epoch FOR THIS run_tag (-1 if none/foreign)."""
        try:
            with open(self.marker) as f:
                content = f.read()
        except OSError:
            return -1
        lines = content.splitlines() or [""]
        try:
            epoch = int(lines[0].strip())
        except ValueError:
            return -1
        stored_tag = lines[1].strip() if len(lines) > 1 else DEFAULT_RUN_TAG
        if stored_tag != self.run_tag:
            log.warning(
                "store %s: epoch marker belongs to run_tag %r (current "
                "%r) — treating store as un-committed for this query; no "
                "batches will be skipped", self.path, stored_tag,
                self.run_tag)
            return -1
        return epoch

    def begin(self, epoch_id: int) -> bool:
        """False for an already-committed epoch. Otherwise restore any
        directory a crashed swap displaced, clear the staging directory
        and return True: the store then reads as last committed."""
        if epoch_id <= self.last_epoch():
            # Logged so a reset checkpoint reusing this store is
            # visible, not silent.
            log.warning("store %s: skipping already-committed epoch %d "
                        "(run_tag=%r)", self.path, epoch_id, self.run_tag)
            return False
        if os.path.isdir(self.staging):
            for name in os.listdir(self.staging):
                if not name.startswith("old-"):
                    continue
                target = os.path.normpath(
                    os.path.join(self.path, name[len("old-"):]))
                if not os.path.exists(target):
                    os.rename(os.path.join(self.staging, name), target)
            shutil.rmtree(self.staging, ignore_errors=True)
        return True

    def replace(self, df: DataFrame, target: str) -> None:
        """Make ``target`` (``path`` or a directory directly inside it)
        hold exactly ``df``. ``df`` may read ``target``: it is written
        once, to staging, before the live directory moves."""
        os.makedirs(self.staging, exist_ok=True)
        staged = os.path.join(self.staging, f"tmp-{uuid.uuid4().hex[:8]}")
        df.write.mode("overwrite").parquet(staged)
        displaced = os.path.join(
            self.staging, "old-" + os.path.relpath(target, self.path))
        if os.path.exists(target):
            os.rename(target, displaced)
        os.rename(staged, target)
        shutil.rmtree(displaced, ignore_errors=True)

    def commit(self, epoch_id: int) -> None:
        body = (str(epoch_id) if self.run_tag == DEFAULT_RUN_TAG
                else f"{epoch_id}\n{self.run_tag}")
        tmp = f"{self.marker}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(body)
        os.replace(tmp, self.marker)


class ParquetUpsertSink:
    """Keyed upsert into a parquet directory (PK last-wins).

    Scale/robustness properties beyond the basic rewrite:

    - **Idempotent replay and crash-safe staging** come from
      ``EpochCommit``. A crash mid-write simply re-runs the
      (deterministic) upsert before the marker advances — same final
      state.
    - **Bucketed partial rewrite.** Rows live in hash(pk)-bucket
      subdirectories and a micro-batch rewrites ONLY the buckets its
      keys touch — O(batch ∩ buckets), not O(table). This is the
      property that keeps a continuously-upserting dim/DWS store viable
      at 100 TB (same idea as Delta/Iceberg MERGE file pruning,
      emulated on plain parquet; SURVEY §7.3). Size ``num_buckets`` so
      each bucket's rows fit an executor (~256+ at prod scale).
    """

    DEFAULT_BUCKETS = 64

    def __init__(self, path: str, key_cols: list[str], order_col: str,
                 num_buckets: int = DEFAULT_BUCKETS,
                 run_tag: str = DEFAULT_RUN_TAG, op_col: str | None = None,
                 delete_value: str = "delete"):
        """``op_col``: optional changelog-op column (Maxwell ``type``).
        When set, a key whose LAST row in the batch (by ``order_col``)
        carries ``delete_value`` is REMOVED from the store instead of
        upserted — the reference's dim-delete path (DimSinkFunction
        deletes the Phoenix row for Maxwell deletes). The op column is
        stripped from stored rows.

        ``run_tag``: identity of the writing query (e.g. its checkpoint
        location) that scopes the epoch fence."""
        if not isinstance(num_buckets, int) or num_buckets < 1:
            raise ValueError(
                f"num_buckets must be a positive int, got {num_buckets!r}")
        self.path = path.rstrip("/")
        self.key_cols = key_cols
        self.order_col = order_col
        self.num_buckets = num_buckets
        self.op_col = op_col
        self.delete_value = delete_value
        self._commit = EpochCommit(self.path, run_tag)

    def _compact(self, batch: DataFrame) -> DataFrame:
        w = (Window.partitionBy(*self.key_cols)
             .orderBy(F.desc(self.order_col)))
        return (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn")
        )

    def _bucket_col(self) -> Column:
        return F.pmod(F.xxhash64(*self.key_cols), F.lit(self.num_buckets))

    def write_batch(self, batch: DataFrame, epoch_id: int) -> None:
        if not self._commit.begin(epoch_id):
            return
        spark = batch.sparkSession
        bucketed = (self._compact(batch)
                    .withColumn("_b", self._bucket_col()).cache())
        # bucket IDs only (bounded by num_buckets) — not data rows
        affected = sorted(r["_b"] for r in
                          bucketed.select("_b").distinct().collect())
        os.makedirs(self.path, exist_ok=True)
        for b in affected:
            bdir = os.path.join(self.path, f"bucket={b}")
            part = bucketed.filter(F.col("_b") == b).drop("_b")
            # tombstone split: ALL touched keys leave the old bucket (the
            # left-anti below); only the non-delete survivors re-enter
            touched_keys = part.select(*self.key_cols).distinct()
            if self.op_col is not None:
                part = part.filter(
                    F.col(self.op_col) != self.delete_value
                ).drop(self.op_col)
            if os.path.exists(bdir):
                keep = spark.read.parquet(bdir).join(
                    touched_keys, self.key_cols, "left_anti")
                part = keep.unionByName(part)
            self._commit.replace(part, bdir)
        bucketed.unpersist()
        self._commit.commit(epoch_id)

    def read(self, spark: SparkSession) -> DataFrame:
        # Enumerate only committed bucket dirs — defence in depth against
        # any foreign directory landing under the store path.
        bucket_dirs = sorted(
            os.path.join(self.path, d) for d in os.listdir(self.path)
            if d.startswith("bucket=") and d[len("bucket="):].isdigit())
        return spark.read.parquet(*bucket_dirs)


def jdbc_batch_sink(url: str, table: str, properties: dict | None = None):
    """DWS → JDBC writer (reference: ClickHouse batch sink S9). Whole
    micro-batch per executor partition — strictly better batching than the
    reference's 5-rows/1 s flush."""
    def write(batch: DataFrame, epoch_id: int) -> None:
        batch.write.mode("append").jdbc(url, table, properties=properties or {})
    return write


def console_sink(batch: DataFrame, epoch_id: int) -> None:
    """Debug sink (reference: .print(), S12)."""
    batch.show(20, truncate=False)


def with_metrics(df: DataFrame, name: str = "metrics") -> DataFrame:
    """Attach named row/byte-level observations to a (streaming or
    batch) DataFrame — Spark's `observe` API. Each micro-batch's
    aggregates surface in `StreamingQueryProgress.observedMetrics[name]`
    without a second pass over the data: this is the production
    monitoring hook (rows in, null keys, max event time) the reference
    gets only by eyeballing `.print()` sinks (S12)."""
    return df.observe(
        name,
        F.count(F.lit(1)).alias("rows"),
        F.max(F.col(df.columns[0])).alias("max_first_col"),
    )
