"""Incremental aggregate maintenance: fold mergeable partial aggregates
into a keyed store, one micro-batch at a time.

Why this exists: the DWS windowed aggregates here drain with
``complete`` output mode, which re-emits the whole result every batch —
fine for a gate check, linear-in-state-size at 100 TB. The shape that
scales is the reference's own incremental reduce (来一条聚合一条,
DwsTrafficVcChArIsNewPageViewWindow.java:118-180) lifted to micro-batch
granularity: each batch contributes a map-side PARTIAL aggregate
(count/sum/min/max — the mergeable algebra), and the store merge
combines partials per key. Batch cost is O(batch keys), store cost is
O(distinct keys), and no executor ever holds the full aggregate state.
Non-mergeable outputs decompose: avg = sum/count at read time; exact
COUNT(DISTINCT) needs the key in the grain or a sketch.

Invariant (tested, incl. a hypothesis chunking property): folding any
ts-arbitrary slicing of the input equals the one-shot batch
``groupBy(keys).agg(...)``. Deletion/retraction is out of scope (sums
are not invertible under late retraction without storing per-epoch
partials); the reference has no retracting aggregates upstream of DWS
either.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gmall_211027_flink_spark.streaming.sinks import EpochCommit

# op -> (partial expr builder, merge expr builder)
_MERGE = {
    "count": (lambda c: F.count("*"),
              lambda a, b: F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0))),
    "sum":   (lambda c: F.sum(c),
              lambda a, b: F.when(a.isNull(), b).when(b.isNull(), a)
                            .otherwise(a + b)),
    "min":   (lambda c: F.min(c), F.least),
    "max":   (lambda c: F.max(c), F.greatest),
}


class IncrementalAggStore:
    """Keyed mergeable-aggregate store.

    ``specs`` maps output column -> (op, input column); e.g.
    ``{"pv_ct": ("count", None), "gmv": ("sum", "amount")}``.
    """

    def __init__(self, path: str, key_cols: list[str],
                 specs: dict[str, tuple[str, str | None]]):
        self.path = path.rstrip("/")
        self.key_cols = key_cols
        self.specs = specs
        for name, (op, _col) in specs.items():
            if op not in _MERGE:
                raise ValueError(f"{name}: unmergeable op {op!r} — "
                                 f"decompose it (avg = sum/count)")
        # merging a re-delivered batch would double-count, so every
        # commit goes through the epoch fence
        self._commit = EpochCommit(self.path)

    def _partial(self, batch: DataFrame) -> DataFrame:
        aggs = [_MERGE[op][0](col).alias(name)
                for name, (op, col) in self.specs.items()]
        return batch.groupBy(*self.key_cols).agg(*aggs)

    def write_batch(self, batch: DataFrame, epoch_id: int) -> None:
        if not self._commit.begin(epoch_id) or batch.isEmpty():
            return
        spark = batch.sparkSession
        part = self._partial(batch)
        if os.path.exists(self.path):
            cur = spark.read.parquet(self.path)
            # full outer on keys; merge each aggregate column pairwise
            c = cur.alias("c")
            p = part.alias("p")
            cond = [F.col(f"c.{k}").eqNullSafe(F.col(f"p.{k}"))
                    for k in self.key_cols]
            joined = c.join(p, cond, "full_outer")
            keys = [F.coalesce(F.col(f"c.{k}"), F.col(f"p.{k}")).alias(k)
                    for k in self.key_cols]
            merged_cols = [
                _MERGE[op][1](F.col(f"c.{name}"), F.col(f"p.{name}"))
                .alias(name)
                for name, (op, _col) in self.specs.items()]
            merged = joined.select(*keys, *merged_cols)
        else:
            merged = part
        self._commit.replace(merged, self.path)
        self._commit.commit(epoch_id)

    def read(self, spark) -> DataFrame:
        return spark.read.parquet(self.path)


def run_incremental_agg(stream: DataFrame, store: IncrementalAggStore,
                        checkpoint: str) -> "object":
    return (stream.writeStream
            .foreachBatch(store.write_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())
