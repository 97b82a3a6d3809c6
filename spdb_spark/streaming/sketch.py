"""Streaming count-min maintenance — per-key rate/frequency estimation
on an unbounded feed (hot-key detection for salting, heavy-hitter
tracking over a crawl) with fixed-size state.

Exactly the StreamingBloomFilter shape (streaming/bloom.py), because
the sketch is the same kind of monoid: per-batch work is ONE explode +
ONE groupBy over the BATCH only (O(batch), never O(history)), state is
per-batch cell tables summed lazily at read time (`countmin_merge`)
and physically by the inherited `compact()`. The one semantic
difference from Bloom: re-adding a batch is NOT a no-op (sum, not OR),
so exactly-once rests entirely on the ledger marker check — pinned in
tests/test_streaming_sketch.py.

(width, depth) are the sketch's identity; persisted in `_params.json`
and enforced on reopen, as the Bloom sink does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from spdb_spark.functions.sketch import (
    _validate,
    countmin_build,
    countmin_estimate,
    countmin_merge,
)
from spdb_spark.streaming.ledger import BatchLedgerSink

_CELLS_DDL = "row int, bucket long, cnt long"


class StreamingCountMin(BatchLedgerSink):
    """foreachBatch sink accumulating a count-min sketch over a key
    column (optionally weighted).

    Usage:
        sink = StreamingCountMin(spark, path, width=4096, depth=4)
        q = sink.start(stream, checkpoint)
        ...
        sink.estimate(candidates, "url")   # est column, >= true count
    """

    STATE_TABLES = {"cells": _CELLS_DDL}

    def __init__(
        self,
        spark,
        base_path: str,
        width: int,
        depth: int = 3,
        key_col: str = "key",
        weight_col: str | None = None,
    ):
        _validate(width, depth)
        super().__init__(spark, base_path)
        self._pin_params("count-min sketch", {"width": width, "depth": depth})
        self.width = width
        self.depth = depth
        self.key_col = key_col
        self.weight_col = weight_col

    # -- sink ----------------------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in self._committed():
            return  # redelivery MUST no-op: sum is not idempotent
        cells = countmin_build(
            batch_df, self.key_col, self.width, self.depth, self.weight_col
        )
        cells.write.mode("overwrite").parquet(self._dir("cells", batch_id))
        self._commit(batch_id)

    def foreach_batch(self):
        return lambda df, batch_id: self.process_batch(df, batch_id)

    def start(self, stream: DataFrame, checkpoint: str, **trigger_kwargs):
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(**(trigger_kwargs or {"availableNow": True}))
            .start()
        )

    # -- reads ----------------------------------------------------------

    def sketch_df(self) -> DataFrame:
        """The accumulated sketch, collapsed to one row per cell."""
        state = self._read_state("cells", _CELLS_DDL)
        if state is None:
            return self.spark.createDataFrame([], _CELLS_DDL)
        return countmin_merge(state)

    def estimate(
        self,
        df: DataFrame,
        col: str | None = None,
        result_col: str = "est",
        broadcast_sketch: bool = True,
    ) -> DataFrame:
        return countmin_estimate(
            df,
            col or self.key_col,
            self.sketch_df(),
            self.width,
            self.depth,
            result_col=result_col,
            broadcast_sketch=broadcast_sketch,
        )
