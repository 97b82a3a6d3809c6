"""Streaming Bloom-filter maintenance — the crawl-scale "URL seen?"
primitive on an unbounded feed: each micro-batch folds its keys into a
persisted bitmap, and any batch (or ad-hoc DataFrame) can be probed
against everything accumulated so far.

Why Bloom state streams so well: the filter is a pure bit_or monoid
(functions/membership.py `bloom_merge`), so per-batch work is ONE
explode + ONE groupBy over the BATCH only — O(batch), never O(history)
— and the accumulated state is the bit_or of per-batch word tables,
which the ledger layout stores as plain appends. No read-modify-write
of the historical bitmap ever happens, so redelivered batches are
idempotent by construction (re-OR-ing the same bits is a no-op even
BEFORE the ledger marker check).

State: `words/b{N}` parquet slices of (word_idx, bits), collapsed
lazily at read time by bit_or (and physically by the inherited
`compact()`/`vacuum()`). Total state is bounded by m_bits/60 rows per
batch — for m = 2^32 bits that is ~72 MB per batch and ONE ~72 MB
table after compaction, independent of key count.

(m_bits, k) are part of the filter's identity: positions computed with
different parameters are meaningless against the same bitmap, so the
sink persists them in `_params.json` and refuses to reopen with a
mismatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from spdb_spark.functions.membership import (
    bloom_build,
    bloom_merge,
    bloom_probe,
    _validate,
)
from spdb_spark.streaming.ledger import BatchLedgerSink

_WORDS_DDL = "word_idx long, bits long"


class StreamingBloomFilter(BatchLedgerSink):
    """foreachBatch sink accumulating a Bloom filter over a key column.

    Usage:
        sink = StreamingBloomFilter(spark, path, m_bits=60_000, k=5)
        q = sink.start(stream, checkpoint)     # or .foreach_batch()
        ...
        sink.probe(candidates, "url")          # maybe-seen column
    """

    STATE_TABLES = {"words": _WORDS_DDL}

    def __init__(
        self,
        spark,
        base_path: str,
        m_bits: int,
        k: int = 5,
        key_col: str = "key",
    ):
        _validate(m_bits, k)
        super().__init__(spark, base_path)
        self._pin_params("bloom filter", {"m_bits": m_bits, "k": k})
        self.m_bits = m_bits
        self.k = k
        self.key_col = key_col

    # -- sink ----------------------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in self._committed():
            return  # redelivery: state is already exactly this batch's OR
        words = bloom_build(batch_df, self.key_col, self.m_bits, self.k)
        words.write.mode("overwrite").parquet(self._dir("words", batch_id))
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

    def filter_df(self) -> DataFrame:
        """The accumulated bitmap, collapsed to one row per word."""
        state = self._read_state("words", _WORDS_DDL)
        if state is None:
            return self.spark.createDataFrame([], _WORDS_DDL)
        return bloom_merge(state)

    def probe(
        self,
        df: DataFrame,
        col: str | None = None,
        id_col: str = "doc_id",
        result_col: str = "maybe_member",
        broadcast_filter: bool = True,
    ) -> DataFrame:
        return bloom_probe(
            df,
            col or self.key_col,
            self.filter_df(),
            self.m_bits,
            self.k,
            id_col=id_col,
            result_col=result_col,
            broadcast_filter=broadcast_filter,
        )
