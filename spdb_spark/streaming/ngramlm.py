"""Streaming Kneser-Ney scoring — per-document LM quality scores on an
unbounded feed under a FROZEN model (functions/ngramlm.kn_model): the
CCNet deployment shape, where the LM is trained once on a reference
corpus and every new crawl batch is scored against it.

Unlike the DSIR/classifier streaming scorers (whose frozen models are
n_buckets-bounded and freeze into an in-kernel LUT), KN count tables
grow with n-gram TYPES — unbounded — so the stream-side plan keeps them
as DataFrame joins: each micro-batch left-joins the static tables
(stream-static joins, broadcast when they fit, shuffled when they
don't) and the backoff ladder handles material the model never saw.
Per-batch work is O(batch); the model is never retrained or re-read
per row.

Scores are appended through the batch ledger (exactly-once on
redelivery: scoring is deterministic but the append is not idempotent
without the marker check). `scores()` reads everything accumulated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from spdb_spark.functions.ngramlm import kn_score
from spdb_spark.streaming.ledger import BatchLedgerSink


class StreamingKNScorer(BatchLedgerSink):
    """foreachBatch sink scoring each micro-batch under a frozen
    kn_model and appending (id, mean_logprob, n_trigrams) rows.

    Usage:
        # freeze once; materialize_levels: the one-time checkpoint of
        # the count tables amortizes over every scored micro-batch
        # (without it each batch replays every table's derivation)
        model = kn_model(reference_docs, materialize_levels=True)
        sink = StreamingKNScorer(spark, path, model)
        q = sink.start(doc_stream, checkpoint)
        ...
        sink.scores()                              # accumulated scores
    """

    def __init__(
        self,
        spark,
        base_path: str,
        model: dict[str, DataFrame],
        text_col: str = "text",
        id_col: str = "doc_id",
        id_type: str = "long",
        discount: float = 0.75,
    ):
        super().__init__(spark, base_path)
        # (id_col, id_type, discount) shape the persisted score rows —
        # guard reopen mismatches like the Bloom/count-min sinks do.
        # The frozen model's identity is part of the guard too: scores
        # under different models are incomparable, and a reopen with a
        # retrained model would silently append mixed-scale rows into
        # one accumulated table. Fingerprint = the totals row (n2types,
        # t1, v_size) — a bounded 1-row collect, and any retraining
        # that changes the count tables virtually always moves at least
        # one of the three corpus-level totals.
        totals = model["totals"].collect()[0]
        fingerprint = {
            "n2types": int(totals["n2types"]),
            "t1": int(totals["t1"]),
            "v_size": int(totals["v_size"]),
        }
        self._pin_params(
            "KN scorer",
            {
                "id_col": id_col,
                "id_type": id_type,
                "discount": discount,
                "model": fingerprint,
            },
        )
        self.model = model
        self.text_col = text_col
        self.id_col = id_col
        self.discount = discount
        self._ddl = (
            f"{id_col} {id_type}, mean_logprob double, n_trigrams long"
        )
        self.STATE_TABLES = {"scores": self._ddl}

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in self._committed():
            return  # redelivered: scores for this batch already appended
        scored = kn_score(
            batch_df,
            self.model,
            text_col=self.text_col,
            id_col=self.id_col,
            discount=self.discount,
        )
        scored.write.mode("overwrite").parquet(self._dir("scores", batch_id))
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

    def scores(self) -> DataFrame:
        state = self._read_state("scores", self._ddl)
        if state is None:
            return self.spark.createDataFrame([], self._ddl)
        return state
