"""Text retrieval over the documents table: TF-IDF cosine similarity and
BM25 keyword scoring — the search-side complement of the dedup/ANN ops.

Numeric discipline (gate-stable across Spark and DuckDB): idf values are
floor-scaled to integers (floor on a bit-identical double is
deterministic), term weights become exact bigints, and every dot product
or norm is an exact integer sum — groupBy summation order stops
mattering. Doubles appear only in single terminal expressions (sqrt,
divide) applied to identical integers on both engines.

Scale notes: token joins shuffle on the token; document-frequency stop
caps (`max_df`) remove the degenerate hot keys (stop words are exactly
the skewed join keys at 100 TB). The df table is vocabulary-sized and
broadcasts.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spdb_spark.commit import copy_atomic, run_staged_batch, write_atomic
from spdb_spark.functions.text import tokens


def term_freqs(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, token, tf) — term frequency per document."""
    return (
        docs.select(F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("_toks"))
        .select("doc", F.explode("_toks").alias("token"))
        .groupBy("doc", "token")
        .agg(F.count("*").alias("tf"))
    )


def tfidf_weights(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    idf_scale: int = 1000,
    max_df: int | None = None,
) -> DataFrame:
    """(doc, token, w) with integer weight w = tf * floor(ln(N/df)*scale).

    `max_df` drops stop terms (df above the cap) before weighting — at
    corpus scale those are both noise and the skewed shuffle keys.
    """
    # N as an in-plan single-row broadcast branch (column-pruned count
    # scan), not an eager docs.count() job at DataFrame-build time.
    n_docs_df = docs.agg(F.count("*").alias("_n_docs"))
    tf = term_freqs(docs, id_col, text_col)
    df_t = tf.groupBy("token").agg(F.count("*").alias("df"))
    if max_df is not None:
        df_t = df_t.where(F.col("df") <= max_df)
    idf = df_t.crossJoin(F.broadcast(n_docs_df)).select(
        "token",
        F.floor(F.log(F.col("_n_docs") / F.col("df")) * idf_scale)
        .cast("long")
        .alias("idf_s"),
    )
    return tf.join(F.broadcast(idf), "token").select(
        "doc", "token", (F.col("tf") * F.col("idf_s")).alias("w")
    )


def doc_norms_sq(weights: DataFrame) -> DataFrame:
    """(doc, ssq) — exact integer squared L2 norm of each weight vector."""
    return weights.groupBy("doc").agg(F.sum(F.col("w") * F.col("w")).alias("ssq"))


def tfidf_cosine(
    weights: DataFrame,
    probes: DataFrame,
    round_dp: int = 6,
) -> DataFrame:
    """Cosine similarity of every probe against every corpus doc sharing a
    term. `weights` covers the corpus; `probes` is a (doc) DataFrame
    selecting the query side (its weights are taken from `weights`, so
    idf is consistent). Returns (probe_id, doc_id, sim) with sim floored
    to `round_dp`; the probe itself is excluded.

    dot and norms are exact bigint sums -> the terminal
    dot/(sqrt*sqrt) is bit-identical across engines."""
    norms = doc_norms_sq(weights)
    pw = (
        weights.join(probes.select(F.col("doc").alias("p")), F.col("doc") == F.col("p"))
        .select(F.col("doc").alias("probe_id"), "token", F.col("w").alias("pw"))
    )
    dots = (
        weights.alias("c")
        .join(pw, "token")
        .where(F.col("probe_id") != F.col("doc"))
        .groupBy("probe_id", F.col("doc").alias("doc_id"))
        .agg(F.sum(F.col("pw") * F.col("w")).alias("dot"))
    )
    scale = float(10 ** round_dp)
    return (
        dots.join(norms.select(F.col("doc").alias("probe_id"), F.col("ssq").alias("pssq")), "probe_id")
        .join(norms.select(F.col("doc").alias("doc_id"), F.col("ssq").alias("dssq")), "doc_id")
        .select(
            "probe_id",
            "doc_id",
            (
                F.floor(
                    F.col("dot")
                    / (F.sqrt(F.col("pssq")) * F.sqrt(F.col("dssq")))
                    * scale
                )
                / scale
            ).alias("sim"),
        )
    )


def bm25_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    terms: Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(doc_id, score) — Okapi BM25 of a fixed keyword query against every
    document.

    Per-term tfs come from conditional aggregation (one groupBy, no
    explode join), so the score is a single fixed-order expression over
    exact integers: bit-identical across engines. idf uses the standard
    ln(1 + (N - df + 0.5)/(df + 0.5)), always positive.
    """
    terms = list(terms)
    # N in-plan (see tfidf_weights): single-row broadcast, no eager job.
    n_docs_df = docs.agg(F.count("*").alias("_n_docs"))
    t = (
        docs.select(F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("_toks"))
        .select("doc_id", F.explode("_toks").alias("token"))
    )
    per_doc = t.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        *[
            F.sum(F.when(F.col("token") == w, 1).otherwise(0)).alias(f"tf{i}")
            for i, w in enumerate(terms)
        ],
    )
    # corpus stats: exact integer sums, single-row broadcast
    stats = per_doc.agg(
        F.sum("dl").alias("sum_dl"),
        F.count("*").alias("nd"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
            for i in range(len(terms))
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats)).crossJoin(
        F.broadcast(n_docs_df)
    )
    avgdl = F.col("sum_dl") / F.col("nd")
    score = F.lit(0.0)
    for i in range(len(terms)):
        tf = F.col(f"tf{i}")
        idf = F.log(
            F.lit(1.0)
            + (F.col("_n_docs") - F.col(f"df{i}") + F.lit(0.5))
            / (F.col(f"df{i}") + F.lit(0.5))
        )
        denom = tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / avgdl))
        score = score + (idf * (tf * F.lit(k1 + 1.0))) / denom
    return scored.select("doc_id", score.alias("score"))


def passages(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 12,
    stride: int = 6,
) -> DataFrame:
    """(doc, idx, passage) — overlapping word windows, the RAG-style
    retrieval unit (score passages, return their parent docs). Window i
    covers tokens [i*stride, i*stride + window); the final window may be
    shorter; every doc yields at least one. A narrow posexplode — no
    shuffle — so passage construction composes with whatever retrieval
    runs on top (BM25/TF-IDF over (passage id, passage text))."""
    t = F.col("_toks")
    n_win = F.lit(1) + F.ceil(
        F.greatest(F.size(t) - F.lit(window), F.lit(0)) / F.lit(stride)
    ).cast("int")
    wins = F.transform(
        F.sequence(F.lit(0), n_win - F.lit(1)),
        lambda i: F.concat_ws(" ", F.slice(t, i * stride + 1, window)),
    )
    return docs.select(
        F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("_toks")
    ).select("doc", F.posexplode(wins).alias("idx", "passage"))


def save_bm25_index(
    docs: DataFrame, id_col: str, text_col: str, path: str
) -> None:
    """Persist a BM25 index so keyword search never re-scans the corpus
    (the search-side analogue of ivf.save_index): one corpus scan writes

      {path}/tf      (doc, token, tf, dl) — sorted by token inside each
                     file, so a query's `token IN (...)` predicate prunes
                     parquet row groups via min/max stats
      {path}/df      (token, df) — vocabulary-sized
      {path}/stats   single row (n_docs, sum_dl)

    At cluster scale the tf table would be bucketed by token; on plain
    parquet the in-file token sort gives the same skip behavior for the
    few-term point lookups BM25 queries are.

    Rebuilding over a previously-appended index resets the append
    protocol's state first (_current.json pointer, df_v*/stats_v*
    generations, _appendlog markers, _staging): otherwise the fresh tf
    would resolve against stale versioned df/stats, and a replayed batch
    id from the old log would silently no-op against the new index."""
    import os
    import shutil

    if os.path.isdir(path):
        for entry in os.listdir(path):
            full = os.path.join(path, entry)
            if (
                entry in ("_current.json", "_appendlog", "_staging")
                or entry.startswith("df_v")
                or entry.startswith("stats_v")
            ):
                if os.path.isdir(full):
                    shutil.rmtree(full, ignore_errors=True)
                else:
                    os.remove(full)
    tf = term_freqs(docs, id_col, text_col)
    dl = tf.groupBy("doc").agg(F.sum("tf").alias("dl"))
    (
        tf.join(dl, "doc")
        .repartition("token")
        .sortWithinPartitions("token")
        .write.mode("overwrite")
        .parquet(f"{path}/tf")
    )
    tf.groupBy("token").agg(F.count("*").alias("df")).write.mode(
        "overwrite"
    ).parquet(f"{path}/df")
    dl.agg(
        F.count("*").alias("n_docs"),
        # coalesce: an EMPTY corpus (streaming sinks initialize the index
        # before the first batch) must write (0, 0), not (0, null)
        F.coalesce(F.sum("dl"), F.lit(0)).alias("sum_dl"),
    ).write.mode("overwrite").parquet(f"{path}/stats")


def bm25_search_indexed(
    spark,
    path: str,
    terms: Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 from a persisted index: reads only the query terms' tf rows
    (token IN (...) pushed to the parquet scan) plus the tiny df/stats
    tables — query cost tracks the posting lists touched, not the corpus.
    Returns (doc_id, score) for documents matching at least one term.

    Bit-parity with `bm25_scores`: the filtered tf rows pivot back to
    per-term columns (conditional agg), so the score is the SAME
    fixed-order expression — no order-dependent float summation.

    The pivoted df columns are renamed positionally (df0, df1, ...)
    straight after the pivot: a query term that collides with a layout
    column ("doc", "dl", "n_docs", "sum_dl", "tf0", ...) or contains
    dots/backticks would otherwise make the raw-term column reference
    ambiguous or unresolvable."""
    terms = list(terms)
    df_dir, stats_dir = _resolve_bm25_dirs(path)
    tf = spark.read.parquet(f"{path}/tf").where(F.col("token").isin(terms))
    dfs = F.broadcast(
        spark.read.parquet(df_dir).where(F.col("token").isin(terms))
    )
    stats = F.broadcast(spark.read.parquet(stats_dir))
    per_doc = tf.groupBy("doc", "dl").agg(
        *[
            F.sum(F.when(F.col("token") == w, F.col("tf")).otherwise(0)).alias(
                f"tf{i}"
            )
            for i, w in enumerate(terms)
        ]
    )
    # pivot("token", terms) emits one column per term IN `terms` ORDER;
    # positional toDF sidesteps quoting raw term strings entirely
    df_row = (
        dfs.groupBy()
        .pivot("token", terms)
        .agg(F.first("df"))
        .toDF(*[f"df{i}" for i in range(len(terms))])
    )
    scored = per_doc.crossJoin(F.broadcast(df_row)).crossJoin(stats)
    avgdl = F.col("sum_dl") / F.col("n_docs")
    score = F.lit(0.0)
    for i, w in enumerate(terms):
        tf_c = F.col(f"tf{i}")
        df_c = F.coalesce(F.col(f"df{i}"), F.lit(0)).cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - df_c + F.lit(0.5)) / (df_c + F.lit(0.5))
        )
        denom = tf_c + F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / avgdl)
        )
        score = score + (idf * (tf_c * F.lit(k1 + 1.0))) / denom
    return scored.select(F.col("doc").alias("doc_id"), score.alias("score"))


def _resolve_bm25_dirs(path: str) -> tuple[str, str]:
    """Resolve the CURRENT df/stats dirs of a BM25 index: via the atomic
    `_current.json` pointer when appends have versioned them, else the
    original save_bm25_index layout."""
    import json
    import os

    ptr = os.path.join(path, "_current.json")
    if os.path.exists(ptr):
        with open(ptr) as f:
            cur = json.load(f)
        return os.path.join(path, cur["df"]), os.path.join(path, cur["stats"])
    return f"{path}/df", f"{path}/stats"


def append_to_bm25_index(
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    batch_id: str | None = None,
) -> None:
    """Incremental index growth: O(batch) work appends the new docs'
    posting rows and folds their counts into the vocabulary-sized df and
    1-row stats tables — the indexed corpus is never re-read (the ivf
    append_to_index pattern). `bm25_search_indexed` results equal a full
    rebuild (test-pinned; scores depend only on tf/df/stats totals, not
    file layout).

    Crash safety (`commit.run_staged_batch`): the batch is first fully
    STAGED under `_staging/{batch_id}` (tf rows + the merged df/stats
    computed against the pre-append base), sealed by a `_STAGED`
    marker; only then does publish move the tf files in
    (skip-if-present names), write versioned df/stats dirs, swing the
    atomic `_current.json` pointer, and record `_appendlog/{batch_id}`.
    A retry WITH THE SAME batch_id after a crash at ANY point is
    idempotent: committed -> no-op; staged-but-unpublished -> republish
    from the sealed staging (never recomputing against a half-appended
    base); mid-staging -> restage from the untouched base. Readers only
    ever resolve complete df/stats dirs through the pointer. Without a
    caller batch_id the append still publishes safely, but a blind retry
    is a NEW batch (double-append) — pass the upstream batch id (e.g.
    foreachBatch's) for exactly-once.

    Transient skew: a reader between the tf move and the pointer swing
    sees new postings against old df/stats (slightly stale idf); the
    window closes at the pointer rename. Full snapshot isolation is the
    table format's job (Delta/Iceberg ACID append), the documented
    production swap-point."""
    import json
    import os
    import shutil
    import uuid

    spark = new_docs.sparkSession
    if batch_id is None:
        batch_id = uuid.uuid4().hex
    batch_id = str(batch_id)

    def stage(stage_dir: str) -> None:
        # tf rows plus df/stats merged against the pre-append base, which
        # stays untouched until publish
        df_dir, stats_dir = _resolve_bm25_dirs(path)
        tf = term_freqs(new_docs, id_col, text_col)
        dl = tf.groupBy("doc").agg(F.sum("tf").alias("dl"))
        (
            tf.join(dl, "doc")
            .repartition("token")
            .sortWithinPartitions("token")
            .write.mode("overwrite")
            .parquet(os.path.join(stage_dir, "tf"))
        )
        staged_tf = spark.read.parquet(os.path.join(stage_dir, "tf"))
        new_df = staged_tf.groupBy("token").agg(F.count("*").alias("df"))
        (
            spark.read.parquet(df_dir)
            .unionByName(new_df)
            .groupBy("token")
            .agg(F.sum("df").alias("df"))
            .write.mode("overwrite")
            .parquet(os.path.join(stage_dir, "df"))
        )
        new_stats = staged_tf.groupBy("doc").agg(
            F.first("dl").alias("dl")
        ).agg(
            F.count("*").alias("n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0)).alias("sum_dl"),  # empty batch
        ).collect()[0]
        old_stats = spark.read.parquet(stats_dir).collect()[0]
        spark.createDataFrame(
            [
                (
                    int(old_stats.n_docs) + int(new_stats.n_docs),
                    int(old_stats.sum_dl) + int(new_stats.sum_dl),
                )
            ],
            "n_docs bigint, sum_dl bigint",
        ).write.mode("overwrite").parquet(os.path.join(stage_dir, "stats"))

    def publish(stage_dir: str) -> None:
        # every step is idempotent under a retry of the same batch_id
        for fname in sorted(os.listdir(os.path.join(stage_dir, "tf"))):
            if fname.endswith(".parquet"):
                copy_atomic(
                    os.path.join(stage_dir, "tf", fname),
                    os.path.join(path, "tf", f"a{batch_id}-{fname}"),
                )
        for sub in ("df", "stats"):
            vdir = os.path.join(path, f"{sub}_v{batch_id}")
            if not os.path.exists(vdir):
                tmpd = vdir + ".tmp"
                shutil.rmtree(tmpd, ignore_errors=True)
                shutil.copytree(os.path.join(stage_dir, sub), tmpd)
                os.rename(tmpd, vdir)  # vdir appears complete or not at all
        write_atomic(  # linearization point
            os.path.join(path, "_current.json"),
            json.dumps({"df": f"df_v{batch_id}", "stats": f"stats_v{batch_id}"}),
        )

    run_staged_batch(path, batch_id, stage, publish)
