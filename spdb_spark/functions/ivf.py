"""IVF (inverted-file) approximate nearest neighbor — the second scale path
for embedding search besides hyperplane LSH (functions/similarity.py).

Coarse quantizer: k centroids chosen deterministically from the corpus
(every (n/k)-th vector by id — reproducible without random state); each
vector is assigned to its nearest centroid (by dot product over normalized
vectors), forming inverted lists. A query scores only the lists of its
`n_probe` nearest centroids — compute proportional to n_probe/k of the
corpus. All stages are DataFrame ops; the centroid table broadcasts.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spdb_spark.commit import copy_atomic, run_staged_batch, write_atomic
from spdb_spark.functions.hashing import md5_long
from spdb_spark.functions.similarity import _as_double, cosine_prenormed, norm


def auto_k(n_rows: int) -> int:
    """Quantizer-size policy for a corpus of n_rows vectors: k = max(16,
    n/32) keeps expected bucket size ~32*n_probe regardless of scale. A
    pure function of a number the caller already has (catalog stats, a
    manifest count) so plan construction never runs a counting job."""
    return max(16, n_rows // 32)


def choose_centroids(corpus: DataFrame, id_col: str, vec_col: str, k: int) -> DataFrame:
    """Deterministic coarse centroids: the k vectors with the smallest
    portable md5 hash of their id — a pseudo-random but reproducible
    sample, selected via orderBy(hash).limit(k), which Spark executes as
    TakeOrdered (per-partition top-k, then a k-row merge at the driver).
    No global sort, no count, no single-partition window anywhere, so
    selection cost is one scan regardless of corpus size. (The previous
    stride-ranking form put the ENTIRE corpus through one global
    row_number partition — a 100 TB cliff.) K-means refinement
    (refine_centroids) drops in on top; raw selection is already a usable
    quantizer for ANN bucketing. The k-row centroid_id ranking window is
    driver-trivial."""
    picked = (
        corpus.select(F.col(id_col).alias("cid_src"), F.col(vec_col).alias("c_vec"))
        .withColumn("_h", md5_long(F.col("cid_src").cast("string")))
        .orderBy("_h", "cid_src")
        .limit(k)
    )
    return picked.select(
        # unpartitioned window over exactly k rows (the LIMIT above):
        # single-partition by construction, never corpus-sized — the
        # WindowExec warning here is bounded-cardinality noise
        (F.row_number().over(Window.orderBy("cid_src")) - 1).alias("centroid_id"),
        _as_double(F.col("c_vec")).alias("centroid_vec"),
    )


def refine_centroids(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    iters: int = 2,
) -> DataFrame:
    """Lloyd k-means refinement of the coarse quantizer, fully declarative:
    assign (broadcast-join argmax) -> per-dimension mean (posexplode +
    groupBy(centroid, dim)) -> re-assemble ordered arrays.

    Each iteration shuffles n_vectors * dim scalar rows with map-side
    partial aggregation — at 100 TB, train on `corpus.sample(...)`
    (assignment quality needs only a representative sample; pass the
    sample as `corpus` here, then build lists over the full corpus).
    A centroid whose list goes empty drops out (k shrinks), which is the
    standard behavior for quantizer training.

    Float caveat: groupBy-avg is summation-order nondeterministic, so
    refined centroids are not bit-reproducible across runs (ties at list
    boundaries may flip) — the unrefined quantizer remains the default
    for bit-stable gates.
    """
    for _ in range(iters):
        assigned = assign_lists(corpus, centroids, id_col, vec_col, n_probe=1)
        means = (
            assigned.select("centroid_id", F.posexplode("v").alias("pos", "val"))
            .groupBy("centroid_id", "pos")
            .agg(F.avg("val").alias("m"))
        )
        centroids = (
            means.groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "centroid_id",
                F.expr("transform(pm, x -> x.m)").alias("centroid_vec"),
            )
        )
    return centroids


def assign_lists(
    corpus: DataFrame, centroids: DataFrame, id_col: str, vec_col: str,
    n_probe: int = 1,
) -> DataFrame:
    """Attach the `n_probe` nearest centroid ids to each vector (n_probe=1
    builds the inverted lists; queries use n_probe>1 for recall)."""
    scored = (
        corpus.select(F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("v"))
        .withColumn("_vn", norm(F.col("v")))
        .crossJoin(
            F.broadcast(
                centroids.withColumn("_cn", norm(F.col("centroid_vec")))
            )
        )
        .select(
            "vid", "v", "centroid_id",
            cosine_prenormed(
                F.col("v"), F.col("centroid_vec"), F.col("_vn"), F.col("_cn")
            ).alias("c_sim"),
        )
    )
    if n_probe == 1:
        # List building scores the FULL corpus: an argmax via max(struct)
        # gets map-side partial aggregation (the crossJoin emits each
        # vid's k candidate rows contiguously, so partials complete
        # locally and the shuffle carries ONE row per vector, not k).
        # A window would shuffle+sort all n*k scored rows first.
        # Tie-break matches the window form: highest c_sim, then lowest
        # centroid_id (struct comparison on (c_sim, -centroid_id)).
        best = scored.groupBy("vid").agg(
            F.max(
                F.struct(
                    F.col("c_sim"),
                    (-F.col("centroid_id")).alias("nc"),
                    F.col("v").alias("v"),
                )
            ).alias("m")
        )
        return best.select(
            "vid",
            F.col("m.v").alias("v"),
            (-F.col("m.nc")).cast("int").alias("centroid_id"),
        )
    w = Window.partitionBy("vid").orderBy(F.desc("c_sim"), "centroid_id")
    return (
        scored.withColumn("crank", F.row_number().over(w))
        .where(F.col("crank") <= n_probe)
        .select("vid", "v", "centroid_id")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    refine_iters: int = 0,
    train_fraction: float | None = None,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's n_probe
    nearest inverted lists, exact cosine re-rank within candidates.
    Returns (query_id, neighbor_id, rank, cos_sim).

    refine_iters > 0 runs Lloyd k-means on the coarse centroids (tighter
    lists -> better recall at the same n_probe); train_fraction trains on
    a seeded sample of the corpus (the scale path — quantizer quality
    needs a sample, not the full 100 TB)."""
    cents = choose_centroids(corpus, id_col, vec_col, n_centroids)
    if refine_iters > 0:
        train = (
            corpus.sample(fraction=train_fraction, seed=42)
            if train_fraction is not None
            else corpus
        )
        cents = refine_centroids(train, cents, id_col, vec_col, iters=refine_iters)
    # Materialize once (k x dim doubles — driver-trivial): cents feeds TWO
    # broadcast assignments (lists + probes), and as a lazy plan the
    # TakeOrdered centroid pick would re-scan the corpus for each —
    # collecting k rows turns that into ONE corpus scan total. Required
    # anyway after refinement (groupBy-avg output is not bit-stable across
    # plan re-evaluations, and both assignments must see the SAME
    # centroids).
    cents = corpus.sparkSession.createDataFrame(
        [(int(r.centroid_id), list(r.centroid_vec)) for r in cents.collect()],
        schema="centroid_id int, centroid_vec array<double>",
    )
    lists = assign_lists(corpus, cents, id_col, vec_col, n_probe=1).select(
        F.col("vid").alias("neighbor_id"), F.col("v").alias("c_vec"), "centroid_id"
    ).withColumn("_cn", norm(F.col("c_vec")))
    probes = assign_lists(
        queries, cents, id_col, vec_col, n_probe=n_probe
    ).select(
        F.col("vid").alias("query_id"), F.col("v").alias("q_vec"), "centroid_id"
    ).withColumn("_qn", norm(F.col("q_vec")))
    scored = (
        lists.join(F.broadcast(probes), "centroid_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_prenormed(
                    F.col("q_vec"), F.col("c_vec"), F.col("_qn"), F.col("_cn"),
                   
                ),
                6,
            ).alias("cos_sim"),
        )
        # score first, dedup after: a candidate seen via two probed lists
        # scores identically, and deduping 3-scalar rows avoids shuffling
        # the vectors
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def semantic_dedup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tau: float = 0.92,
    k: int | None = None,
    n_probe: int = 3,
    kernel: str = "fold",
    n_rows: int | None = None,
    gemm_block_rows: int = 8192,
    cents: DataFrame | None = None,
) -> DataFrame:
    """Semantic (embedding-space) near-dup pairs at scale, SemDeDup-style:
    bucket vectors into the `n_probe` nearest coarse-quantizer lists, score
    exact cosine ONLY within shared buckets, keep pairs >= tau.

    The all-pairs cross join (the correctness baseline,
    `llm_dedup_embedding`) is O(n^2) and dies at corpus scale; this is
    O(n^2 * n_probe^2 / k) with compute sharded by centroid — each
    bucket's pair loop is an independent task. Precision is exact
    (candidates re-scored with the same bit-reproducible cosine); recall
    misses only pairs whose members share no probed bucket.

    `k=None` auto-scales the quantizer with the corpus (k = auto_k(n) =
    max(16, n/32)): bucket size stays bounded as n grows, and at the
    thresholds this operator is designed for (tau >= ~0.9 — true
    near-duplicates, nearly coincident in embedding space, which
    co-bucket under any reasonable quantizer) a fixed small n_probe
    holds recall, so candidate pairs grow LINEARLY in n (n^2*p^2/2k
    with k ~ n). Auto-k needs the corpus size from the CALLER
    (`n_rows`) — catalog statistics, a manifest row count, or an
    already-paid count — because running `corpus.count()` here would
    fire a full-scan job at DataFrame-BUILD time, before any action:
    at 100 TB that is an extra pass over the corpus just to plan.
    Pass `k` or `n_rows`; building the plan launches no job.

    Loose-tau caveat, measured on the synthetic fixtures at tau=0.45
    (the gate threshold; its "pairs" are merely the far tail of a random
    cosine distribution, not near-duplicates): recall vs all-pairs is
    0.86/0.85 at sf0.01/sf0.1 with the calibrated k=16, p=3, but drops
    to 0.60 if k grows without co-scaling p (k=62, p=3), and holding
    recall by co-scaling p (~sqrt(k): k=62, p=6 -> 0.90) gives back the
    candidate savings. For loose-tau sweeps prefer the calibrated fixed
    k, or the multi-table hyperplane LSH in functions/similarity.py.
    `cents` accepts a FROZEN quantizer (centroid_id, centroid_vec) —
    the streaming-dedup contract (streaming/semdedup.py pins stream ==
    batch pair-set equality under the same frozen quantizer); by
    default the quantizer is picked from `corpus`.

    Returns (id_a, id_b, cos_sim), id_a < id_b, deduplicated."""
    if cents is None:
        if k is None:
            if n_rows is None:
                raise ValueError(
                    "semantic_dedup_pairs: pass k, n_rows, or cents — auto-k "
                    "needs the corpus size, and counting it here would run a "
                    "full-scan job at plan-build time (use auto_k(n_rows) "
                    "for the policy)"
                )
            k = auto_k(n_rows)
        cents = choose_centroids(corpus, id_col, vec_col, k)
    elif k is None:
        # the salt heuristic below only needs the bucket count
        k = cents.count()
    lists = assign_lists(corpus, cents, id_col, vec_col, n_probe=n_probe)
    if kernel == "arrow":
        # Bucket-local all-pairs via applyInPandas: each task receives ONE
        # bucket's vectors (bounded by the quantizer: ~32*n_probe rows
        # under auto-k) and scores the pair matrix as numpy GEMM. Arrow
        # moves the LISTS (n*n_probe vectors), not the candidate pairs —
        # at 1M+ candidates the pairwise form shipped ~1000x more bytes,
        # and the Catalyst fold scored them at ~10us/pair. The GEMM runs
        # in ROW BLOCKS of the bucket (block x remaining-suffix strips,
        # upper triangle only): peak task memory is O(block * bucket)
        # doubles, not O(bucket^2), so a fat bucket — fixed small k, a
        # skewed quantizer cell — degrades to more strips, never to an
        # allocation quadratic in bucket size. Rounding is HALF_UP
        # replicated sign-aware (numpy's default is banker's); GEMM
        # summation order differs from the fold by a ulp, absorbed by
        # the 6-dp rounding (precision tests still compare equal to the
        # fold-scored all-pairs baseline).
        id_t = lists.schema["vid"].dataType.simpleString()

        def _bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np

            n_rows = len(pdf)
            if n_rows < 2:
                return pd.DataFrame(
                    {"id_a": pdf["vid"][:0], "id_b": pdf["vid"][:0],
                     "cos_sim": np.zeros(0)}
                )
            ids = pdf["vid"].to_numpy()
            V = np.stack(pdf["v"].to_numpy())
            nrm = np.sqrt(np.einsum("ij,ij->i", V, V))
            # ~8k rows/strip: strip memory <= block * bucket * 8 bytes
            block = gemm_block_rows
            outs = []
            for lo in range(0, n_rows - 1, block):
                hi = min(lo + block, n_rows)
                # strip vs its suffix; dot-then-divide keeps the exact
                # arithmetic of the unblocked form (bitwise-equal scores)
                S = (V[lo:hi] @ V[lo:].T) / np.outer(nrm[lo:hi], nrm[lo:])
                iu, ju = np.nonzero(
                    np.arange(n_rows - lo)[None, :] > np.arange(hi - lo)[:, None]
                )
                sim = S[iu, ju]
                sim = np.sign(sim) * np.floor(np.abs(sim) * 1e6 + 0.5) / 1e6
                keep = sim >= tau
                ia = ids[lo:][iu[keep]]
                jb = ids[lo:][ju[keep]]
                outs.append(
                    pd.DataFrame(
                        {
                            "id_a": np.minimum(ia, jb),
                            "id_b": np.maximum(ia, jb),
                            "cos_sim": sim[keep],
                        }
                    )
                )
            return pd.concat(outs, ignore_index=True)

        scored = lists.groupBy("centroid_id").applyInPandas(
            _bucket_pairs,
            f"id_a {id_t}, id_b {id_t}, cos_sim double",
        )
        return scored.dropDuplicates(["id_a", "id_b"])
    # Catalyst form: salt the bucket join when there are fewer buckets
    # than cores (the a-side gets a hash-derived salt, the b-side
    # replicates per salt, splitting each bucket's pair loop into
    # independent tasks; every pair still appears exactly once per shared
    # bucket -> output identical; replication only costs when k is small
    # — at corpus scale k >= cores and salts collapses to 1). Score and
    # tau-filter INSIDE the join, then dedup the (small) survivor set: a
    # pair shared by two probed buckets scores identically in both, so
    # dropDuplicates after the filter is equivalent to before — but the
    # pre-filter form shuffled every candidate pair with both 64-dim
    # vectors attached (the measured bottleneck); this one shuffles only
    # 3-scalar survivor rows.
    par = lists.sparkSession.sparkContext.defaultParallelism
    salts = max(1, -(-par // k))
    a = lists.select(
        F.col("vid").alias("id_a"), F.col("v").alias("va"), "centroid_id"
    ).withColumn("na", norm(F.col("va"))).withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("id_a")), F.lit(salts)).cast("int")
    )
    b = lists.select(
        F.col("vid").alias("id_b"),
        F.col("v").alias("vb"),
        "centroid_id",
        norm(F.col("v")).alias("nb"),
        F.explode(
            F.sequence(F.lit(0), F.lit(salts - 1)).cast("array<int>")
        ).alias("_salt"),
    )
    from spdb_spark.session import where_above

    # where_above: the tau gate must read the PROJECTED cos_sim —
    # pushed below the projection it would re-run the whole 64-term
    # cosine fold inside the Filter, doubling the per-candidate score
    # cost (the hot loop of this form).
    scored = where_above(
        a.join(b, ["centroid_id", "_salt"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine_prenormed(
                    F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
                ),
                6,
            ).alias("cos_sim"),
        ),
        F.col("cos_sim") >= tau,
    )
    return scored.dropDuplicates(["id_a", "id_b"])


def save_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    refine_iters: int = 0,
    quantize: bool = False,
    meta_cols: list[str] | None = None,
) -> None:
    """Persist an IVF index: `<path>/centroids` (k rows) and
    `<path>/lists` — the inverted lists written PARTITIONED BY
    centroid_id, so a query touching n_probe lists reads n_probe/k of
    the index files (directory-level partition pruning, no footer reads
    for unprobed lists). This is the index layout that makes IVF the
    100 TB path: build once per corpus snapshot, then every query is a
    pruned scan + small broadcast join.

    `quantize=True` stores the lists as int8 (functions/quantize.py
    symmetric scheme: array<tinyint> + one double scale per vector) —
    ~8x smaller index files and shuffles. Query scoring then uses the
    scale-free int8 cosine (IVF-SQ8): candidate ORDER is approximate
    within the quantization error; the recall bar vs the float index is
    test-pinned."""
    cents = choose_centroids(corpus, id_col, vec_col, n_centroids)
    if refine_iters > 0:
        refined = refine_centroids(corpus, cents, id_col, vec_col, iters=refine_iters)
        cents = corpus.sparkSession.createDataFrame(
            refined.collect(), schema="centroid_id int, centroid_vec array<double>"
        )
    cents.write.mode("overwrite").parquet(path + "/centroids")
    lists = assign_lists(corpus, cents, id_col, vec_col, n_probe=1)
    if quantize:
        from spdb_spark.functions.quantize import quantize_embeddings

        q = quantize_embeddings(
            lists.select("vid", "v"), id_col="vid", vec_col="v"
        ).withColumnRenamed("vec_id", "vid")
        lists = lists.select("vid", "centroid_id").join(q, "vid")
        if meta_cols:
            lists = lists.join(
                corpus.select(F.col(id_col).alias("vid"), *meta_cols), "vid"
            )
        (
            lists.select("vid", "qvec", "scale", "centroid_id", *(meta_cols or []))
            .write.mode("overwrite")
            .partitionBy("centroid_id")
            .parquet(path + "/lists")
        )
        return
    # metadata columns ride inside the list rows so FILTERED search
    # (metadata predicate + vector) prunes candidates in the same pruned
    # scan — predicate pushdown on the list files, no second join
    if meta_cols:
        lists = lists.join(
            corpus.select(F.col(id_col).alias("vid"), *meta_cols), "vid"
        )
    (
        lists.select("vid", "v", "centroid_id", *(meta_cols or []))
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(path + "/lists")
    )


def _lists_dir(path: str) -> str:
    """Resolve the CURRENT inverted-lists dir: via the atomic
    `_lists.json` pointer once `compact_index` has versioned it, else
    the original `<path>/lists` layout."""
    import json
    import os

    ptr = os.path.join(path, "_lists.json")
    if os.path.exists(ptr):
        with open(ptr) as f:
            return os.path.join(path, json.load(f)["lists"])
    return path + "/lists"


def compact_index(spark, path: str) -> None:
    """OPTIMIZE for the persisted IVF index: every `append_to_index`
    lands new parquet files inside the centroid partition dirs, so after
    thousands of micro-batch appends a probe pays file-listing + footer
    reads proportional to APPEND COUNT, not list size (the same
    small-file failure mode streaming/ledger.py compacts away). This
    rewrites the current lists into a fresh generation dir with one file
    per centroid partition, then atomically swings the `_lists.json`
    pointer — readers (`ivf_topk_indexed`, `append_to_index`) resolve
    through the pointer and never see a half-written generation. Call
    `vacuum_index` afterwards to reclaim superseded generations.

    Single-maintainer contract (same as Delta OPTIMIZE): don't run
    concurrently with appends — an append into the old generation during
    the rewrite would be dropped by the pointer swing. At cluster scale
    this whole layout is the table format's ACID append + OPTIMIZE, the
    documented swap-point."""
    import json
    import os

    cur = _lists_dir(path)
    base = os.path.basename(cur)
    gen = int(base.rsplit("_g", 1)[1]) + 1 if "_g" in base else 1
    dest = f"lists_g{gen}"
    (
        spark.read.parquet(cur)
        .repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(os.path.join(path, dest))
    )
    write_atomic(os.path.join(path, "_lists.json"), json.dumps({"lists": dest}))


def vacuum_index(path: str) -> None:
    """Remove superseded lists generations (safe any time after
    `compact_index`: only dirs the pointer no longer references)."""
    import os
    import shutil

    current = os.path.basename(_lists_dir(path))
    for d in os.listdir(path):
        if (d == "lists" or d.startswith("lists_g")) and d != current:
            shutil.rmtree(os.path.join(path, d), ignore_errors=True)


def staged_partitioned_append(
    root: str, live_dir: str, batch_id: str, write_stage
) -> None:
    """Exactly-once append of a batch partitioned by `centroid_id` into the
    live partitioned dir, shared by the IVF and IVF-PQ indexes: a
    `commit.run_staged_batch` whose stage is `write_stage(stage/data)` and
    whose publish copies each staged partition file into the live
    partition dir under a batch-derived skip-if-present name, so a
    republish after a crash never duplicates a file."""
    import os

    def publish(stage: str) -> None:
        src_root = os.path.join(stage, "data")
        for part in sorted(os.listdir(src_root)):
            if not part.startswith("centroid_id="):
                continue
            dest_part = os.path.join(live_dir, part)
            os.makedirs(dest_part, exist_ok=True)
            for fname in sorted(os.listdir(os.path.join(src_root, part))):
                if fname.endswith(".parquet"):
                    copy_atomic(
                        os.path.join(src_root, part, fname),
                        os.path.join(dest_part, f"a{batch_id}-{fname}"),
                    )

    run_staged_batch(
        root,
        batch_id,
        lambda stage: write_stage(os.path.join(stage, "data")),
        publish,
    )


def append_to_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: str | None = None,
) -> None:
    """Incremental index maintenance: assign a NEW batch to the index's
    EXISTING centroids and append its list rows — the corpus already in
    the index is never re-read or re-written (same incremental posture
    as dedup.incremental_minhash_dedup and the reference's per-write id
    index updates, object_indices.py:730-769). Cost is O(batch), and
    the append lands new parquet files inside the centroid_id=...
    partition dirs, so query-time partition pruning is unchanged.

    Contract: batch ids must be new (an existing vid would appear twice
    — same caller contract as the incremental dedup probe). Centroids
    are frozen at save_index time; re-train by rebuilding when drift
    matters (quantizer quality, not correctness — queries stay exact
    within probed lists either way).

    With a caller `batch_id` (e.g. foreachBatch's) the append runs
    through `staged_partitioned_append` — a redelivery after a crash at
    any point is a no-op or a republish from the sealed staging, never
    a double-append (the StreamingVectorIndex exactly-once path).

    If the index was saved with `meta_cols` (filtered-search layout),
    the batch MUST carry the same columns: they are detected from the
    existing lists schema and joined into the appended rows, so filtered
    search sees appended vectors exactly like original ones. A batch
    missing one of them raises rather than appending null metadata
    (which would silently exclude every appended vector from filtered
    queries)."""
    cents = spark.read.parquet(path + "/centroids")
    lists_dir = _lists_dir(path)
    existing_cols = spark.read.parquet(lists_dir).columns
    quantized = "qvec" in existing_cols
    base_cols = {"vid", "centroid_id"} | (
        {"qvec", "scale"} if quantized else {"v"}
    )
    meta_cols = [c for c in existing_cols if c not in base_cols]
    missing = [c for c in meta_cols if c not in new_vectors.columns]
    if missing:
        raise ValueError(
            f"append_to_index: index at {path} was saved with metadata "
            f"columns {meta_cols}, but the new batch lacks {missing} — "
            "appending would leave those vectors invisible to filtered "
            "search; supply the columns or rebuild with save_index"
        )
    lists = assign_lists(new_vectors, cents, id_col, vec_col, n_probe=1)
    if meta_cols:
        lists = lists.join(
            new_vectors.select(F.col(id_col).alias("vid"), *meta_cols), "vid"
        )
    if quantized:
        from spdb_spark.functions.quantize import quantize_embeddings

        q = quantize_embeddings(
            lists.select("vid", "v"), id_col="vid", vec_col="v"
        ).withColumnRenamed("vec_id", "vid")
        out = (
            lists.select("vid", "centroid_id", *meta_cols)
            .join(q, "vid")
            .select("vid", "qvec", "scale", "centroid_id", *meta_cols)
        )
    else:
        out = lists.select("vid", "v", "centroid_id", *meta_cols)
    if batch_id is None:
        # direct append: cheap, but a blind retry double-appends — pass
        # the upstream batch id (e.g. foreachBatch's) for exactly-once
        out.write.mode("append").partitionBy("centroid_id").parquet(lists_dir)
        return
    staged_partitioned_append(
        path,
        lists_dir,
        str(batch_id),
        lambda dest: out.write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(dest),
    )


def ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
    where: Column | str | None = None,
) -> DataFrame:
    """Query a persisted IVF index. The probed centroid ids become a
    pushed-down partition filter on the lists table — only n_probe/k of
    the index is read. Over a float index results are identical to the
    in-memory `ivf_topk` built with the same quantizer (pinned in
    tests); over an int8 index (save_index(quantize=True), detected by
    schema) candidates score with the scale-free int8 cosine — 1/8 the
    bytes read per probe, approximate ordering, recall test-pinned.

    Filtered search (`where`) uses PRE-filter semantics: top-k among
    vectors satisfying the predicate. The predicate prunes candidates
    inside the already-pruned list scan (pushed to parquet). Recall
    escalation: a highly selective predicate can leave a probed query
    with fewer than k matching candidates even when the full index holds
    k — those queries automatically fall back to a FULL filtered scan of
    the lists (predicate still pushed down; centroid pruning waived for
    just the short queries), so filtered results are exact brute-force
    top-k whenever the probed lists run short."""
    cents = spark.read.parquet(path + "/centroids")
    probes = assign_lists(
        queries, cents, id_col, vec_col, n_probe=n_probe
    ).select(
        F.col("vid").alias("query_id"), F.col("v").alias("q_vec"), "centroid_id"
    ).withColumn("_qn", norm(F.col("q_vec")))
    probe_ids = [r.centroid_id for r in probes.select("centroid_id").distinct().collect()]
    full = spark.read.parquet(_lists_dir(path))
    if where is not None:
        full = full.where(F.expr(where) if isinstance(where, str) else where)
    raw = full.where(F.col("centroid_id").isin(probe_ids))
    quantized = "qvec" in raw.columns

    if quantized:
        from spdb_spark.functions.quantize import int_dot, quantize_embeddings

        qp = quantize_embeddings(
            probes.select("query_id", "q_vec"), id_col="query_id", vec_col="q_vec"
        ).select(F.col("vec_id").alias("query_id"), F.col("qvec").alias("q_q"))
        probes_s = probes.select("query_id", "centroid_id").join(qp, "query_id")

        def _score(lists_raw: DataFrame, pr: DataFrame, on: list | None) -> DataFrame:
            lists_q = lists_raw.select(
                F.col("vid").alias("neighbor_id"),
                F.col("qvec").alias("c_q"),
                "centroid_id",
            )
            joined = (
                lists_q.join(F.broadcast(pr), on)
                if on is not None
                else lists_q.drop("centroid_id").crossJoin(F.broadcast(pr))
            )
            return (
                joined.where(F.col("neighbor_id") != F.col("query_id"))
                .select(
                    "query_id",
                    "neighbor_id",
                    F.round(
                        int_dot(F.col("c_q"), F.col("q_q")).cast("double")
                        / (
                            F.sqrt(int_dot(F.col("c_q"), F.col("c_q")).cast("double"))
                            * F.sqrt(int_dot(F.col("q_q"), F.col("q_q")).cast("double"))
                        ),
                        6,
                    ).alias("cos_sim"),
                )
                .dropDuplicates(["query_id", "neighbor_id"])
            )
    else:
        probes_s = probes

        def _score(lists_raw: DataFrame, pr: DataFrame, on: list | None) -> DataFrame:
            lists_f = lists_raw.select(
                F.col("vid").alias("neighbor_id"),
                F.col("v").alias("c_vec"),
                "centroid_id",
            ).withColumn("_cn", norm(F.col("c_vec")))
            joined = (
                lists_f.join(F.broadcast(pr), on)
                if on is not None
                else lists_f.drop("centroid_id").crossJoin(F.broadcast(pr))
            )
            return (
                joined.where(F.col("neighbor_id") != F.col("query_id"))
                .select(
                    "query_id",
                    "neighbor_id",
                    F.round(
                        cosine_prenormed(
                            F.col("q_vec"), F.col("c_vec"), F.col("_qn"), F.col("_cn")
                        ),
                        6,
                    ).alias("cos_sim"),
                )
                .dropDuplicates(["query_id", "neighbor_id"])
            )

    scored = _score(raw, probes_s, ["centroid_id"])
    if where is not None:
        # recall escalation — queries whose probed+filtered candidate set
        # runs short of k fall back to the full filtered scan. The short
        # set stays a DATAFRAME end-to-end (r5 'What's wrong #3'): no
        # per-query driver dict / isin literal list, so a million-query
        # batch join escalates without driver-side bookkeeping. When no
        # query is short, AQE sees the empty broadcast side and collapses
        # the fallback subtree to an empty relation — the full-lists scan
        # never runs.
        counts = scored.groupBy("query_id").agg(F.count("*").alias("_n"))
        short_q = (
            probes_s.select("query_id")
            .distinct()
            .join(counts, "query_id", "left")
            .where(F.coalesce(F.col("_n"), F.lit(0)) < k)
            .select("query_id")
        )
        short_probes = (
            probes_s.join(F.broadcast(short_q), "query_id", "left_semi")
            .drop("centroid_id")
            .dropDuplicates(["query_id"])
        )
        fallback = _score(full, short_probes, None)
        scored = scored.join(
            F.broadcast(short_q), "query_id", "left_anti"
        ).unionByName(fallback)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )
