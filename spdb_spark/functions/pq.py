"""Product quantization (PQ) with asymmetric-distance (ADC) scoring —
the classic memory/IO lever for billion-vector ANN (Jegou et al. 2011,
public method): split each vector into `m` subspaces, quantize each
subvector to one of `n_codes` per-subspace centroids, and score a query
against CODES ONLY via a per-query lookup table of subspace distances.

Storage: dim float64 (8*dim bytes) -> m uint8 codes (m bytes): 64x
smaller than floats at dim=64/m=8, 8x smaller than the SQ8 path
(quantize.py). Scan/shuffle/broadcast volume shrinks by the same
factor — at 100 TB of embeddings the code table is what a full-scan
candidate stage reads, and the float vectors are touched only for the
exact re-rank of each query's `rerank` best candidates.

Spark-first shape, mirroring ivf.py/quantize.py:
- the codebook is k rows per subspace, collected once (driver-trivial,
  like ivf_topk's centroid pick) and inlined as plan literals, so
  ENCODING is a pure zero-exchange projection: per subspace an
  array_min over (rounded-d2, centroid_id) structs — argmin with the
  portable tie-break, no join, no UDF;
- ADC scoring broadcasts the (tiny) query side carrying a precomputed
  LUT column (m x n_codes rounded subspace distances) and folds
  zip_with(codes, lut) — the corpus side ships m small ints per vector;
- the exact re-rank is the same bit-reproducible cosine fold the other
  ANN paths share, so output ordering follows the common protocol
  (rounded score desc, neighbor_id asc).

Two encode/LUT ENGINES, bit-identical by construction and test-pinned:
- engine="expr" (default): the pure-Catalyst projection above. Plan
  BUILD time grows with m*n_codes literal expressions — measured
  (SCALE.md r10) 10.7/19.5/73.2 s at 16/64/256 codes, so the expression
  form is the right default up to ~64 codes and a ceiling beyond.
- engine="arrow": an Arrow-batched kernel computing the per-subspace
  argmin in numpy under the SAME protocol — sequential left-to-right
  dot folds (IEEE-identical to F.aggregate's per-element op order) and
  a vectorized replay of Spark's 6-dp HALF_UP round with a
  decimal-exact slow path for boundary values. Plan size is constant in
  n_codes; this is the production 8-bit (n_codes=256) path. Still
  zero-exchange — encode parallelism is scan parallelism either way.

Determinism protocol (replayed by the DuckDB gate oracle): centroids
are the md5-pick of ivf.choose_centroids (bit-stable; k-means
refinement is a documented non-bit-stable option there); every
subspace distance is the DOT-PRODUCT EXPANSION |s|^2 - 2 s.c + |c|^2
over the engines' proven-identical left-to-right dot folds, rounded to
6dp BEFORE argmin/summation; rounded terms are multiples of 1e-6, so
their sums round identically in any summation order.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spdb_spark.functions.similarity import _as_double, cosine_prenormed, dot, norm


def pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    n_codes: int = 16,
) -> list[list[tuple[int, list[float]]]]:
    """Train (deterministically pick) the per-subspace codebooks:
    subspace j's codebook is the j-th slice of the `n_codes`
    md5-smallest-hash corpus vectors (ivf.choose_centroids — TakeOrdered,
    one scan, no global sort). Returns driver-side
    [subspace][(centroid_id, subvector)] for inlining as plan literals
    (m * n_codes * dim/m doubles — bytes, not data)."""
    from spdb_spark.functions.ivf import choose_centroids

    if dim % m:
        raise ValueError("pq: dim must divide into m equal subspaces")
    d_sub = dim // m
    rows = choose_centroids(corpus, id_col, vec_col, n_codes).collect()
    return [
        [
            (int(r.centroid_id), [float(x) for x in r.centroid_vec[j * d_sub : (j + 1) * d_sub]])
            for r in rows
        ]
        for j in range(m)
    ]


def refine_pq_codebooks(
    corpus: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
    engine: str = "expr",
) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace Lloyd k-means over the md5-picked init — the
    standard PQ training step. ONE aggregate per iteration for ALL
    subspaces: each vector explodes to its m (subspace, code, subvector)
    assignments, a (j, code, pos) groupBy averages components (map-side
    partials; the shuffle carries m * n_codes * d_sub cells), and the
    m*k*d_sub means are collected (driver-trivial) into the next
    codebook. A code whose cell goes empty keeps its old centroid.

    At 100 TB pass a `corpus.sample(...)` — quantizer quality needs a
    representative sample, not the corpus (same posture as
    ivf.refine_centroids). Float caveat as there: groupBy-avg is
    summation-order nondeterministic, so refined codebooks are not
    bit-reproducible across runs — gates pin the UNREFINED pick."""
    m = len(codebooks)
    d_sub = len(codebooks[0][0][1])
    v = _as_double(F.col(vec_col))
    for _ in range(iters):
        # assignment under the chosen engine (arrow keeps the plan
        # constant-size in n_codes — the 8-bit training path); the
        # aggregate below is engine-independent
        codes_of = _codes_column(codebooks, engine)
        assigned = corpus.select(v.alias("_v"), codes_of(v).alias("_codes"))
        per_j = F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    F.element_at("_codes", j + 1).alias("code"),
                    F.slice("_v", j * d_sub + 1, d_sub).alias("sv"),
                )
                for j in range(m)
            ]
        )
        means = (
            assigned.select(F.explode(per_j).alias("p"))
            .select("p.j", "p.code", F.posexplode("p.sv").alias("pos", "val"))
            .groupBy("j", "code", "pos")
            .agg(F.avg("val").alias("mu"))
            .collect()
        )
        cells: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            cells.setdefault((r["j"], r["code"]), {})[r["pos"]] = r["mu"]
        codebooks = [
            [
                (
                    cid,
                    [
                        cells[(j, cid)][p]
                        for p in range(d_sub)
                    ]
                    if (j, cid) in cells
                    else c_vec,
                )
                for cid, c_vec in codebooks[j]
            ]
            for j in range(m)
        ]
    return codebooks


def _d2_expr(sub, s_self, c_vec: list[float]):
    """Rounded squared L2 distance of a subvector Column to a literal
    centroid, via the dot expansion (both engines' dot folds are
    identical left-to-right; rounding to 6dp before any comparison or
    sum makes downstream arithmetic order-free)."""
    c = F.array(*[F.lit(x) for x in c_vec])
    c_self = sum(x * x for x in c_vec)
    return F.round(s_self - 2.0 * dot(sub, c) + F.lit(c_self), 6)


def _code_expr(vec, codebooks, j: int, d_sub: int):
    """argmin centroid id for subspace j — array_min over
    (distance, centroid_id) structs: rounded-distance asc, id asc."""
    sub = F.slice(vec, j * d_sub + 1, d_sub)
    s_self = dot(sub, sub)
    return F.array_min(
        F.array(
            *[
                F.struct(
                    _d2_expr(sub, s_self, c_vec).alias("d"),
                    F.lit(cid).alias("i"),
                )
                for cid, c_vec in codebooks[j]
            ]
        )
    )["i"]


# ---------------------------------------------------------------------------
# Arrow engine: the same protocol as numpy kernels (plan size constant in
# n_codes — the production path for 8-bit PQ, where the expression form's
# plan-build cost is the measured ceiling)
# ---------------------------------------------------------------------------


def _np_round6(x):
    """Replay Spark's round(col, 6) on doubles (BigDecimal.valueOf —
    i.e. the SHORTEST-DECIMAL repr — setScale(6, HALF_UP)) in numpy.

    Fast path: scaled sign-aware half-up, floor(|x|*1e6 + 0.5). It can
    disagree with the decimal-string round only when |x|*1e6 lands
    within floating-point error of a .5 boundary, so exactly those
    values (an eps-band around .5, a ~1e-3 fraction at worst) are
    re-done exactly via decimal.Decimal(repr(x)) — Python's repr is the
    same shortest round-trip decimal as Java's Double.toString, making
    the slow path bit-identical to the JVM expression. The `+ 0.0`
    normalizes -0.0 to +0.0 (BigDecimal has no signed zero)."""
    import numpy as np

    y = np.abs(x) * 1e6
    fl = np.floor(y)
    frac = y - fl
    out = np.sign(x) * np.where(frac >= 0.5, fl + 1.0, fl) / 1e6 + 0.0
    eps = 1e-9 + y * 1e-12  # generous bound on the scaled-product error
    risky = np.abs(frac - 0.5) <= eps
    if risky.any():
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal("0.000001")
        flat, xf = out.reshape(-1), np.asarray(x, dtype=np.float64).reshape(-1)
        for i in np.nonzero(risky.reshape(-1))[0]:
            flat[i] = float(
                Decimal(repr(float(xf[i]))).quantize(q, rounding=ROUND_HALF_UP)
            )
    return out


def _np_seq_dot(A, c):
    """Left-to-right sequential dot of each row of A with vector c —
    the per-element IEEE op order of the F.aggregate fold (acc starts
    0.0; acc = acc + a_i*c_i), vectorized ACROSS rows (each row's fold
    order is unchanged, so results are bit-identical to the JVM)."""
    import numpy as np

    acc = np.zeros(A.shape[0], dtype=np.float64)
    for i in range(A.shape[1]):
        acc = acc + A[:, i] * c[i]
    return acc


def _np_codebooks(codebooks):
    """codebooks -> per-subspace (ids asc, centroid matrix, |c|^2 list).
    c_self uses the same Python left-to-right sum as _d2_expr."""
    import numpy as np

    ids, mats, selfs = [], [], []
    for cb in codebooks:
        by_id = sorted(cb)
        ids.append(np.array([cid for cid, _ in by_id], dtype=np.int64))
        mats.append(np.array([v for _, v in by_id], dtype=np.float64))
        selfs.append([sum(x * x for x in v) for _, v in by_id])
    return ids, mats, selfs


def _np_subspace_d2(V, j, d_sub, mats, selfs):
    """All rounded subspace-j distances for a batch: (n, n_codes) in
    centroid-id-ascending column order, each cell the exact
    ((s_self - 2.0*dot) + c_self) arithmetic of _d2_expr."""
    import numpy as np

    S = V[:, j * d_sub : (j + 1) * d_sub]
    # s_self is the fold of s_i * s_i — same per-element op order as dot
    s_self = np.zeros(S.shape[0], dtype=np.float64)
    for i in range(S.shape[1]):
        s_self = s_self + S[:, i] * S[:, i]
    cols = []
    for p in range(mats[j].shape[0]):
        cd = _np_seq_dot(S, mats[j][p])
        cols.append(_np_round6((s_self - 2.0 * cd) + selfs[j][p]))
    return np.stack(cols, axis=1)


def _codes_arrow_fn(codebooks):
    """pandas_udf: array<double> vector -> array<int> PQ codes, the
    numpy replay of _code_expr (argmin over cid-ascending columns;
    np.argmin's first-occurrence tie-break == the struct min's id-asc
    tie-break because columns are cid-sorted)."""
    from pyspark.sql.functions import pandas_udf

    m = len(codebooks)
    d_sub = len(codebooks[0][0][1])
    ids, mats, selfs = _np_codebooks(codebooks)

    @pandas_udf("array<int>")
    def enc(v: pd.Series) -> pd.Series:
        import numpy as np

        if len(v) == 0:
            return pd.Series([], dtype=object)
        V = np.array([np.asarray(x, dtype=np.float64) for x in v])
        out = np.empty((len(v), m), dtype=np.int32)
        for j in range(m):
            D = _np_subspace_d2(V, j, d_sub, mats, selfs)
            out[:, j] = ids[j][np.argmin(D, axis=1)]
        return pd.Series(list(out))

    return enc


def _lut_arrow_fn(codebooks):
    """pandas_udf: array<double> vector -> the ADC LUT (m x n_codes
    rounded subspace distances, cid-ascending within each subspace) —
    the numpy replay of _lut_expr."""
    from pyspark.sql.functions import pandas_udf

    m = len(codebooks)
    d_sub = len(codebooks[0][0][1])
    _ids, mats, selfs = _np_codebooks(codebooks)

    @pandas_udf("array<array<double>>")
    def lut(v: pd.Series) -> pd.Series:
        import numpy as np

        if len(v) == 0:
            return pd.Series([], dtype=object)
        V = np.array([np.asarray(x, dtype=np.float64) for x in v])
        rows = [
            _np_subspace_d2(V, j, d_sub, mats, selfs) for j in range(m)
        ]  # m of (n, n_codes)
        stacked = np.stack(rows, axis=1)  # (n, m, n_codes)
        return pd.Series([[list(sub) for sub in row] for row in stacked])

    return lut


def _codes_column(codebooks, engine: str):
    """vec Column -> codes Column, under the chosen engine."""
    m = len(codebooks)
    d_sub = len(codebooks[0][0][1])
    if engine == "arrow":
        enc = _codes_arrow_fn(codebooks)
        return lambda vec: enc(vec)
    if engine != "expr":
        raise ValueError(f"pq: unknown engine {engine!r} (expr|arrow)")
    return lambda vec: F.array(
        *[_code_expr(vec, codebooks, j, d_sub) for j in range(m)]
    )


def _lut_column(codebooks, engine: str):
    """vec Column -> ADC LUT Column, under the chosen engine."""
    d_sub = len(codebooks[0][0][1])
    if engine == "arrow":
        lut = _lut_arrow_fn(codebooks)
        return lambda vec: lut(vec)
    if engine != "expr":
        raise ValueError(f"pq: unknown engine {engine!r} (expr|arrow)")
    return lambda vec: _lut_expr(vec, codebooks, d_sub)


def pq_encode(
    df: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    engine: str = "expr",
) -> DataFrame:
    """-> (id, codes array<int>): one zero-exchange projection; encode
    parallelism is scan parallelism (both engines — the arrow kernel is
    a mapInArrow-style projection, no shuffle, no join)."""
    codes_of = _codes_column(codebooks, engine)
    return df.select(
        F.col(id_col),
        codes_of(_as_double(F.col(vec_col))).alias("codes"),
    )


def _lut_expr(vec, codebooks, d_sub: int):
    """Per-query ADC lookup table: m x n_codes rounded subspace
    distances, ordered by centroid_id within each subspace so
    element_at(lut[j], code+1) is the distance to the coded centroid."""
    luts = []
    for j, cb in enumerate(codebooks):
        sub = F.slice(vec, j * d_sub + 1, d_sub)
        s_self = dot(sub, sub)
        by_id = sorted(cb)  # centroid_id asc == element position
        luts.append(
            F.array(*[_d2_expr(sub, s_self, c_vec) for _cid, c_vec in by_id])
        )
    return F.array(*luts)


def _adc_candidates(scored: DataFrame, rerank: int) -> DataFrame:
    """Shared ADC stage: rows carrying (query_id, neighbor_id, codes,
    _lut) -> each query's `rerank` best neighbor ids by the rounded ADC
    fold (distance asc, neighbor_id asc — the deterministic candidate
    cut every PQ path shares)."""
    adc = (
        scored.where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("codes"),
                        F.col("_lut"),
                        lambda c, row: F.element_at(row, c + 1),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                6,
            ).alias("adc"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy("adc", "neighbor_id")
    return (
        adc.withColumn("_r", F.row_number().over(wq))
        .where(F.col("_r") <= rerank)
        .select("query_id", "neighbor_id")
    )


def _exact_rerank(
    cands: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Shared exact float re-rank: candidate (query_id, neighbor_id)
    pairs joined back to the float vectors (corpus = primary storage;
    only candidate rows are fetched), scored with the bit-reproducible
    prenormed cosine, ranked under the common ANN ordering protocol
    (rounded score desc, neighbor_id asc). Returns
    (query_id, neighbor_id, cos_sim, rank <= k)."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("c_vec")
    ).withColumn("_cn", norm(F.col("c_vec")))
    qv = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("q_vec")
        ).withColumn("_qn", norm(F.col("q_vec")))
    )
    exact = (
        cands.join(c, "neighbor_id")
        .join(qv, "query_id")
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
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    rerank: int = 30,
    codebooks: list[list[tuple[int, list[float]]]] | None = None,
    engine: str = "expr",
) -> DataFrame:
    """Approximate top-k via PQ-ADC + exact float re-rank. Returns
    (query_id, neighbor_id, rank, cos_sim) under the shared ordering
    protocol. `codebooks` accepts a pre-trained table (the persisted-
    index path); by default they're picked from `corpus`. `engine`
    picks the encode/LUT implementation (bit-identical results; "arrow"
    for n_codes > ~64 where the expression plan-build cost is the
    measured ceiling)."""
    if codebooks is None:
        codebooks = pq_codebooks(
            corpus, id_col, vec_col, dim=dim, m=m, n_codes=n_codes
        )
    codes_of = _codes_column(codebooks, engine)
    lut_of = _lut_column(codebooks, engine)
    codes = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        codes_of(_as_double(F.col(vec_col))).alias("codes"),
    )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            lut_of(_as_double(F.col(vec_col))).alias("_lut"),
        )
    )
    cands = _adc_candidates(codes.crossJoin(q), rerank)
    return _exact_rerank(cands, corpus, queries, id_col, vec_col, k)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    rerank: int = 30,
    engine: str = "expr",
) -> DataFrame:
    """IVF-PQ — the standard billion-scale composite (faiss IVFPQ,
    public method): a coarse IVF quantizer routes each vector to one
    inverted list, the RESIDUAL (vector minus its coarse centroid) is
    PQ-encoded to m small ints, and a query ADC-scans only its n_probe
    probed lists with a per-(query, probed-list) residual LUT, followed
    by the shared exact float re-rank.

    Why this is THE 100 TB shape: candidates per query are
    ~n/n_centroids * n_probe rows of m BYTES each — both the candidate
    COUNT (IVF pruning) and the candidate WIDTH (PQ codes) shrink, and
    the scan arrives through one equi-join on centroid_id (the
    IVF-bucketed join; the query side broadcasts). Residual encoding is
    what makes a small per-subspace codebook usable across all lists:
    residuals live near zero regardless of which cell a vector is in.

    Determinism: coarse centroids + residual codebooks both come from
    the md5 pick; every distance follows pq.py's rounded dot-expansion
    protocol — so the DuckDB gate oracle replays the whole composite.
    Returns (query_id, neighbor_id, rank, cos_sim)."""
    from spdb_spark.functions.ivf import assign_lists, choose_centroids

    cents = choose_centroids(corpus, id_col, vec_col, n_centroids)
    cents = corpus.sparkSession.createDataFrame(
        [(int(r.centroid_id), list(r.centroid_vec)) for r in cents.collect()],
        schema="centroid_id int, centroid_vec array<double>",
    )

    def residual(v_col):
        return F.zip_with(v_col, F.col("centroid_vec"), lambda a, b: a - b)

    lists = (
        assign_lists(corpus, cents, id_col, vec_col, n_probe=1)
        .join(F.broadcast(cents), "centroid_id")
        .select(
            F.col("vid").alias("neighbor_id"),
            "centroid_id",
            residual(F.col("v")).alias("resid"),
        )
        # materialize once (lazily, at the codebook collect): the
        # residual table feeds BOTH the codebook pick and the codes
        # projection — without truncation the assign-join lineage would
        # re-run for each, doubling the most expensive scan at the
        # 100 TB shape (localCheckpoint blocks are GC-reclaimed with
        # the plan; executor loss re-runs the query, acceptable for a
        # within-query materialization)
        .localCheckpoint(eager=False)
    )
    # residual codebooks: md5 pick over the residual table (ids are the
    # corpus ids, so the pick is the same rows' residuals — bit-stable)
    codebooks = pq_codebooks(
        lists, "neighbor_id", "resid", dim=dim, m=m, n_codes=n_codes
    )
    codes_of = _codes_column(codebooks, engine)
    lut_of = _lut_column(codebooks, engine)
    codes = lists.select(
        "neighbor_id",
        "centroid_id",
        codes_of(F.col("resid")).alias("codes"),
    )
    probes = (
        assign_lists(queries, cents, id_col, vec_col, n_probe=n_probe)
        .join(F.broadcast(cents), "centroid_id")
        .select(
            F.col("vid").alias("query_id"),
            "centroid_id",
            lut_of(residual(F.col("v"))).alias("_lut"),
        )
    )
    # a neighbor reachable through two probed lists appears once per
    # its OWN list only (codes carry one centroid_id per vector), so
    # no dedup is needed after the ADC join
    cands = _adc_candidates(codes.join(F.broadcast(probes), "centroid_id"), rerank)
    return _exact_rerank(cands, corpus, queries, id_col, vec_col, k)


def save_ivfpq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_centroids: int = 16,
    m: int = 8,
    n_codes: int = 16,
    engine: str = "expr",
    cents: DataFrame | None = None,
    codebooks: list[list[tuple[int, list[float]]]] | None = None,
) -> None:
    """Persist an IVF-PQ index: `<path>/centroids` (coarse quantizer),
    `<path>/pq_codebooks` (m * n_codes residual sub-centroids), and
    `<path>/codes` — m small ints per vector, PARTITIONED BY
    centroid_id so a probe reads n_probe/k of the files via
    directory-level pruning. This is the billion-vector layout: the
    scannable index is ~m bytes/vector (vs 8*dim for floats — 64x at
    dim 64/m 8), and the floats stay in primary storage, touched only
    for each query's re-rank candidates.

    `cents`/`codebooks` accept a pre-trained quantizer (e.g. trained on
    a larger corpus the index will grow toward via
    `append_to_ivfpq_index`, or on a representative sample at 100 TB);
    by default both are picked from `corpus`."""
    from spdb_spark.functions.ivf import assign_lists, choose_centroids

    if cents is None:
        cents = choose_centroids(corpus, id_col, vec_col, n_centroids)
        cents = corpus.sparkSession.createDataFrame(
            [(int(r.centroid_id), list(r.centroid_vec)) for r in cents.collect()],
            schema="centroid_id int, centroid_vec array<double>",
        )
    cents.write.mode("overwrite").parquet(path + "/centroids")
    lists = (
        assign_lists(corpus, cents, id_col, vec_col, n_probe=1)
        .join(F.broadcast(cents), "centroid_id")
        .select(
            F.col("vid"),
            "centroid_id",
            F.zip_with(F.col("v"), F.col("centroid_vec"), lambda a, b: a - b).alias(
                "resid"
            ),
        )
    ).persist()
    try:
        if codebooks is None:
            codebooks = pq_codebooks(
                lists, "vid", "resid", dim=dim, m=m, n_codes=n_codes
            )
        codes_of = _codes_column(codebooks, engine)
        corpus.sparkSession.createDataFrame(
            [
                (j, cid, vec)
                for j, cb in enumerate(codebooks)
                for cid, vec in cb
            ],
            schema="subspace int, pq_id int, sub_vec array<double>",
        ).write.mode("overwrite").parquet(path + "/pq_codebooks")
        (
            lists.select(
                "vid",
                "centroid_id",
                codes_of(F.col("resid")).alias("codes"),
            )
            .write.mode("overwrite")
            .partitionBy("centroid_id")
            .parquet(path + "/codes")
        )
    finally:
        lists.unpersist()


def _load_ivfpq_quantizer(spark, path: str):
    """Read back a persisted index's frozen quantizer: (cents DataFrame
    as plan-literal rows, codebooks in pq_codebooks order)."""
    cents = spark.read.parquet(path + "/centroids")
    cents = spark.createDataFrame(
        [(int(r.centroid_id), list(r.centroid_vec)) for r in cents.collect()],
        schema="centroid_id int, centroid_vec array<double>",
    )
    cb_rows = spark.read.parquet(path + "/pq_codebooks").collect()
    if not cb_rows:
        raise ValueError(
            f"ivfpq index: empty pq_codebooks at {path} — not a complete "
            "IVF-PQ index layout (rebuild with save_ivfpq_index)"
        )
    m = 1 + max(r["subspace"] for r in cb_rows)
    codebooks: list[list[tuple[int, list[float]]]] = [[] for _ in range(m)]
    for r in cb_rows:
        codebooks[r["subspace"]].append((int(r["pq_id"]), list(r["sub_vec"])))
    for cb in codebooks:
        cb.sort()
    return cents, codebooks


def _codes_dir(path: str) -> str:
    """Resolve the CURRENT codes dir: via the atomic `_codes.json`
    pointer once `compact_ivfpq_index` has versioned it, else the
    original `<path>/codes` layout (the ivf._lists_dir pattern)."""
    import json
    import os

    ptr = os.path.join(path, "_codes.json")
    if os.path.exists(ptr):
        with open(ptr) as f:
            return os.path.join(path, json.load(f)["codes"])
    return path + "/codes"


def compact_ivfpq_index(spark, path: str) -> None:
    """OPTIMIZE for the persisted IVF-PQ index — same failure mode and
    same fix as ivf.compact_index: every `append_to_ivfpq_index` lands
    new parquet files inside the centroid partition dirs, so after many
    micro-batch appends a probe pays file-listing + footer reads
    proportional to APPEND COUNT. Rewrites the current codes into a
    fresh generation dir (one file per centroid partition), then
    atomically swings the `_codes.json` pointer. Single-maintainer
    contract: don't run concurrently with appends."""
    import json
    import os

    from spdb_spark.commit import write_atomic

    cur = _codes_dir(path)
    base = os.path.basename(cur)
    gen = int(base.rsplit("_g", 1)[1]) + 1 if "_g" in base else 1
    dest = f"codes_g{gen}"
    (
        spark.read.parquet(cur)
        .repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(os.path.join(path, dest))
    )
    write_atomic(os.path.join(path, "_codes.json"), json.dumps({"codes": dest}))


def vacuum_ivfpq_index(path: str) -> None:
    """Remove superseded codes generations (safe any time after
    `compact_ivfpq_index`: only dirs the pointer no longer references)."""
    import os
    import shutil

    current = os.path.basename(_codes_dir(path))
    for d in os.listdir(path):
        if (d == "codes" or d.startswith("codes_g")) and d != current:
            shutil.rmtree(os.path.join(path, d), ignore_errors=True)


def append_to_ivfpq_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    engine: str = "expr",
    batch_id: str | None = None,
) -> None:
    """Incremental IVF-PQ maintenance: encode a NEW batch against the
    index's FROZEN coarse centroids + residual codebooks and append its
    code rows into the centroid partitions — O(batch) work, the indexed
    corpus never re-read (the ivf.append_to_index posture; reference
    parity: per-write id-index updates, object_indices.py:730-769).
    Appending with the frozen quantizer is bit-identical to a rebuild
    over the union corpus WITH THE SAME quantizer (test-pinned) — the
    quantizer itself is retrained only by rebuilding, a quality knob,
    not a correctness one.

    Exactly-once (ivf.staged_partitioned_append — the shared staged
    atomic-rename protocol): with a caller `batch_id` (e.g.
    foreachBatch's), a redelivery after a crash at any point is a no-op
    or a republish from the sealed staging — never a double-append.
    Without a batch_id the append publishes safely but a blind retry is
    a NEW batch.

    Contract: batch ids must be new (same as ivf.append_to_index)."""
    import uuid

    from spdb_spark.functions.ivf import assign_lists, staged_partitioned_append

    if batch_id is None:
        batch_id = uuid.uuid4().hex

    def write_stage(dest: str) -> None:
        # quantizer load + encode only run when (re)staging — a
        # committed or sealed retry never re-reads the index
        cents, codebooks = _load_ivfpq_quantizer(spark, path)
        codes_of = _codes_column(codebooks, engine)
        (
            assign_lists(new_vectors, cents, id_col, vec_col, n_probe=1)
            .join(F.broadcast(cents), "centroid_id")
            .select(
                F.col("vid"),
                "centroid_id",
                codes_of(
                    F.zip_with(
                        F.col("v"), F.col("centroid_vec"), lambda a, b: a - b
                    )
                ).alias("codes"),
            )
            .write.mode("overwrite")
            .partitionBy("centroid_id")
            .parquet(dest)
        )

    staged_partitioned_append(path, _codes_dir(path), str(batch_id), write_stage)


def ivfpq_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 10,
    n_probe: int = 4,
    rerank: int = 30,
    engine: str = "expr",
    where=None,
) -> DataFrame:
    """Query a persisted IVF-PQ index: probed centroid_id values prune
    the codes scan at the directory level; `corpus` supplies the float
    vectors for the exact re-rank (primary storage — only candidate
    rows are fetched). Bit-identical to the unindexed `ivfpq_topk` at
    the same settings (test-pinned).

    Filtered search (`where`, PRE-filter semantics like
    ivf_topk_indexed): the predicate applies to the CORPUS (metadata
    lives in primary storage, not the code index — the faiss IDSelector
    shape), pushed down on the corpus scan; the matching-id set
    semi-joins the probed codes so non-matching vectors never consume
    ADC rerank budget. Recall escalation: a query whose probed+filtered
    candidate set runs short of k falls back to exact brute-force over
    the FILTERED corpus — the short set stays a DataFrame end-to-end,
    and when no query is short AQE collapses the empty-broadcast
    fallback subtree."""
    from spdb_spark.functions.ivf import assign_lists

    cents, codebooks = _load_ivfpq_quantizer(spark, path)
    d_sub = len(codebooks[0][0][1])
    if dim != len(codebooks) * d_sub:
        raise ValueError(
            f"ivfpq index at {path}: dim {len(codebooks) * d_sub} on disk, "
            f"{dim} requested"
        )
    lut_of = _lut_column(codebooks, engine)
    codes = spark.read.parquet(_codes_dir(path)).select(
        F.col("vid").alias("neighbor_id"), "centroid_id", "codes"
    )
    fc = corpus
    if where is not None:
        fc = corpus.where(F.expr(where) if isinstance(where, str) else where)
        codes = codes.join(
            fc.select(F.col(id_col).alias("neighbor_id")),
            "neighbor_id",
            "semi",
        )
    probes = (
        assign_lists(queries, cents, id_col, vec_col, n_probe=n_probe)
        .join(F.broadcast(cents), "centroid_id")
        .select(
            F.col("vid").alias("query_id"),
            "centroid_id",
            lut_of(
                F.zip_with(F.col("v"), F.col("centroid_vec"), lambda a, b: a - b)
            ).alias("_lut"),
        )
    )
    cands = _adc_candidates(codes.join(F.broadcast(probes), "centroid_id"), rerank)
    if where is None:
        return _exact_rerank(cands, corpus, queries, id_col, vec_col, k)
    counts = cands.groupBy("query_id").agg(F.count("*").alias("_n"))
    short_q = (
        queries.select(F.col(id_col).alias("query_id"))
        .distinct()
        .join(counts, "query_id", "left")
        .where(F.coalesce(F.col("_n"), F.lit(0)) < k)
        .select("query_id")
    )
    # brute-force candidate set for the short queries: every filtered
    # corpus id (broadcast the tiny/empty short side — BNLJ, never a
    # cartesian over the corpus)
    short_cands = (
        fc.select(F.col(id_col).alias("neighbor_id"))
        .crossJoin(F.broadcast(short_q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    cands = cands.join(
        F.broadcast(short_q), "query_id", "left_anti"
    ).unionByName(short_cands)
    return _exact_rerank(cands, fc, queries, id_col, vec_col, k)
