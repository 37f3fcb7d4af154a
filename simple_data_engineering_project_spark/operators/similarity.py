"""Similarity search over embedding columns (SURVEY §2 C3).

Two strategies, one API:

- **Brute-force cosine top-k** — the exactness baseline. Dot products are
  pure codegen expressions (``zip_with``/``aggregate``); the query vector
  set is broadcast; top-k per query via window. Scan-dominated: at 100 TB
  this is one pass over the corpus with no shuffle except the final
  per-query k-row reduction.
- **LSH-bucketed (random hyperplane / signed random projection)** — the
  scale path. Each vector hashes to a signature of sign bits over seeded
  pseudo-random hyperplanes; candidates share a bucket in ≥1 band. Recall
  tunes with (bands × bits); cost drops from |corpus| dot products per
  query to |bucket| collisions.

Hyperplanes are derived deterministically from (seed, band, bit, dim) via
xxhash64 → uniform in [-1, 1): reproducible across engines and runs with
no RNG state, and the projection is again a codegen-only expression.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cosine_similarity


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Exact top-k by cosine for every query vector.

    Cross-join with the query side broadcast (queries ≪ corpus always),
    cosine in codegen, then ``row_number`` per query ordered by
    (similarity DESC, corpus_id ASC) — the id tiebreak keeps results
    deterministic under float ties.
    """
    c = corpus.select(
        F.col(corpus_id).alias("item_id"), F.col(corpus_vec).alias("__cv")
    )
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qv")
    )
    scored = c.join(F.broadcast(q)).select(
        "query_id",
        "item_id",
        cosine_similarity(F.col("__cv"), F.col("__qv")).alias("cosine"),
    )
    return _topk_per_query(scored, k)


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    label_col: str = "label",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    query_label: str = "query_label",
) -> DataFrame:
    """Contrastive hard-negative mining: for every query vector, the
    top-k most-similar corpus items with a DIFFERENT label — the
    embedding-training data miner (highest-loss negatives are the
    near-misses, not random picks).

    Same plan shape as :func:`brute_force_topk` (queries ≪ corpus is
    the API contract, so the query side broadcasts), with the label
    mismatch applied IN the join condition — rows sharing the query's
    label never leave the scan. NULL labels drop on both sides
    (NULL <> x is NULL), matching SQL semantics.
    """
    c = corpus.select(
        F.col(corpus_id).alias("item_id"),
        F.col(corpus_vec).alias("__cv"),
        F.col(label_col).alias("__cl"),
    )
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qv"),
        F.col(query_label).alias("__ql"),
    )
    scored = c.join(
        F.broadcast(q), F.col("__cl") != F.col("__ql")
    ).select(
        "query_id",
        "item_id",
        cosine_similarity(F.col("__cv"), F.col("__qv")).alias("cosine"),
    )
    return _topk_per_query(scored, k)


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Exact top-k per query over (query_id, item_id, cosine) — ONE
    window; Catalyst's InferWindowGroupLimit (Spark 3.5+) supplies the
    map-side bound the old manual two-phase bought with an extra
    exchange.

    The ``row_number() <= k`` filter makes the optimizer insert
    WindowGroupLimit(Partial) BELOW the window's exchange: each input
    partition forwards at most k rows per query before anything is
    shuffled, so no single task ever ranks the whole scored set — the
    property the previous hand-rolled phase-1 window provided at the
    cost of a full extra Exchange+Sort on (partition-id, query_id)
    over the unbounded scored relation (round-16 plan diff: 2
    exchanges → 1 per top-k; verified WindowGroupLimit Partial/Final
    pair in the after-dumps). Requires k ≤
    spark.sql.optimizer.windowGroupLimitThreshold (default 1000);
    callers pass k ≤ 50.

    The query_id the caller supplies must come from DATA, not a literal:
    Catalyst removes foldable partition keys, silently turning the
    window into a partitionless (single-task) WindowExec — pinned by
    tests/test_scale.py::test_no_partitionless_window_anywhere.
    """
    order = [F.col("cosine").desc(), F.col("item_id").asc()]
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "item_id", "cosine", "rank")
    )


def _hyperplanes(seed: int, bands: int, bits: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes as Python constants.

    Computed once on the driver and embedded as literals — expression-tree
    hyperplanes (hashes of literals inside lambdas) defeat constant
    folding and re-evaluate per row.
    """
    import random

    rnd = random.Random(seed)
    return [
        [rnd.uniform(-1.0, 1.0) for _ in range(dim)] for _ in range(bands * bits)
    ]


def srp_signature_udf(dim: int, bands: int = 8, bits: int = 8, seed: int = 42):
    """Arrow-vectorized SRP signatures: one numpy matmul per batch.

    (batch, dim) @ (dim, bands·bits) → sign bits → per-band bucket ids.
    This is the sanctioned slow-path shape (pandas_udf, not per-row
    Python): per 10k-row Arrow batch the Python cost is one BLAS call.
    Uses the same :func:`_hyperplanes` as the expression form, so both
    paths hash any vector to identical buckets.
    """
    w = np.array(_hyperplanes(seed, bands, bits, dim)).T  # (dim, bands*bits)
    powers = (1 << np.arange(bits - 1, -1, -1)).astype(np.int64)

    @F.pandas_udf("array<long>")
    def _sig(vecs: pd.Series) -> pd.Series:
        x = np.vstack(vecs.to_numpy())  # (n, dim)
        signs = (x @ w >= 0).astype(np.int64)  # (n, bands*bits)
        buckets = signs.reshape(len(x), bands, bits) @ powers  # (n, bands)
        return pd.Series(list(buckets))

    return _sig


def _ivf_centroids(corpus: DataFrame, n_cells: int, corpus_id: str, corpus_vec: str):
    """Deterministic coarse-quantizer centroids: the ``n_cells`` corpus
    vectors with the smallest ``xxhash64(id)`` — a seeded uniform sample
    with no RNG state.

    The collect is bounded model metadata (n_cells × dim floats, a few
    KB), not a data-path collect; at 100 TB the same role is played by a
    sampled k-means job whose output is equally tiny.
    """
    rows = (
        corpus.select(F.col(corpus_id).alias("id"), F.col(corpus_vec).alias("v"))
        .orderBy(F.xxhash64(F.col("id").cast("string")), F.col("id"))
        .limit(n_cells)
        .collect()
    )
    c = np.array([list(r.v) for r in rows], dtype=np.float64)  # (cells, dim)
    norms = np.linalg.norm(c, axis=1)
    norms[norms == 0] = 1.0
    return c / norms[:, None]  # row-normalized: argmax x·cn == argmax cosine


def _cell_assign_udf(cn: "np.ndarray", n_probe: int = 1):
    """Arrow-vectorized cell assignment: top-``n_probe`` nearest centroids
    per vector via one matmul per batch (centroids broadcast in the UDF
    closure — a few KB riding the task binary)."""
    @F.pandas_udf("array<int>")
    def _assign(vecs: pd.Series) -> pd.Series:
        x = np.vstack(vecs.to_numpy()).astype(np.float64)  # (n, dim)
        scores = x @ cn.T  # (n, cells); |x| constant per row → argmax == cosine argmax
        top = np.argsort(-scores, axis=1, kind="stable")[:, :n_probe].astype(np.int32)
        return pd.Series(list(top))

    return _assign


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer.

    Corpus vectors are assigned to their nearest centroid cell once (at
    scale: a materialized, cell-partitioned index table); each query
    probes its ``n_probe`` nearest cells and exact-rescored candidates
    come only from those cells — cost |corpus|·(n_probe/n_cells) dot
    products per query instead of |corpus|. Same output schema as
    :func:`brute_force_topk`; recall < 1.0 tunes with ``n_probe``.
    """
    cn = _ivf_centroids(corpus, n_cells, corpus_id, corpus_vec)
    c = corpus.select(
        F.col(corpus_id).alias("item_id"),
        F.col(corpus_vec).alias("__cv"),
        _cell_assign_udf(cn, 1)(F.col(corpus_vec))[0].alias("cell"),
    )
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qv"),
        F.explode(_cell_assign_udf(cn, n_probe)(F.col(query_vec))).alias("cell"),
    )
    cand = c.join(F.broadcast(q), "cell").select("query_id", "item_id", "__cv", "__qv")
    scored = cand.select(
        "query_id",
        "item_id",
        cosine_similarity(F.col("__cv"), F.col("__qv")).alias("cosine"),
    )
    return _topk_per_query(scored, k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    bands: int = 8,
    bits: int = 8,
    seed: int = 42,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: SRP-LSH candidate generation + exact re-score.

    Corpus signatures explode to (band, bucket) rows once (cacheable /
    materializable as a bucketed table at scale); queries hash the same
    way and equi-join on (band, bucket). Only colliding candidates get the
    exact cosine. Returns the same schema as ``brute_force_topk`` —
    recall < 1.0 is the documented trade.

    Signatures come from :func:`srp_signature_udf` (Arrow batch + one
    BLAS matmul), not the unrolled expression form: at bands×bits×dim in
    the thousands the literal expression tree costs more in Catalyst
    analysis + codegen (and driver heap) than the data itself.
    """
    from .dedup import _spread

    sig_udf = srp_signature_udf(dim, bands, bits, seed)
    # _spread: a one-partition small file would hand the whole corpus to
    # a single Arrow batch worker; at real scale this is a no-op
    c = _spread(corpus, corpus_id).select(
        F.col(corpus_id).alias("item_id"),
        F.col(corpus_vec).alias("__cv"),
        sig_udf(F.col(corpus_vec)).alias("__sig"),
    )
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qv"),
        sig_udf(F.col(query_vec)).alias("__qsig"),
    )
    c_b = c.select(
        "item_id",
        "__cv",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col("__sig")[b].alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("item_id", "__cv", "bb.band", "bb.bucket")
    q_b = q.select(
        "query_id",
        "__qv",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col("__qsig")[b].alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("query_id", "__qv", "bb.band", "bb.bucket")
    cand = (
        c_b.join(F.broadcast(q_b), ["band", "bucket"])
        .select("query_id", "item_id", "__cv", "__qv")
        .dropDuplicates(["query_id", "item_id"])
    )
    scored = cand.select(
        "query_id",
        "item_id",
        cosine_similarity(F.col("__cv"), F.col("__qv")).alias("cosine"),
    )
    return _topk_per_query(scored, k)


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector L2 norm + symmetric int8 quantization summary.

    The embedding-store prep step: int8 quantization cuts vector storage
    4× and feeds SIMD distance kernels. Each component maps to
    ``floor(x / max_abs · 127 + 0.5)`` ∈ [−127, 127] — scale-per-vector
    (a.k.a. per-row absmax), the scheme ANN stores use for cosine
    workloads because it is norm-invariant.

    Everything is a row-local array fold in codegen: zero shuffles, one
    scan. Determinism: the quantized values are exact integers (float →
    double promotion, one IEEE divide/multiply/add, floor — identical
    in any engine), so their sum/min/max are hash-stable; the norm is
    emitted as ``l2_norm_e4`` = floor(norm·10⁴ + 0.5) — a BIGINT, so the
    whole output row is integer-exact and no float ever reaches the
    hash (stricter than catalog rule 3's round-to-4).

    Returns (id, n_dims, l2_norm_e4, q_sum, q_min, q_max) — the summary
    row the driver can hash; pair with ``F.transform`` of the same
    quantize expression where the int8 array itself is needed.
    """
    x = F.col(vec_col)
    sumsq = F.aggregate(
        x,
        F.lit(0.0),
        lambda acc, v: acc + v.cast("double") * v.cast("double"),
    )
    max_abs = F.array_max(F.transform(x, lambda v: F.abs(v.cast("double"))))
    # Stage max_abs, then the quantized array, in their own projections:
    # built inline, the q transform appeared 3x (sum/min/max) and max_abs
    # ~5x in one select, and CollapseProject re-inlines nothing it did
    # not create — each row paid the full array transform three times
    # (the bpe_apply staging fix, guide §2.3 / SPARK-36718: non-cheap
    # aliases referenced more than once stay staged). __q is guarded by
    # the same `safe` predicate as before so an all-zero vector never
    # evaluates floor(0/0) under ANSI; the outer when()s are unchanged.
    staged = df.select(
        F.col(id_col),
        x,
        F.size(x).cast("int").alias("n_dims"),
        F.floor(F.sqrt(sumsq) * 10000.0 + 0.5).cast("long").alias("l2_norm_e4"),
        max_abs.alias("__mx"),
    )
    safe = F.col("__mx") > 0.0
    staged = staged.select(
        id_col,
        "n_dims",
        "l2_norm_e4",
        "__mx",
        F.when(
            safe,
            F.transform(
                x,
                lambda v: F.floor(
                    v.cast("double") / F.col("__mx") * 127.0 + 0.5
                ).cast("long"),
            ),
        ).alias("__q"),
    )
    zero = F.lit(0).cast("long")
    q = F.col("__q")
    return staged.select(
        F.col(id_col),
        F.col("n_dims"),
        F.col("l2_norm_e4"),
        F.when(safe, F.aggregate(q, zero, lambda a, v: a + v))
        .otherwise(zero)
        .alias("q_sum"),
        F.when(safe, F.array_min(q)).otherwise(zero).alias("q_min"),
        F.when(safe, F.array_max(q)).otherwise(zero).alias("q_max"),
    )


def _pq_codebooks(
    corpus: DataFrame,
    m: int,
    ksub: int,
    corpus_id: str,
    corpus_vec: str,
    refine_iters: int = 1,
) -> "np.ndarray":
    """Product-quantization codebooks: (m, ksub, dim/m) float64.

    Init is the deterministic seeded sample used by the IVF coarse
    quantizer (smallest ``xxhash64(id)``), split into m subspaces; each
    ``refine_iters`` pass is one distributed Lloyd step — assign every
    vector's subvectors to their nearest codeword (Arrow matmul batch),
    then recompute codewords as per-(subspace, code, dim) means via a
    posexplode + groupBy. The collect is model metadata (m·ksub·dsub
    floats, a few KB) — the training data itself never reaches the
    driver.
    """
    rows = (
        corpus.select(F.col(corpus_id).alias("id"), F.col(corpus_vec).alias("v"))
        .orderBy(F.xxhash64(F.col("id").cast("string")), F.col("id"))
        .limit(ksub)
        .collect()
    )
    init = np.array([list(r.v) for r in rows], dtype=np.float64)  # (ksub, dim)
    dim = init.shape[1]
    dsub = dim // m
    cb = init.reshape(ksub, m, dsub).transpose(1, 0, 2).copy()  # (m, ksub, dsub)

    for _ in range(refine_iters):
        assign = _pq_assign_udf(cb)
        coded = corpus.select(
            F.col(corpus_vec).alias("__v"), assign(F.col(corpus_vec)).alias("__c")
        )
        # (subspace, code, pos, component) rows → per-dim mean; the
        # aggregate output is bounded by m·ksub·dsub regardless of corpus
        # size, so the collect stays model-sized.
        sub = coded.select(
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(m - 1)),
                    lambda j: F.slice(
                        F.col("__v"), j * dsub + 1, dsub
                    ).cast("array<double>"),
                )
            ).alias("j", "sv"),
            F.col("__c"),
        ).select(
            "j",
            F.element_at(F.col("__c"), F.col("j") + 1).alias("code"),
            "sv",
        )
        means = (
            sub.select("j", "code", F.posexplode("sv").alias("pos", "x"))
            .groupBy("j", "code", "pos")
            .agg(F.avg("x").alias("mu"))
            .collect()
        )
        for r in means:
            cb[r.j, r.code, r.pos] = r.mu
    return cb


def _pq_assign_udf(cb: "np.ndarray"):
    """Arrow-vectorized PQ code assignment: per subspace, argmin L2 to
    the ksub codewords — one einsum per batch, codebooks riding the UDF
    closure (a few KB)."""
    m, ksub, dsub = cb.shape
    sq = (cb**2).sum(axis=2)  # (m, ksub)

    @F.pandas_udf("array<int>")
    def _assign(vecs: pd.Series) -> pd.Series:
        x = np.vstack(vecs.to_numpy()).astype(np.float64)  # (n, dim)
        xs = x.reshape(len(x), m, dsub)  # (n, m, dsub)
        dots = np.einsum("nmd,mkd->nmk", xs, cb)  # (n, m, ksub)
        codes = np.argmin(sq[None, :, :] - 2.0 * dots, axis=2).astype(np.int32)
        return pd.Series(list(codes))

    return _assign


def _pq_adc_udf(cb: "np.ndarray"):
    """ADC (asymmetric distance computation) score: Σ_j q_j · cb[j, code_j]
    — the query stays full-precision, the corpus is code-only."""
    m, ksub, dsub = cb.shape

    @F.pandas_udf("double")
    def _adc(codes: pd.Series, qv: pd.Series) -> pd.Series:
        q = np.vstack(qv.to_numpy()).astype(np.float64)  # (n, dim)
        qs = q.reshape(len(q), m, dsub)
        luts = np.einsum("nmd,mkd->nmk", qs, cb)  # (n, m, ksub)
        c = np.vstack(codes.to_numpy()).astype(np.int64)  # (n, m)
        score = np.take_along_axis(luts, c[:, :, None], axis=2)[:, :, 0].sum(axis=1)
        return pd.Series(score)

    return _adc


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    oversample: int = 5,
    refine_iters: int = 1,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Approximate top-k via product quantization + exact re-rank.

    The memory-scale ANN path: corpus vectors compress to m log2(ksub)-bit
    codes (64-dim float32 → 8 bytes at m=8, ksub=16 — 32×), ADC scores
    every code against the full-precision query (broadcast), the top
    ``k·oversample`` ADC candidates get the exact cosine, and the final
    top-k comes from that re-rank — the FAISS IVF-PQ recipe minus the
    coarse stage (compose with :func:`ivf_topk` cells for both).

    At 100 TB the codes relation is the persistent index (a fraction of
    corpus bytes, scanned instead of the vectors); only the
    k·oversample re-rank rows ever touch full vectors.
    """
    cb = _pq_codebooks(corpus, m, ksub, corpus_id, corpus_vec, refine_iters)
    assign = _pq_assign_udf(cb)
    adc = _pq_adc_udf(cb)
    codes = corpus.select(
        F.col(corpus_id).alias("item_id"),
        F.col(corpus_vec).alias("__cv"),
        assign(F.col(corpus_vec)).alias("__code"),
    ).localCheckpoint(eager=False)
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qv")
    )
    adc_scored = codes.join(F.broadcast(q)).select(
        "query_id",
        "item_id",
        "__cv",
        "__qv",
        adc(F.col("__code"), F.col("__qv")).alias("cosine"),
    )
    cand = _topk_per_query(
        adc_scored.select("query_id", "item_id", "cosine"), k * oversample
    ).select("query_id", "item_id")
    rescored = cand.join(
        adc_scored.select("query_id", "item_id", "__cv", "__qv"),
        ["query_id", "item_id"],
    ).select(
        "query_id",
        "item_id",
        cosine_similarity(F.col("__cv"), F.col("__qv")).alias("cosine"),
    )
    return _topk_per_query(rescored, k)


def _portable_hash_expr(col):
    """Engine-portable integer hash of a column cast to string — the
    seeded-sample ordering both engines can replay, where ``xxhash64``
    cannot (DuckDB lacks it). Delegates to the repo's single
    portable-hash primitive (:func:`dedup._portable_token_hash`, the
    md5-prefix-as-BIGINT trick) so the two sites can never drift."""
    from .dedup import _portable_token_hash

    return _portable_token_hash(col.cast("string"))


def _quantize_e4_expr(vec_col):
    """Row-local e4 integer quantization of an embedding column:
    ``floor(double(x) * 10000 + 0.5)`` per component — one IEEE op
    chain, identical in Spark and DuckDB (float→double is exact), so
    every downstream dot product is pure int64 and order-independent."""
    return F.transform(
        vec_col,
        lambda e: F.floor(e.cast("double") * 10000 + F.lit(0.5)).cast("long"),
    )


def _quantize_e4_py(vec) -> list[int]:
    """Driver-side twin of :func:`_quantize_e4_expr` — same IEEE double
    ops (collected float32 components arrive as exact doubles), used on
    bounded model metadata (centroid/query rows) only."""
    import math

    return [int(math.floor(float(x) * 10000.0 + 0.5)) for x in vec]


def _seeded_sample_rows(
    corpus: DataFrame, n: int, corpus_id: str, corpus_vec: str
):
    """The ``n`` corpus rows with the smallest (portable md5 hash, id)
    — the deterministic, engine-replayable seed sample for the det ANN
    twins. Bounded model-metadata collect (n × dim floats)."""
    return (
        corpus.select(
            F.col(corpus_id).alias("id"), F.col(corpus_vec).alias("v")
        )
        .orderBy(_portable_hash_expr(F.col("id")), F.col("id"))
        .limit(n)
        .collect()
    )


def _int_l2_score_col(xe_col, cw_col, nn_col):
    """Integer squared-L2 rank score of a quantized vector COLUMN
    against a codeword COLUMN: ``nn − 2·(x·c)`` (the constant |x|²
    term drops out of the argmin). A zip_with/aggregate fold over two
    data columns — bit-identical in any engine, no float anywhere,
    and a CONSTANT-SIZE expression tree: the model rides a broadcast
    relation, not literals. (The first cut inlined every centroid as
    a literal array — 1000+ literal nodes whose Catalyst analysis
    re-ran per action and dominated wall time, the documented
    giant-literal-tree trap.)"""
    return nn_col - F.lit(2).cast("long") * F.aggregate(
        F.zip_with(xe_col, cw_col, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def ivf_topk_det(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """IVF top-k with a FULLY DETERMINISTIC, engine-replayable plan —
    the hash-oracle-checkable twin of :func:`ivf_topk` (the
    ``events_hll_deterministic`` recipe applied to ANN).

    Every approximate decision is integer-exact and portable: centroids
    are the ``n_cells`` corpus vectors with the smallest (md5-prefix
    hash, id); vectors quantize e4 row-locally; cell assignment is the
    integer squared-L2 argmin (ties → lowest cell id); each query
    probes its ``n_probe`` best cells by the same integer score. Only
    the final re-score of probed candidates is float — the exact
    double-cosine recipe the hash-checked brute-force entry already
    shares with DuckDB. Result: candidate sets, ranks, and values all
    replay exactly in chained SQL CTEs.

    Scale shape is unchanged from :func:`ivf_topk`: one scan assigns
    cells (at 100 TB: a materialized cell-partitioned index), the probe
    set is bounded metadata, candidates come only from probed cells
    (|corpus|·n_probe/n_cells dot products), and the top-k reduction is
    the two-phase distributed rank. Collects are model-sized only
    (n_cells centroids + the query rows, which are ≪ corpus by API
    contract).

    API contract: ``corpus_id`` values are UNIQUE (the table-key
    contract every operator in this family assumes). Since the
    round-15 row-local rewrite removed the per-id aggregation,
    duplicate ids are NOT collapsed — each duplicate row scores
    independently, so a violated contract can seat the same id in
    several top-k slots (previously the groupBy collapsed them
    arbitrarily; neither behavior is promised for contract-violating
    input).
    """
    cent_rows = _seeded_sample_rows(corpus, n_cells, corpus_id, corpus_vec)
    cents = [_quantize_e4_py(r.v) for r in cent_rows]
    if not cents:  # empty corpus: empty result, correct schema
        return _det_empty_result(
            corpus, queries, k, corpus_id, corpus_vec, query_id, query_vec
        )
    # corpora smaller than n_cells yield fewer centroids — clamp so
    # the probe loop indexes only real cells (review finding; the SQL
    # twin clamps identically via its row_number() <= n_cells)
    n_cells = len(cents)
    n2 = [sum(c * c for c in cj) for cj in cents]

    # cell assignment is ROW-LOCAL (round-15 optimization, guide §2.4
    # "remove shuffles outright"): the centroid model rides ONE
    # broadcast row as a nested array, and the integer-L2 argmin is
    # array_min over a transform — struct ordering gives the same
    # lexicographic (score, cid) tie-break as the oracle's ORDER BY
    # score, cid. The previous shape fanned every corpus row ×n_cells
    # through a crossJoin and shuffled the fan back through a
    # groupBy(item_id) that also carried the full float vector; this
    # computes identical int64 arithmetic per row with ZERO exchanges
    # and never moves a vector. (Still a broadcast relation, not
    # literals — the giant-literal-tree trap documented on
    # _int_l2_score_col stays avoided.)
    spark = corpus.sparkSession
    cents_df = spark.createDataFrame(
        [([
            {"cid": j, "nn": n2[j], "ce": cents[j]}
            for j in range(n_cells)
        ],)],
        "__cents array<struct<cid int, nn bigint, ce array<bigint>>>",
    )
    assign = F.array_min(
        F.transform(
            F.col("__cents"),
            lambda ct: F.struct(
                _int_l2_score_col(
                    F.col("__xe"), ct["ce"], ct["nn"]
                ).alias("s"),
                ct["cid"].alias("cid"),
            ),
        )
    )["cid"]
    c = (
        corpus.select(
            F.col(corpus_id).alias("item_id"),
            F.col(corpus_vec).alias("__cv"),
            _quantize_e4_expr(F.col(corpus_vec)).alias("__xe"),
        )
        .crossJoin(F.broadcast(cents_df))
        .select("item_id", "__cv", assign.alias("cell"))
    )

    q_rows = queries.collect()  # bounded: queries ≪ corpus
    probe_pairs = []
    for r in q_rows:
        qe = _quantize_e4_py(r[query_vec])
        qs = [
            n2[j] - 2 * sum(a * b for a, b in zip(qe, cents[j]))
            for j in range(n_cells)
        ]
        for j in sorted(range(n_cells), key=lambda j: (qs[j], j))[:n_probe]:
            probe_pairs.append((r[query_id], j))
    probe = spark.createDataFrame(
        probe_pairs, f"query_id {_id_sql_type(q_rows, query_id)}, cell int"
    )
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qv")
    )
    cand = c.join(F.broadcast(probe), "cell").join(
        F.broadcast(q), "query_id"
    )
    scored = cand.select(
        "query_id",
        "item_id",
        cosine_similarity(F.col("__cv"), F.col("__qv")).alias("cosine"),
    )
    return _topk_per_query(scored, k)


def _id_sql_type(rows, field: str) -> str:
    """SQL type for a collected id field (bigint ids everywhere in the
    testdata; string fallback keeps the helper generic)."""
    return "bigint" if rows and isinstance(rows[0][field], int) else "string"


def _det_empty_result(
    corpus, queries, k, corpus_id, corpus_vec, query_id, query_vec
):
    """Empty-corpus degenerate for the det ANN twins: the same
    (query_id, item_id, cosine, rank) schema with zero rows, instead
    of an IndexError in the driver-side probe loops (review finding —
    the non-det variants degrade gracefully here)."""
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qv")
    )
    empty = corpus.select(
        F.col(corpus_id).alias("item_id"), F.col(corpus_vec).alias("__cv")
    ).limit(0)
    scored = empty.join(F.broadcast(q)).select(
        "query_id",
        "item_id",
        cosine_similarity(F.col("__cv"), F.col("__qv")).alias("cosine"),
    )
    return _topk_per_query(scored, k)


def _srp_int_planes(
    bands: int, bits: int, dim: int, scale: int = 10000
) -> list[list[list[int]]]:
    """Integer SRP hyperplanes both engines derive identically: the
    coefficient for (band b, bit i, dim d) is the portable md5-prefix
    hash of ``'srp:b:i:d'`` mapped uniformly into [-scale, scale] —
    ``h % (2·scale+1) − scale`` on a non-negative 60-bit h, the same
    arithmetic in Python, Spark SQL, and DuckDB. No RNG state, no
    float: sign decisions downstream are exact integer comparisons."""
    import hashlib

    return [
        [
            [
                int(
                    hashlib.md5(f"srp:{b}:{i}:{d}".encode()).hexdigest()[
                        :15
                    ],
                    16,
                )
                % (2 * scale + 1)
                - scale
                for d in range(dim)
            ]
            for i in range(bits)
        ]
        for b in range(bands)
    ]


def lsh_topk_det(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    bands: int = 8,
    bits: int = 6,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """SRP-LSH top-k with a FULLY DETERMINISTIC, engine-replayable
    plan — the hash-oracle-checkable twin of :func:`lsh_topk`,
    completing the det-ANN trio (IVF/PQ/LSH).

    Hyperplanes come from :func:`_srp_int_planes` (portable md5-prefix
    integers — no RNG, no float); signatures are sign bits of pure
    int64 dot products over e4-quantized vectors (``dot > 0`` with
    exact-zero ties to 0 — identical in every engine); candidates
    share a (band, bucket) with the query; survivors get the exact
    double-cosine re-rank. Buckets, candidate sets, ranks and values
    all replay in chained SQL CTEs.

    Scale shape: the plane model rides ONE broadcast row; the
    signature build is ROW-LOCAL codegen — zero exchanges, no fan-out
    (round-15 rewrite; at 100 TB the signatures become a materialized,
    bucket-partitioned index, exactly like :func:`lsh_topk`'s); only
    bucket-mates are ever re-scored.
    """
    planes = _srp_int_planes(bands, bits, dim)
    spark = corpus.sparkSession
    # the plane model rides ONE broadcast row as a nested array (bit
    # masks precomputed driver-side so no column-amount shiftleft is
    # needed), and the whole signature — all bands·bits sign decisions
    # — is ROW-LOCAL codegen (round-15 optimization, guide §2.4): the
    # previous shape fanned every corpus row ×(bands·bits) through a
    # crossJoin and shuffled the fan back through a groupBy(item_id,
    # band). Identical int64 arithmetic (fold sums are exact and
    # associative), ZERO exchanges in the signature build.
    planes_df = spark.createDataFrame(
        [([
            {
                "band": b,
                "bits": [
                    {"mask": 1 << i, "w": planes[b][i]}
                    for i in range(bits)
                ],
            }
            for b in range(bands)
        ],)],
        "__planes array<struct<band int, "
        "bits array<struct<mask bigint, w array<bigint>>>>>",
    )
    xe = _quantize_e4_expr(F.col(corpus_vec))
    # loud dim guard (review finding): zip_with null-pads a length
    # mismatch, which would silently zero every bucket on the corpus
    # side while the Python query side truncates — an empty result
    # with no error. raise_error turns the mismatch into a failure.
    guard = F.when(
        F.size(F.col("__xe")) == F.lit(dim), F.lit(0).cast("long")
    ).otherwise(
        F.raise_error(
            F.lit(
                "lsh_topk_det: corpus vector length != dim "
                f"argument ({dim})"
            )
        ).cast("long")
    )

    def _dot(w_col):
        return F.aggregate(
            F.zip_with(F.col("__xe"), w_col, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    sig = (
        corpus.select(F.col(corpus_id).alias("item_id"), xe.alias("__xe"))
        .crossJoin(F.broadcast(planes_df))
        .select(
            "item_id",
            F.explode(
                F.transform(
                    F.col("__planes"),
                    lambda bp: F.struct(
                        bp["band"].alias("band"),
                        (
                            guard
                            + F.aggregate(
                                bp["bits"],
                                F.lit(0).cast("long"),
                                lambda acc, bw: acc
                                + F.when(_dot(bw["w"]) > 0, bw["mask"])
                                .otherwise(F.lit(0).cast("long")),
                            )
                        ).alias("bucket"),
                    ),
                )
            ).alias("__s"),
        )
        .select(
            "item_id",
            F.col("__s.band").alias("band"),
            F.col("__s.bucket").alias("bucket"),
        )
    )

    q_rows = queries.collect()  # bounded: queries ≪ corpus
    qb_pairs = []
    for r in q_rows:
        qe = _quantize_e4_py(r[query_vec])
        if len(qe) != dim:
            raise ValueError(
                f"lsh_topk_det: query vector length {len(qe)} != dim "
                f"argument ({dim})"
            )
        for b in range(bands):
            bucket = 0
            for i in range(bits):
                if sum(a * w for a, w in zip(qe, planes[b][i])) > 0:
                    bucket |= 1 << i
            qb_pairs.append((r[query_id], b, bucket))
    qb_df = spark.createDataFrame(
        qb_pairs,
        f"query_id {_id_sql_type(q_rows, query_id)}, band int, "
        "bucket bigint",
    )
    cand = (
        sig.join(F.broadcast(qb_df), ["band", "bucket"])
        .select("query_id", "item_id")
        .distinct()
    )
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qv")
    )
    vecs = corpus.select(
        F.col(corpus_id).alias("item_id"), F.col(corpus_vec).alias("__cv")
    )
    rescored = (
        cand.join(vecs, "item_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "item_id",
            cosine_similarity(F.col("__cv"), F.col("__qv")).alias("cosine"),
        )
    )
    return _topk_per_query(rescored, k)


def pq_topk_det(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    oversample: int = 5,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Product-quantization top-k with a FULLY DETERMINISTIC,
    engine-replayable plan — the hash-oracle-checkable twin of
    :func:`pq_topk`.

    Codebooks are the ``ksub`` seeded-sample vectors (md5-prefix hash
    order) split into ``m`` subspaces — init-only (no float Lloyd
    refinement: every later step must stay integer). Corpus subvectors
    assign to codewords by integer squared-L2 argmin (ties → lowest
    code); ADC scores are integer LUT sums of the e4-quantized query
    against assigned codewords; the ``k·oversample`` ADC leaders (ties
    → lowest item id) get the exact double-cosine re-rank. Candidate
    sets, ranks, and values replay exactly in chained SQL CTEs.

    Scale shape matches :func:`pq_topk`: codes are one scan (at 100 TB
    the persistent 32×-smaller index relation); ADC is a zip_with fold
    against the per-query LUT riding a broadcast (m·ksub ints per
    query — model-sized); only k·oversample rows ever touch full
    vectors again.

    API contract: ``corpus_id`` values are UNIQUE (see
    :func:`ivf_topk_det` — since the round-15 row-local rewrite,
    duplicate ids score independently instead of collapsing; no
    behavior is promised for contract-violating input).
    """
    rows = _seeded_sample_rows(corpus, ksub, corpus_id, corpus_vec)
    seeds = [_quantize_e4_py(r.v) for r in rows]
    if not seeds:  # empty corpus: empty result, correct schema
        return _det_empty_result(
            corpus, queries, k, corpus_id, corpus_vec, query_id, query_vec
        )
    # corpora smaller than ksub yield fewer codewords — clamp so code
    # assignment and the LUT index only real entries (review finding;
    # the SQL twin clamps identically via its row_number() <= ksub)
    ksub = len(seeds)
    dim = len(seeds[0])
    dsub = dim // m
    cb = [
        [seeds[t][j * dsub : (j + 1) * dsub] for t in range(ksub)]
        for j in range(m)
    ]  # (m, ksub, dsub) ints
    n2 = [[sum(c * c for c in cb[j][t]) for t in range(ksub)] for j in range(m)]

    # code assignment is ROW-LOCAL (round-15 optimization, guide §2.4
    # "remove shuffles outright"): the codebook rides ONE broadcast
    # row as a nested (j → t → codeword) array, and the per-subspace
    # integer-L2 argmin is array_min over a transform — struct
    # ordering gives the oracle's ORDER BY score, t tie-break. The
    # previous shape posexploded every corpus row ×m, fanned ×ksub
    # through a broadcast join, and rebuilt the code array through TWO
    # shuffled aggregations (groupBy(item_id, j) then groupBy(item_id)
    # with array_sort(collect_list)). Identical int64 arithmetic, zero
    # exchanges, and the code array is born in subspace order from
    # transform(sequence(0, m-1)). (Still a broadcast relation, not
    # literals — the giant-literal-tree trap stays avoided.)
    spark = corpus.sparkSession
    cb_df = spark.createDataFrame(
        [([
            [
                {"t": t, "nn": n2[j][t], "cw": cb[j][t]}
                for t in range(ksub)
            ]
            for j in range(m)
        ],)],
        "__cb array<array<struct<t int, nn bigint, cw array<bigint>>>>",
    )
    xe = _quantize_e4_expr(F.col(corpus_vec))
    code_arr = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.array_min(
            F.transform(
                F.element_at(F.col("__cb"), j + 1),
                lambda cwd: F.struct(
                    _int_l2_score_col(
                        F.slice(
                            F.col("__xe"), j * dsub + 1, F.lit(dsub)
                        ),
                        cwd["cw"],
                        cwd["nn"],
                    ).alias("s"),
                    cwd["t"].alias("t"),
                ),
            )
        )["t"],
    )
    # no checkpoint: the codes relation has exactly ONE consumer path
    # (adc_scored → cand, whose broadcast build executes this subtree
    # once; the re-rank probes full vectors through `vecs`, not codes)
    # — the previous shape checkpointed because its two shuffled
    # aggregations were expensive to risk recomputing; row-local
    # assignment has nothing worth caching, and dropping the
    # materialization job removes a whole scheduling round
    codes = (
        corpus.select(
            F.col(corpus_id).alias("item_id"), xe.alias("__xe")
        )
        .crossJoin(F.broadcast(cb_df))
        .select("item_id", code_arr.alias("__code"))
    )

    q_rows = queries.collect()  # bounded: queries ≪ corpus
    lut_rows = []
    for r in q_rows:
        qe = _quantize_e4_py(r[query_vec])
        lut = [
            [
                sum(
                    a * b
                    for a, b in zip(qe[j * dsub : (j + 1) * dsub], cb[j][t])
                )
                for t in range(ksub)
            ]
            for j in range(m)
        ]
        lut_rows.append((r[query_id], lut))
    lut_df = spark.createDataFrame(
        lut_rows,
        f"query_id {_id_sql_type(q_rows, query_id)}, "
        "__lut array<array<bigint>>",
    )
    adc_scored = codes.join(F.broadcast(lut_df)).select(
        "query_id",
        "item_id",
        F.aggregate(
            F.zip_with(
                F.col("__code"),
                F.col("__lut"),
                lambda cj, lj: F.element_at(lj, cj + 1),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("cosine"),  # integer ADC rank score (column named for
        # _topk_per_query's (cosine DESC, item_id) ordering)
    )
    cand = _topk_per_query(adc_scored, k * oversample).select(
        "query_id", "item_id"
    )
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qv")
    )
    vecs = corpus.select(
        F.col(corpus_id).alias("item_id"), F.col(corpus_vec).alias("__cv")
    )
    # the ADC leaders are bounded (k·oversample·|queries| rows), so
    # THEY broadcast and the full-vector relation is only probed for
    # those keys — the codes index never carries vectors
    rescored = (
        F.broadcast(cand)
        .join(vecs, "item_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "item_id",
            cosine_similarity(F.col("__cv"), F.col("__qv")).alias("cosine"),
        )
    )
    return _topk_per_query(rescored, k)


def _kmeans_assign_expr(vec_col: str, cents: list[list[float]]):
    """Nearest-centroid id as a row-local codegen expression.

    Squared-L2 to each centroid literal, first-min tiebreak on centroid
    id (``array_position`` returns the FIRST minimum) — no join, no
    shuffle; the centroid list is bounded closure metadata.
    """
    dists = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    F.array(*[F.lit(x) for x in c]),
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for c in cents
        ]
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def _nearest_centroid(
    vecs: DataFrame,
    cents: DataFrame,
    id_col: str,
    vec_col: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Nearest-centroid assignment against a centroid **DataFrame**.

    The scale-safe twin of ``_kmeans_assign_expr``: instead of inlining
    k × dim literal floats into one codegen expression (which stops
    compiling somewhere around k·dim ≈ 10⁵ and puts the full model in
    every task closure), the centroids stay a ``(cid, centroid)``
    relation that is broadcast once per executor — the MLlib-standard
    model-distribution mechanism. Plan size and driver state are
    independent of both n and k.

    Cost shape (round-15 optimization, guide §2.4 "remove shuffles
    outright" / §2.3 "never shuffle payloads"): the model is folded
    into ONE broadcast row holding a ``array<struct<cid,c>>`` nested
    array (same bytes as broadcasting the k-row relation; still a
    broadcast relation, never a literal expression tree), and the
    assignment is a row-local struct-argmin —
    ``array_min(transform(model, struct(d2, cid)))`` — inside the
    single BroadcastNestedLoopJoin stage. The previous shape fanned
    every corpus row ×k through the crossJoin and re-assembled it with
    a ``groupBy(id)`` whose exchange carried the full float vector for
    every carried column: one corpus-wide shuffle of vector payloads
    per call, per iteration. Per-row distance compute is unchanged
    (O(k·dim) either way); the exchange and both aggregate passes are
    gone, and carried columns ride the row untouched.

    Arithmetic parity: d2 folds ``(x - y)²`` over dims in array order
    via ``zip_with``/``aggregate`` — the exact op sequence of
    ``_kmeans_assign_expr`` and of the DuckDB oracle's
    ``SUM((e.x - c.m)²) GROUP BY vec_id, cid``, so assignments are
    bit-identical to the literal-expression path. ``array_min`` on
    ``(d2, cid)`` structs is the same lexicographic comparison as the
    former ``min(struct(d2, cid))`` aggregate: smallest d2, then
    smallest cid — tie-break preserved.
    """
    from .dedup import _spread

    # Width-restore the vector side first: the former groupBy's exchange
    # incidentally spread a narrow (single-file) scan across the
    # cluster; with the shuffle gone, the per-row distance compute —
    # now the whole stage — would inherit the scan's 1-2 partitions.
    # No-op on inputs already >= defaultParallelism (the 100 TB case).
    vecs = _spread(vecs, id_col)
    model = cents.agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("__cid").alias("cid"), F.col("__c").alias("c"))
            )
        ).alias("__model")
    )
    best = F.array_min(
        F.transform(
            F.col("__model"),
            lambda m: F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col(vec_col),
                        m["c"],
                        lambda x, y: (x.cast("double") - y)
                        * (x.cast("double") - y),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d2"),
                m["cid"].alias("cid"),
            ),
        )
    )
    return (
        vecs.crossJoin(F.broadcast(model))
        .select(id_col, best["cid"].alias("cluster_id"), *carry)
    )


def kmeans_fit_df(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
) -> DataFrame:
    """Train Lloyd's k-means keeping the model as a DataFrame.

    Same algorithm and bit-identical arithmetic as ``kmeans_fit``
    (deterministic lowest-id init, per-dimension mean update, empty
    clusters keep their previous centroid) but the centroids never
    visit the driver: init is ``orderBy(id).limit(k)`` + a k-row
    ``row_number``, assignment goes through ``_nearest_centroid``, and
    the mean update is a ``posexplode → groupBy(cid, dim) → avg``
    aggregation whose output is the k-row model relation itself.
    Returns ``(cid int, __c array<double>)``.

    Scale shape: driver state is O(1); per-iteration cost is one corpus
    scan for assignment (map-side min, n rows shuffled) plus one
    k·dim-row partial-agg shuffle for the update. Each iteration
    ``localCheckpoint``s the k-row model so lineage stays flat and the
    corpus-wide subtree is never re-evaluated by downstream consumers.
    Use this for derived-k consumers (semantic_dedup); ``kmeans_fit``
    remains for small fixed-k callers (IVF, embedding_kmeans) where a
    literal assignment expression is cheaper than a join.
    """
    vecs = df.select(F.col(id_col).alias("__kid"), F.col(vec_col).alias("__kv"))
    w = Window.orderBy("__kid")
    cents = (
        vecs.orderBy("__kid")
        .limit(k)
        .select(
            (F.row_number().over(w) - 1).cast("int").alias("__cid"),
            F.col("__kv").cast("array<double>").alias("__c"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(iters - 1):
        assigned = _nearest_centroid(vecs, cents, "__kid", "__kv", carry=("__kv",))
        means = (
            assigned.select("cluster_id", F.posexplode("__kv").alias("dim", "x"))
            .groupBy("cluster_id", "dim")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .groupBy("cluster_id")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s["m"],
                ).alias("__cnew")
            )
        )
        cents = (
            cents.join(means, cents["__cid"] == means["cluster_id"], "left")
            .select("__cid", F.coalesce("__cnew", "__c").alias("__c"))
            .localCheckpoint(eager=True)
        )
    return cents


def kmeans_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
) -> list[list[float]]:
    """Train Lloyd's k-means and return the centroid list (k × dim).

    Same training loop as ``kmeans_clusters`` (deterministic lowest-id
    init, mean update, empty clusters keep their previous centroid) —
    exposed separately so FIXED-k consumers (embedding_kmeans, IVF) can
    embed the assignment as a row-local expression instead of joining
    against an assignment table. This path collects the k-row model to
    the driver each iteration and inlines k × dim literals into the
    assignment expression, so it is gated to small fixed k; derived-k
    consumers (semantic_dedup) must use ``kmeans_fit_df``, whose model
    never leaves the cluster.
    """
    if k > 256:
        raise ValueError(
            "kmeans_fit collects the k-row model to the driver and inlines "
            f"k*dim literals into codegen; k={k} exceeds the fixed-k bound "
            "(256) - use kmeans_fit_df, whose model stays distributed"
        )
    centroids = [
        [float(x) for x in r.v]
        for r in df.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy("i")
        .limit(k)
        .collect()
    ]
    for _ in range(iters - 1):
        assigned = df.select(
            F.col(vec_col).alias("v"),
            _kmeans_assign_expr(vec_col, centroids).alias("cid"),
        )
        mean_rows = (
            assigned.select("cid", F.posexplode("v").alias("dim", "x"))
            .groupBy("cid", "dim")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s["m"],
                ).alias("c")
            )
            .collect()
        )
        updated = {int(r.cid): [float(x) for x in r.c] for r in mean_rows}
        centroids = [updated.get(i, centroids[i]) for i in range(k)]
    return centroids


def kmeans_clusters(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
) -> DataFrame:
    """Lloyd's k-means over an embedding column, deterministic init.

    Init centroids are the ``k`` vectors with the smallest ids (no RNG
    state — reproducible across engines); each iteration assigns every
    vector to its nearest centroid (squared-L2, first-min tiebreak on
    centroid id) and recomputes centroids as the per-dimension member
    mean, keeping the previous centroid when a cluster empties. Returns
    ``(id, cluster_id)`` after ``iters`` iterations — the semantic-
    clustering step LLM pipelines run for corpus mixing / diversity
    sampling (cluster-then-sample) and as the trainer for the IVF coarse
    quantizer.

    Scale shape: centroids are bounded model metadata (k × dim doubles,
    a few KB) — they ride the closure as literals, so assignment is one
    codegen scan with NO join or shuffle; the update is one
    posexplode → groupBy(cid, dim) partial-agg shuffle of k·dim output
    rows. Per-iteration cost is exactly two scans of the corpus; the
    driver never holds more than k·dim floats.
    """
    centroids = kmeans_fit(df, id_col, vec_col, k=k, iters=iters)
    return df.select(
        F.col(id_col),
        _kmeans_assign_expr(vec_col, centroids).alias("cluster_id"),
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | None = None,
    iters: int = 2,
    threshold: float = 0.4,
    target_cluster_size: int = 10_000,
    max_cluster_size: int = 20_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column.

    Cluster-then-compare (Abbas et al. 2023, "SemDeDup"): k-means
    partitions the corpus into semantic neighborhoods, then pairwise
    cosine runs ONLY within a cluster. A vector is a duplicate iff some
    lower-id vector in the same cluster exceeds ``threshold`` — a
    well-defined set (not greedy-order-dependent), so any engine agrees
    on it. Returns ``(id, cluster_id, is_dup)`` with ``is_dup`` as
    0/1 int.

    Scale shape: the all-pairs comparison never happens globally — the
    self-join key is ``cluster_id``, so candidate pairs are
    Σ |cluster|² instead of n², and TWO mechanisms keep that sum linear
    in n rather than quadratic:

    1. **k grows with the corpus.** When ``k`` is None (the default) it
       is derived as ``max(8, ceil(n / target_cluster_size))`` from one
       cheap count (parquet-footer count, no shuffle) — fixed k would
       make Σ |cluster|² ≈ n²/k quadratic at 100 TB; derived k keeps the
       *expected* cluster size, hence the pair fan-out per cluster,
       constant as the corpus grows.
    2. **Oversize clusters are excluded from the pair join** (the same
       degenerate-bucket guard the LSH path applies, dedup.py) — k-means
       can still produce a pathological mega-cluster on degenerate
       embeddings, and one cluster of size m costs m² pairs regardless
       of k. Clusters above ``max_cluster_size`` members skip the pair
       compare entirely (their members report ``is_dup=0``), bounding
       candidate pairs at ``n · max_cluster_size`` worst-case. The
       eligible-cluster list is O(k) ints; its semi-join is unhinted —
       AQE broadcasts it when small, degrades to shuffle as k grows.

    Because k is corpus-derived, the model must never ride the plan or
    the driver: the kmeans step uses ``kmeans_fit_df`` (centroids stay a
    k-row DataFrame — zero collects, O(1) driver state) and assignment
    is ``_nearest_centroid`` (broadcast model relation + map-side
    ``min(struct(d2, cid))`` — plan size independent of n and k, exactly
    one row per vector shuffled). Both are bit-identical in arithmetic
    to the fixed-k literal-expression path, so the DuckDB oracle is
    unchanged. The pair join goes through ``salted_skew_join`` — a plain cluster_id
    equi-join has only k distinct keys, capping parallelism at k tasks;
    salting spreads each cluster over ``buckets`` tasks. Cosine folds in
    codegen on doubles — summation order matches the DuckDB oracle
    bit-for-bit, so the threshold compare cannot flip.
    """
    from .skew import salted_skew_join

    if k is None:
        n = df.count()
        k = max(8, -(-n // target_cluster_size))
    # Model stays a DataFrame end-to-end: no per-iteration driver
    # collect, no k×dim literal assignment expression — plan size and
    # driver state are independent of n AND k (round-7 verdict item #1).
    cents = kmeans_fit_df(df, id_col, vec_col, k=k, iters=iters)
    vecs = df.select(F.col(id_col).alias("__kid"), F.col(vec_col).alias("__kv"))
    assigned = _nearest_centroid(vecs, cents, "__kid", "__kv", carry=("__kv",))
    vd = F.col("__kv").cast("array<double>")
    # per-vector norm computed ONCE per row on the map side — the
    # per-pair cosine then needs only the dot product. cos stays
    # dot / (na * nb), the exact op sequence of cosine_similarity /
    # the oracle's sqrt(list_dot_product(...)) — bit-identical.
    norm = F.sqrt(F.aggregate(vd, F.lit(0.0), lambda acc, v: acc + v * v))
    # Materialize once: sides feeds FOUR consumers (cluster census, both
    # pair-join sides, final assignment) and the assignment join is the
    # expensive part of a scan — without this each consumer re-runs the
    # k-distance pass per row. At cluster scale this is persist();
    # in-process localCheckpoint carries the same contract.
    sides = assigned.select(
        F.col("__kid").alias(id_col),
        vd.alias("__v"),
        norm.alias("__norm"),
        "cluster_id",
    ).localCheckpoint(eager=True)
    # Degenerate-cluster guard: one mega-cluster of size m costs m²
    # candidate pairs no matter how k was chosen. Members of clusters
    # above max_cluster_size skip the pair compare (is_dup=0), exactly
    # like the LSH path's oversize-bucket drop. The eligible list is
    # ≤ k rows of one int — unhinted: AQE broadcasts when small.
    eligible = (
        sides.groupBy("cluster_id")
        .agg(F.count("*").alias("__csz"))
        .filter(F.col("__csz") <= max_cluster_size)
        .select("cluster_id")
    )
    comparable = sides.join(eligible, "cluster_id", "left_semi")
    left = comparable.select(
        F.col(id_col).alias("a_id"),
        F.col("__v").alias("a_vec"),
        F.col("__norm").alias("a_norm"),
        "cluster_id",
    )
    right = comparable.select(
        F.col(id_col).alias("b_id"),
        F.col("__v").alias("b_vec"),
        F.col("__norm").alias("b_norm"),
        "cluster_id",
    )
    dot = F.aggregate(
        F.zip_with(F.col("a_vec"), F.col("b_vec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    dups = (
        salted_skew_join(right, left, ["cluster_id"], buckets=8)
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(dot / (F.col("a_norm") * F.col("b_norm")) > F.lit(threshold))
        .select(F.col("b_id").alias(id_col))
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    assigned = sides.select(F.col(id_col), "cluster_id")
    return assigned.join(dups, id_col, "left").select(
        F.col(id_col),
        F.col("cluster_id"),
        F.coalesce(F.col("__dup"), F.lit(0)).cast("int").alias("is_dup"),
    )
