"""Similarity search over embedding columns (SURVEY.md §2.3 J8, §2.10 F6).

The reference builds a dense N×N numpy cosine matrix and argsorts per row
(`scripts/analysis/analyze_peer_effects.py:55-97`) — O(N²) memory on one
machine. Here:

- ``knn_topk_exact``: distributed exact top-k — block cross-join + dot
  product + per-query row_number window. Quadratic *work* but linear
  *memory per task*; correct baseline, used for oracle parity.
- ``knn_topk_lsh``: the scale path — random-hyperplane LSH bucketing so
  candidate pairs come from an equi-join on bucket signature instead of a
  cross-join. Approximate; never hash-compared against the oracle
  (SURVEY.md §7.3 trap 7).
- ``ann_ivf``: IVF-style — KMeans coarse quantizer, probe nearest
  centroids, search only those inverted lists.
- ``group_centroids``: per-group mean embedding
  (`analyze_embeddings.py:166`) via posexplode + avg — no UDF.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves stringified hints
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import cosine_similarity, dot_product


def knn_topk_exact(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    queries: DataFrame | None = None,
    assume_normalized: bool = False,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (J8).

    ``queries`` defaults to the corpus itself (self-join, excluding self).
    At cluster scale the corpus side is re-partitioned and queries
    broadcast in blocks; on the small-N correctness path a single
    cross-join is the right plan (Catalyst broadcasts the smaller side).

    Returns (query_id, neighbor_id, sim, rank) — rank 1..k, ties broken by
    neighbor id for determinism.
    """
    from ..functions.vector import l2_norm

    # Norms are precomputed once per side (N+M sqrt-reductions) instead of
    # per pair (N*M) — same float expression, so oracle-identical results.
    corpus = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec")
    )
    q = (queries if queries is not None else embeddings).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    if assume_normalized:
        sim = dot_product("_qvec", "_cvec")
        pairs = q.crossJoin(corpus).filter(
            F.col("query_id") != F.col("neighbor_id")
        )
    else:
        # Cosine is undefined against (or from) a zero-norm vector; drop
        # those rows BEFORE the cross-join, so the division can't
        # ANSI-abort and a top-k slot is never padded with an
        # undefined-similarity row (a zero-norm query would otherwise
        # "rank" k neighbors purely by id — ADVICE r13). Filtering each
        # SIDE on its precomputed norm (a NULL norm from a null
        # embedding also fails the predicate) both shrinks the join
        # itself and keeps codegen from evaluating the dim-length
        # dot-product fold twice per pair — the IsNotNull(sim) form of
        # this guard cost the r14 bench +0.3-0.5 s on this query.
        corpus = corpus.withColumn("_cnorm", l2_norm("_cvec")).filter(
            F.col("_cnorm") != 0
        )
        q = q.withColumn("_qnorm", l2_norm("_qvec")).filter(
            F.col("_qnorm") != 0
        )
        pairs = q.crossJoin(corpus).filter(
            F.col("query_id") != F.col("neighbor_id")
        )
        sim = dot_product("_qvec", "_cvec") / (
            F.col("_qnorm") * F.col("_cnorm")
        )
    pairs = pairs.select("query_id", "neighbor_id", sim.alias("sim"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _lsh_signature(vec_col: str, hyperplanes: list[list[float]]) -> F.Column:
    """Random-hyperplane (SimHash-family) signature: one bit per plane,
    bit = sign(v · h). Computed with built-in higher-order functions."""
    bits = []
    for h in hyperplanes:
        plane = F.array(*[F.lit(float(x)) for x in h])
        d = F.aggregate(
            F.zip_with(F.col(vec_col), plane, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(d >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _lsh_sig_table(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int,
    n_tables: int,
    dim: int,
    seed: int,
) -> DataFrame:
    """All-tables LSH signatures in ONE Arrow-batched pass: a single
    numpy matmul per batch ((batch × dim) @ (dim × tables·planes)) with
    sign bits packed into a long per table, versus n_tables × n_planes
    separate ``aggregate(zip_with(...))`` expressions per row. Index
    build drops from the dominant cost of the 100×-scale probe (~12 s at
    20k×21 tables expression-side) to a vectorized pass; the long join
    key also beats the old bit-string key in the candidate shuffle.

    The plane matrix is drawn from the same seeded RNG stream in the
    same order as sequential per-table draws, so buckets — and therefore
    results — are equivalent to the expression path in practice (a dot
    product sitting exactly at a float boundary could in principle flip
    a sign bit between BLAS and sequential-fold summation; with
    continuous random planes the event has measure zero and has never
    been observed in the recall/parity suites).

    NULL embeddings are filtered out before the UDF (``np.vstack``
    would raise on ``None``); the expression path yielded a NULL
    signature that produced no candidates — same net effect.

    Returns (id, table, sig:long) — ids only: the bucket join is the
    widest shuffle in the LSH pipeline, and vectors re-attach later by
    id equi-join, so carrying them here would be pure shuffle weight.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    rng = np.random.default_rng(seed)
    # one draw == concatenation of the per-table (n_planes, dim) draws
    W = rng.standard_normal((n_tables * n_planes, dim)).T
    pw = 1 << np.arange(n_planes, dtype=np.int64)

    @pandas_udf("array<long>")
    def table_sigs(v: pd.Series) -> pd.Series:
        M = np.vstack(v.to_numpy()).astype(np.float64)
        bits = (M @ W) >= 0.0
        packed = (
            bits.reshape(len(M), n_tables, n_planes) * pw
        ).sum(axis=2)
        return pd.Series(list(packed))

    # posexplode_outer, deliberately: plain posexplode plants a
    # size(_sigs)>0 pre-filter that references the UDF column separately
    # from the Generate input, and ExtractPythonUDFs then evaluates the
    # UDF TWICE per row (two stacked ArrowEvalPython nodes — observed in
    # the r5 plan audit). The UDF always returns n_tables entries, so
    # outer semantics are identical here.
    return df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        table_sigs(F.col(vec_col)).alias("_sigs"),
    ).select(
        "id", F.posexplode_outer("_sigs").alias("table", "sig")
    )


def knn_topk_lsh(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    seed: int = 42,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH (the 100 TB path).

    ``n_tables`` independent signatures; candidate pairs are rows sharing a
    signature in any table (equi-join on (table, sig) — a shuffle join on a
    short string key, NOT a cross-join). Exact cosine is then computed only
    on candidates, and top-k taken per query. Recall grows with n_tables,
    cost with bucket collision rate.

    Tune ``n_planes`` ≈ log2(N / target_bucket_size): each extra plane
    halves the expected bucket, raising selectivity and dropping recall.
    The defaults target corpus slices of 10^2-10^4 vectors (measured
    recall ~0.63 vs exact top-10 on the testdata); 12 planes on a
    300-vector slice leaves ~2^-12 collision odds and near-zero recall.

    ``queries`` restricts the probe side: the corpus is signed once and
    only the query batch joins against it — per-query cost is then flat
    in corpus size (bucket size is held constant by the n_planes rule),
    which is the serving shape at 100 TB. Default: self-join (every
    corpus vector is a query).

    Query ids must share the corpus id space: the ``a.id != b.id``
    self-exclusion applies in both modes, so an external query whose id
    happens to collide with a corpus vector's id will not see that
    vector as a neighbor. Re-key external query batches (e.g. negative
    ids) if exact-id collisions are possible.

    Deterministic given ``seed`` (numpy RNG for hyperplanes).

    This is the single-shot composition of ``ann_index.build_lsh_index``
    + ``ann_index.lsh_probe`` — fine for batch pipelines. Repeated probe
    batches against one corpus version should build (and usually
    ``write_index``) ONCE and call ``lsh_probe`` per batch instead,
    or the corpus is re-signed on every call.
    """
    from .ann_index import build_lsh_index, lsh_probe

    index = build_lsh_index(
        embeddings, id_col, vec_col, n_planes, n_tables, dim, seed
    )
    return lsh_probe(index, queries=queries, k=k, id_col=id_col, vec_col=vec_col)


def ann_ivf(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 3,
    seed: int = 42,
    queries: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: KMeans coarse quantizer → assign each vector to its
    list; each query probes its ``n_probe`` nearest centroids and searches
    only those lists (equi-join on list id). The centroid table is tiny and
    broadcast. Approximate — recall controlled by n_probe.

    ``queries`` restricts the probe side (the quantizer still trains on
    the full corpus): the serving shape — per-query cost ∝ n_probe ×
    list size, independent of how many queries the corpus itself would
    pose. Default: every corpus vector is a query. As with
    ``knn_topk_lsh``, query ids must share the corpus id space — the
    ``query_id != neighbor_id`` exclusion applies in both modes.

    Single-shot composition of ``ann_index.build_ivf_index`` +
    ``ann_index.ivf_probe``. The KMeans fit dominates — repeated probe
    batches must build (and usually ``write_index``) once and call
    ``ivf_probe`` per batch, or every call re-trains the quantizer."""
    from .ann_index import build_ivf_index, ivf_probe

    index = build_ivf_index(embeddings, id_col, vec_col, n_lists, seed)
    return ivf_probe(
        index, queries=queries, k=k, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col,
    )


def group_centroids(
    embeddings: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group mean embedding (`analyze_embeddings.py:166`), long form:
    (group, dim_index, mean_val). posexplode + avg — a plain shuffle
    aggregate, no UDF, no collect."""
    return (
        embeddings.select(group_col, F.posexplode(vec_col).alias("dim", "val"))
        .groupBy(group_col, "dim")
        .agg(F.avg(F.col("val").cast("double")).alias("mean_val"))
        
    )


def kmeans_clusters(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 20,
    seed: int = 42,
) -> DataFrame:
    """F6: KMeans cluster assignment (`prepare_visual_market_data.py:
    297-304`, k=20 seed=42). spark.ml KMeans ≠ sklearn n_init=10 semantics
    (documented deviation); deterministic given seed."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    ml_df = embeddings.withColumn(
        "features", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    model = KMeans(k=k, seed=seed).fit(ml_df)
    return model.transform(ml_df).select(
        id_col, F.col("prediction").alias("cluster_id")
    )


def quantize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector int8 scalar quantization: 4× memory reduction for ANN
    candidate storage (the difference between an in-memory and a spilled
    similarity index at corpus scale). Stores scale/offset per vector for
    dequantization; pure higher-order functions, no UDF.

    q_i = round((x_i - min) / scale * 255) - 128  with scale = max - min.

    All arithmetic is in float64 even for float32 input vectors: min/max/
    scale computed in float32 can differ by one float-ulp from the same
    math in float64 (a-b needs more mantissa bits than either operand),
    which would make the quantization engine-dependent — the SQL oracle
    recomputes it in doubles and must land on identical integers.
    """
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    vmin = F.array_min(vec)
    vmax = F.array_max(vec)
    scale = F.when(vmax > vmin, vmax - vmin).otherwise(F.lit(1.0))
    quant = F.transform(
        vec,
        lambda x: (F.round((x - vmin) / scale * 255) - 128).cast("tinyint"),
    )
    return embeddings.select(
        F.col(id_col),
        quant.alias("q_embedding"),
        vmin.cast("double").alias("q_offset"),
        scale.cast("double").alias("q_scale"),
    )


def dequantize_embeddings(
    quantized: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Inverse of quantize_embeddings (lossy: ≤ scale/255 per element)."""
    deq = F.transform(
        F.col("q_embedding"),
        lambda q: (q.cast("double") + 128) / 255.0 * F.col("q_scale")
        + F.col("q_offset"),
    )
    return quantized.select(F.col(id_col), deq.alias("embedding"))
