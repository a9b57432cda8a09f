"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  The query set is broadcast (it is small by construction); the corpus is
  never shuffled: each partition scores its own rows against every query
  and a partial top-k is taken per partition before the final merge
  (Spark's window+filter under AQE handles this; for the huge-corpus path
  the per-partition pre-aggregation keeps the shuffle at k rows per
  query per partition).
- ``ivf_cosine_topk``: IVF-style pruned search — assign every vector to
  its nearest centroid (deterministic centroid list), then search only
  the query's ``nprobe`` closest centroid buckets. Same join/window shape
  but the candidate set shrinks by ~num_centroids/nprobe.
- ``embedding_near_dup_pairs``: near-duplicate detection at a cosine
  threshold, via the same broadcast pattern.

Dot products are ``F.zip_with`` + ``F.aggregate`` fold — JVM-side
higher-order functions, left-to-right summation in index order, so an
external SQL oracle (DuckDB list_cosine_similarity / list folds) can
reproduce values bit-for-bit in double precision. Similarities are rounded
to 6 decimals at the output boundary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from megalista_spark.zip_imports import install_stamped_zipimporter

_D38 = "decimal(38,0)"


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def cosine_expr(a: Column, b: Column) -> Column:
    """cosine(a, b) with double accumulation in index order."""
    da = F.transform(a, lambda v: v.cast("double"))
    db = F.transform(b, lambda v: v.cast("double"))
    return _dot(da, db) / (_norm(da) * _norm(db))


def unit_expr(a: Column) -> Column:
    """L2-normalized copy of the vector (double). Materialize this ONCE per
    row before a pair join so per-pair cosine collapses to a single dot
    fold — norms must never be recomputed inside the O(n²) stage."""
    d = F.transform(a, lambda v: v.cast("double"))
    n = _norm(d)
    return F.transform(d, lambda x: x / n)


def cosine_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact brute-force top-k cosine neighbors for each query vector.

    ``queries``: (query_id, embedding). Broadcast-joined against the
    corpus; ties broken by neighbor id (deterministic). Self-matches
    (same id) are excluded. Output: (query_id, neighbor_id, cos_sim, rank).
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        unit_expr(F.col(vec_col)).alias("q_vec"),
    )
    c = df.select(
        F.col(id_col).alias("neighbor_id"),
        unit_expr(F.col(vec_col)).alias("c_vec"),
    )
    # spread the n·|q| scoring only when the corpus arrives under-split
    # (a single-row-group local file scans as ONE task); at cluster
    # scale inputs are multi-split and this costs nothing — the
    # unconditional repartition this replaces paid a full corpus
    # exchange (vectors included) even on well-split inputs (r13, §2.4)
    sc = df.sparkSession.sparkContext
    if c.rdd.getNumPartitions() < sc.defaultParallelism:
        c = c.repartition(sc.defaultParallelism)
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dot(F.col("q_vec"), F.col("c_vec")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("bigint").alias("rank"))
    )


def _resolve_ivf_centroids(
    df: DataFrame,
    num_centroids: "int | None",
    centroids: "DataFrame | None",
    kmeans_iters: int,
    id_col: str,
    vec_col: str,
    target_cell_size: "int | None" = None,
) -> DataFrame:
    """Shared centroid-resolution for the IVF family → (centroid_id,
    centroid_vec). Four tiers: explicit ``centroids`` relation >
    ``target_cell_size`` (balanced: k = ⌈n / max(target, √n)⌉ trained
    cells, so EXPECTED cell size stays pinned under corpus growth while
    assignment stays ≤ O(n^1.5)) > deterministic
    lowest-id-``num_centroids`` fallback > (num_centroids is None, the
    EXPLICIT auto opt-in) max(2, ⌊√n⌋) trained cells via a bounded
    deterministic hash sample. The trained tiers run one eager
    ``count()`` plus a sampled k-means fit at call time — opt-in cost,
    never paid on the default path.

    ``target_cell_size`` bounds the EXPECTED size; a trained clustering
    can still skew on adversarial data — consumers with quadratic
    in-cell work (``semdedup_from_index``) keep their own exact hot-cell
    guard for the residual.
    """
    if target_cell_size is not None and num_centroids is not None:
        raise ValueError(
            "pass target_cell_size OR num_centroids, not both — they pin "
            "the geometry in conflicting ways"
        )
    if centroids is not None:
        cid_col, cvec_col = centroids.columns[:2]
        centroids = centroids.select(
            F.col(cid_col).alias("centroid_id"),
            F.col(cvec_col).alias("centroid_vec"),
        )
    elif target_cell_size is not None:
        import math

        n_rows = df.count()
        # same clamp as semdedup_prune: a FIXED target under corpus
        # growth makes assignment O(n²/target); max(target, √n) keeps
        # the n·k assignment ≤ O(n^1.5)
        target = max(int(target_cell_size), math.isqrt(max(n_rows, 1)))
        k = max(2, -(-n_rows // target))
        centroids = _trained_ivf_centroids(
            df, k, kmeans_iters, id_col, vec_col, n_rows
        )
    elif num_centroids is None:
        # auto-√n TRAINED cells (explicit opt-in): one cheap scalar
        # count, then the shared deterministic Lloyd's path — trained on
        # a bounded deterministic hash sample (max(4096, 32·k) rows, the
        # ivfpq_train_codebooks discipline; FAISS likewise trains IVF on
        # a sample). Full-corpus Lloyd's at k=√n is O(n^1.5) per round
        # (measured 15.5× wall for 10× data at sf1); the sampled fit is
        # O(32·√n·√n) = O(n) — linear — while cell ASSIGNMENT still sees
        # every vector. The sample is a pure function of (salt, id), so
        # a SQL oracle reproduces the identical centroids.
        import math

        n_rows = df.count()
        auto_k = max(2, math.isqrt(n_rows))
        centroids = _trained_ivf_centroids(
            df, auto_k, kmeans_iters, id_col, vec_col, n_rows
        )
    else:
        centroids = (
            df.orderBy(F.asc(id_col))
            .limit(num_centroids)
            .select(
                F.col(id_col).alias("centroid_id"),
                F.col(vec_col).alias("centroid_vec"),
            )
        )
    return centroids


def _trained_ivf_centroids(
    df: DataFrame,
    k: int,
    kmeans_iters: int,
    id_col: str,
    vec_col: str,
    n_rows: "int | None" = None,
) -> DataFrame:
    """k trained cells via the shared deterministic Lloyd's path, fit on
    a bounded deterministic hash sample (max(4096, 32·k) rows, the
    ivfpq_train_codebooks discipline; FAISS likewise trains IVF on a
    sample). Full-corpus Lloyd's at k=√n is O(n^1.5) per round (measured
    15.5× wall for 10× data at sf1); the sampled fit is O(32·k·k) —
    linear at k=√n — while cell ASSIGNMENT still sees every vector. The
    sample is a pure function of (salt, id), so a SQL oracle reproduces
    the identical centroids."""
    from megalista_spark.operators.clustering import kmeans_centroids
    from megalista_spark.operators.dedup import portable_hash64

    if n_rows is None:
        n_rows = df.count()
    train_cap = max(4096, 32 * k)
    train = df
    if n_rows > train_cap:
        buckets = min(10_000, -(-train_cap * 10_000 // n_rows))  # ceil
        train = df.where(
            portable_hash64(
                F.concat(F.lit("ivftrain|"), F.col(id_col).cast("string"))
            )
            % 10_000
            < buckets
        )
    return kmeans_centroids(
        train, k=k, iters=kmeans_iters, id_col=id_col, vec_col=vec_col
    ).select(
        F.col("cid").alias("centroid_id"),
        F.col("cv").alias("centroid_vec"),
    )


def _ivf_nearest(
    df_in: DataFrame,
    ucent: DataFrame,
    in_id: str,
    in_vec: str,
    out: str,
    probes: int,
) -> DataFrame:
    """Assign each row of ``df_in`` to its ``probes`` nearest centroids
    (``ucent``: centroid_id, unit-normalized _ucv — broadcast). Vectors
    are unit-normalized once per ROW before the broadcast expansion, so
    the n·k hot loop is ONE dot fold per pair instead of dot + two norm
    folds (argmax of cosine == argmax of unit-dot). The similarity is
    rounded to 6dp BEFORE the ordering — the same fixed-precision
    boundary discipline as the Lloyd's distances — so a SQL oracle
    ordering by round(cosine, 6) reproduces near-tie assignments
    bit-for-bit instead of racing unrounded FP tails.

    Known residual risk (documented, accepted): the two engines round
    DIFFERENT expressions — Spark rounds dot(unit(v), unit(c)), the
    DuckDB oracles round list_cosine_similarity(v, c). The values are
    mathematically equal but their FP evaluation orders differ by
    ~1e-12, so a similarity sitting within ~5e-7 of a 6dp rounding
    boundary could round differently per engine and flip a NEAR-TIE
    cell assignment. Empirically absent across every full-roster sweep
    (246/246 hash-match at sf0.01 and the sf1 value sweeps); removing
    the class entirely would require computing cosine identically on
    both sides, at the cost of the one-fold unit-dot hot loop."""
    u = df_in.select(
        df_in[in_id], df_in[in_vec], unit_expr(F.col(in_vec)).alias("_uv")
    )
    if probes == 1:
        # corpus-side n·k assignment: the zip_with/aggregate unit-dot is
        # a CodegenFallback expression (~19 µs/pair at dim=64), and a
        # single-row-group local file scans as ONE task — the whole
        # assignment would pipeline onto one core before its first
        # exchange (measured: the 2000-row sf0.1 corpus pinned ~2 s on
        # one task). Spread only when under-split; multi-split
        # cluster-scale inputs pay nothing (r13, §2.5/§6 input
        # parallelism; the query side stays as-is — it is tiny).
        sc = df_in.sparkSession.sparkContext
        if u.rdd.getNumPartitions() < sc.defaultParallelism:
            u = u.repartition(sc.defaultParallelism)
    scored = u.join(F.broadcast(ucent)).select(
        u[in_id],
        u[in_vec],
        F.col("centroid_id"),
        F.round(_dot(F.col("_uv"), F.col("_ucv")), 6).alias("_csim"),
    )
    if probes == 1:
        # the n-row assignment side: lexicographic-min struct under a
        # HASH aggregate (map-side combined — the n·k expansion
        # collapses to one struct per vector per task before the
        # shuffle) replaces a full sort of n·k rows; (-csim, cid)
        # ordering == ORDER BY csim DESC, cid ASC
        return (
            scored.groupBy(in_id)
            .agg(
                F.min(
                    F.struct(
                        (-F.col("_csim")).alias("_nc"),
                        F.col("centroid_id").alias("_cid"),
                    )
                ).alias("_b")
            )
            .select(in_id, F.col("_b._cid").alias(out))
            .join(df_in, in_id)
            .select(in_id, in_vec, out)
        )
    w = Window.partitionBy(in_id).orderBy(F.desc("_csim"), F.asc("centroid_id"))
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= probes)
        .select(u[in_id], u[in_vec], F.col("centroid_id").alias(out))
    )


def ivf_cosine_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_centroids: "int | None" = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: "DataFrame | None" = None,
    kmeans_iters: int = 2,
) -> DataFrame:
    """IVF-pruned approximate top-k.

    ``centroids`` (cid, vector) may come from ``clustering.kmeans_fit``-
    style training. With the DEFAULT ``num_centroids=16`` (and no
    ``centroids``), the cells are the deterministic 16 lowest-id corpus
    vectors — fixed, reproducible, and fully lazy (no job runs until the
    plan executes). Passing ``num_centroids=None`` is the EXPLICIT
    auto-scaling opt-in: cell count = max(2, ⌊√n⌋) trained with
    ``kmeans_iters`` Lloyd's rounds on a bounded deterministic hash
    sample — the standard IVF sizing, so per-query scan cost is
    nprobe·(n/√n) = nprobe·√n rows, SUB-linear in the corpus, instead of
    the constant fraction a pinned k degrades to at 100× scale. The auto
    tier runs one eager ``count()`` and the k-means fit at CALL time —
    opt-in cost, documented, never paid by default. Every corpus vector
    is assigned to its nearest centroid; each query probes its
    ``nprobe`` nearest centroid buckets only.

    At scale this is the standard two-level ANN plan: the centroid table
    is tiny (√n rows — broadcast to ~10⁵ cells at 10¹⁰ vectors), the
    corpus is scored against nprobe cells per query, and the only wide
    operation is the final per-query top-k. For repeated query batches
    use the persisted lifecycle (``ivf_build_index`` /
    ``ivf_search_index``) so the n·k assignment is paid once, not per
    call.
    """
    centroids = _resolve_ivf_centroids(
        df, num_centroids, centroids, kmeans_iters, id_col, vec_col
    )
    # centroids unit-normalized ONCE (k rows), not once per (vector,
    # centroid) pair inside the n·k assignment loop
    ucent = centroids.select(
        "centroid_id", unit_expr(F.col("centroid_vec")).alias("_ucv")
    )

    def nearest(df_in: DataFrame, in_id: str, in_vec: str, out: str, probes: int) -> DataFrame:
        return _ivf_nearest(df_in, ucent, in_id, in_vec, out, probes)

    corpus_assigned = nearest(
        df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")),
        "neighbor_id",
        "c_vec",
        "bucket",
        1,
    )
    query_probes = nearest(
        queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("q_vec")),
        "query_id",
        "q_vec",
        "bucket",
        nprobe,
    )
    candidates = corpus_assigned.join(
        F.broadcast(query_probes), on="bucket"
    ).where(F.col("neighbor_id") != F.col("query_id"))
    scored = candidates.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_expr(F.col("q_vec"), F.col("c_vec")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("bigint").alias("rank"))
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_rows: int | None = 1_000_000,
) -> DataFrame:
    """All pairs (a < b) with cosine ≥ threshold.

    Brute force O(n²/2) scoring — correct baseline, broadcast build side.
    ``max_broadcast_rows`` is a hard guard: the corpus is replicated to
    every task, so a corpus above the cap raises instead of OOMing the
    executors — use ``embedding_near_dup_pairs_blocked`` (exact, no
    replication of the whole corpus per task) or
    ``embedding_lsh_near_dup_pairs`` (approximate, linear candidates)
    beyond it.
    """
    if max_broadcast_rows is not None:
        n_rows = df.count()
        if n_rows > max_broadcast_rows:
            raise ValueError(
                f"embedding_near_dup_pairs broadcasts the corpus to every task: "
                f"{n_rows} rows > max_broadcast_rows={max_broadcast_rows}; use "
                "embedding_near_dup_pairs_blocked or embedding_lsh_near_dup_pairs"
            )
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    # normalize each vector once (per-row), so the O(n²) stage is one dot
    # fold per pair instead of dot + two norm folds
    a = df.select(
        F.col(id_col).alias("id_a"), unit_expr(F.col(vec_col)).alias("vec_a")
    ).repartition(n_parts)
    b = df.select(F.col(id_col).alias("id_b"), unit_expr(F.col(vec_col)).alias("vec_b"))
    # stream side repartitioned so the O(n²) scoring parallelizes even when
    # the corpus arrives as one small file; build side broadcast
    joined = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    sim = _dot(F.col("vec_a"), F.col("vec_b"))
    return (
        joined.select("id_a", "id_b", F.round(sim, 6).alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


# ---------------------------------------------------- hyperplane LSH (scale)


def srp_planes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic sign-random-projection hyperplanes: component d of
    plane p is uniform in [-1, 1), derived from md5(f"{p}|{d}") — the same
    planes are reproducible in any engine with md5 (the oracle generates
    identical literals). Sign-random projection only needs a symmetric
    component distribution, so uniform works like gaussian."""
    import hashlib

    out = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"{p}|{d}".encode()).hexdigest()[:8], 16)
            row.append((h / 0xFFFFFFFF) * 2.0 - 1.0)
        out.append(row)
    return out


def embedding_lsh_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.45,
    n_planes: int = 16,
    bands: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale path for embedding near-dup: sign-random-projection LSH.

    1. per vector: n_planes sign bits (dot with fixed hyperplanes)
    2. bits split into ``bands`` bands; vectors sharing any band value are
       candidates (pigeonhole: cos-close vectors agree on most bits)
    3. exact cosine filter on candidates only

    Complexity: candidate generation is linear (band explode + bucket
    grouping) — the all-pairs O(n²) scan disappears; recall is tuned by
    (n_planes, bands). Same output schema as embedding_near_dup_pairs.

    Implementation: TWO Arrow kernels, not expression trees. Earlier forms
    paid a pathological plan constant — n_planes×dim literal expressions
    blew Janino codegen (~30s compile at 500 rows), and even with planes
    as a broadcast table the per-(vector, plane) higher-order folds plus a
    three-way self-join compiled for ~10s per stage. The kernels keep the
    plan flat: mapInPandas computes every signature in one pass (and
    carries the unit vector), groupBy(band_id, band_val).applyInPandas
    scores each bucket's pairs locally, one dropDuplicates merges bands.
    One data shuffle (the bucket grouping) + one pair-sized dedup shuffle.

    FLOAT CONTRACT (oracle parity): all sums accumulate ONE COMPONENT AT A
    TIME (a d-loop of vectorized adds), so every float add happens in index
    order — bit-for-bit the left-to-right ``aggregate`` fold / DuckDB
    ``list_dot_product`` the SQL oracle runs. np.sum/np.dot would use
    pairwise summation and drift in the last ulp.

    Hot buckets (low-entropy band values) are inherent to LSH banding;
    per-bucket scoring is chunked so task memory stays bounded even when a
    bucket is large (compute remains O(|bucket|²) — tune n_planes/bands up
    if buckets run hot, see skew.py for the diagnosis query).

    GEOMETRY MUST SCALE WITH n: a fixed ``n_planes`` fixes the bucket
    count (2^(n_planes/bands) per band), so once n >> buckets the
    candidate volume grows ~n²/buckets regardless of duplicate density
    (measured, scripts/fixed_density_lsh.py: 100× candidates for a 10×
    step at 16 buckets/band; +8 planes → 64 buckets cut them 3.7× with
    the planted near-dups intact). Pick n_planes so 2^(n_planes/bands)
    grows with corpus size — the same lesson as the ANN family's
    auto-√n centroid tier.

    Measured crossover vs ``embedding_near_dup_pairs_blocked`` (sf0.01,
    500 vecs × 64 dims, local[32]): this path 3.0s cold / 1.4s warm vs
    blocked 4.7s / 1.4s — the kernel rewrite removed the ~30s plan
    constant of the expression form, so LSH is never slower than the
    exact O(n²) path at any corpus size and pulls ahead as n grows (its
    compute is linear in candidates, the blocked path's is n²/2).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    bits_per_band = n_planes // bands
    P = np.array(srp_planes(dim, n_planes), dtype=np.float64)  # (planes, dim)
    weights = np.array(
        [1 << (bits_per_band - 1 - i) for i in range(bits_per_band)], dtype=np.int64
    )

    sig_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("band_id", T.IntegerType()),
            T.StructField("band_val", T.LongType()),
            T.StructField("v", T.ArrayType(T.DoubleType())),
        ]
    )

    def signatures(batches):
        install_stamped_zipimporter()
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            R = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            n, d_ = R.shape
            n2 = np.zeros(n)
            for d in range(d_):  # left-to-right sum of squares
                n2 += R[:, d] * R[:, d]
            V = R / np.sqrt(n2)[:, None]
            S = np.zeros((n, n_planes))
            for d in range(d_):  # left-to-right plane dots
                S += V[:, d : d + 1] * P[:, d][None, :]
            bits = (S >= 0).astype(np.int64).reshape(n, bands, bits_per_band)
            band_vals = (bits * weights[None, None, :]).sum(axis=2)
            vlist = V.tolist()
            for b in range(bands):
                yield pd.DataFrame(
                    {
                        "id": ids,
                        "band_id": np.int32(b),
                        "band_val": band_vals[:, b],
                        "v": vlist,
                    }
                )

    pair_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def bucket_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        install_stamped_zipimporter()
        n = len(pdf)
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
            {"id_a": "int64", "id_b": "int64", "cos_sim": "float64"}
        )
        if n < 2:
            return empty
        ids = pdf["id"].to_numpy(dtype=np.int64)
        V = np.array([list(v) for v in pdf["v"]], dtype=np.float64)
        d_ = V.shape[1]
        out = []
        # chunk rows so the (chunk × n) tile stays ≤ ~32 MB of doubles
        chunk = max(1, 4_000_000 // n)
        for s0 in range(0, n, chunk):
            A = V[s0 : s0 + chunk]
            S = np.zeros((len(A), n))
            for d in range(d_):  # left-to-right pair dots
                S += A[:, d : d + 1] * V[:, d][None, :]
            S = np.round(S, 6)
            ia = ids[s0 : s0 + chunk]
            mask = (ia[:, None] < ids[None, :]) & (S >= threshold)
            aa, bb = np.nonzero(mask)
            if len(aa):
                out.append(
                    pd.DataFrame(
                        {"id_a": ia[aa], "id_b": ids[bb], "cos_sim": S[aa, bb]}
                    )
                )
        return pd.concat(out, ignore_index=True) if out else empty

    sigs = df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        signatures, sig_schema
    )
    pairs = sigs.groupBy("band_id", "band_val").applyInPandas(
        bucket_pairs, pair_schema
    )
    # a pair found in several bands carries the identical (deterministic)
    # sim in each — keep one
    return pairs.dropDuplicates(["id_a", "id_b"])


# ------------------------------------------------------- IVF-PQ (integer)


def _pq_quant(c: Column, scale: int) -> Column:
    """Integer quantization: round(x·scale) per component as bigint."""
    return F.transform(c, lambda x: F.round(x.cast("double") * scale).cast("long"))


def _pq_l2(a: Column, b: Column) -> Column:
    """Exact bigint squared L2 (left-to-right integer fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _pq_coarse(corpus_q: DataFrame, num_coarse: int | None) -> DataFrame:
    """Deterministic coarse quantizer: the num_coarse lowest-id quantized
    vectors, cell = rank by id. ``num_coarse=None`` auto-scales the cell
    count to max(2, ⌊√n⌋) — the standard IVF sizing, keeping per-query
    candidate volume at nprobe·√n rows (sub-linear) instead of the
    constant fraction a pinned cell count degrades to as the corpus
    grows. Cells stay lowest-id (not trained floats) so the family's
    exact-bigint distance contract is preserved."""
    if num_coarse is None:
        import math

        num_coarse = max(2, math.isqrt(corpus_q.count()))
    wq = Window.orderBy("id")
    return (
        corpus_q.orderBy("id")
        .limit(num_coarse)
        .select((F.row_number().over(wq) - 1).alias("cell"), F.col("qv").alias("cvec"))
    )


def _pq_assign(v_df: DataFrame, coarse: DataFrame, key: str, probes: int) -> DataFrame:
    """(key, cell, res): each vector's `probes` L2-nearest cells (ties to
    the lower cell) with the integer residual vs that cell's center."""
    scored = v_df.join(F.broadcast(coarse)).select(
        key, "qv", "cell", "cvec", _pq_l2(F.col("qv"), F.col("cvec")).alias("_d")
    )
    w = Window.partitionBy(key).orderBy(F.asc("_d"), F.asc("cell"))
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= probes)
        .select(
            key,
            "cell",
            F.zip_with(F.col("qv"), F.col("cvec"), lambda a, b: a - b).alias("res"),
        )
    )


def _pq_subspaces(res_df: DataFrame, key: str, m_subs: int, sub_d: int) -> DataFrame:
    """Explode residuals into (key, cell, m, sub) subvector rows."""
    return res_df.select(
        key,
        "cell",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m_subs - 1)),
                lambda m: F.struct(
                    m.alias("m"),
                    F.slice(F.col("res"), m * sub_d + 1, sub_d).alias("sub"),
                ),
            )
        ).alias("_s"),
    ).select(key, "cell", F.col("_s.m").alias("m"), F.col("_s.sub").alias("sub"))


def ivfpq_train_codebooks(
    df: DataFrame,
    num_coarse: int | None = 8,
    m_subs: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    dim: int = 64,
    scale: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_cap: int | None = None,
    train_salt: str = "pqtrain",
) -> DataFrame:
    """TRAINED per-subspace PQ codebooks — grouped integer k-means over
    the coarse residuals, feeding ``ivfpq_topk(codebooks=...)`` exactly
    as ``kmeans_centroids`` feeds ``ivf_cosine_topk(centroids=...)``.

    All M subspaces train in ONE dataflow per Lloyd round (the subspace
    id is a grouping column — no per-subspace job loop): assignment is a
    broadcast-codebook join + per-(id, m) integer argmin, the update is
    one (m, code, pos) mean shuffle. Codeword components are
    round-half-away-from-zero integer means — Spark's ROUND and DuckDB's
    round() agree on exact .5 ties (both away from zero), and sums of
    integer-valued doubles stay exact below 2^53, so the TRAINED
    codebooks are bit-identical cross-engine (the same fixed-point
    discipline as the distances). A codeword that loses all members in a
    round keeps its previous value (left-join + coalesce — deterministic
    and mirrored in the oracle SQL).

    Model state (M·K codewords) materializes to the driver each round so
    iteration lineage stays flat (clustering.py's discipline).

    ``train_cap`` bounds the TRAINING corpus to ≈cap rows via the
    portable deterministic hash sampler (sampling.py's family): codebook
    training is the one stage whose cost would otherwise grow with the
    corpus, and PQ codebooks are always fit on a sample at scale (Jégou
    et al. train on ~100k of billions). The coarse quantizer and the
    encode/search path still see the FULL corpus — only the Lloyd rounds
    see the sample — and the sample is a pure function of (salt, id), so
    any engine reproduces the identical trained codebooks (the DuckDB
    oracle applies the same md5-bucket filter). cap ≥ n keeps every row.

    With ``train_cap`` set, the Lloyd rounds run DRIVER-LOCAL over the
    collected sample: model state is O(cap·dim) integers by construction
    — the same bounded-state license as the k-row centroid collect in
    clustering.py — and the distributed per-round dataflow's ~10-stage
    constant (2 collects + 3 shuffles per round over what is now a
    few-hundred-row relation) disappears. The numpy kernel reproduces
    the exact integer contract: int64 L2, argmin ties to the lower code,
    exact int64 component sums with ONE double divide and a
    round-half-away-from-zero per codeword component, empty codewords
    keep their previous value. ``train_cap=None`` keeps the fully
    distributed rounds (unbounded training set).

    Output: (m, code_id, csub array<bigint>).
    """
    sub_d = dim // m_subs
    spark = df.sparkSession
    corpus_q = df.select(
        F.col(id_col).alias("id"), _pq_quant(F.col(vec_col), scale).alias("qv")
    )
    coarse = _pq_coarse(corpus_q, num_coarse)
    if train_cap is not None:
        import numpy as np

        from megalista_spark.operators.dedup import portable_hash64

        n = corpus_q.count()
        buckets = min(10_000, -(-train_cap * 10_000 // max(n, 1)))  # ceil
        train_q = corpus_q.where(
            portable_hash64(
                F.concat(F.lit(train_salt), F.lit("|"), F.col("id").cast("string"))
            )
            % 10_000
            < buckets
        )
        # bounded collect: ≈cap rows of (id, residual) — O(cap·dim) ints
        sample = sorted(
            (r["id"], list(r["res"]))
            for r in _pq_assign(train_q, coarse, "id", 1).collect()
        )
        R = np.array([res for _, res in sample], dtype=np.int64)  # (s, dim)
        S = R.reshape(len(sample), m_subs, sub_d)  # (s, M, sub_d)
        # init: residual subvectors of the k_codes lowest-id sample rows
        C = S[:k_codes].transpose(1, 0, 2).copy()  # (M, K, sub_d)
        for _ in range(iters):
            # (M, s, K) int64 squared L2; argmin ties → lowest code
            d2 = ((S.transpose(1, 0, 2)[:, :, None, :] - C[:, None, :, :]) ** 2).sum(
                axis=3
            )
            best = d2.argmin(axis=2)  # (M, s)
            for mi in range(m_subs):
                for code in range(C.shape[1]):
                    members = S[best[mi] == code, mi, :]
                    if len(members):
                        mean = members.sum(axis=0, dtype=np.int64).astype(
                            np.float64
                        ) / len(members)
                        # round half away from zero by comparing the
                        # double's fraction directly — floor(|x|+0.5)
                        # can round up one ulp early and diverge from
                        # Spark/DuckDB ROUND on the same double
                        a = np.abs(mean)
                        fl = np.floor(a)
                        r = np.where(a - fl >= 0.5, fl + 1.0, fl)
                        C[mi, code] = (np.sign(mean) * r).astype(np.int64)
        return spark.createDataFrame(
            [
                (mi, code, [int(x) for x in C[mi, code]])
                for mi in range(m_subs)
                for code in range(C.shape[1])
            ],
            "m int, code_id int, csub array<bigint>",
        )
    corpus_res = _pq_assign(corpus_q, coarse, "id", 1)
    sub = _pq_subspaces(corpus_res, "id", m_subs, sub_d).select("id", "m", "sub")
    sub = sub.persist()

    wq = Window.orderBy("id")
    codebook = (
        _pq_subspaces(
            corpus_res.orderBy("id")
            .limit(k_codes)
            .select((F.row_number().over(wq) - 1).alias("code_id"), "cell", "res"),
            "code_id",
            m_subs,
            sub_d,
        )
        .select("m", "code_id", F.col("sub").alias("csub"))
    )

    def _materialize(cb: DataFrame) -> DataFrame:
        rows = [(r["m"], r["code_id"], list(r["csub"])) for r in cb.collect()]
        return spark.createDataFrame(rows, "m int, code_id int, csub array<bigint>")

    codebook = _materialize(codebook)
    for _ in range(iters):
        assigned = (
            sub.join(F.broadcast(codebook), "m")
            .select(
                "id",
                "m",
                "sub",
                F.struct(
                    _pq_l2(F.col("sub"), F.col("csub")).alias("d"),
                    F.col("code_id").alias("c"),
                ).alias("_dc"),
            )
            .groupBy("id", "m")
            .agg(F.min("_dc").alias("_best"), F.first("sub").alias("sub"))
            .select("m", F.col("_best.c").alias("code_id"), "sub")
        )
        updated = (
            assigned.select("m", "code_id", F.posexplode("sub").alias("pos", "val"))
            .groupBy("m", "code_id", "pos")
            # exact integer sum then ONE double divide+round — not avg(),
            # whose accumulator (incremental double vs exact sum) is
            # engine-specific; this form is bit-identical cross-engine
            .agg(
                F.round(
                    F.sum("val").cast("double") / F.count(F.lit(1))
                ).cast("long").alias("mval")
            )
            .groupBy("m", "code_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mval"))),
                    lambda s: s.getField("mval"),
                ).alias("new_csub")
            )
        )
        codebook = _materialize(
            codebook.join(updated, ["m", "code_id"], "left").select(
                "m",
                "code_id",
                F.coalesce(F.col("new_csub"), F.col("csub")).alias("csub"),
            )
        )
    sub.unpersist()
    return codebook


def ivfpq_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_coarse: int | None = 8,
    nprobe: int = 2,
    m_subs: int = 8,
    k_codes: int = 16,
    dim: int = 64,
    scale: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ approximate nearest neighbors — the 100 TB ANN memory
    answer: each corpus vector is stored as one coarse cell id plus
    ``m_subs`` small integer codes (8 bytes here vs 256 bytes of float32
    for dim=64 — a 32× index-size reduction), and queries score
    candidates with ASYMMETRIC distance (query residual vs codeword
    lookup table) without ever touching the original vectors.

    Pipeline (Jégou et al. 2011, public method):
      1. quantize components to integers: q = round(x·scale) — from here
         EVERY distance is exact bigint arithmetic (the fixed-point
         discipline of graph.py/clustering.py), so any engine reproduces
         codes AND distances bit-for-bit; the DuckDB oracle does.
      2. coarse quantizer: the ``num_coarse`` lowest-id corpus vectors
         (deterministic, the ``ivf_cosine_topk`` fallback convention);
         every vector joins its L2-nearest cell, ties to the lower cell.
      3. residual r = q − cell_center, split into ``m_subs`` subvectors;
         per-subspace codebooks default to the residual subvectors of
         the ``k_codes`` lowest-id corpus vectors, or pass TRAINED
         codebooks from ``ivfpq_train_codebooks`` via ``codebooks=``
         (columns (m, code_id, csub)); encode = per-(vector, subspace)
         argmin over codewords (ties to the lower code).
      4. query side: probe the ``nprobe`` nearest cells, build the
         (query, cell, subspace, code) → partial-distance LUT, and score
         every candidate as the sum of M LUT entries (ADC).

    Output: (query_id, neighbor_id, adc_dist, rank) — rank by ascending
    integer distance, ties by neighbor id; self-matches excluded.

    Scale shape: coarse table, codebooks, and LUT are all tiny and
    broadcast (C cells, M·K codewords, Q·nprobe·M·K LUT rows); the
    corpus touches three narrow stages — assign (one broadcast join +
    per-id argmin), encode (broadcast join + per-(id, m) argmin), score
    (broadcast LUT join + per-(query, id) sum) — each a map-side
    partial-agg shuffle of id-keyed rows, never vectors. The codes
    relation is what a real deployment persists: M bigint codes + cell
    per id, scan-priced at 100 TB corpus scale.
    """
    sub_d = dim // m_subs
    l2 = _pq_l2
    corpus_q = df.select(
        F.col(id_col).alias("id"), _pq_quant(F.col(vec_col), scale).alias("qv")
    )
    coarse = _pq_coarse(corpus_q, num_coarse)

    def assign(v_df: DataFrame, key: str, probes: int) -> DataFrame:
        return _pq_assign(v_df, coarse, key, probes)

    def subspaces(res_df: DataFrame, key: str) -> DataFrame:
        return _pq_subspaces(res_df, key, m_subs, sub_d)

    corpus_res = assign(corpus_q, "id", 1)
    corpus_sub = subspaces(corpus_res, "id")

    if codebooks is not None:
        cbm, cbc, cbv = codebooks.columns[:3]
        codebook = codebooks.select(
            F.col(cbm).alias("m"),
            F.col(cbc).alias("code_id"),
            F.col(cbv).alias("csub"),
        )
    else:
        wq = Window.orderBy("id")
        codebook = (
            subspaces(
                corpus_res.orderBy("id")
                .limit(k_codes)
                .select(
                    (F.row_number().over(wq) - 1).alias("code_id"),
                    "cell",
                    "res",
                ),
                "code_id",
            )
            .select("m", "code_id", F.col("sub").alias("csub"))
        )

    enc_scored = corpus_sub.join(F.broadcast(codebook), "m").select(
        "id", "cell", "m", F.struct(l2(F.col("sub"), F.col("csub")).alias("d"), F.col("code_id").alias("c")).alias("_dc")
    )
    codes = (
        enc_scored.groupBy("id", "cell", "m")
        .agg(F.min("_dc").alias("_best"))
        .select("id", "cell", "m", F.col("_best.c").alias("code"))
    )

    return _pq_adc_search(
        codes, coarse, codebook, queries, k, nprobe, m_subs, dim, scale,
        query_id_col, vec_col,
    )


def _pq_adc_search(
    codes: DataFrame,
    coarse: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int,
    m_subs: int,
    dim: int,
    scale: int,
    query_id_col: str,
    vec_col: str,
) -> DataFrame:
    """Query side of IVF-PQ: probe assignment → LUT → ADC → per-query
    top-k. Shared by ``ivfpq_topk`` (in-memory relations) and
    ``ivfpq_search_index`` (relations loaded from a persisted index) —
    the corpus vectors themselves are never touched here."""
    sub_d = dim // m_subs
    q_q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _pq_quant(F.col(vec_col), scale).alias("qv"),
    )
    q_sub = _pq_subspaces(
        _pq_assign(q_q, coarse, "query_id", nprobe), "query_id", m_subs, sub_d
    )
    lut = q_sub.join(F.broadcast(codebook), "m").select(
        "query_id",
        "cell",
        "m",
        F.col("code_id").alias("code"),
        _pq_l2(F.col("sub"), F.col("csub")).alias("ld"),
    )

    adc = (
        codes.join(F.broadcast(lut), ["cell", "m", "code"])
        .where(F.col("id") != F.col("query_id"))
        .groupBy("query_id", F.col("id").alias("neighbor_id"))
        .agg(F.sum("ld").cast("bigint").alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "adc_dist",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def ivfpq_build_index(
    df: DataFrame,
    path: str,
    num_coarse: int | None = 8,
    m_subs: int = 8,
    k_codes: int = 16,
    dim: int = 64,
    scale: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: DataFrame | None = None,
) -> None:
    """Persist the searchable IVF-PQ index artifact — what a production
    deployment actually ships: ``coarse/`` (C cells), ``codebooks/``
    (M·K codewords), ``codes/`` (one row of M+1 small ints per corpus
    vector — the 32×-compressed representation), plus a one-row ``meta/``
    parquet with the geometry. After this, search never reads the original
    vectors; a 100 TB corpus's float embeddings stay cold storage.

    ``codes/`` is written partitioned by ``cell`` so a search's nprobe
    pruning becomes PARTITION pruning at the file level — only the
    probed cells' files are ever opened.

    Build means a FRESH index: any previous index at ``path`` —
    including versioned ``codes_vN`` directories and meta versions a
    compacted predecessor left behind — is replaced, so a rebuild never
    strands stale full copies of the corpus on disk. Failure contract:
    the coarse cells and codebooks (where bad inputs surface) are
    MATERIALIZED before anything on disk is touched, so a compute-phase
    failure leaves the previous index fully readable; a crash during
    the write phase leaves a partial index (rebuild to recover) — build
    is the one non-crash-atomic verb, the maintained path is
    append/compact.
    """
    spark = df.sparkSession
    corpus_q = df.select(
        F.col(id_col).alias("id"), _pq_quant(F.col(vec_col), scale).alias("qv")
    )
    # C rows; forces the coarse fit pre-delete (failure contract above)
    coarse = _pq_coarse(corpus_q, num_coarse).localCheckpoint(eager=True)
    sub_d = dim // m_subs
    corpus_res = _pq_assign(corpus_q, coarse, "id", 1)
    corpus_sub = _pq_subspaces(corpus_res, "id", m_subs, sub_d)
    if codebooks is not None:
        cbm, cbc, cbv = codebooks.columns[:3]
        codebook = codebooks.select(
            F.col(cbm).alias("m"), F.col(cbc).alias("code_id"), F.col(cbv).alias("csub")
        )
    else:
        wq = Window.orderBy("id")
        codebook = _pq_subspaces(
            corpus_res.orderBy("id")
            .limit(k_codes)
            .select((F.row_number().over(wq) - 1).alias("code_id"), "cell", "res"),
            "code_id",
            m_subs,
            sub_d,
        ).select("m", "code_id", F.col("sub").alias("csub"))
    # M·K rows; forces the codebook derivation pre-delete, then the old
    # index (incl. versioned orphans) can be replaced
    codebook = codebook.localCheckpoint(eager=True)
    _fs_delete(spark, path)
    enc = corpus_sub.join(F.broadcast(codebook), "m").select(
        "id",
        "cell",
        "m",
        F.struct(
            _pq_l2(F.col("sub"), F.col("csub")).alias("d"), F.col("code_id").alias("c")
        ).alias("_dc"),
    )
    codes = (
        enc.groupBy("id", "cell", "m")
        .agg(F.min("_dc").alias("_best"))
        .select("id", "cell", "m", F.col("_best.c").alias("code"))
    )
    # coarse (C rows) and codebooks (M·K rows) are tiny control tables —
    # one file each keeps every search's broadcast load to one open
    coarse.coalesce(1).write.mode("overwrite").parquet(f"{path}/coarse")
    codebook.coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    codes.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/codes")
    _write_index_meta(
        spark,
        path,
        [(num_coarse, m_subs, dim, scale, "codes")],
        "num_coarse int, m_subs int, dim int, scale long, codes_dir string",
    )


def ivfpq_search_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a persisted IVF-PQ index (``ivfpq_build_index``): loads the
    tiny coarse/codebook relations (broadcast), scans ONLY the probed
    cells of ``codes/`` (cell partition pruning), and scores by ADC —
    bit-identical results to ``ivfpq_topk`` on the original vectors with
    the same geometry, without ever reading an embedding."""
    meta = _read_index_meta(spark, path)
    coarse = spark.read.parquet(f"{path}/coarse")
    codebook = spark.read.parquet(f"{path}/codebooks")
    codes = spark.read.parquet(f"{path}/{meta.get('codes_dir') or 'codes'}")
    return _pq_adc_search(
        codes, coarse, codebook, queries, k, nprobe,
        meta["m_subs"], meta["dim"], meta["scale"], query_id_col, vec_col,
    )


# ----------------------------------------------- vectorized GEMM kernels


def _normalized_matrix(rows):
    """(ids int64, unit-row-normalized float64 matrix) from collected
    (id, vector) rows."""
    import numpy as np

    ids = np.array([r[0] for r in rows], dtype=np.int64)
    M = np.array([list(r[1]) for r in rows], dtype=np.float64)
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    return ids, M


def cosine_topk_gemm(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """``cosine_topk`` on the vectorized fast path: Arrow-batched
    ``mapInPandas`` + one numpy GEMM per partition block (BLAS, ~10-100×
    the interpreted per-element fold of the expression form — measured 3×
    end-to-end at sf0.1 where per-query overhead dominates).

    Scale shape: the query matrix ships to every partition (it is small
    by construction); each partition scores its block with one matrix
    multiply and pre-selects its LOCAL top-k per query under the FINAL
    tie-break order (rounded sim desc, neighbor id asc — np.lexsort), so
    the shuffle carries ≤ k·q rows per partition and the global
    window-rank merge is exact. Same output and rounding contract as
    ``cosine_topk``; keep the fold form where engine-portable expression
    plans matter more than throughput.
    """
    import numpy as np
    from pyspark.sql import types as T

    q_rows = queries.select(query_id_col, vec_col).collect()
    q_ids, Q = _normalized_matrix(q_rows)
    qt = Q.T.copy()

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def kernel(batches):
        install_stamped_zipimporter()
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            C = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            C /= np.linalg.norm(C, axis=1, keepdims=True)
            S = np.round(C @ qt, 6)
            for j, qid in enumerate(q_ids):
                s = S[:, j]
                keep = ids != qid
                cand_ids, cand_s = ids[keep], s[keep]
                # local top-k under the global order: (-sim, neighbor_id)
                order = np.lexsort((cand_ids, -cand_s))[:k]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": cand_ids[order],
                        "cos_sim": cand_s[order],
                    }
                )

    n_parts = df.sparkSession.sparkContext.defaultParallelism
    scored = (
        df.select(F.col(id_col), F.col(vec_col))
        .repartition(n_parts)
        .mapInPandas(kernel, out_schema)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "cos_sim", F.col("rank").cast("bigint").alias("rank")
        )
    )


def embedding_near_dup_pairs_gemm(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_rows: int = 200_000,
) -> DataFrame:
    """``embedding_near_dup_pairs`` on the vectorized fast path: the full
    normalized corpus is collected to the DRIVER and shipped inside every
    task closure, and each partition block scores against it with one
    GEMM. That driver-collect makes this an explicit small-corpus
    baseline only — ``max_broadcast_rows`` raises beyond the cap. The
    default exact path is ``embedding_near_dup_pairs_blocked`` (no
    driver collect); the approximate scale path is
    ``embedding_lsh_near_dup_pairs``. Pairs are filtered on the ROUNDED
    sim so the output contract is unchanged across all three.
    """
    import numpy as np
    from pyspark.sql import types as T

    n_rows = df.count()
    if n_rows > max_broadcast_rows:
        raise ValueError(
            f"embedding_near_dup_pairs_gemm collects the corpus to the driver: "
            f"{n_rows} rows > max_broadcast_rows={max_broadcast_rows}; use "
            "embedding_near_dup_pairs_blocked (exact) or "
            "embedding_lsh_near_dup_pairs (approximate)"
        )
    all_rows = df.select(id_col, vec_col).collect()
    b_ids, B = _normalized_matrix(all_rows)
    bt = B.T.copy()

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def kernel(batches):
        install_stamped_zipimporter()
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            C = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            C /= np.linalg.norm(C, axis=1, keepdims=True)
            S = np.round(C @ bt, 6)
            ai, bj = np.nonzero((ids[:, None] < b_ids[None, :]) & (S >= threshold))
            yield pd.DataFrame(
                {"id_a": ids[ai], "id_b": b_ids[bj], "cos_sim": S[ai, bj]}
            )

    n_parts = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.select(F.col(id_col), F.col(vec_col))
        .repartition(n_parts)
        .mapInPandas(kernel, out_schema)
    )


def embedding_near_dup_pairs_blocked(
    df: DataFrame,
    threshold: float = 0.95,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold with NO driver-side collect of
    corpus rows — the distributed form of the O(n²) baseline.

    The corpus is hashed into ``n_blocks`` blocks on the id; each of the
    B·(B+1)/2 unordered block pairs becomes one ``applyInPandas`` group
    whose task GEMMs block_i × block_j (numpy float64, rounded to 6dp
    before the threshold — identical per-pair math and output contract
    as the expression and driver-GEMM forms). Each row is replicated to
    B+1 block-pair groups (the classic √R replication of distributed
    all-pairs), so per-task memory is two blocks (~2·n/B vectors) and
    driver memory is O(1). Total compute stays O(n²) — inherent to the
    EXACT problem; ``embedding_lsh_near_dup_pairs`` is the sub-quadratic
    approximate path. Pick n_blocks so (n/B)² GEMM tiles fit in a task:
    B ≈ n·dim·8 / (256 MiB) keeps a tile under half a gigabyte.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    spark = df.sparkSession
    pair_rows = [
        (i * n_blocks + j, i, j) for i in range(n_blocks) for j in range(i, n_blocks)
    ]
    pairs = spark.createDataFrame(pair_rows, ["pair_id", "block_a", "block_b"])

    # ship RAW vectors and normalize with numpy inside the kernel — the
    # same float ops as the driver-GEMM form, so all three exact forms
    # (and the SQL oracle) agree bit-for-bit after the 6dp rounding
    unit = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.pmod(F.crc32(F.col(id_col).cast("string")), F.lit(n_blocks)).alias("block"),
    )
    a_side = unit.join(
        F.broadcast(pairs.select("pair_id", F.col("block_a").alias("block"))), "block"
    ).select("pair_id", F.lit(0).alias("side"), "id", "v")
    b_side = unit.join(
        F.broadcast(pairs.select("pair_id", F.col("block_b").alias("block"))), "block"
    ).select("pair_id", F.lit(1).alias("side"), "id", "v")

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        install_stamped_zipimporter()
        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        if a.empty or b.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos_sim": "float64"}
            )
        ids_a = a["id"].to_numpy(dtype=np.int64)
        ids_b = b["id"].to_numpy(dtype=np.int64)
        A = np.array([list(v) for v in a["v"]], dtype=np.float64)
        B = np.array([list(v) for v in b["v"]], dtype=np.float64)
        A /= np.linalg.norm(A, axis=1, keepdims=True)
        B /= np.linalg.norm(B, axis=1, keepdims=True)
        S = np.round(A @ B.T, 6)
        pid = int(pdf["pair_id"].iloc[0])
        if pid // n_blocks == pid % n_blocks:
            # diagonal tile: both sides hold the same block — the `<` mask
            # picks each unordered pair exactly once
            mask = (ids_a[:, None] < ids_b[None, :]) & (S >= threshold)
        else:
            # off-diagonal tile: blocks are disjoint, each unordered pair
            # appears exactly once but the lower id may sit on either side
            mask = S >= threshold
        ai, bj = np.nonzero(mask)
        ra, rb = ids_a[ai], ids_b[bj]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ra, rb),
                "id_b": np.maximum(ra, rb),
                "cos_sim": S[ai, bj],
            }
        )

    return (
        a_side.unionByName(b_side)
        .groupBy("pair_id")
        .applyInPandas(kernel, out_schema)
    )


def ivfpq_append_to_index(
    df_new: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance — the daily-drop flow: encode ONLY
    the new vectors against the index's persisted coarse cells and
    codebooks (geometry frozen at build time, the standard production
    contract: retraining would silently re-key every existing code) and
    APPEND their code rows into the cell partitions. Cost ∝ increment,
    never ∝ index size; a rebuild touches nothing.

    Because the geometry is frozen, build(base) + append(increment) is
    bit-identical to build(base ∪ increment) whenever the build's
    deterministic defaults would pick the same coarse/codebook source
    rows (e.g. the increment's ids are all higher) — property-tested.
    """
    spark = df_new.sparkSession
    meta = _read_index_meta(spark, path)
    coarse = spark.read.parquet(f"{path}/coarse")
    codebook = spark.read.parquet(f"{path}/codebooks")
    m_subs, dim, scale = meta["m_subs"], meta["dim"], meta["scale"]
    sub_d = dim // m_subs
    new_q = df_new.select(
        F.col(id_col).alias("id"), _pq_quant(F.col(vec_col), scale).alias("qv")
    )
    new_res = _pq_assign(new_q, coarse, "id", 1)
    new_sub = _pq_subspaces(new_res, "id", m_subs, sub_d)
    enc = new_sub.join(F.broadcast(codebook), "m").select(
        "id",
        "cell",
        "m",
        F.struct(
            _pq_l2(F.col("sub"), F.col("csub")).alias("d"), F.col("code_id").alias("c")
        ).alias("_dc"),
    )
    codes = (
        enc.groupBy("id", "cell", "m")
        .agg(F.min("_dc").alias("_best"))
        .select("id", "cell", "m", F.col("_best.c").alias("code"))
    )
    codes.write.mode("append").partitionBy("cell").parquet(
        f"{path}/{meta.get('codes_dir') or 'codes'}"
    )


def ivfpq_compact_index(spark, path: str) -> int:
    """Index maintenance — the third lifecycle verb after build/append:
    every ``ivfpq_append_to_index`` drop adds one small file per touched
    cell partition, and a year of daily drops makes each search's
    partition-pruned scan pay O(#appends) file opens. Rewrite ``codes/``
    to ONE file per cell (a cell's codes are M small ints per vector —
    comfortably one file at any realistic cell size), content-identical:
    search results before and after are bit-equal (property-tested).
    Returns the number of cell partitions rewritten.

    Version-dir + pointer-swap (the ``ivf_compact_index`` discipline):
    the compacted codes stream into ``codes_v{N+1}/`` with one shuffle
    partitioned by cell (each partition lands as a single file), then
    the meta pointer commits via a crash-atomic ``meta_v{N+1}`` rename
    — a crash anywhere mid-compact leaves the previous commit fully
    readable (data dir AND pointer intact). The superseded directories
    are NOT deleted here: deletion is deferred to the next compact's
    entry GC (or an explicit ``ivfpq_gc_index``), so a reader that
    resolved the old pointer just before the flip finishes its scan.
    Single writer per index path by contract. No read-then-overwrite of
    the same path, so no whole-relation localCheckpoint — compact
    streams at any index size. Coarse and codebooks are immutable after
    build and never touched.
    """
    ivfpq_gc_index(spark, path)
    meta = _read_index_meta(spark, path)
    cur = meta.get("codes_dir") or "codes"
    nxt = _next_version_name(cur, "codes")
    codes = spark.read.parquet(f"{path}/{cur}")
    n_cells = codes.select("cell").distinct().count()
    (
        codes.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/{nxt}")
    )
    _write_index_meta(
        spark,
        path,
        [
            (
                meta.get("num_coarse"),
                meta.get("m_subs"),
                meta.get("dim"),
                meta.get("scale"),
                nxt,
            )
        ],
        "num_coarse int, m_subs int, dim int, scale long, codes_dir string",
    )
    return n_cells


# ------------------------------------------- plain-IVF persisted index
#
# The raw-vector sibling of the IVF-PQ trio: same build-once/search-many
# lifecycle, but the cells store the ORIGINAL embeddings, so search
# returns exact cosine scores over the probed cells (bit-identical to
# ``ivf_cosine_topk`` with the same centroids) instead of ADC estimates.
# This is the shape a repeated-query-batch user actually runs: the
# n·k cell assignment (plus the sampled k-means fit on the auto tier) is
# paid ONCE at build; every search afterwards touches only the broadcast
# centroid table and the nprobe probed cell partitions.


def _index_subdir(spark, path: str, key: str, default: str) -> str:
    """Resolve an index's current data subdirectory via the committed
    meta pointer column (``cells_dir`` / ``codes_dir``). Indexes built
    before the versioned-compaction scheme (or whose meta predates the
    column) resolve to the original fixed name — full backward
    compatibility."""
    v = _read_index_meta(spark, path).get(key)
    if v:
        return f"{path}/{v}"
    return f"{path}/{default}"


def _ivf_cells_dir(spark, path: str) -> str:
    return _index_subdir(spark, path, "cells_dir", "cells")


def _next_version_name(current: str, base: str) -> str:
    """cells → cells_v2 → cells_v3 → … (same for codes)."""
    if current == base:
        return f"{base}_v2"
    return f"{base}_v{int(current.rsplit('_v', 1)[1]) + 1}"


def _hadoop_fs(spark, path_str: str):
    """(FileSystem, Path) through the session's Hadoop conf — works for
    local paths and any object store the session is configured for."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path_str)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _fs_delete(spark, path_str: str) -> None:
    """Recursive delete (no-op when the path does not exist)."""
    fs, hpath = _hadoop_fs(spark, path_str)
    fs.delete(hpath, True)


def _fs_rename(spark, src: str, dst: str) -> bool:
    """Directory rename — the index's atomic commit primitive (atomic on
    local FS and HDFS; object stores without atomic rename need the
    documented single-writer discipline anyway)."""
    fs, hsrc = _hadoop_fs(spark, src)
    jvm = spark._jvm
    return bool(fs.rename(hsrc, jvm.org.apache.hadoop.fs.Path(dst)))


def _fs_list_names(spark, path_str: str) -> "list[str]":
    """Child entry basenames of a directory ([] when it doesn't exist)."""
    fs, hpath = _hadoop_fs(spark, path_str)
    if not fs.exists(hpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(hpath)]


# ------------------------------- crash-atomic index meta (single writer)
#
# The meta pointer is the index's commit record: whichever data
# directory it names IS the index. It must never be overwritten in
# place (Spark's overwrite mode deletes the old directory before the
# new file lands — a crash mid-write would leave the index with no
# readable pointer at all). Instead meta is VERSIONED like the data
# dirs: each commit streams into ``_meta_tmp`` and then renames it to
# ``meta_v{N+1}`` — one atomic directory rename is the commit point.
# Readers resolve the highest committed ``meta_v{N}`` (the legacy
# un-versioned ``meta/`` counts as version 0, so pre-scheme indexes
# keep reading). Superseded meta versions and data directories are NOT
# deleted at commit time — a reader that resolved the old pointer
# before the flip keeps a readable snapshot — but are garbage-collected
# at the START of the next compact (or explicitly via
# ``ivf_gc_index`` / ``ivfpq_gc_index``). The whole scheme assumes a
# SINGLE WRITER per index path and readers that do not span two
# consecutive compactions; concurrent writers are not coordinated.

_META_TMP = "_meta_tmp"


def _latest_meta_dir(spark, path: str) -> "tuple[str | None, int]":
    """(meta subdir name, version) of the highest committed meta; the
    legacy ``meta/`` is version 0; (None, -1) when no meta exists."""
    best, bestv = None, -1
    for nm in _fs_list_names(spark, path):
        if nm == "meta":
            v = 0
        elif nm.startswith("meta_v"):
            try:
                v = int(nm[len("meta_v"):])
            except ValueError:
                continue
        else:
            continue
        if v > bestv:
            best, bestv = nm, v
    return best, bestv


def _read_index_meta(spark, path: str) -> dict:
    """One-row meta of the index at ``path`` as a dict, resolved through
    the highest committed meta version."""
    nm, _ = _latest_meta_dir(spark, path)
    if nm is None:
        raise FileNotFoundError(f"no committed index meta under {path}")
    return spark.read.parquet(f"{path}/{nm}").collect()[0].asDict()


def _write_index_meta(spark, path: str, rows: list, schema: str) -> None:
    """Commit a new meta version crash-atomically: write the one-row
    parquet into ``_meta_tmp`` and rename it to ``meta_v{N+1}``. A crash
    before the rename leaves only a tmp directory (GC'd later); the
    previously committed meta stays the readable pointer throughout."""
    _, cur = _latest_meta_dir(spark, path)
    tmp = f"{path}/{_META_TMP}"
    _fs_delete(spark, tmp)
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(tmp)
    dst = f"{path}/meta_v{max(cur, 0) + 1}"
    if not _fs_rename(spark, tmp, dst):
        raise IOError(
            f"index meta commit failed: rename {tmp} -> {dst} (concurrent "
            "writer? the index lifecycle is single-writer by contract)"
        )


def _gc_index(spark, path: str, base: str) -> "list[str]":
    """Remove everything the current commit does not reference: data
    directories (``{base}``/``{base}_vN``) other than the one the meta
    pointer names, superseded meta versions, and any ``_meta_tmp`` left
    by a crashed commit. Returns the removed entry names. Call only when
    no reader is mid-scan on a pre-flip snapshot (see the single-writer
    note above); compaction calls it on entry, so orphans survive
    exactly one generation by default."""
    key = "cells_dir" if base == "cells" else "codes_dir"
    meta_nm, _ = _latest_meta_dir(spark, path)
    if meta_nm is None:
        return []
    live = _read_index_meta(spark, path).get(key) or base
    removed = []
    for nm in _fs_list_names(spark, path):
        stale_data = (
            nm == base or nm.startswith(f"{base}_v")
        ) and nm != live
        stale_meta = nm != meta_nm and (
            nm == "meta" or nm.startswith("meta_v")
        )
        if stale_data or stale_meta or nm == _META_TMP:
            _fs_delete(spark, f"{path}/{nm}")
            removed.append(nm)
    return sorted(removed)


def ivf_gc_index(spark, path: str) -> "list[str]":
    """Reclaim a plain-IVF index's orphan directories (superseded data/
    meta versions, crashed-commit tmp dirs). Safe whenever no reader is
    still scanning a pre-compaction snapshot."""
    return _gc_index(spark, path, "cells")


def ivfpq_gc_index(spark, path: str) -> "list[str]":
    """IVF-PQ twin of ``ivf_gc_index``."""
    return _gc_index(spark, path, "codes")


def ivf_build_index(
    df: DataFrame,
    path: str,
    num_centroids: "int | None" = None,
    kmeans_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: "DataFrame | None" = None,
    target_cell_size: "int | None" = None,
) -> None:
    """Persist a searchable plain-IVF index: ``centroids/`` (the tiny
    cell table) and ``cells/`` (every corpus vector, PARTITIONED by its
    nearest cell), plus a one-row ``meta/``. Default ``num_centroids=
    None`` = the auto-√n trained tier (``_resolve_ivf_centroids``) —
    build is exactly where that one-time n·√n cost belongs; pass an int
    or a ``centroids`` relation to pin the geometry, or
    ``target_cell_size`` to build BALANCED trained cells
    (k = ⌈n / max(target, √n)⌉ — expected cell size pinned under corpus
    growth, the r10 verdict's other skew remedy for consumers like
    ``semdedup_from_index`` whose in-cell work is quadratic; the trained
    clustering can still skew on adversarial data, so those consumers
    keep their exact hot-cell guard for the residual).

    ``cells/`` partitioning makes a search's nprobe pruning FILE-level
    partition pruning: only the probed cells' parquet files are ever
    opened, so per-query scan cost is nprobe·(n/cells) rows no matter
    how big the corpus grows.

    Build means a FRESH index: any previous index at ``path`` —
    including versioned ``cells_vN`` directories and meta versions a
    compacted predecessor left behind — is replaced, so a rebuild never
    strands stale full copies of the corpus on disk. Failure contract:
    the centroid resolution (the eager count / trained fit — where bad
    inputs surface) is MATERIALIZED before anything on disk is touched,
    so a compute-phase failure leaves the previous index fully
    readable; a crash during the write phase leaves a partial index
    (rebuild to recover) — build is the one non-crash-atomic verb, the
    maintained path is append/compact.
    """
    spark = df.sparkSession
    cents = _resolve_ivf_centroids(
        df, num_centroids, centroids, kmeans_iters, id_col, vec_col,
        target_cell_size,
    ).localCheckpoint(eager=True)  # k rows; forces compute pre-delete
    _fs_delete(spark, path)
    ucent = cents.select(
        "centroid_id", unit_expr(F.col("centroid_vec")).alias("_ucv")
    )
    assigned = _ivf_nearest(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
        ucent,
        "id",
        "vec",
        "bucket",
        1,
    )
    # the centroid table is k ≈ √n rows — one file, so every search's
    # broadcast load is one open instead of one per shuffle partition
    cents.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    assigned.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{path}/cells"
    )
    n_cells = cents.count()
    _write_index_meta(
        spark, path, [(n_cells, "cells")], "num_cells int, cells_dir string"
    )


def ivf_search_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a persisted plain-IVF index (``ivf_build_index``): assign
    each query to its ``nprobe`` nearest cells against the broadcast
    centroid table, then score exact cosine over ONLY those cells'
    vectors — bit-identical to ``ivf_cosine_topk`` with the same
    centroids, without re-running the corpus assignment.

    The probed cell ids are collected to the driver first (bounded:
    ≤ nprobe·|queries| ints — the query batch is small by construction)
    and applied as a STATIC ``isin`` filter, so Spark prunes the
    un-probed ``bucket=`` partitions at file-listing time instead of
    scanning the whole cells table into a runtime join.
    """
    cents = spark.read.parquet(f"{path}/centroids")
    ucent = cents.select(
        "centroid_id", unit_expr(F.col("centroid_vec")).alias("_ucv")
    )
    query_probes = _ivf_nearest(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ),
        ucent,
        "query_id",
        "q_vec",
        "bucket",
        nprobe,
    ).localCheckpoint(eager=True)
    buckets = [r[0] for r in query_probes.select("bucket").distinct().collect()]
    cells = spark.read.parquet(_ivf_cells_dir(spark, path)).where(
        F.col("bucket").isin(buckets)
    )
    candidates = cells.join(F.broadcast(query_probes), on="bucket").where(
        F.col("id") != F.col("query_id")
    )
    scored = candidates.select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        F.round(cosine_expr(F.col("q_vec"), F.col("vec")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "cos_sim",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def ivf_append_to_index(
    df_new: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental maintenance for the plain-IVF index: assign ONLY the
    new vectors against the index's frozen centroid table and append
    them into their cell partitions. Cost ∝ increment, never ∝ index
    size. With the geometry frozen, build(base) + append(increment) is
    bit-identical to build(base ∪ increment) whenever the build's
    deterministic centroid choice would pick the same rows (e.g. the
    lowest-id fallback with all increment ids higher) — property-tested,
    the same contract as ``ivfpq_append_to_index``."""
    spark = df_new.sparkSession
    cents = spark.read.parquet(f"{path}/centroids")
    ucent = cents.select(
        "centroid_id", unit_expr(F.col("centroid_vec")).alias("_ucv")
    )
    assigned = _ivf_nearest(
        df_new.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
        ucent,
        "id",
        "vec",
        "bucket",
        1,
    )
    assigned.write.mode("append").partitionBy("bucket").parquet(
        _ivf_cells_dir(spark, path)
    )


def ivf_compact_index(spark, path: str) -> int:
    """Rewrite the cell table to one file per cell partition after a run
    of appends — content-identical (search results bit-equal before and
    after), same discipline as ``ivfpq_compact_index``. Returns the
    number of cell partitions rewritten.

    Version-dir + pointer-swap: the compacted table streams into a NEW
    ``cells_v{N+1}/`` directory, then the meta pointer commits via a
    crash-atomic ``meta_v{N+1}`` rename — never read-then-overwrite of
    the same path, so the corpus is never cached/checkpointed
    executor-side (at 100 TB "compact" must stream, not buffer). A
    crash anywhere mid-compact leaves the previous commit fully
    readable (data dir AND pointer intact); the superseded directories
    are deleted by the NEXT compact's entry GC (or an explicit
    ``ivf_gc_index``), so a reader that resolved the old pointer just
    before the flip finishes its scan. Single writer per index path by
    contract."""
    ivf_gc_index(spark, path)
    meta = _read_index_meta(spark, path)
    cur = meta.get("cells_dir") or "cells"
    nxt = _next_version_name(cur, "cells")
    cells = spark.read.parquet(f"{path}/{cur}")
    n_cells = cells.select("bucket").distinct().count()
    (
        cells.repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{path}/{nxt}")
    )
    _write_index_meta(
        spark,
        path,
        [(meta.get("num_cells"), nxt)],
        "num_cells int, cells_dir string",
    )
    return n_cells


def rrf_fuse(
    rankings: "list[DataFrame]",
    key_col: str = "query_id",
    item_col: str = "neighbor_id",
    rank_col: str = "rank",
    k: int = 60,
    topk: int = 10,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Büttcher 2009; public
    method) — merge per-query rankings from heterogeneous retrievers
    (exact cosine, IVF, LSH, lexical BM25, …) without score calibration:

        rrf_micro(item) = Σ_lists 1_000_000 div (k + rank_in_list)

    Integer micro-units with floor division (the fixed-point discipline
    of the attribution/graph families), so fused scores are bit-identical
    on any engine; k=60 is the paper's constant. Ties break on item id.

    Output per (key, item): ``(key, item, rrf_micro, n_lists, fused_rank)``
    limited to ``topk``.

    Scale shape: one union of the (already small) per-retriever top-k
    tables, one hash aggregate on (key, item), one window per key over
    ≤ Σ topk_i candidate rows — bounded per query by construction. The
    retrievers themselves are the data-sized work; fusion never touches
    the corpus.
    """
    from pyspark.sql import Window as _W

    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    u = None
    for r in rankings:
        cur = r.select(
            F.col(key_col).alias("_k"),
            F.col(item_col).alias("_i"),
            F.expr(f"1000000 div ({int(k)} + {rank_col})").alias("_s"),
        )
        u = cur if u is None else u.unionByName(cur)
    fused = u.groupBy("_k", "_i").agg(
        F.sum("_s").cast("long").alias("rrf_micro"),
        F.count(F.lit(1)).cast("long").alias("n_lists"),
    )
    w = _W.partitionBy("_k").orderBy(
        F.col("rrf_micro").desc(), F.col("_i").asc()
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w).cast("long"))
        .where(F.col("fused_rank") <= topk)
        .select(
            F.col("_k").alias(key_col),
            F.col("_i").alias(item_col),
            "rrf_micro",
            "n_lists",
            "fused_rank",
        )
        .orderBy(key_col, "fused_rank")
    )

def topk_recall(
    exact_topk: DataFrame,
    approx_topk: DataFrame,
    key_col: str = "query_id",
    item_col: str = "neighbor_id",
) -> DataFrame:
    """Recall@k audit of an approximate retriever against the exact one —
    the acceptance test every ANN index (IVF, IVF-PQ, LSH) must pass
    before it replaces brute force in a production pipeline: per query,
    what fraction of the TRUE top-k did the index return?

        recall_ppm = 1e6 · |exact ∩ approx| div |exact|

    Takes the two top-k TABLES (the retrievers do the data-sized work;
    this audit never touches the corpus). Queries where the index
    returned nothing still appear (n_hits = 0) — a silent-miss row is
    the whole point of the audit. Integer ppm floor division.

    Scale shape: one equi-join of two ≤ (n_queries·k)-row tables on
    (key, item) — broadcast-eligible whenever one side is an audit
    sample — plus two hash aggregates on the query key.
    """
    e = exact_topk.select(
        F.col(key_col).alias("_k"), F.col(item_col).alias("_i")
    )
    a = approx_topk.select(
        F.col(key_col).alias("_ak"), F.col(item_col).alias("_ai")
    )
    hits = (
        e.join(
            a,
            (F.col("_k") == F.col("_ak")) & (F.col("_i") == F.col("_ai")),
            "left_semi",
        )
        .groupBy("_k")
        .agg(F.count(F.lit(1)).cast("long").alias("_h"))
    )
    base = e.groupBy("_k").agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    return (
        base.join(hits, "_k", "left")
        .select(
            F.col("_k").alias(key_col),
            "n_exact",
            F.coalesce(F.col("_h"), F.lit(0)).alias("n_hits"),
            F.expr("1000000 * coalesce(_h, 0) div n_exact").alias("recall_ppm"),
        )
        .orderBy(key_col)
    )

def embedding_quality_audit(
    df: DataFrame,
    vec_col: str = "embedding",
    group_col: str = "label",
    scale: int = 1_000_000,
) -> DataFrame:
    """Embedding-table health audit — the check a similarity/ANN pipeline
    runs before trusting a new encoder drop: per group, vector counts,
    dimension consistency (a mixed-dim group means a broken writer),
    zero/NULL vectors (failed encodes that silently poison cosine math),
    and the squared-norm distribution (collapsed or exploding norms are
    the classic symptom of a bad checkpoint).

    Components quantize to round(x·scale) bigint and the squared norm
    accumulates in decimal(38,0) — exact integer statistics, so the
    audit reproduces bit-for-bit on any engine (the IVF-PQ discipline).
    Output per group: ``n_vecs, n_null_vecs, n_zero_vecs,
    n_distinct_dims, min_dim, max_dim, min_norm2, max_norm2,
    mean_norm2`` (micro²-units).

    Scale shape: ONE scan folding each vector to (dim, norm²) + one hash
    aggregate on the group key. Nothing is ever collected; no window.
    """
    q = F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double") * scale).cast("bigint")
    )
    norm2 = F.aggregate(
        q,
        F.lit(0).cast(_D38),
        lambda acc, x: acc + (x * x).cast(_D38),
    )
    per = df.select(
        F.col(group_col).alias("grp"),
        F.when(F.col(vec_col).isNull(), None).otherwise(norm2).alias("_n2"),
        F.size(F.col(vec_col)).alias("_dim"),  # -1 for NULL vectors
    )
    return (
        per.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum(F.col("_n2").isNull().cast("int")).cast("long").alias(
                "n_null_vecs"
            ),
            F.sum((F.col("_n2") == 0).cast("int")).cast("long").alias(
                "n_zero_vecs"
            ),
            F.count_distinct(F.when(F.col("_dim") >= 0, F.col("_dim")))
            .cast("long")
            .alias("n_distinct_dims"),
            F.min(F.when(F.col("_dim") >= 0, F.col("_dim"))).cast("long").alias(
                "min_dim"
            ),
            F.max(F.when(F.col("_dim") >= 0, F.col("_dim"))).cast("long").alias(
                "max_dim"
            ),
            F.min("_n2").cast("long").alias("min_norm2"),
            F.max("_n2").cast("long").alias("max_norm2"),
            F.expr("CAST(sum(_n2) div count(_n2) AS BIGINT)").alias("mean_norm2"),
        )
        .select(F.col("grp").alias(group_col), "*")
        .drop("grp")
        .orderBy(group_col)
    )
