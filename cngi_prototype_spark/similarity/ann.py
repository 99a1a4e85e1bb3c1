"""Approximate-nearest-neighbor search over an embedding column
(array<float>).

Cosine is computed with a left-fold over zip_with products — sequential
accumulation, so DuckDB's list_reduce over the same doubles produces the
identical IEEE result and the oracle gate hash-matches without rounding.
Floats are cast to double BEFORE any arithmetic (exact cast) to avoid
single-precision engine differences.

Scale design (100 TB embeddings):
- brute_force_topk: query side must be small (it's broadcast); the
  corpus scan is embarrassingly parallel; per-query top-k via window
  rank after a groupBy-free pass. This is the exact baseline.
- lsh_topk: random-hyperplane signatures (signs of dot products with
  deterministic md5-derived planes) bucket the corpus; candidates come
  from matching buckets with multi-probe fallback, then exact re-rank.
  Shuffle volume ~ bucket collisions, not |corpus| x |queries|.
- The IVF upgrade (k-means coarse quantizer) is the same plan shape:
  assign -> bucket-join -> re-rank; centroid training is a separate job.
"""

from __future__ import annotations

import functools
import hashlib
import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cngi_prototype_spark.functions.lits import flit_arr, flit_arr2d


def _dvec(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


SQL_DVEC = "list_transform({v}, x -> CAST(x AS DOUBLE))"
SQL_DOT = "list_reduce(list_zip({a}, {b}), (acc, p) -> acc + p[1] * p[2])"


def sql_cosine(a: str, b: str) -> str:
    """DuckDB twin. list_reduce folds left over the zipped products —
    but DuckDB's list_zip yields structs; use list_transform pairing via
    index instead for exact product order."""
    prod = f"list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i])"
    dot = f"list_reduce({prod}, (acc, x) -> acc + x)"
    na = f"sqrt(list_reduce(list_transform({a}, x -> x * x), (acc, x) -> acc + x))"
    nb = f"sqrt(list_reduce(list_transform({b}, x -> x * x), (acc, x) -> acc + x))"
    return f"({dot}) / (({na}) * ({nb}))"


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query vector (the ANN baseline).

    Output: (query_id, neighbor_id, cos_sim, rank), rank 1..k, ties
    broken by neighbor id. The query side is broadcast — callers keep it
    small; the corpus side streams.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _dvec(F.col(vec_col)).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _dvec(F.col(vec_col)).alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def sql_brute_force_topk(k: int = 5, query_pred: str = "vec_id < 10") -> str:
    cos = sql_cosine("q.qv", "c.cv")
    return f"""
    WITH q AS (SELECT vec_id AS query_id, {SQL_DVEC.format(v='embedding')} AS qv
               FROM embeddings WHERE {query_pred}),
    c AS (SELECT vec_id AS neighbor_id, {SQL_DVEC.format(v='embedding')} AS cv
          FROM embeddings),
    scored AS (
      SELECT q.query_id, c.neighbor_id, {cos} AS cos_sim
      FROM c CROSS JOIN q WHERE c.neighbor_id <> q.query_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {k}
    """


def _unit(col: Column) -> Column:
    # normalize ONCE per vector with the sequential fold (bit-matches the
    # DuckDB twin); downstream cosine is then a plain dot product
    n = _norm(col)
    return F.transform(col, lambda x: x / n)


def cosine_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int = 512,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine >= threshold, exact.

    Scale shape (the all-pairs-similarity standard): vectors are
    unit-normalized once, packed into blocks of ``block_size``, block
    pairs cross-joined (upper triangle), and each block pair runs ONE
    BLAS matmul inside applyInPandas — O(n²·d) flops at memory-bandwidth
    speed instead of per-pair interpreted array folds, and shuffle
    volume O((n/B)²·B·d) = O(n²·d/B) bytes controlled by B. Output
    cos_sim is rounded to 1e-6 (BLAS pairwise summation vs sequential
    fold differ at ~1e-15; both engines round identically).
    """
    import pandas as pd

    n = corpus.count()  # one metadata-light job; sizes the block count so
    # sparse/non-contiguous ids still hash onto DENSE, even blocks
    n_blocks = max(1, -(-n // block_size))
    unit = (corpus.select(F.col(id_col).alias("vid"),
                          _unit(_dvec(F.col(vec_col))).alias("uv"))
            .withColumn("blk", F.pmod(F.xxhash64(F.col("vid")), F.lit(n_blocks))))
    # pack each block as ONE flat array (Arrow moves flat doubles an
    # order of magnitude faster than nested list<list<double>>); ids and
    # vectors stay aligned via the same sort inside collect
    packed = (unit.select("blk", F.struct("vid", "uv").alias("s"))
              .groupBy("blk")
              .agg(F.array_sort(F.collect_list("s")).alias("ss"))
              .select("blk",
                      F.transform("ss", lambda s: s["vid"]).alias("ids"),
                      F.flatten(F.transform("ss", lambda s: s["uv"])).alias("flat")))
    pa = packed.select(F.col("blk").alias("blk_a"), F.col("ids").alias("ids_a"),
                       F.col("flat").alias("vecs_a"))
    pb = packed.select(F.col("blk").alias("blk_b"), F.col("ids").alias("ids_b"),
                       F.col("flat").alias("vecs_b"))
    pairs = pa.join(pb, pa["blk_a"] <= pb["blk_b"], "inner") \
        .select("blk_a", "blk_b", "ids_a", "ids_b", "vecs_a", "vecs_b")

    import pyspark.sql.types as T

    out_schema = T.StructType([
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("cos_sim", T.DoubleType()),
    ])
    thr = float(threshold)

    def block_pair(pdf: pd.DataFrame):
        import numpy as np

        frames = []
        for r in pdf.itertuples():
            ids_a = np.asarray(r.ids_a, dtype=np.int64)
            ids_b = np.asarray(r.ids_b, dtype=np.int64)
            ma = np.asarray(r.vecs_a, dtype=np.float64).reshape(len(ids_a), -1)
            mb = np.asarray(r.vecs_b, dtype=np.float64).reshape(len(ids_b), -1)
            sims = np.round(ma @ mb.T, 6)  # round BEFORE thresholding,
            # exactly like the SQL twin's ROUND(...) >= thr
            if r.blk_a == r.blk_b:
                # diagonal block pair: the id filter alone dedups
                ii, jj = np.nonzero((sims >= thr)
                                    & (ids_a[:, None] < ids_b[None, :]))
                lo, hi = ids_a[ii], ids_b[jj]
            else:
                # off-diagonal: blocks are HASH-assigned, so id order is
                # independent of block order — every pair appears in
                # exactly one (blk_a < blk_b) join row; keep them all
                # and normalize the id order in the output
                ii, jj = np.nonzero(sims >= thr)
                lo = np.minimum(ids_a[ii], ids_b[jj])
                hi = np.maximum(ids_a[ii], ids_b[jj])
            if len(ii):
                frames.append(pd.DataFrame({
                    "id_a": lo, "id_b": hi, "cos_sim": sims[ii, jj]}))
        return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(
            {"id_a": pd.Series(dtype="int64"), "id_b": pd.Series(dtype="int64"),
             "cos_sim": pd.Series(dtype="float64")})

    return pairs.mapInPandas(lambda it: (block_pair(pdf) for pdf in it), out_schema)


def sql_cosine_pairs(threshold: float = 0.9) -> str:
    unit = ("list_transform({v}, x -> x / sqrt(list_reduce("
            "list_transform({v}, y -> y * y), (acc, y) -> acc + y)))")
    ua = unit.format(v=SQL_DVEC.format(v='embedding'))
    dot = "list_reduce(list_transform(range(1, len(a.va) + 1), i -> a.va[i] * b.vb[i]), (acc, x) -> acc + x)"
    return f"""
    WITH a AS (SELECT vec_id AS id_a, {ua} AS va FROM embeddings),
    b AS (SELECT vec_id AS id_b, {ua.replace('embedding', 'embedding')} AS vb
          FROM embeddings)
    SELECT id_a, id_b, ROUND({dot}, 6) AS cos_sim
    FROM a JOIN b ON a.id_a < b.id_b
    WHERE ROUND({dot}, 6) >= {threshold}
    """


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 4096,
    iters: int = 10,
) -> list[list[float]]:
    """Driver-side spherical k-means for the IVF coarse quantizer.

    Training is a separate small job (the standard IVF shape): a
    deterministic sample (first ``sample`` vectors in id order) collects
    to the driver, k-means runs in numpy (init = evenly spaced sampled
    vectors, assignment by max dot on unit vectors, fixed ``iters``),
    and the centroids return as plain lists ready to broadcast into
    :func:`ivf_topk` — and, being deterministic, into its SQL twin."""
    import numpy as np

    rows = (corpus.select(id_col, vec_col).orderBy(id_col)
            .limit(int(sample)).collect())
    v = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
    return _kmeans_unit_matrix(v, int(n_centroids), int(iters))


def _kmeans_unit_matrix(v, n_centroids: int, iters: int
                        ) -> list[list[float]]:
    """Shared numpy Lloyd core of :func:`train_ivf_centroids` and
    :func:`train_ivf_centroids_arrow` — one implementation so the Spark
    sample path and the parquet fixture path are bit-identical on the
    same sample matrix."""
    import numpy as np

    # an all-zero embedding would 0/0 -> NaN here and poison every
    # centroid through the mean updates; treat it as unit-norm instead
    # (it contributes a zero vector, matching its zero dot products)
    norms = np.linalg.norm(v, axis=1, keepdims=True)
    v = v / np.where(norms == 0.0, 1.0, norms)
    k = min(int(n_centroids), len(v))
    c = v[np.linspace(0, len(v) - 1, k).astype(int)].copy()
    for _ in range(int(iters)):
        assign = np.argmax(v @ c.T, axis=1)
        for j in range(k):
            m = assign == j
            if m.any():
                nc = v[m].mean(axis=0)
                n = np.linalg.norm(nc)
                if n > 0:
                    c[j] = nc / n
    return [list(map(float, row)) for row in c]


def train_ivf_centroids_arrow(
    parquet_path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 4096,
    iters: int = 10,
) -> list[list[float]]:
    """Spark-free twin of :func:`train_ivf_centroids`: read the sample
    straight from parquet with pyarrow and run the SAME numpy Lloyd
    core. Because both trainers share `_kmeans_unit_matrix` and the
    sample is the same deterministic id-ordered prefix, the centroids
    are bit-identical — which lets a static DuckDB oracle string embed
    *trained* centroids and still hash-match the Spark pipeline
    (queries.py 'semtrained' part), and lets tooling train quantizers
    without a session."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=[id_col, vec_col])
    t = t.sort_by(id_col).slice(0, int(sample))
    col = t.column(vec_col).combine_chunks()
    v = np.asarray(col.to_pylist(), dtype=np.float64)
    if v.size == 0:
        raise ValueError(
            f"train_ivf_centroids_arrow: no vectors in {parquet_path}")
    return _kmeans_unit_matrix(v, int(n_centroids), int(iters))


def _argmax_dot(vec: Column, centroids: list[list[float]]) -> Column:
    """0-based index of the max-dot centroid, first-max tie-break:
    ``array_position(dots, array_max(dots))`` — linear expression size
    and the identical first-match semantics as the DuckDB twin's
    ``list_position(l, list_max(l))``."""
    def dot(i: int) -> Column:
        lit = flit_arr(centroids[i])
        return F.aggregate(F.zip_with(vec, lit, lambda x, y: x * y),
                           F.lit(0.0), lambda acc, x: acc + x)

    dots = F.array(*[dot(i) for i in range(len(centroids))])
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


# Above this many centroids, assignment switches from unrolled Catalyst
# expressions to a broadcast numpy matmul: one fold expression PER
# CENTROID builds a multi-MB plan tree at production k (4k-65k), falls
# out of whole-stage codegen, and slows every task's interpreter — the
# classic literal-explosion cliff. 64 keeps every oracle-twinned path
# (k <= 8 in the gates) on the exactly-mirrored expression route.
ASSIGN_CODEGEN_MAX_K = 64


def assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str,
    out_col: str = "cell",
    max_codegen_k: int = ASSIGN_CODEGEN_MAX_K,
) -> DataFrame:
    """Append the argmax-dot centroid index for every row.

    k <= ``max_codegen_k``: the `_argmax_dot` expression (JVM-side,
    bit-mirrored by the DuckDB twins). Larger k: Arrow-batched
    mapInPandas — the k x d centroid matrix ships ONCE per executor as
    a Spark broadcast (not per-task closure bytes), each batch runs one
    BLAS matmul, and the plan stays O(1) in k. ``np.argmax`` first-max
    tie-break matches ``array_position(dots, array_max(dots))``.
    """
    if len(centroids) <= max_codegen_k:
        return df.withColumn(out_col,
                             _argmax_dot(F.col(vec_col), centroids))
    import numpy as np
    import pyspark.sql.types as T

    C = np.asarray(centroids, dtype=np.float64)
    bc = df.sparkSession.sparkContext.broadcast(C)
    schema = T.StructType(df.schema.fields
                          + [T.StructField(out_col, T.IntegerType())])

    def batches(it):
        Ct = bc.value.T
        for pdf in it:
            if len(pdf):
                X = np.asarray(pdf[vec_col].tolist(), np.float64)
                cell = np.argmax(X @ Ct, axis=1).astype(np.int32)
            else:
                cell = np.array([], np.int32)
            out = pdf.copy()
            out[out_col] = cell
            yield out

    return df.mapInPandas(batches, schema)


def probe_cells(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str,
    nprobe: int,
    id_cols: list[str],
    out_col: str = "cell",
    max_codegen_k: int = ASSIGN_CODEGEN_MAX_K,
) -> DataFrame:
    """Explode each row into its ``nprobe`` nearest-centroid cells
    (dot desc, cell asc — the IVF multi-probe order); ``id_cols``
    identify a row (the per-row top-nprobe window key). Same two-tier
    design as :func:`assign_cells`: expression route at gate-scale k,
    broadcast-matmul top-nprobe per Arrow batch at production k (the
    partial sort is ``np.argpartition`` then an exact sort of nprobe
    entries, so per-row cost is O(k + nprobe log nprobe))."""
    if len(centroids) <= max_codegen_k:
        def qdot(i: int) -> Column:
            lit = flit_arr(centroids[i])
            return F.aggregate(
                F.zip_with(F.col(vec_col), lit, lambda x, y: x * y),
                F.lit(0.0), lambda acc, x: acc + x)

        probes = df.select(
            "*",
            F.posexplode(F.array(*[qdot(i)
                                   for i in range(len(centroids))]))
            .alias("_cell", "_cdot"))
        wp = Window.partitionBy(*id_cols).orderBy(
            F.col("_cdot").desc(), F.col("_cell"))
        return (probes.withColumn("_prk", F.row_number().over(wp))
                .filter(F.col("_prk") <= nprobe)
                .select(*df.columns,
                        F.col("_cell").alias(out_col)))
    import numpy as np
    import pyspark.sql.types as T

    C = np.asarray(centroids, dtype=np.float64)
    np_ = min(int(nprobe), len(centroids))
    bc = df.sparkSession.sparkContext.broadcast(C)
    schema = T.StructType(df.schema.fields
                          + [T.StructField(out_col, T.IntegerType())])

    def batches(it):
        import pandas as pd
        Ct = bc.value.T
        k = Ct.shape[1]
        for pdf in it:
            if not len(pdf):
                out = pdf.copy()
                out[out_col] = np.array([], np.int32)
                yield out
                continue
            X = np.asarray(pdf[vec_col].tolist(), np.float64)
            dots = X @ Ct
            if np_ < k:
                part = np.argpartition(-dots, np_ - 1, axis=1)[:, :np_]
            else:
                part = np.broadcast_to(np.arange(k), dots.shape).copy()
            pd_dots = np.take_along_axis(dots, part, axis=1)
            # exact (dot desc, cell asc) order inside the nprobe set:
            # lexsort's last key dominates
            order = np.lexsort((part, -pd_dots), axis=1)
            cells = np.take_along_axis(part, order, axis=1)
            idx = np.repeat(np.arange(len(pdf)), np_)
            out = pdf.iloc[idx].reset_index(drop=True)
            out[out_col] = cells.reshape(-1).astype(np.int32)
            yield out

    return df.mapInPandas(batches, schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: corpus vectors assign to their nearest coarse centroid
    (one inverted list per centroid); each query probes its ``nprobe``
    nearest lists and exact cosine re-ranks the candidates.

    Scale shape: assignment is a projection (centroids broadcast with
    the plan); the candidate join shuffles on the centroid id, so work
    is Σ_probes |list| instead of |corpus| × |queries|. Centroids come
    from :func:`train_ivf_centroids` (or any external trainer)."""
    c = ivf_cells(corpus, centroids, id_col=id_col, vec_col=vec_col)
    return ivf_topk_assigned(c, queries, centroids, k=k, nprobe=nprobe,
                             id_col=id_col, vec_col=vec_col)


def ivf_cells(
    corpus: DataFrame,
    centroids: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The IVF inverted-list rows ``(cell, neighbor_id, cv)`` — a pure
    projection (centroids broadcast in the plan). Shared by the
    in-plan :func:`ivf_topk` and the persistent index maintained by
    ``streaming.stream_ops.stream_ivf_cells``."""
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      _dvec(F.col(vec_col)).alias("cv"))
    return assign_cells(c, centroids, vec_col="cv")


def ivf_topk_assigned(
    c: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    *,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe + exact re-rank over an already-assigned inverted-list
    table (the tail of :func:`ivf_topk`, shared with the streaming
    store query path)."""
    q = queries.select(F.col(id_col).alias("query_id"),
                       _dvec(F.col(vec_col)).alias("qv"))
    # one scan: all centroid dots at once, top-nprobe per query — the
    # expression route at gate-scale k, broadcast-matmul above it
    probes = probe_cells(q, centroids, vec_col="qv", nprobe=nprobe,
                         id_cols=["query_id"]).select(
        "query_id", "qv", "cell")
    cand = (c.join(F.broadcast(probes), "cell")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("cos_sim", cosine(F.col("qv"), F.col("cv"))))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos_sim", "rank"))


def ivf_topk_from_store(
    spark,
    cells_path: str,
    queries: DataFrame,
    centroids: list[list[float]],
    **kwargs,
) -> DataFrame:
    """Query the persistent inverted-list store maintained by
    ``streaming.stream_ops.stream_ivf_cells`` — drops the store's
    ``_batch`` epoch column and any full-expiry sentinel row, then
    runs the exact batch probe/re-rank plan (equal-to-batch
    property-tested over arrival orders)."""
    c = spark.read.parquet(cells_path)
    c = c.filter(F.col("neighbor_id").isNotNull())
    if "_batch" in c.columns:
        c = c.drop("_batch")
    return ivf_topk_assigned(c, queries, centroids, **kwargs)


def sql_ivf_topk(centroids: list[list[float]], k: int = 5, nprobe: int = 4,
                 query_pred: str = "vec_id < 10") -> str:
    """DuckDB twin of :func:`ivf_topk` for a fixed centroid list: the
    same dot folds, the same first-max CASE chain, the same probe
    ranking and re-rank."""
    def lit(xs: list[float]) -> str:
        return "[" + ", ".join(f"{x:.17e}" for x in xs) + "]"

    def dot(v: str, i: int) -> str:
        return (f"list_reduce(list_transform(range(1, len({v}) + 1),"
                f" i -> {v}[i] * ({lit(centroids[i])})[i]), (acc, x) -> acc + x)")

    # first-max argmax, list form (matches _argmax_dot)
    dots_list = "[" + ", ".join(dot("cv", i) for i in range(len(centroids))) + "]"
    assign = (f"CAST(list_position({dots_list}, list_max({dots_list})) - 1"
              " AS INT)")

    probe_branches = "\n      UNION ALL ".join(
        f"SELECT query_id, qv, {i} AS cell, {dot('qv', i)} AS cdot FROM q"
        for i in range(len(centroids)))
    cos = sql_cosine("q2.qv", "c.cv")
    return f"""
    WITH c AS (SELECT vec_id AS neighbor_id,
                      {SQL_DVEC.format(v='embedding')} AS cv
               FROM embeddings),
    ca AS (SELECT neighbor_id, cv, {assign} AS cell FROM c),
    q AS (SELECT vec_id AS query_id, {SQL_DVEC.format(v='embedding')} AS qv
          FROM embeddings WHERE {query_pred}),
    probes AS (
      {probe_branches}
    ),
    pr AS (
      SELECT query_id, qv, cell,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cdot DESC, cell) AS prk
      FROM probes
    ),
    cand AS (
      SELECT q2.query_id, c.neighbor_id, {cos} AS cos_sim
      FROM ca c JOIN (SELECT * FROM pr WHERE prk <= {nprobe}) q2 USING (cell)
      WHERE c.neighbor_id <> q2.query_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM cand
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {k}
    """


def _estimated_corpus_rows(corpus: DataFrame) -> int:
    """Job-free corpus row estimate for LSH plan decisions (r15; the
    old ``corpus.count()`` cost a full pass over a derived corpus per
    plan build). The 64 B/row divisor deliberately OVER-estimates rows
    (a real embedding row is ~520 B on disk): over-estimation turns
    signature vectorization on, which is value-identical to the fold
    route (parity-tested). Falls back to an exact count only when
    Catalyst stats are unreadable (py4j drift)."""
    from cngi_prototype_spark.plans.inspect import estimated_rows

    est = estimated_rows(corpus, bytes_per_row=64)
    return est if est is not None else corpus.count()


def _lsh_tag(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_bands: int = 4,
    planes_per_band: int = 6,
    seed: int = 42,
    vectorize_above: int = 2048,
    n_rows: int | None = None,
) -> DataFrame:
    """Hyperplane-LSH signature tagging shared by
    :func:`cosine_pairs_lsh` and :func:`cosine_lsh_skipped_vectors`:
    returns ``(vid, uv, band, sig)`` — each vector unit-normalized and
    replicated into ``num_bands`` (band, sig) buckets, ``sig`` the
    bigint of the band's sign bits on either signature route."""
    import pandas as pd

    planes = [[_plane(seed, b * planes_per_band + p, dim)
               for p in range(planes_per_band)] for b in range(num_bands)]

    unit = corpus.select(F.col(id_col).alias("vid"),
                         _unit(_dvec(F.col(vec_col))).alias("uv"))

    def band_sig(b: int) -> Column:
        # plane 0 is the most significant bit: the same bigint as the
        # vectorized route's ``bits @ pow2``, so the route never
        # changes the column's type or values
        bits = [
            F.when(
                F.aggregate(
                    F.zip_with(F.col("uv"),
                               flit_arr(planes[b][p]),
                               lambda x, y: x * y),
                    F.lit(0.0), lambda acc, x: acc + x) >= 0,
                F.lit(1 << (planes_per_band - 1 - p))).otherwise(F.lit(0))
            for p in range(planes_per_band)
        ]
        return functools.reduce(operator.add, bits).cast("long")

    # Two-tier signatures (the assign_cells pattern): the unrolled
    # zip_with folds bit-mirror the DuckDB twin but run interpreted —
    # 24 x 64-dim folds PER ROW dominate the runtime beyond a few
    # thousand vectors. Above ``vectorize_above`` rows the signatures
    # come from ONE broadcast BLAS matmul per Arrow batch (sign of the
    # same dot; a flip would need |dot| within ~1e-15 of zero, and any
    # such pair is still found through its other bands).
    # route choice needs only a size estimate: callers pass n_rows (or
    # their own estimate); the default is the job-free Catalyst
    # estimate — both routes are value-identical (parity-tested), so
    # an estimate can only change the plan, never the rows
    n_corpus = (int(n_rows) if n_rows is not None
                else _estimated_corpus_rows(corpus))
    if n_corpus > vectorize_above:
        import numpy as np
        import pandas as pd
        import pyspark.sql.types as T

        P = np.asarray([planes[b][p] for b in range(num_bands)
                        for p in range(planes_per_band)], np.float64)
        bcp = corpus.sparkSession.sparkContext.broadcast(P)
        pow2 = 2 ** np.arange(planes_per_band)[::-1]
        sig_schema = T.StructType([
            T.StructField("vid", T.LongType()),
            T.StructField("uv", T.ArrayType(T.DoubleType())),
            T.StructField("band", T.IntegerType()),
            T.StructField("sig", T.LongType())])
        raw = corpus.select(F.col(id_col).alias("vid"),
                            _dvec(F.col(vec_col)).alias("v"))

        def sig_batches(it):
            Pt = bcp.value.T
            for pdf in it:
                if not len(pdf):
                    continue
                X = np.asarray(pdf["v"].tolist(), np.float64)
                nrm = np.linalg.norm(X, axis=1, keepdims=True)
                U = X / np.where(nrm == 0.0, 1.0, nrm)
                bits = (U @ Pt) >= 0  # (n, num_bands*planes_per_band)
                sigs = bits.reshape(len(U), num_bands,
                                    planes_per_band) @ pow2
                rows = np.repeat(np.arange(len(U)), num_bands)
                yield pd.DataFrame({
                    "vid": pdf["vid"].to_numpy(np.int64)[rows],
                    "uv": [u for u in U for _ in range(num_bands)],
                    "band": np.tile(
                        np.arange(num_bands, dtype=np.int32), len(U)),
                    "sig": sigs.reshape(-1).astype(np.int64)})

        tagged = raw.mapInPandas(sig_batches, sig_schema)
    else:
        bands = F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), band_sig(b).alias("sig"))
            for b in range(num_bands)
        ])).alias("bs")
        tagged = unit.select("vid", "uv", bands).select(
            "vid", "uv", F.col("bs.band").alias("band"),
            F.col("bs.sig").alias("sig"))
    return tagged


def cosine_pairs_lsh(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_bands: int = 4,
    planes_per_band: int = 6,
    seed: int = 42,
    vectorize_above: int = 2048,
    n_rows: int | None = None,
    max_bucket: int = 100_000,
) -> DataFrame:
    """Near-duplicate pairs at corpus scale: hyperplane-LSH banding
    generates candidates, exact (BLAS) cosine verifies within buckets.

    This is the PRIMARY near-dup path for large corpora — the all-pairs
    :func:`cosine_pairs` is O(n²·d/B) and serves as the exact oracle /
    small-corpus tool. Shape: each vector lands in ``num_bands``
    buckets (band, sig); only same-bucket pairs are scored, so work is
    Σ_buckets |bucket|²·d and shuffle is ``num_bands × corpus`` — no
    block cross-join anywhere in the plan. A pair is emitted once
    (DISTINCT over bands). Recall follows the standard banding curve
    1 − (1 − p^r)^b with p = 1 − θ/π; more bands → higher recall.

    ``max_bucket`` bounds the verify stage: a (band, sig) bucket larger
    than it (a degenerate boilerplate cluster, or many near-zero
    vectors sharing a signature) is SKIPPED rather than scored — both
    its |bucket|²·d task and its |bucket|² output rows are scale-killers
    (the same guardrail as ``minhash_lsh_candidates``'s ``max_bucket``
    and SemDeDup's ``max_cluster``). Skipped vectors were never
    pair-checked; surface them with
    :func:`cosine_lsh_skipped_vectors` (same arguments) so a dedup
    pipeline can distinguish "no near-dup found" from "not examined".
    ``n_rows`` (or, by default, a job-free Catalyst estimate) only
    routes the signature computation (``_lsh_tag``); the cap holds for
    every input.
    """
    import pandas as pd

    tagged = _lsh_tag(corpus, id_col, vec_col, dim, num_bands,
                      planes_per_band, seed, vectorize_above, n_rows)

    # the size gate runs BEFORE collect_list (window count over the
    # same keys the groupBy shuffles on — one exchange, spillable sort,
    # no re-partition): filtering AFTER the agg would still build the
    # over-cap bucket's array in a single reducer task. The window runs
    # for every input — no size estimate can switch the cap off.
    sized = tagged.withColumn(
        "bucket_n", F.count(F.lit(1)).over(Window.partitionBy("band", "sig")))
    packed = (sized.filter((F.col("bucket_n") > 1)
                           & (F.col("bucket_n") <= max_bucket))
              .select("band", "sig", F.struct("vid", "uv").alias("s"))
              .groupBy("band", "sig")
              .agg(F.array_sort(F.collect_list("s")).alias("ss"))
              .select(F.transform("ss", lambda s: s["vid"]).alias("ids"),
                      F.flatten(F.transform("ss", lambda s: s["uv"]))
                      .alias("flat")))

    import pyspark.sql.types as T

    out_schema = T.StructType([
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("cos_sim", T.DoubleType()),
    ])
    thr = float(threshold)

    def bucket_pairs(pdf: pd.DataFrame):
        import numpy as np

        frames = []
        for r in pdf.itertuples():
            ids = np.asarray(r.ids, dtype=np.int64)
            m = np.asarray(r.flat, dtype=np.float64).reshape(len(ids), -1)
            sims = np.round(m @ m.T, 6)  # round BEFORE thresholding,
            # exactly like the SQL twin's ROUND(...) >= thr
            ii, jj = np.nonzero((sims >= thr) & (ids[:, None] < ids[None, :]))
            if len(ii):
                frames.append(pd.DataFrame({
                    "id_a": ids[ii], "id_b": ids[jj], "cos_sim": sims[ii, jj]}))
        return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(
            {"id_a": pd.Series(dtype="int64"), "id_b": pd.Series(dtype="int64"),
             "cos_sim": pd.Series(dtype="float64")})

    pairs = packed.mapInPandas(lambda it: (bucket_pairs(pdf) for pdf in it),
                               out_schema)
    return pairs.distinct()


def cosine_lsh_skipped_vectors(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_bands: int = 4,
    planes_per_band: int = 6,
    seed: int = 42,
    vectorize_above: int = 2048,
    n_rows: int | None = None,
    max_bucket: int = 100_000,
) -> DataFrame:
    """Honesty flag for :func:`cosine_pairs_lsh`'s ``max_bucket``
    guardrail: returns ``(vec_id, band, sig, bucket_n)`` for every
    vector that fell in an over-cap bucket and was therefore NEVER
    pair-checked in that band. Call with the SAME arguments as the
    pairs run; a pipeline left-anti-joins or flags these so "no pair
    emitted" is not silently read as "verified unique" (the SemDeDup
    ``cell_skipped`` convention, see :func:`semantic_dedup`).

    The pairs run applies its cap to every input, so this flags
    exactly the buckets it skipped; ``n_rows`` only routes the
    signature computation, as there."""
    tagged = _lsh_tag(corpus, id_col, vec_col, dim, num_bands,
                      planes_per_band, seed, vectorize_above, n_rows)
    return (tagged
            .withColumn("bucket_n", F.count(F.lit(1)).over(
                Window.partitionBy("band", "sig")))
            .filter(F.col("bucket_n") > max_bucket)
            .select(F.col("vid").alias("vec_id"), "band", "sig", "bucket_n"))


def sql_cosine_pairs_lsh(threshold: float = 0.9, dim: int = 64,
                         num_bands: int = 4, planes_per_band: int = 6,
                         seed: int = 42) -> str:
    """DuckDB twin of :func:`cosine_pairs_lsh`: same deterministic
    planes, band-bucket self-join, unit-vector dot, round-6 before the
    threshold, DISTINCT across bands."""
    unit = ("list_transform({v}, x -> x / sqrt(list_reduce("
            "list_transform({v}, y -> y * y), (acc, y) -> acc + y)))")
    uv = unit.format(v=SQL_DVEC.format(v="embedding"))

    def lit(xs: list[float]) -> str:
        return "[" + ", ".join(f"{x:.17e}" for x in xs) + "]"

    def sig(b: int) -> str:
        bits = []
        for p in range(planes_per_band):
            plane = _plane(seed, b * planes_per_band + p, dim)
            dot = (f"list_reduce(list_transform(range(1, {dim} + 1),"
                   f" i -> uv[i] * ({lit(plane)})[i]), (acc, x) -> acc + x)")
            bits.append(f"CASE WHEN ({dot}) >= 0 THEN '1' ELSE '0' END")
        return " || ".join(bits)

    band_selects = "\n      UNION ALL ".join(
        f"SELECT vid, uv, {b} AS band, {sig(b)} AS sig FROM u"
        for b in range(num_bands))
    dot_ab = ("list_reduce(list_transform(range(1, len(a.uv) + 1),"
              " i -> a.uv[i] * b.uv[i]), (acc, x) -> acc + x)")
    return f"""
    WITH u AS (SELECT vec_id AS vid, {uv} AS uv FROM embeddings),
    tagged AS (
      {band_selects}
    )
    SELECT DISTINCT a.vid AS id_a, b.vid AS id_b,
           ROUND({dot_ab}, 6) AS cos_sim
    FROM tagged a JOIN tagged b
      ON a.band = b.band AND a.sig = b.sig AND a.vid < b.vid
    WHERE ROUND({dot_ab}, 6) >= {threshold}
    """


def _plane(seed: int, plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    md5-derived, so signatures are reproducible across runs/engines."""
    out = []
    for d in range(dim):
        h = hashlib.md5(f"{seed}|{plane}|{d}".encode()).hexdigest()
        out.append(int(h[:12], 16) / float(16**12) * 2.0 - 1.0)
    return out


def sql_lsh_topk(k: int = 5, dim: int = 64, num_planes: int = 8,
                 seed: int = 42, query_pred: str = "vec_id < 10") -> str:
    """DuckDB twin of :func:`lsh_topk`: the hyperplanes are deterministic
    (md5-derived), so they inline as DOUBLE list literals; the signature
    bit is the sign of the same sequential dot-product fold, and the
    re-rank reuses the bit-stable cosine expression."""
    planes = [_plane(seed, p, dim) for p in range(num_planes)]

    def lit(xs: list[float]) -> str:
        # e-notation parses directly as DOUBLE (a bare decimal would go
        # through DECIMAL and lose the last ulp)
        return "[" + ", ".join(f"{x:.17e}" for x in xs) + "]"

    def sig(v: str) -> str:
        bits = []
        for p in range(num_planes):
            dot = (f"list_reduce(list_transform(range(1, {dim} + 1),"
                   f" i -> {v}[i] * ({lit(planes[p])})[i]), (acc, x) -> acc + x)")
            bits.append(f"CASE WHEN ({dot}) >= 0 THEN '1' ELSE '0' END")
        return " || ".join(bits)

    cos = sql_cosine("q.qv", "c.cv")
    return f"""
    WITH c AS (SELECT vec_id AS neighbor_id,
                      {SQL_DVEC.format(v='embedding')} AS cv,
                      {sig(SQL_DVEC.format(v='embedding'))} AS sig
               FROM embeddings),
    q AS (SELECT vec_id AS query_id,
                 {SQL_DVEC.format(v='embedding')} AS qv,
                 {sig(SQL_DVEC.format(v='embedding'))} AS sig
          FROM embeddings WHERE {query_pred}),
    cand AS (
      SELECT q.query_id, c.neighbor_id, {cos} AS cos_sim
      FROM c JOIN q USING (sig) WHERE c.neighbor_id <> q.query_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM cand
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {k}
    """


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    num_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH ANN: bucket by the sign pattern of
    ``num_planes`` dot products, candidate = same bucket, exact cosine
    re-rank within candidates.

    Recall/latency trade: more planes -> smaller buckets -> faster but
    lower recall. The signature computation is a projection; the
    candidate join shuffles only bucket-key collisions.
    """
    planes = [_plane(seed, p, dim) for p in range(num_planes)]

    def signature(v: Column) -> Column:
        bits = [
            F.when(
                F.aggregate(
                    F.zip_with(
                        v,
                        flit_arr(planes[p]),
                        lambda x, y: x * y,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                >= 0,
                "1",
            ).otherwise("0")
            for p in range(num_planes)
        ]
        return F.concat(*bits)

    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      _dvec(F.col(vec_col)).alias("cv")) \
        .withColumn("sig", signature(F.col("cv")))
    q = queries.select(F.col(id_col).alias("query_id"),
                       _dvec(F.col(vec_col)).alias("qv")) \
        .withColumn("sig", signature(F.col("qv")))
    cand = c.join(F.broadcast(q), "sig") \
        .filter(F.col("neighbor_id") != F.col("query_id")) \
        .withColumn("cos_sim", cosine(F.col("qv"), F.col("cv")))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# --- SemDeDup: cluster-then-dedup over embeddings --------------------------


def semantic_dedup(
    corpus: DataFrame,
    centroids: list[list[float]],
    *,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int = 100_000,
    assign_max_codegen_k: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): coarse k-means
    clustering of the embedding space, then within-cluster cosine
    >= ``threshold`` pairs define semantic-duplicate groups; one
    representative survives per group →
    ``(vec_id, cell, canonical_id, is_kept)``.

    ``centroids`` come from :func:`train_ivf_centroids` (or any
    trainer) — the same coarse quantizer IVF uses. Divergence from the
    paper's keep-farthest-from-centroid rule: canonical = MIN id per
    connected component (deterministic, twin-checkable; the kept count
    per group is identical either way).

    Scale shape: assignment is a projection (centroids ride the plan);
    the pair join shuffles on the cluster id so cost is Σ|cluster|² —
    the paper's own cost model, with k sized so n/k is bounded;
    ``max_cluster`` is the hot-cluster guardrail (same role as the LSH
    ``max_bucket``); components run through pointer-jumping
    :func:`~cngi_prototype_spark.dedup.dedup.duplicate_clusters`
    (O(log diameter) sweeps).
    """
    import numpy as np
    import pandas as pd
    import pyspark.sql.types as T

    from cngi_prototype_spark.dedup.dedup import duplicate_clusters

    c = corpus.select(F.col(id_col).alias("vec_id"),
                      _dvec(F.col(vec_col)).alias("v"))
    akw = ({} if assign_max_codegen_k is None
           else {"max_codegen_k": assign_max_codegen_k})
    c = assign_cells(c, centroids, vec_col="v", **akw)
    counted = c.withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy("cell")))
    sized = counted.filter(F.col("_n") <= max_cluster)

    # within-cluster pairs via blocked BLAS per cluster group (the
    # cosine_pairs kernel shape): one |B| x |cluster| matmul per block
    # instead of an interpreted 64-dim fold per pair (measured ~30x on
    # the sf0.1 corpus). Round BEFORE thresholding, exactly like the
    # SQL twin's ROUND(...) >= thr, so BLAS pairwise-summation drift
    # can't flip a boundary pair across engines.
    thr = float(threshold)
    pair_schema = T.StructType([T.StructField("id_a", T.LongType()),
                                T.StructField("id_b", T.LongType())])

    def cell_pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy(np.int64)
        X = np.asarray(pdf["v"].tolist(), np.float64)
        nrm = np.linalg.norm(X, axis=1, keepdims=True)
        X = X / np.where(nrm == 0.0, 1.0, nrm)
        frames = []
        # block BOTH sides: the sims temporary is bounded at B*R*8 B
        # (64 MB) regardless of cluster size — a one-sided block at the
        # max_cluster=100k guardrail would still allocate an ~0.8 GB
        # 1024 x 100k slab per step and spike executor memory
        B, R = 1024, 8192
        for s in range(0, len(ids), B):
            for t in range(0, len(ids), R):
                sims = np.round(X[s:s + B] @ X[t:t + R].T, 6)
                ii, jj = np.nonzero(sims >= thr)
                keep = ids[s + ii] < ids[t + jj]
                if keep.any():
                    frames.append(
                        pd.DataFrame({"id_a": ids[s + ii][keep],
                                      "id_b": ids[t + jj][keep]}))
        return (pd.concat(frames, ignore_index=True) if frames
                else pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                                   "id_b": pd.Series(dtype="int64")}))

    pairs = (sized.select("cell", "vec_id", "v")
             .groupBy("cell").applyInPandas(cell_pairs, pair_schema))
    comp = duplicate_clusters(pairs).withColumnRenamed("doc_id", "vec_id")
    # cell_skipped marks members of guardrail-dropped cells: those
    # vectors were NEVER pair-checked, so their is_kept=True is "not
    # examined", not "verified unique" — silent conflation of the two
    # would defeat the dedup downstream
    return (counted.join(comp, "vec_id", "left")
            .select("vec_id", "cell",
                    F.coalesce("canonical_id", "vec_id").alias("canonical_id"),
                    (F.col("_n") > max_cluster).alias("cell_skipped"))
            .withColumn("is_kept", F.col("vec_id") == F.col("canonical_id")))


def sql_semantic_dedup(centroids: list[list[float]],
                       threshold: float = 0.8) -> str:
    """DuckDB twin for a fixed centroid list: same assignment argmax as
    the IVF twin, same cosine fold, recursive-CTE components."""
    from cngi_prototype_spark.dedup.dedup import sql_duplicate_clusters

    def lit(xs: list[float]) -> str:
        return "[" + ", ".join(f"{x:.17e}" for x in xs) + "]"

    def dot(v: str, i: int) -> str:
        return (f"list_reduce(list_transform(range(1, len({v}) + 1),"
                f" i -> {v}[i] * ({lit(centroids[i])})[i]),"
                f" (acc, x) -> acc + x)")

    dots_list = "[" + ", ".join(dot("v", i)
                                for i in range(len(centroids))) + "]"
    assign = (f"CAST(list_position({dots_list}, list_max({dots_list})) - 1"
              " AS INT)")
    # NULLIF guards the zero-norm vector: its components go NULL, the
    # pair dot goes NULL, and the NULL comparison drops the pair — the
    # same "zero vector pairs with nothing" the Python kernel's
    # where(nrm==0, 1, nrm) produces (a plain /0 here would give NaN,
    # which DuckDB compares GREATER than the threshold: the zero
    # vector would join its whole cell into one component)
    unit = ("list_transform(v, x -> x / NULLIF(sqrt(list_reduce("
            "list_transform(v, y -> y * y), (acc, y) -> acc + y)), 0.0))")
    udot = ("list_reduce(list_transform(range(1, len(a.u) + 1),"
            " i -> a.u[i] * b.u[i]), (acc, x) -> acc + x)")
    comp = sql_duplicate_clusters("SELECT id_a, id_b FROM sempairs")
    return f"""
    WITH semv AS (SELECT vec_id, {SQL_DVEC.format(v='embedding')} AS v
                  FROM embeddings),
    sema AS (SELECT vec_id, v, {unit} AS u, {assign} AS cell FROM semv),
    sempairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sema a JOIN sema b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE ROUND({udot}, 6) >= {threshold}),
    semcomp AS ({comp.strip()})
    SELECT s.vec_id, s.cell,
           COALESCE(c.canonical_id, s.vec_id) AS canonical_id
    FROM sema s LEFT JOIN semcomp c ON c.doc_id = s.vec_id
    """


def train_kmeans_distributed(
    corpus: DataFrame,
    n_centroids: int = 16,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 10,
    init_sample: int = 1024,
) -> list[list[float]]:
    """Spherical k-means with DISTRIBUTED Lloyd sweeps — the 100-TB
    path for centroid training (``train_ivf_centroids`` trains on a
    driver-side sample; at corpus scale the sample may not cover the
    distribution's tails).

    Per sweep: assignment is a broadcast projection (centroids ride the
    plan as literals), the centroid update is one posexplode +
    partial/final ``groupBy(cell, pos)`` aggregation, and only the
    ``k × d`` component sums collect to the driver. The corpus is
    scanned ``iters`` times — callers should persist it. Semantics
    match train_ivf_centroids: unit-normalized vectors (zero vectors
    kept as zeros), assignment by max dot, centroid = normalized mean,
    empty cells keep their previous centroid; init = evenly spaced
    vectors from the first ``init_sample`` ids (deterministic)."""
    import numpy as np

    rows = (corpus.select(id_col, vec_col).orderBy(id_col)
            .limit(int(init_sample)).collect())
    if not rows:
        raise ValueError(
            "train_kmeans_distributed: corpus is empty — no vectors to "
            "initialize centroids from")
    if int(n_centroids) < 1:
        raise ValueError(
            f"train_kmeans_distributed: n_centroids must be >= 1, got "
            f"{n_centroids}")
    v0 = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
    norms = np.linalg.norm(v0, axis=1, keepdims=True)
    v0 = v0 / np.where(norms == 0.0, 1.0, norms)
    k = min(int(n_centroids), len(v0))
    c = v0[np.linspace(0, len(v0) - 1, k).astype(int)].copy()

    dv = _dvec(F.col(vec_col))
    unit = corpus.select(
        F.when(_norm(dv) == 0.0, dv).otherwise(_unit(dv)).alias("v"))
    d = c.shape[1]
    for _ in range(int(iters)):
        cents = [[float(x) for x in row] for row in c]
        a = assign_cells(unit, cents, vec_col="v")
        stats = (a.select("cell", F.posexplode("v").alias("pos", "x"))
                 .groupBy("cell", "pos")
                 .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
                 .collect())
        sums = np.zeros((k, d))
        counts = np.zeros(k)
        for r in stats:
            sums[r["cell"], r["pos"]] = r["s"]
            counts[r["cell"]] = r["n"]
        for j in range(k):
            if counts[j] > 0:
                nc = sums[j] / counts[j]
                n = np.linalg.norm(nc)
                if n > 0:
                    c[j] = nc / n
    return [[float(x) for x in row] for row in c]


def pool_embeddings(
    df: DataFrame,
    *,
    group_col: str = "doc_id",
    vec_col: str = "embedding",
    method: str = "mean",
    precise: bool = False,
) -> DataFrame:
    """Pool many vectors per group into one — chunk/token embeddings →
    document embedding, the standard aggregation between an encoder
    pass and corpus-level similarity ops →
    ``(<group_col>, embedding array<double>, n_pooled)``.

    ``method``: 'mean' (centroid) or 'max' (element-wise max pooling).
    Pure Catalyst: posexplode to (group, pos, x), one partial/final
    groupBy(group, pos) aggregation (shuffle volume = groups x dim, not
    corpus x dim), then the vector re-assembles from the sorted
    per-position rows. ``precise`` routes the mean through the
    DECIMAL-exact accumulator for oracle twins.
    """
    from cngi_prototype_spark.functions import exact

    if method not in ("mean", "max"):
        raise ValueError(f"pool method {method!r} (mean|max)")
    ex = df.select(F.col(group_col).alias("_g"),
                   F.posexplode(_dvec(F.col(vec_col))).alias("_p", "_x"))
    if method == "mean":
        agg = exact.mean(F.col("_x"), precise).alias("_v")
    else:
        agg = F.max("_x").alias("_v")
    per_pos = ex.groupBy("_g", "_p").agg(
        agg, F.count(F.lit(1)).alias("_n"))
    return (per_pos.groupBy("_g")
            .agg(F.array_sort(F.collect_list(F.struct("_p", "_v")))
                 .alias("_s"),
                 F.max("_n").alias("n_pooled"))
            .select(F.col("_g").alias(group_col),
                    F.transform("_s", lambda s: s["_v"])
                    .alias("embedding"),
                    "n_pooled"))


def sql_pool_embeddings(group_expr: str = "vec_id % 50",
                        method: str = "mean",
                        precise: bool = True) -> str:
    """DuckDB twin over the embeddings table: same posexplode →
    per-(group, pos) aggregate → ordered re-assembly."""
    from cngi_prototype_spark.functions.exact import sql_mean

    val = (sql_mean("x") if (method == "mean" and precise)
           else ("AVG(x)" if method == "mean" else "MAX(x)"))
    return f"""
    WITH ex AS (
      SELECT {group_expr} AS g, i - 1 AS p,
             CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS r(i)
    ),
    per_pos AS (
      SELECT g, p, {val} AS v, COUNT(*) AS n
      FROM ex GROUP BY g, p
    )
    SELECT g, list(v ORDER BY p) AS embedding, MAX(n) AS n_pooled
    FROM per_pos GROUP BY g
    """


# ---------------------------------------------------------------------------
# Product quantization (PQ / ADC): the canonical 100 TB ANN memory layout
# (Jegou, Douze & Schmid 2011, "Product Quantization for Nearest Neighbor
# Search", IEEE TPAMI 33(1)). A d-dim float64 vector (512 B at d=64)
# compresses to m sub-quantizer codes (m small ints): the query-time
# corpus scan reads byte-scale codes and sums m table lookups per row
# (asymmetric distance computation) instead of touching the floats —
# vectors never need to be resident at query time. Beyond-reference,
# same tier as the IVF/LSH paths above.
# ---------------------------------------------------------------------------


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 4096,
    iters: int = 10,
) -> list[list[list[float]]]:
    """Driver-side Lloyd per subspace over a deterministic sample (the
    standard PQ trainer shape, mirroring :func:`train_ivf_centroids`):
    the first ``sample`` vectors in id order collect to the driver, each
    of the ``m`` subspaces runs an independent Euclidean k-means
    (init = evenly spaced sampled sub-vectors, fixed ``iters``), and the
    codebooks return as plain nested lists ready to broadcast — and,
    being deterministic, to inline into a SQL twin."""
    import numpy as np

    rows = (corpus.select(id_col, vec_col).orderBy(id_col)
            .limit(int(sample)).collect())
    v = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
    return _pq_kmeans_matrix(v, int(m), int(ksub), int(iters))


def _pq_kmeans_matrix(v, m: int, ksub: int, iters: int
                      ) -> list[list[list[float]]]:
    import numpy as np

    d = v.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    dsub = d // m
    books: list[list[list[float]]] = []
    for j in range(m):
        x = v[:, j * dsub:(j + 1) * dsub]
        k = min(ksub, len(x))
        c = x[np.linspace(0, len(x) - 1, k).astype(int)].copy()
        for _ in range(iters):
            d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for jj in range(k):
                msk = assign == jj
                if msk.any():
                    c[jj] = x[msk].mean(axis=0)
        books.append([list(map(float, row)) for row in c])
    return books


def train_pq_codebooks_arrow(
    parquet_path: str,
    m: int = 4,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 4096,
    iters: int = 10,
) -> list[list[list[float]]]:
    """Spark-free twin of :func:`train_pq_codebooks` (the
    :func:`train_ivf_centroids_arrow` pattern): same deterministic
    id-ordered sample, same `_pq_kmeans_matrix` core — bit-identical
    codebooks, so a static SQL oracle can embed TRAINED codebooks and
    still hash-match the Spark pipeline."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=[id_col, vec_col])
    t = t.sort_by(id_col).slice(0, int(sample))
    v = np.asarray(t.column(vec_col).combine_chunks().to_pylist(),
                   dtype=np.float64)
    if v.size == 0:
        raise ValueError(
            f"train_pq_codebooks_arrow: no vectors in {parquet_path}")
    return _pq_kmeans_matrix(v, int(m), int(ksub), int(iters))


def _pq_sub(vec: Column, j: int, dsub: int) -> Column:
    return F.slice(vec, j * dsub + 1, dsub)


def _cw_norm2(cw: list[float]) -> float:
    # python-float literal embedded IDENTICALLY on both engines (never
    # recomputed by either), so the argmin inputs are bit-equal
    s = 0.0
    for x in cw:
        s += float(x) * float(x)
    return s


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pq_code",
    max_codegen_cells: int = ASSIGN_CODEGEN_MAX_K,
) -> DataFrame:
    """Append the m-entry PQ code array: per subspace, the argmin-
    distance codeword index (first-min tie-break). Distances drop the
    per-row ||x||^2 term (constant within a subspace's argmin):
    ``-2 x.c + ||c||^2`` — the codeword norms are python-float literals
    shared verbatim with the SQL twin.

    Two-tier like :func:`assign_cells`: total codewords (m*ksub) at or
    under ``max_codegen_cells`` stay on unrolled Catalyst expressions
    (bit-mirrored by the twin); production sizes (e.g. 16x256) switch
    to one broadcast numpy distance matmul per Arrow batch, O(1) plan
    size. ``np.argmin`` first-min matches ``array_position(arr,
    array_min(arr))``."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    n_cells = sum(len(b) for b in codebooks)
    if n_cells <= max_codegen_cells:
        vec = _dvec(F.col(vec_col))

        def code(j: int) -> Column:
            sub = _pq_sub(vec, j, dsub)
            dists = F.array(*[
                F.lit(-2.0) * _dot(sub, flit_arr(cw))
                + F.lit(_cw_norm2(cw))
                for cw in codebooks[j]])
            return (F.array_position(dists, F.array_min(dists)) - 1
                    ).cast("int")

        return df.withColumn(out_col, F.array(*[code(j) for j in range(m)]))

    import numpy as np
    import pyspark.sql.types as T

    C = np.asarray(codebooks, dtype=np.float64)      # (m, ksub, dsub)
    cn2 = np.einsum("mkd,mkd->mk", C, C)             # (m, ksub)
    bc = df.sparkSession.sparkContext.broadcast((C, cn2))
    schema = T.StructType(df.schema.fields
                          + [T.StructField(out_col,
                                           T.ArrayType(T.IntegerType()))])

    def batches(it):
        Cb, cn2b = bc.value
        mm, _, dd = Cb.shape
        for pdf in it:
            out = pdf.copy()
            if not len(pdf):
                out[out_col] = []
                yield out
                continue
            X = np.asarray(pdf[vec_col].tolist(), np.float64)
            codes = np.empty((len(pdf), mm), np.int32)
            for j in range(mm):
                S = -2.0 * (X[:, j * dd:(j + 1) * dd] @ Cb[j].T) + cn2b[j]
                codes[:, j] = np.argmin(S, axis=1)
            out[out_col] = list(codes)
            yield out

    return df.mapInPandas(batches, schema)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_codegen_cells: int = ASSIGN_CODEGEN_MAX_K,
) -> DataFrame:
    """PQ/ADC approximate cosine top-k: the corpus is PQ-encoded and
    scored against each query by table lookup — approx cosine =
    (sum_j q_j . c[j, code_j]) / (|q| * sqrt(sum_j |c[j, code_j]|^2)),
    i.e. the exact cosine against the RECONSTRUCTED corpus vector,
    computed without reconstructing it.

    Scale shape: the scan reads m-int codes, not d floats; per
    (query, row) cost is m lookups + m adds. The query side broadcasts
    (callers keep it small — the brute/LSH/IVF convention); at
    production codebook sizes the scan is an Arrow-batched kernel that
    emits only each batch's top-k per query (candidates are bounded by
    batches x queries x k, not corpus x queries), with the exact
    global window on top. Because scores are quantized, an approximate
    neighbor CAN outrank the true best — recall, not dominance, is the
    quality contract (the ann_topk gate asserts a recall floor)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    n_cells = sum(len(b) for b in codebooks)
    c = pq_encode(
        corpus.select(F.col(id_col).alias("neighbor_id"),
                      _dvec(F.col(vec_col)).alias("cv")),
        codebooks, id_col="neighbor_id", vec_col="cv",
        max_codegen_cells=max_codegen_cells).select("neighbor_id",
                                                    "pq_code")
    q = queries.select(F.col(id_col).alias("query_id"),
                       _dvec(F.col(vec_col)).alias("qv"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id"))
    if n_cells <= max_codegen_cells:
        code = F.col("pq_code")
        qn = F.sqrt(_dot(F.col("qv"), F.col("qv")))

        def qdots(j: int) -> Column:
            sub = _pq_sub(F.col("qv"), j, dsub)
            return F.array(*[_dot(sub, flit_arr(cw))
                             for cw in codebooks[j]])

        adc = None
        cn2 = None
        for j in range(m):
            dj = F.element_at(qdots(j), F.element_at(code, j + 1) + 1)
            nj = F.element_at(
                flit_arr([_cw_norm2(cw) for cw in codebooks[j]]),
                F.element_at(code, j + 1) + 1)
            adc = dj if adc is None else adc + dj
            cn2 = nj if cn2 is None else cn2 + nj
        scored = (c.crossJoin(F.broadcast(q))
                  .filter(F.col("neighbor_id") != F.col("query_id"))
                  .withColumn("cos_sim", adc / (qn * F.sqrt(cn2))))
        return (scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("query_id", "neighbor_id", "cos_sim", "rank"))

    import numpy as np
    import pyspark.sql.types as T

    C = np.asarray(codebooks, dtype=np.float64)
    cn2 = np.einsum("mkd,mkd->mk", C, C)
    qrows = q.collect()  # bounded by convention (ANN query batch)
    qids = np.asarray([r["query_id"] for r in qrows], np.int64)
    Qm = np.asarray([list(r["qv"]) for r in qrows], np.float64)
    qn = np.sqrt(np.einsum("qd,qd->q", Qm, Qm))
    bc = c.sparkSession.sparkContext.broadcast((C, cn2, qids, Qm, qn))
    schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("cos_sim", T.DoubleType()),
    ])

    def scan(it):
        import pandas as pd
        Cb, cn2b, qi, Qb, qnb = bc.value
        mm, kk, dd = Cb.shape
        # per-query lookup tables, built once per task: (nq, m, ksub)
        lut = np.einsum("qjd,jkd->qjk",
                        Qb.reshape(len(Qb), mm, dd), Cb)
        for pdf in it:
            if not len(pdf):
                continue
            codes = np.asarray(pdf["pq_code"].tolist(), np.int64)
            nid = pdf["neighbor_id"].to_numpy(np.int64)
            jj = np.arange(mm)
            cnorm = np.sqrt(cn2b[jj, codes[:, jj]].sum(axis=1))
            outs = []
            for qx in range(len(Qb)):
                s = lut[qx][jj, codes[:, jj]].sum(axis=1) / (qnb[qx] * cnorm)
                s = np.where(nid == qi[qx], -np.inf, s)  # exclude self
                top = min(int(k), len(s))
                part = np.argpartition(-s, top - 1)[:top]
                keep = part[np.isfinite(s[part])]
                outs.append(pd.DataFrame({
                    "query_id": np.full(len(keep), qi[qx], np.int64),
                    "neighbor_id": nid[keep],
                    "cos_sim": s[keep]}))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    cand = c.mapInPandas(scan, schema)
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos_sim", "rank"))


def sql_pq_topk(codebooks: list[list[list[float]]], k: int = 5,
                query_pred: str = "vec_id < 10") -> str:
    """DuckDB twin of the expression-route :func:`pq_topk` for fixed
    codebooks: the same offset-indexed dot folds, the same
    ``-2 x.c + ||c||^2`` argmin with first-min ``list_position``
    tie-break, the same lookup-sum ADC cosine and ranking."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])

    def lit(xs: list[float]) -> str:
        return "[" + ", ".join(f"{x:.17e}" for x in xs) + "]"

    def dot(v: str, j: int, cw: list[float]) -> str:
        return (f"list_reduce(list_transform(range(1, {dsub} + 1),"
                f" i -> {v}[{j * dsub} + i] * ({lit(cw)})[i]),"
                " (acc, x) -> acc + x)")

    def code(v: str, j: int) -> str:
        dists = "[" + ", ".join(
            f"-2 * ({dot(v, j, cw)}) + {_cw_norm2(cw):.17e}"
            for cw in codebooks[j]) + "]"
        return f"CAST(list_position({dists}, list_min({dists})) - 1 AS INT)"

    enc = "[" + ", ".join(code("cv", j) for j in range(m)) + "]"
    adc = " + ".join(
        "([" + ", ".join(dot("qv", j, cw) for cw in codebooks[j])
        + f"])[code[{j + 1}] + 1]" for j in range(m))
    cn2 = " + ".join(
        "([" + ", ".join(f"{_cw_norm2(cw):.17e}" for cw in codebooks[j])
        + f"])[code[{j + 1}] + 1]" for j in range(m))
    qn = ("sqrt(list_reduce(list_transform(range(1, len(qv) + 1),"
          " i -> qv[i] * qv[i]), (acc, x) -> acc + x))")
    return f"""
    WITH c AS (SELECT vec_id AS neighbor_id,
                      {SQL_DVEC.format(v='embedding')} AS cv
               FROM embeddings),
    enc AS (SELECT neighbor_id, {enc} AS code FROM c),
    q AS (SELECT vec_id AS query_id, {SQL_DVEC.format(v='embedding')} AS qv
          FROM embeddings WHERE {query_pred}),
    scored AS (
      SELECT q.query_id, enc.neighbor_id,
             ({adc}) / (({qn}) * sqrt({cn2})) AS cos_sim
      FROM enc CROSS JOIN q WHERE enc.neighbor_id <> q.query_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# Binary (sign-bit) quantization + Hamming search: 1 bit per dimension —
# a 64-d float64 vector becomes two packed 32-bit halves in BIGINTs, and
# the first-pass scan is XOR + popcount, fully inside Catalyst codegen
# (no Python, no UDF, no array traffic). Charikar 2002 (SimHash) gives
# the quality law cos(theta) ~ cos(pi * ham / d); the candidate set
# re-ranks by exact cosine, so reported scores are TRUE similarities of
# a Hamming-selected subset (they can never exceed the brute optimum —
# unlike PQ's quantized estimates, this path joins the dominance
# assertion).
# ---------------------------------------------------------------------------


def _sign_sig(vec: Column, lo_bit: int, n_bits: int) -> Column:
    """Pack sign bits [lo_bit, lo_bit+n_bits) into one non-negative
    BIGINT: bit i set iff vec[lo_bit + i] >= 0. n_bits <= 32 keeps the
    value far from the sign bit on both engines (callers chunk wider
    vectors into ceil(dim/32) words via :func:`_sig_words`)."""
    if n_bits > 32:
        raise ValueError(f"_sign_sig packs at most 32 bits, got {n_bits}")
    s = None
    for i in range(n_bits):
        t = F.when(F.element_at(vec, lo_bit + i + 1) >= 0,
                   F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long"))
        s = t if s is None else s + t
    return s  # integer additions: exact in any order, both engines


def _sig_words(dim: int) -> list[tuple[int, int]]:
    """(lo_bit, n_bits) spans chunking ``dim`` sign bits into
    ceil(dim/32) 32-bit words — any dim packs without LongType
    overflow (round-10 advice: the old two-half layout silently packed
    dim-32 > 32 bits into the second word for dim > 64, needing
    1 << 63 and beyond)."""
    return [(lo, min(32, dim - lo)) for lo in range(0, dim, 32)]


def hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-bit Hamming top-k with exact cosine re-rank.

    Stage 1 scans packed signatures: per (query, row) cost is two
    XOR+popcount ops on BIGINTs — whole-stage-codegen arithmetic, the
    cheapest possible first pass over 100 TB of vectors (the float
    arrays are only touched for the ``rerank`` survivors per query,
    default 4k). Ties cut deterministically by (hamming asc, id asc);
    stage 2 re-ranks the survivors by the bit-stable exact cosine.
    Output matches the other ANN paths: (query_id, neighbor_id,
    cos_sim, rank)."""
    if rerank is None:
        rerank = 4 * k
    halves = _sig_words(dim)

    def sigs(df: DataFrame, idname: str, vname: str) -> DataFrame:
        v = _dvec(F.col(vec_col))
        cols = [F.col(id_col).alias(idname), v.alias(vname)]
        for hx, (lo, nb) in enumerate(halves):
            cols.append(_sign_sig(v, lo, nb).alias(f"{vname}_s{hx}"))
        return df.select(*cols)

    c = sigs(corpus, "neighbor_id", "cv")
    q = sigs(queries, "query_id", "qv")
    ham = None
    for hx in range(len(halves)):
        h = F.bit_count(F.col(f"cv_s{hx}").bitwiseXOR(F.col(f"qv_s{hx}")))
        ham = h if ham is None else ham + h
    scored = (c.crossJoin(F.broadcast(q))
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .withColumn("_ham", ham))
    wh = Window.partitionBy("query_id").orderBy(
        F.col("_ham"), F.col("neighbor_id"))
    cand = (scored.withColumn("_hrk", F.row_number().over(wh))
            .filter(F.col("_hrk") <= rerank)
            .withColumn("cos_sim", cosine(F.col("qv"), F.col("cv"))))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos_sim", "rank"))


def sql_hamming_topk(k: int = 5, rerank: int | None = None, dim: int = 64,
                     query_pred: str = "vec_id < 10") -> str:
    """DuckDB twin of :func:`hamming_topk`: the same sign-bit packing
    (>= 0, bit i = 1 << i per 32-bit half), xor + bit_count, the same
    deterministic Hamming cut and exact-cosine re-rank."""
    if rerank is None:
        rerank = 4 * k
    halves = _sig_words(dim)

    def sig(v: str, lo: int, nb: int) -> str:
        return ("list_reduce(list_transform(range(0, " + str(nb) + "),"
                f" i -> CASE WHEN {v}[{lo} + i + 1] >= 0"
                " THEN (1::BIGINT << i) ELSE 0::BIGINT END),"
                " (acc, x) -> acc + x)")

    def sigsel(v: str, pre: str) -> str:
        return ", ".join(f"{sig(v, lo, nb)} AS {pre}_s{hx}"
                         for hx, (lo, nb) in enumerate(halves))

    ham = " + ".join(f"bit_count(xor(c.cv_s{hx}, q.qv_s{hx}))"
                     for hx in range(len(halves)))
    cos = sql_cosine("qv", "cv")
    return f"""
    WITH c AS (SELECT vec_id AS neighbor_id,
                      {SQL_DVEC.format(v='embedding')} AS cv,
                      {sigsel(SQL_DVEC.format(v='embedding'), 'cv')}
               FROM embeddings),
    q AS (SELECT vec_id AS query_id,
                 {SQL_DVEC.format(v='embedding')} AS qv,
                 {sigsel(SQL_DVEC.format(v='embedding'), 'qv')}
          FROM embeddings WHERE {query_pred}),
    scored AS (
      SELECT q.query_id, c.neighbor_id, q.qv, c.cv, ({ham}) AS hamd
      FROM c CROSS JOIN q WHERE c.neighbor_id <> q.query_id
    ),
    cut AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY hamd, neighbor_id) AS hrk
      FROM scored
    ),
    cand AS (
      SELECT query_id, neighbor_id, {cos} AS cos_sim
      FROM cut WHERE hrk <= {rerank}
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM cand
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# IVF-PQ: the coarse inverted file composed with residual product
# quantization — the FAISS-style production index (Jegou et al. 2011
# section V). Corpus vectors assign to a coarse cell; the RESIDUAL
# x - c_cell is PQ-encoded (residuals are small, so the same codebook
# budget quantizes far more finely than whole-vector PQ); queries probe
# nprobe cells and score candidates by lookup-sum ADC against the
# reconstruction c_cell + r_hat. Composes the two-tier pieces above:
# assign_cells / probe_cells (expr or broadcast-BLAS) and the PQ
# trainer/encoder; the scan kernel is one Arrow batch pass.
# ---------------------------------------------------------------------------


def train_ivfpq(
    corpus: DataFrame,
    n_cells: int = 8,
    m: int = 4,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 4096,
    iters: int = 10,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Train the coarse quantizer AND the residual codebooks from ONE
    deterministic sample: spherical k-means for the cells (the IVF
    trainer core), then per-subspace Lloyd on the sample residuals
    x - c_assign(x). Returns (centroids, codebooks)."""
    import numpy as np

    rows = (corpus.select(id_col, vec_col).orderBy(id_col)
            .limit(int(sample)).collect())
    v = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
    cents = _kmeans_unit_matrix(v, int(n_cells), int(iters))
    C = np.asarray(cents, dtype=np.float64)
    assign = np.argmax(v @ C.T, axis=1)
    resid = v - C[assign]
    return cents, _pq_kmeans_matrix(resid, int(m), int(ksub), int(iters))


def train_ivfpq_arrow(
    parquet_path: str,
    n_cells: int = 8,
    m: int = 4,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 4096,
    iters: int = 10,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Spark-free twin of :func:`train_ivfpq` (the
    :func:`train_ivf_centroids_arrow` pattern): the same deterministic
    id-ordered parquet sample through the same numpy cores
    (`_kmeans_unit_matrix` then residual `_pq_kmeans_matrix`), so the
    (centroids, codebooks) pair is bit-identical — a static SQL oracle
    can embed the TRAINED structures and still hash-match the Spark
    pipeline (queries.py 'semtrained' pattern)."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=[id_col, vec_col])
    t = t.sort_by(id_col).slice(0, int(sample))
    v = np.asarray(t.column(vec_col).combine_chunks().to_pylist(),
                   dtype=np.float64)
    if v.size == 0:
        raise ValueError(
            f"train_ivfpq_arrow: no vectors in {parquet_path}")
    cents = _kmeans_unit_matrix(v, int(n_cells), int(iters))
    C = np.asarray(cents, dtype=np.float64)
    assign = np.argmax(v @ C.T, axis=1)
    resid = v - C[assign]
    return cents, _pq_kmeans_matrix(resid, int(m), int(ksub), int(iters))


def _ccw_lut(centroids: list[list[float]],
             codebooks: list[list[list[float]]]
             ) -> list[list[list[float]]]:
    """[cell][j][code] -> c_j . cw_{j,code} as python floats summed in
    a fixed sequential order (the `_cw_norm2` discipline): both engines
    embed the IDENTICAL literal, never recompute it."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    out = []
    for c in centroids:
        per_j = []
        for j in range(m):
            row = []
            for cw in codebooks[j]:
                s = 0.0
                for i in range(dsub):
                    s += float(c[j * dsub + i]) * float(cw[i])
                row.append(s)
            per_j.append(row)
        out.append(per_j)
    return out


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_codegen_cells: int = ASSIGN_CODEGEN_MAX_K,
    rerank: int = 0,
) -> DataFrame:
    """IVF-PQ ANN: assign + residual-encode the corpus, probe ``nprobe``
    cells per query, ADC-score candidates against the reconstruction.

    approx cos = (q.c + sum_j q_j.cw_j)
                 / (|q| * sqrt(|c|^2 + 2 sum_j c_j.cw_j + sum_j |cw_j|^2))
    — every corpus-side term is a table lookup on (cell, code); the
    floats never leave the index build. Scale shape: the candidate join
    shuffles on the cell id (work = sum over probed lists, never
    corpus x queries); the scoring pass is one Arrow batch kernel over
    the joined candidates. Scores are quantized ESTIMATES (like PQ):
    recall, not dominance, is the quality contract.

    ``rerank=R`` adds the FAISS refine stage: ADC shortlists
    max(R, k) candidates per query, the true corpus vectors rescore
    them exactly, and the exact cosines re-rank to k — the standard
    counter to quantized recall decaying with corpus size (measured
    round 12: gate-scale recall 0.12 fell to ~0.05 at 600k vectors at
    fixed 8x16 books; rerank restores it, see
    tests/test_udf_tier.py). Exact-pass cost is R x queries vector
    reads; with rerank the returned ``cos_sim`` values are TRUE
    cosines, so dominance holds again."""
    import numpy as np
    import pyspark.sql.types as T

    C = np.asarray(centroids, dtype=np.float64)          # (cells, d)
    B = np.asarray(codebooks, dtype=np.float64)          # (m, ksub, dsub)
    mm, kk, dd = B.shape
    cells = len(C)

    # corpus index build: cell assignment + residual PQ codes. The
    # expression route handles gate-scale sizes; production sizes run
    # one numpy kernel per Arrow batch (assign, subtract, argmin).
    c0 = corpus.select(F.col(id_col).alias("neighbor_id"),
                       _dvec(F.col(vec_col)).alias("cv"))
    if cells + cells * mm * kk <= max_codegen_cells:
        cc = assign_cells(c0, centroids, vec_col="cv",
                          max_codegen_k=max_codegen_cells)
        cent_arr = flit_arr2d(centroids)
        resid = F.zip_with(F.col("cv"),
                           F.element_at(cent_arr, F.col("cell") + 1),
                           lambda x, y: x - y)
        cc = cc.withColumn("rv", resid)
        enc = pq_encode(cc, codebooks, id_col="neighbor_id",
                        vec_col="rv",
                        max_codegen_cells=max_codegen_cells
                        ).select("neighbor_id", "cell", "pq_code")
    else:
        bc_idx = c0.sparkSession.sparkContext.broadcast((C, B))
        enc_schema = T.StructType([
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("pq_code", T.ArrayType(T.IntegerType())),
        ])

        def build(it):
            import pandas as pd
            Cb, Bb = bc_idx.value
            cn2 = np.einsum("mkd,mkd->mk", Bb, Bb)
            for pdf in it:
                if not len(pdf):
                    continue
                X = np.asarray(pdf["cv"].tolist(), np.float64)
                cell = np.argmax(X @ Cb.T, axis=1)
                R = X - Cb[cell]
                codes = np.empty((len(pdf), mm), np.int32)
                for j in range(mm):
                    S = (-2.0 * (R[:, j * dd:(j + 1) * dd] @ Bb[j].T)
                         + cn2[j])
                    codes[:, j] = np.argmin(S, axis=1)
                yield pd.DataFrame({
                    "neighbor_id": pdf["neighbor_id"].to_numpy(np.int64),
                    "cell": cell.astype(np.int32),
                    "pq_code": list(codes)})

        enc = c0.mapInPandas(build, enc_schema)

    q = queries.select(F.col(id_col).alias("query_id"),
                       _dvec(F.col(vec_col)).alias("qv"))
    probes = probe_cells(q, centroids, vec_col="qv", nprobe=nprobe,
                         id_cols=["query_id"],
                         max_codegen_k=max_codegen_cells).select(
        "query_id", "qv", "cell")
    cand = enc.join(F.broadcast(probes), "cell").filter(
        F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id"))

    def _rank(scored: DataFrame) -> DataFrame:
        """ADC top-k, or — with ``rerank`` — the FAISS refine pattern:
        ADC shortlists max(rerank, k) per query, then the TRUE corpus
        floats rescore exactly and re-rank to k. This is the standard
        answer to quantized recall decaying with corpus size (the
        round-12 recall curve): the bulk scan still never touches
        floats; the exact pass reads rerank x queries vectors, joined
        by broadcasting the (tiny) shortlist against the corpus."""
        if not rerank:
            return (scored.withColumn("rank", F.row_number().over(w))
                    .filter(F.col("rank") <= k)
                    .select("query_id", "neighbor_id", "cos_sim",
                            "rank"))
        short = (scored.withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= int(max(rerank, k)))
                 .select("query_id", "neighbor_id")
                 .join(F.broadcast(q.select("query_id", "qv")),
                       "query_id"))
        exact = (c0.join(F.broadcast(short), "neighbor_id")
                 .withColumn(
                     "cos_sim",
                     _dot(F.col("qv"), F.col("cv"))
                     / (F.sqrt(_dot(F.col("qv"), F.col("qv")))
                        * F.sqrt(_dot(F.col("cv"), F.col("cv"))))))
        return (exact.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("query_id", "neighbor_id", "cos_sim", "rank"))

    if cells + cells * mm * kk <= max_codegen_cells:
        # expression scoring tier (gate scale, mirrored bit-for-bit by
        # sql_ivfpq_topk): every corpus-side term is an unrolled
        # literal lookup on (cell, code); the ccw and norm tables are
        # python-float literals shared verbatim with the SQL twin, so
        # the ADC cosine hashes identically on both engines. Callers
        # opt in by raising max_codegen_cells — production sizes stay
        # on the Arrow kernel below (tier parity is unit-tested).
        cent_arr = flit_arr2d(centroids)
        code = F.col("pq_code")
        num = _dot(F.col("qv"), F.element_at(cent_arr, F.col("cell") + 1))
        for j in range(mm):
            dj = F.element_at(
                F.array(*[_dot(_pq_sub(F.col("qv"), j, dd),
                               flit_arr(cw))
                          for cw in codebooks[j]]),
                F.element_at(code, j + 1) + 1)
            num = num + dj
        ccw = _ccw_lut(centroids, codebooks)
        den2 = F.element_at(
            flit_arr([_cw_norm2(c) for c in centroids]),
            F.col("cell") + 1)
        for j in range(mm):
            den2 = den2 + F.lit(2.0) * F.element_at(
                F.element_at(
                    flit_arr2d([ccw[ci][j] for ci in range(cells)]),
                    F.col("cell") + 1),
                F.element_at(code, j + 1) + 1)
        for j in range(mm):
            den2 = den2 + F.element_at(
                flit_arr([_cw_norm2(cw) for cw in codebooks[j]]),
                F.element_at(code, j + 1) + 1)
        qn = F.sqrt(_dot(F.col("qv"), F.col("qv")))
        scored = cand.withColumn("cos_sim", num / (qn * F.sqrt(den2)))
        return _rank(scored)

    # scoring kernel: corpus-side terms are (cell, code) lookups built
    # once per task; the query terms are per-row dots against the
    # broadcast codebooks
    cn2_cell = np.einsum("cd,cd->c", C, C)               # |c|^2
    ccw = np.einsum("cjd,jkd->cjk",
                    C.reshape(cells, mm, dd), B)          # c_j . cw
    cwn2 = np.einsum("mkd,mkd->mk", B, B)                # |cw|^2
    bc_sc = cand.sparkSession.sparkContext.broadcast(
        (C, B, cn2_cell, ccw, cwn2))
    sc_schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("cos_sim", T.DoubleType()),
    ])

    def score(it):
        import pandas as pd
        Cb, Bb, cn2c, ccwb, cwn2b = bc_sc.value
        jj = np.arange(mm)
        for pdf in it:
            if not len(pdf):
                continue
            Qv = np.asarray(pdf["qv"].tolist(), np.float64)
            cell = pdf["cell"].to_numpy(np.int64)
            codes = np.asarray(pdf["pq_code"].tolist(), np.int64)
            qc = np.einsum("nd,nd->n", Qv, Cb[cell])
            # q_j . cw_{j,code_j}: per-row gather from the row's own
            # query LUT (rows share few queries, but per-row einsum is
            # simplest and the candidate set is probe-bounded)
            Qs = Qv.reshape(len(Qv), mm, dd)
            qr = np.einsum("njd,njd->n",
                           Qs, Bb[jj[None, :], codes[:, jj]])
            num = qc + qr
            den2 = (cn2c[cell]
                    + 2.0 * ccwb[cell[:, None], jj[None, :],
                                 codes[:, jj]].sum(axis=1)
                    + cwn2b[jj, codes[:, jj]].sum(axis=1))
            qn = np.sqrt(np.einsum("nd,nd->n", Qv, Qv))
            with np.errstate(invalid="ignore", divide="ignore"):
                s = num / (qn * np.sqrt(np.maximum(den2, 0.0)))
            yield pd.DataFrame({
                "query_id": pdf["query_id"].to_numpy(np.int64),
                "neighbor_id": pdf["neighbor_id"].to_numpy(np.int64),
                "cos_sim": s})

    scored = cand.mapInPandas(score, sc_schema)
    return _rank(scored)


def sql_ivfpq_topk(centroids: list[list[float]],
                   codebooks: list[list[list[float]]],
                   k: int = 5, nprobe: int = 4,
                   query_pred: str = "vec_id < 10") -> str:
    """DuckDB twin of the expression-tier :func:`ivfpq_topk` for fixed
    trained structures: the same first-max cell assignment, the same
    elementwise residual, the same ``-2 x.c + ||c||^2`` first-min
    residual codes, the same probe ranking, and the same
    lookup-chained ADC cosine against c + r-hat — every norm and
    c.cw table entry is the identical python-float literal the Spark
    expressions embed, so the scores hash bit-equal."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    d = len(centroids[0])
    cells = len(centroids)

    def lit(xs: list[float]) -> str:
        return "[" + ", ".join(f"{x:.17e}" for x in xs) + "]"

    cents_nested = "[" + ", ".join(lit(c) for c in centroids) + "]"

    def dot_full(v: str, i: int) -> str:
        return (f"list_reduce(list_transform(range(1, {d} + 1),"
                f" i -> {v}[i] * ({lit(centroids[i])})[i]),"
                " (acc, x) -> acc + x)")

    dots_list = "[" + ", ".join(dot_full("cv", i)
                                for i in range(cells)) + "]"
    assign = (f"CAST(list_position({dots_list}, list_max({dots_list}))"
              " - 1 AS INT)")

    def dot_sub(v: str, j: int, cw: list[float]) -> str:
        return (f"list_reduce(list_transform(range(1, {dsub} + 1),"
                f" i -> {v}[{j * dsub} + i] * ({lit(cw)})[i]),"
                " (acc, x) -> acc + x)")

    def code(j: int) -> str:
        dists = "[" + ", ".join(
            f"-2 * ({dot_sub('rv', j, cw)}) + {_cw_norm2(cw):.17e}"
            for cw in codebooks[j]) + "]"
        return f"CAST(list_position({dists}, list_min({dists})) - 1 AS INT)"

    enc = "[" + ", ".join(code(j) for j in range(m)) + "]"

    probe_branches = "\n      UNION ALL ".join(
        f"SELECT query_id, qv, {i} AS cell, {dot_full('qv', i)} AS cdot"
        " FROM q" for i in range(cells))

    # ADC numerator: q.c_cell then the per-subspace q_j.cw lookups, in
    # the Spark chain order (left-assoc +)
    qc = (f"list_reduce(list_transform(range(1, {d} + 1),"
          f" i -> qv[i] * ({cents_nested})[cell + 1][i]),"
          " (acc, x) -> acc + x)")
    adc = " + ".join(
        "([" + ", ".join(dot_sub("qv", j, cw) for cw in codebooks[j])
        + f"])[code[{j + 1}] + 1]" for j in range(m))
    ccw = _ccw_lut(centroids, codebooks)
    cell_n2 = "[" + ", ".join(f"{_cw_norm2(c):.17e}"
                              for c in centroids) + "]"
    ccw_terms = " + ".join(
        "2 * (["
        + ", ".join(lit(ccw[ci][j]) for ci in range(cells))
        + f"])[cell + 1][code[{j + 1}] + 1]" for j in range(m))
    cwn2_terms = " + ".join(
        "([" + ", ".join(f"{_cw_norm2(cw):.17e}" for cw in codebooks[j])
        + f"])[code[{j + 1}] + 1]" for j in range(m))
    den2 = f"({cell_n2})[cell + 1] + {ccw_terms} + {cwn2_terms}"
    qn = ("sqrt(list_reduce(list_transform(range(1, len(qv) + 1),"
          " i -> qv[i] * qv[i]), (acc, x) -> acc + x))")
    return f"""
    WITH c AS (SELECT vec_id AS neighbor_id,
                      {SQL_DVEC.format(v='embedding')} AS cv
               FROM embeddings),
    ca AS (SELECT neighbor_id, cv, {assign} AS cell FROM c),
    r AS (SELECT neighbor_id, cell,
                 list_transform(range(1, {d} + 1),
                                i -> cv[i] - ({cents_nested})[cell + 1][i])
                 AS rv
          FROM ca),
    enc AS (SELECT neighbor_id, cell, {enc} AS code FROM r),
    q AS (SELECT vec_id AS query_id, {SQL_DVEC.format(v='embedding')} AS qv
          FROM embeddings WHERE {query_pred}),
    probes AS (
      {probe_branches}
    ),
    pr AS (
      SELECT query_id, qv, cell,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cdot DESC, cell) AS prk
      FROM probes
    ),
    scored AS (
      SELECT q2.query_id, e.neighbor_id,
             (({qc}) + {adc}) / (({qn}) * sqrt({den2})) AS cos_sim
      FROM enc e JOIN (SELECT * FROM pr WHERE prk <= {nprobe}) q2
        USING (cell)
      WHERE e.neighbor_id <> q2.query_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {k}
    """
