"""Similarity search over embedding columns (array<float>).

Two paths, as a real 100 TB pipeline would deploy them:

- :func:`brute_force_topk` — exact cosine top-k against a query vector.
  The query vector is a broadcast literal; the scan is embarrassingly
  parallel (no shuffle until the final TakeOrderedAndProject, which moves
  only k rows per partition). This is the *correct* baseline and the
  verifier for the approximate path.
- :func:`hyperplane_lsh_buckets` / :func:`lsh_topk` — random-hyperplane
  (sign) LSH: b md5-derived ±1 hyperplanes → b-bit bucket id. At scale the
  table is written bucketed/partitioned by ``bucket`` so a query probes
  only matching buckets (partition pruning), turning top-k into a scan of
  ~rows/2^b. Probing multiple nearby buckets (hamming ≤ 1) trades recall
  for fan-out.

Dot products stay in the JVM via ``F.zip_with`` + ``F.aggregate`` fold —
sequential left-to-right, so results are bit-deterministic (and match any
engine that folds in index order).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Deterministic dot product: left-to-right double fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _vec_literal(vec: list[float]) -> Column:
    """array<double> literal built as ONE parsed SQL expression.

    ``F.array(*[F.lit(x) …])`` costs one Py4J round-trip per element —
    ~2 ms each, so a 64-dim query vector spends ~130 ms of pure driver
    time before any work starts (the ranks.py lesson: build SQL text,
    not Column trees, in wide driver loops). ``repr(float)`` is the
    shortest round-tripping decimal and Spark's double-literal parser
    (Java ``parseDouble``) is correctly rounding, so the parsed values
    are bit-identical to the ``F.lit`` path.  Non-finite elements have
    no SQL double-literal spelling (``nanD``/``infD`` fail to parse), so
    a vector containing one falls back to the Column path F.lit used.
    """
    import math

    vals = [float(v) for v in vec]
    if not all(math.isfinite(v) for v in vals):
        return F.array(*[F.lit(v) for v in vals])
    return F.expr("array(" + ",".join(f"{v!r}D" for v in vals) + ")")


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k vs a literal query vector.

    Output: (id, cosine_sim) ordered best-first, ties broken by id.
    Rounded to 6 decimals for stable cross-engine ordering; both engines
    round half-away-from-zero (verified), and random embeddings don't tie.
    """
    q = _vec_literal(query_vec)
    scored = df.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), q), 6).alias("cosine_sim"),
    )
    return scored.orderBy(F.desc("cosine_sim"), F.asc(id_col)).limit(k)


def hyperplane_lsh_buckets(
    df: DataFrame,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Assign each vector a 2^num_planes bucket by the sign pattern of
    md5-derived ±1 hyperplanes.

    Plane p's d-th component is +1 iff md5("p|d") has an even first hex
    digit — deterministic, engine-portable, no stored model. Bucket id =
    Σ 2^p · [⟨plane_p, x⟩ > 0].
    """
    import hashlib

    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    # ONE parsed SQL expression for the whole bucket id. The fold keeps
    # the same left-to-right evaluation order as an unrolled
    # `s0*x0 + s1*x1 + …` chain, so results are bit-identical to the
    # oracle's explicit chain while the execution is a compact loop
    # instead of a 512-node expression tree — and building it as SQL
    # text instead of per-element F.lit/F.when Column calls removes
    # ~(planes × dim) Py4J round-trips (~1 s of pure driver time per
    # call at 8×64; the ranks.py lesson).
    plane_terms = []
    for p in range(num_planes):
        signs = ",".join(
            "1.0D"
            if int(hashlib.md5(f"{p}|{d}".encode()).hexdigest()[0], 16) % 2 == 0
            else "-1.0D"
            for d in range(dim)
        )
        dot_p = (
            f"aggregate(zip_with(array({signs}), `{vec_col}`, "
            f"(s, x) -> s * CAST(x AS DOUBLE)), 0.0D, (acc, x) -> acc + x)"
        )
        # same null/threshold semantics as when(dot_p > 0, 2^p).otherwise(0)
        plane_terms.append(f"if({dot_p} > 0, {2 ** p}L, 0L)")
    bucket = F.expr(
        "CAST(0 AS BIGINT) + " + " + ".join(plane_terms)
    )
    return df.select(F.col(id_col), F.col(vec_col), bucket.alias("bucket"))


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket or
    buckets within hamming distance 1 (multi-probe for recall).

    At 100 TB the bucketed table is the stored layout and this becomes a
    partition-pruned scan; here the bucket column is computed inline.
    """
    import hashlib

    dim = len(query_vec)
    buckets = hyperplane_lsh_buckets(df, num_planes, id_col, vec_col, dim)

    qb = 0
    for p in range(num_planes):
        s = 0.0
        for d in range(dim):
            sign = 1 if int(hashlib.md5(f"{p}|{d}".encode()).hexdigest()[0], 16) % 2 == 0 else -1
            s += sign * float(query_vec[d])
        if s > 0:
            qb += 2**p
    probe = [qb] + [qb ^ (1 << p) for p in range(num_planes)]

    q = _vec_literal(query_vec)
    cand = buckets.where(F.col("bucket").isin(probe))
    scored = cand.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), q), 6).alias("cosine_sim"),
    )
    return scored.orderBy(F.desc("cosine_sim"), F.asc(id_col)).limit(k)


GEMM_SCALE = 1 << 20  # fixed-point quantization scale for integer-exact dots


def gemm_topk_int(
    df: DataFrame,
    query_vecs: list[list[float]],
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = GEMM_SCALE,
) -> DataFrame:
    """Batch top-k similarity for MANY queries at once via an Arrow-batched
    integer GEMM — the vectorized scale path when the query set is a
    matrix, not a single vector (expression-fold dots pay per-query plan
    cost; one ``V @ Q.T`` amortizes all queries in one BLAS call per
    batch).

    Determinism is the design constraint: float GEMM sums in
    backend-dependent order, which would break cross-engine hash
    comparison. So both sides are quantized to fixed-point int64
    (``floor(x * scale + 0.5)`` — the package's established half-up rule)
    and the dot is integer arithmetic: exact, associative,
    order-independent, overflow-safe for |x| ≤ 8, dim ≤ 64k at the
    default scale (|term| ≤ 2^46·dim < 2^63).

    Plan shape: mapInPandas emits a PARTIAL top-k (k rows per query per
    batch) — the shuffle carries O(k · queries · partitions) rows, never
    the corpus — then one window ranks the partials globally. Ties break
    to the lower id in both stages.
    """
    from pyspark.sql import Window
    from pyspark.sql import types as T

    qi = np.array(
        [
            [int(np.floor(float(x) * scale + 0.5)) for x in v]
            for v in query_vecs
        ],
        dtype=np.int64,
    )
    qids = list(query_ids)

    def make_fn(qi, qids, k, scale, id_col, vec_col):
        def fn(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                v = np.array(
                    [
                        np.floor(np.asarray(e, dtype=np.float64) * scale + 0.5)
                        for e in pdf[vec_col]
                    ],
                    dtype=np.int64,
                )
                s = v @ qi.T  # (rows, queries), exact int64
                ids = pdf[id_col].to_numpy()
                out_q: list[int] = []
                out_id: list[int] = []
                out_s: list[int] = []
                for j, qid in enumerate(qids):
                    col = s[:, j]
                    order = np.lexsort((ids, -col))[:k]
                    out_q.extend([qid] * len(order))
                    out_id.extend(int(i) for i in ids[order])
                    out_s.extend(int(x) for x in col[order])
                yield pd.DataFrame({"q_id": out_q, id_col: out_id, "score": out_s})

        return fn

    schema = T.StructType(
        [
            T.StructField("q_id", T.LongType()),
            T.StructField(id_col, T.LongType()),
            T.StructField("score", T.LongType()),
        ]
    )
    partial = df.select(id_col, vec_col).mapInPandas(
        make_fn(qi, qids, k, scale, id_col, vec_col), schema
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        partial.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )
