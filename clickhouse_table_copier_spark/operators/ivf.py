"""IVF (inverted-file) approximate nearest neighbor — the k-means-cell
scale path for embedding search (complements hyperplane LSH).

Classic IVF-Flat: partition vectors into cells around centroids; a query
probes only the nearest ``n_probe`` cells and scores exactly within them.
At 100 TB the table is stored partitioned by ``cell`` so probing is
partition pruning; here cells are computed inline.

Training is Lloyd's algorithm with deterministic seeding (first ``k``
vectors by id) — an iterative driver loop over small state (k × dim
centroids collected per round), which is why this operator is registered
WITHOUT a SQL oracle: iterative algorithms are the documented
rows-only-check category of the driver contract.
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clickhouse_table_copier_spark.operators.similarity import _vec_literal, cosine


def _sq_dist(vec_col: Column, centroid: list[float]) -> Column:
    # centroid literal as ONE parsed SQL expression (not dim × F.lit
    # Py4J round-trips) — values bit-identical, see _vec_literal
    c = _vec_literal(centroid)
    return F.aggregate(
        F.zip_with(vec_col, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _nearest_cell(vec_col: Column, centroids: list[list[float]]) -> Column:
    """argmin over centroids, ties to the lowest cell id (deterministic).

    ``array_min`` over (d, i) structs: lexicographic struct ordering IS
    (min distance, then lowest cell), and each distance appears in the
    plan exactly once — a when-chain argmin would nest every distance
    inside all later comparisons (exponential expression growth; the PQ
    encoder hit driver OOM from the same shape, operators/pq.py). The
    centroids ride along as a literal 2-D array iterated by ONE
    transform — one fold template in codegen, k-independent plan size;
    fold order per centroid is unchanged, so values are bit-identical."""
    # k × dim literal matrix as ONE parsed SQL expression: the nested
    # F.array/F.lit form cost k·dim Py4J round-trips (~1 s of driver
    # time at 8×64 per call) before any execution started
    cents = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")" for c in centroids
        )
        + ")"
    )
    return F.array_min(
        F.transform(
            cents,
            lambda c, i: F.struct(
                F.aggregate(
                    F.zip_with(
                        vec_col,
                        c,
                        lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d"),
                i.alias("i"),
            ),
        )
    )["i"]


def train_centroids(
    df: DataFrame,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Lloyd's k-means with deterministic seeds (lowest ``k`` ids).

    Driver state is k × dim floats per round; each round is one Spark
    job (assign = expression argmin, update = grouped mean). Empty cells
    keep their previous centroid.
    """
    seeds = (
        df.orderBy(id_col).limit(k).select(vec_col).collect()
    )
    centroids = [[float(x) for x in r[vec_col]] for r in seeds]
    dim = len(centroids[0])
    for _ in range(iters):
        assigned = df.select(
            F.col(vec_col), _nearest_cell(F.col(vec_col), centroids).alias("cell")
        )
        means = (
            assigned.select(
                "cell", F.posexplode(vec_col).alias("pos", "x")
            )
            .groupBy("cell", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .collect()
        )
        new_c = [list(c) for c in centroids]
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["m"]
        for cell, dims in by_cell.items():
            new_c[cell] = [dims[p] for p in range(dim)]
        centroids = new_c
    return centroids


def train_centroids_exact(
    df: DataFrame,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Cross-engine-REPRODUCIBLE Lloyd training (same seeding/iterations
    as :func:`train_centroids`), for oracle-checked queries.

    Distributed ``avg()`` folds doubles in partition order, so trained
    centroids differ in the last ulp between engines/runs. Here each
    per-(cell, dim) mean is an explicit left-to-right fold over values
    sorted by id — ``array_sort(collect_list(struct(id, x)))`` then
    ``F.aggregate`` — divided by the count, which any SQL engine (DuckDB:
    ``list_reduce(list(x ORDER BY id), (a,b) -> a+b) / count(*)``)
    reproduces bit-for-bit. Cost of exactness: per-(cell, dim) group state
    is n/k doubles (collect_list), so this is the verification path;
    :func:`train_centroids` (order-free partial aggregation) remains the
    100 TB production path, identical up to last-ulp mean rounding.
    """
    seeds = df.orderBy(id_col).limit(k).select(vec_col).collect()
    centroids = [[float(x) for x in r[vec_col]] for r in seeds]
    dim = len(centroids[0])
    for _ in range(iters):
        assigned = df.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col),
            _nearest_cell(F.col(vec_col), centroids).alias("cell"),
        )
        folded = (
            assigned.select(
                "cell", "_id", F.posexplode(vec_col).alias("pos", "x")
            )
            .groupBy("cell", "pos")
            .agg(
                F.aggregate(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("_id"),
                                    F.col("x").cast("double").alias("x"),
                                )
                            )
                        ),
                        lambda s: s["x"],
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .select("cell", "pos", (F.col("s") / F.col("n")).alias("m"))
            .collect()
        )
        new_c = [list(c) for c in centroids]
        by_cell: dict[int, dict[int, float]] = {}
        for r in folded:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["m"]
        for cell, dims in by_cell.items():
            new_c[cell] = [dims[p] for p in range(dim)]
        centroids = new_c
    return centroids


def assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, cell) — the stored IVF layout (partition by cell at scale)."""
    return df.select(
        F.col(id_col),
        F.col(vec_col),
        _nearest_cell(F.col(vec_col), centroids).alias("cell"),
    )


def probe_cells(
    centroids: list[list[float]], query_vec: list[float], n_probe: int
) -> list[int]:
    """The ``n_probe`` nearest cells to the query (driver-side arithmetic
    over k×dim floats), ties to the lowest cell id."""
    dists = [
        (i, sum((a - b) ** 2 for a, b in zip(c, query_vec)))
        for i, c in enumerate(centroids)
    ]
    return [i for i, _ in sorted(dists, key=lambda t: (t[1], t[0]))[:n_probe]]


def _score_topk(
    cand: DataFrame, query_vec: list[float], k: int, id_col: str, vec_col: str
) -> DataFrame:
    q = _vec_literal(query_vec)
    scored = cand.select(
        F.col(id_col), F.round(cosine(F.col(vec_col), q), 6).alias("cosine_sim")
    )
    return scored.orderBy(F.desc("cosine_sim"), F.asc(id_col)).limit(k)


def ivf_topk(
    df: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k within the ``n_probe`` nearest cells to the query."""
    probe = probe_cells(centroids, query_vec, n_probe)
    cells = assign_cells(df, centroids, id_col, vec_col)
    return _score_topk(
        cells.where(F.col("cell").isin(probe)), query_vec, k, id_col, vec_col
    )
