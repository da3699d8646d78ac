"""Product quantization (PQ) approximate nearest neighbor — the
compressed-domain scale path for embedding search (complements IVF cells
and hyperplane LSH).

Classic PQ (Jégou et al., "Product Quantization for Nearest Neighbor
Search", TPAMI 2011): split each D-dim vector into M contiguous
subvectors; quantize every subvector to its nearest code in a per-subspace
codebook of K entries; a vector is then M small integers (M bytes at
K ≤ 256) instead of 4·D bytes. A query is answered by ADC (asymmetric
distance computation): precompute the M × K table of exact
query-subvector → code distances once (driver-side, tiny), then the scan
is pure table lookups + M-term adds over the code columns — no
floating-point vector math per row.

At 100 TB this is the layout that makes exhaustive re-ranking feasible:
the code table is ~256× smaller than the raw vectors (64-dim float32 →
8 bytes), scans it column-pruned (codes only, never the embedding), and
composes with IVF (store codes partitioned by cell; probe then ADC-scan).

Determinism: codebooks come from pinned seed vectors; argmin ties break to
the lowest code id (strict ``<`` chain); distance folds are left-to-right,
matching the SQL chains the oracle renders (queries_round3.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def pq_codebooks_from_seeds(
    seed_vectors: list[list[float]], num_subspaces: int
) -> list[list[list[float]]]:
    """codebooks[m][k] = subvector m of seed vector k.

    Seed-derived codebooks mirror the IVF seed-centroid convention
    (operators/ivf.py): deterministic, oracle-renderable. A trained
    variant would run per-subspace Lloyd iterations exactly like
    ``ivf.train_centroids``; the assignment/ADC machinery below is
    codebook-agnostic.
    """
    dim = len(seed_vectors[0])
    if dim % num_subspaces:
        raise ValueError(f"dim {dim} not divisible into {num_subspaces} subspaces")
    sub = dim // num_subspaces
    return [
        [[float(x) for x in v[m * sub : (m + 1) * sub]] for v in seed_vectors]
        for m in range(num_subspaces)
    ]


def _sub_sq_dist(vec_col: Column, code: list[float], start: int) -> Column:
    """Squared L2 between ``vec[start:start+len(code)]`` (1-based slice) and
    a literal code subvector — left-to-right fold, same order as the
    oracle's explicit addition chain."""
    # code literal as ONE parsed SQL expression, not len(code) F.lit
    # Py4J round-trips — values bit-identical (shortest-repr doubles)
    c = F.expr("array(" + ",".join(f"{float(x)!r}D" for x in code) + ")")
    return F.aggregate(
        F.zip_with(
            F.slice(vec_col, start, len(code)),
            c,
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _nearest_code(vec_col: Column, codes: list[list[float]], start: int) -> Column:
    """argmin over one subspace's codebook, ties to the lowest code id.

    Two plan-size decisions, both measured:
    - ``array_min`` over (d, k) structs — lexicographic struct ordering IS
      (min distance, then lowest code). A when-chain argmin nests each
      distance inside every later comparison (exponential expression
      growth: with 8 codes × 8 subspaces it OOMs a default-1g driver).
    - the codebook is DATA (a literal 2-D array iterated by one
      ``transform``), not 8 unrolled distance expressions — one fold
      template per subspace instead of per code cuts the whole-stage
      codegen constant ~3× on the PQ queries.
    The fold order per code is unchanged, so values are bit-identical."""
    sub = len(codes[0])
    # K × sub literal codebook as ONE parsed SQL expression: the nested
    # F.array/F.lit form cost ~K·sub Py4J round-trips per subspace —
    # ~1000 per pq_encode call at 8×8×8 (the ranks.py lesson)
    codes_arr = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in code) + ")"
            for code in codes
        )
        + ")"
    )
    sl = F.slice(vec_col, start, sub)
    return F.array_min(
        F.transform(
            codes_arr,
            lambda c, i: F.struct(
                F.aggregate(
                    F.zip_with(
                        sl, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d"),
                i.alias("k"),
            ),
        )
    )["k"]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, [extra...], c0..c{M-1}) — the stored PQ code table. Pure
    column expressions (one whole-stage-codegen projection); the raw
    vector is dropped, which is the point: downstream scans never touch
    it. ``extra_cols`` carries layout keys (e.g. the IVF cell) through."""
    sub = len(codebooks[0][0])
    cols = [F.col(id_col), *[F.col(c) for c in extra_cols]]
    for m, codes in enumerate(codebooks):
        cols.append(
            _nearest_code(F.col(vec_col), codes, m * sub + 1).cast("int").alias(f"c{m}")
        )
    return df.select(*cols)


def adc_table(
    codebooks: list[list[list[float]]], query_vec: list[float]
) -> list[list[float]]:
    """dtab[m][k]: exact squared L2 from the query's subvector m to code k.
    Driver-side arithmetic over M × K × sub floats; the fold order matches
    ``_sub_sq_dist`` (and therefore the oracle chain) bit-for-bit."""
    sub = len(codebooks[0][0])
    dtab = []
    for m, codes in enumerate(codebooks):
        q = [float(x) for x in query_vec[m * sub : (m + 1) * sub]]
        row = []
        for code in codes:
            acc = 0.0
            for a, b in zip(q, code):
                acc = acc + (a - b) * (a - b)
            row.append(acc)
        dtab.append(row)
    return dtab


def pq_adc_scores(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, adc_dist): approximate squared distance to the query via the
    lookup table — ``element_at`` into an M-entry literal array per
    subspace, summed in subspace order. No per-row vector arithmetic."""
    dtab = adc_table(codebooks, query_vec)
    # the whole M-subspace lookup sum as ONE parsed SQL expression
    # (was M·K F.lit round-trips); element_at/+1 semantics unchanged
    acc = F.expr(
        " + ".join(
            "element_at(array("
            + ",".join(f"{float(d)!r}D" for d in row)
            + f"), c{m} + 1)"
            for m, row in enumerate(dtab)
        )
    )
    return encoded.select(F.col(id_col), acc.alias("adc_dist"))


def pq_topk(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k: encode → lookup-table scan → TakeOrderedAndProject.
    Ascending approximate distance, ties to the lowest id."""
    encoded = pq_encode(df, codebooks, id_col, vec_col)
    scored = pq_adc_scores(encoded, codebooks, query_vec, id_col)
    return (
        scored.select(id_col, F.round("adc_dist", 6).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(k)
    )
