"""Deduplication operators for training-data pipelines.

Four strategies, each chosen by where it sits on the exactness/scale curve:

- :func:`exact_dedup` — hash-groupBy on normalized content. One shuffle on
  the content key; at 100 TB prefer the md5 key over the raw text so the
  shuffle moves 32 bytes/row, not documents.
- :func:`minhash_signatures` / :func:`lsh_candidate_pairs` — MinHash+LSH
  near-dup: shingle → per-seed min-hash → band → bucket join. Candidate
  generation never compares all pairs: cost is O(rows × bands) + the
  bucket join, which AQE handles even with hot buckets.
- :func:`simhash` + :func:`simhash_near_pairs` — SimHash with pigeonhole
  banding (k differing bits over b bands ⇒ some band equal when k < b),
  so the pair search is again a bucket join, not a cross join.
- :func:`ngram_jaccard_pairs` — exact Jaccard via an inverted shingle
  index join; the verification step to run on LSH candidates.

All hashing is md5-derived (portable) so every step is reproducible in the
DuckDB oracle; swap ``row_hash`` (xxhash64) in for ~2× faster signatures
when cross-engine parity isn't needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition small inputs up to the cluster's parallelism.

    Tiny parquet files arrive as 1-3 input partitions; every
    expression-heavy per-row stage after them (regex normalize, shingle
    explode, hashing) would otherwise run on as many cores as there are
    files. One cheap round-robin shuffle of the *source rows* (not the
    exploded index) buys full-width parallelism. No-op when the input
    already has enough partitions — at real scale file counts dominate.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        # file-count heuristic: ~1000x cheaper than df.rdd.getNumPartitions()
        # (which builds the physical plan + RDD DAG just to read a number);
        # input files bound the scan's parallelism for splittable parquet
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= target:
        return df
    return df.repartition(target)


def normalized_text(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    return F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(t), r"[^a-z0-9 ]", ""), r"\s+", " ")
    )


def exact_dedup(
    df: DataFrame, id_col: str, text_col: str, normalize: bool = True
) -> DataFrame:
    """Exact dedup groups: one row per distinct content with the surviving
    (minimum) id and the duplicate count. Shuffles md5 keys, not text."""
    key = F.md5(normalized_text(text_col) if normalize else F.col(text_col))
    return (
        spread(df).select(F.col(id_col), key.alias("content_key"))
        .groupBy("content_key")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_cnt"),
        )
    )


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a BOUND token-array column.

    ``toks`` must be a materialized column (not an inline
    split(regexp(...)) expression): subtrees inside a higher-order
    function's lambda are re-evaluated per element, so an inline
    normalize+split would run once per shingle — observed 20× slowdown.
    Documents with < n words produce a single whole-text shingle so they
    still participate (otherwise short docs silently vanish from dedup).
    """
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def shingle_index(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, sh) inverted shingle index: normalize+tokenize ONCE per row in
    its own projection, then shingle+explode from the bound token array.

    This is the shared substrate of MinHash+LSH and n-gram Jaccard — both
    accept it prebuilt via their ``index=`` parameter. At 100 TB the index
    is a materialized TABLE (write it out partitioned, or ``persist()`` it
    within a job) built in one pass and consumed by every dedup strategy,
    instead of each strategy re-running normalize+shingle over the corpus.
    """
    base = spread(df).select(
        F.col(id_col), F.split(normalized_text(text_col), " ").alias("__toks")
    )
    return base.select(
        F.col(id_col), F.explode(shingles_from_tokens(F.col("__toks"), n)).alias("sh")
    )


# internal alias kept for call sites predating the public name
_exploded_shingles = shingle_index


# Mersenne prime 2^31-1: affine permutations (a·h + b) mod P over a
# 31-bit base hash are pairwise-independent enough for MinHash banding
# and stay exactly representable in any engine's 64-bit integers.
MINHASH_P = 2_147_483_647
# deterministic odd multipliers / offsets per permutation slot
MINHASH_A = [1_000_003, 999_983, 824_633_702_441 % MINHASH_P, 179_424_673,
             32_452_843, 15_485_863, 49_979_687, 86_028_121]
MINHASH_B = [12_345, 67_891, 24_680, 13_579, 97_531, 86_420, 11_111, 99_991]


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    shingle_n: int = 3,
    index: DataFrame | None = None,
) -> DataFrame:
    """(id, h0..h{k-1}): MinHash signature via universal hashing.

    ONE md5 per shingle occurrence (the portable 31-bit base hash), then
    ``num_hashes`` cheap integer affine permutations — versus hashing the
    string once per permutation, an ~8× cut of the dominant cost at
    corpus scale. a·h < 2^62 so the modular arithmetic is exact bigint
    in every engine (no overflow, no float).

    ``index``: a prebuilt :func:`shingle_index` (persisted or a
    materialized table) — skips rebuilding normalize+shingle here.
    """
    assert num_hashes <= len(MINHASH_A)
    ex = index if index is not None else shingle_index(df, id_col, text_col, shingle_n)
    base = (
        F.conv(F.substring(F.md5(F.col("sh")), 1, 8), 16, 10).cast("bigint")
        % MINHASH_P
    )
    withbase = ex.select(F.col(id_col), base.alias("__h"))
    # each permutation's min-agg as ONE parsed SQL expression. The
    # L-suffixed bigint literals rely on the same bigint promotion the
    # old int literals received (F.lit picked int; bigint*int promotes
    # to bigint), keeping the arithmetic identical.
    aggs = [
        F.expr(
            f"min(((__h * {MINHASH_A[i]}L) + {MINHASH_B[i]}L) % {MINHASH_P}L)"
        ).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return withbase.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str, num_hashes: int = 8, bands: int = 4
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing ≥1 LSH band.

    Bands of r = num_hashes/bands rows each; band key = md5 of the
    concatenated signature slice. The self-join is on (band_idx, band_key)
    — an equi-join Spark executes shuffle-hash per bucket; hot buckets
    (boilerplate docs) are exactly what AQE skew-join splits.
    """
    r = num_hashes // bands
    # the banded struct array as ONE parsed SQL expression (same casts,
    # same concat_ws/md5 — ~10 Py4J round-trips per band saved)
    band_array = "array(" + ",".join(
        f"struct({b} AS band_idx, md5(concat_ws('|', "
        + ", ".join(f"CAST(h{b * r + j} AS STRING)" for j in range(r))
        + ")) AS band_key)"
        for b in range(bands)
    ) + ")"
    banded = (
        sigs.select(F.col(id_col), F.explode(F.expr(band_array)).alias("band"))
        .select(id_col, "band.band_idx", "band.band_key")
        .persist()  # the self-join would otherwise recompute the whole
        # minhash pipeline (shingle explode + 8 min-aggs) once per side
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.band_idx") == F.col(f"b.band_idx"))
            & (F.col(f"a.band_key") == F.col(f"b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    index: DataFrame | None = None,
    prefix_filter: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle.

    Inverted-index formulation: explode distinct shingles, self-join on the
    shingle (never all-pairs), count intersections, then
    |A∩B| / (|A| + |B| − |A∩B|). Exact integers until one final division —
    deterministic across engines.

    ``max_df`` is the scale lever (SCALE.md): the join cost is
    Σ document-frequency² over shingles, so at corpus scale drop shingles
    with df > max_df from the JOIN side — ubiquitous shingles carry no
    discriminative signal but dominate the quadratic term. Sizes still
    count every shingle, so the resulting jaccard is a (tight) lower
    bound; ``None`` keeps the computation exact.

    ``index``: a prebuilt :func:`shingle_index` — assumed already
    persisted/materialized by the caller (it is read several times here).

    ``prefix_filter`` switches the exact path to AllPairs/PPJoin prefix
    filtering (Bayardo et al. 2007): under a global rarity order
    (df, sh), a pair with |A∩B| ≥ ceil(t·|A|) must share a shingle within
    each doc's first ``|d| − ceil(t·|d|) + 1`` shingles, so the self-join
    runs only over those (rarest-first) prefixes and candidates are
    verified against full shingle sets. Provably the same output. WHEN to
    use which (measured): on zipf-like text where most shingles are rare,
    prefix filtering collapses the Σ df² term and wins; on this fixture's
    degenerate 20-word vocabulary even prefix shingles carry df≈30, and
    the grouped-count join — whose 25M intermediate rows never
    materialize thanks to map-side partial aggregation — is 2.6× faster
    (2.4 s vs 6.4 s at sf0.1). Default stays grouped-count; equivalence
    is pinned by tests/test_pipeline_ops.py.
    """
    ex = (
        index
        if index is not None
        else shingle_index(df, id_col, text_col, shingle_n).persist()
    )
    sizes = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    if not prefix_filter:
        # grouped-count join (exact when max_df is None, lower-bound when
        # capped): intermediate pair rows map-side combine, never
        # materializing
        join_side = ex
        if max_df is not None:
            rare = (
                ex.groupBy("sh")
                .agg(F.count(F.lit(1)).alias("df"))
                .where(F.col("df") <= max_df)
                .select("sh")
            )
            join_side = ex.join(rare, "sh")
        a, b = join_side.alias("a"), join_side.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.sh") == F.col("b.sh"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("inter_cnt"))
        )
        sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
        sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
        return (
            inter.join(sa, "id_a")
            .join(sb, "id_b")
            .withColumn(
                "jaccard",
                F.col("inter_cnt").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter_cnt")).cast("double"),
            )
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "inter_cnt", "jaccard")
        )

    from pyspark.sql import Window

    # exact path: prefix-filtered candidate generation + set verification
    dfreq = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    wdoc = Window.partitionBy(id_col).orderBy("df", "sh")
    prefix = (
        ex.join(dfreq, "sh")
        .withColumn("rnk", F.row_number().over(wdoc))
        .join(sizes, id_col)
        .where(
            F.col("rnk")
            <= F.col("sz") - F.ceil(F.lit(float(threshold)) * F.col("sz")) + 1
        )
        .select(id_col, "sh")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    sets = ex.groupBy(id_col).agg(F.collect_set("sh").alias("ss"))
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("ss").alias("ss_a"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("ss").alias("ss_b"))
    inter = F.size(F.array_intersect(F.col("ss_a"), F.col("ss_b")))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("inter_cnt", inter.cast("bigint"))
        .withColumn(
            "jaccard",
            F.col("inter_cnt").cast("double")
            / (F.size("ss_a") + F.size("ss_b") - F.col("inter_cnt")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "inter_cnt", "jaccard")
    )


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over candidate pairs → (id, cluster_id).

    The last stage of a real dedup pipeline: LSH/jaccard emit PAIRS, but
    survivorship needs CLUSTERS (a≈b, b≈c ⇒ keep one of {a,b,c}).
    Iterative min-label propagation: every node repeatedly adopts the
    smallest id reachable over one hop, converging in O(diameter)
    rounds — near-dup clusters have tiny diameters, so few iterations.
    Each round is one grouped aggregation over the edge list; state is the
    label frame (O(nodes)), checkpoint-free because the edge list is
    deterministic.

    cluster_id = min id in the component (the survivor under keep-min).
    """
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .unionAll(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
    )
    for _ in range(max_iters):
        # candidate label per node: min over neighbors' labels and own
        neighbor_min = (
            edges.join(labels.withColumnRenamed("id", "v"), "v")
            .groupBy("u")
            .agg(F.min("cluster_id").alias("nmin"))
            .withColumnRenamed("u", "id")
        )
        new_label = F.least(F.col("cluster_id"), F.coalesce("nmin", "cluster_id"))
        new_labels = labels.join(neighbor_min, "id", "left").select(
            "id",
            new_label.alias("new_cluster_id"),
            # change flag computed IN the propagation plan, so the
            # convergence probe below is a filter over checkpointed
            # blocks instead of a second new-vs-old join job
            (new_label != F.col("cluster_id")).alias("chg"),
        )
        # localCheckpoint cuts the per-iteration lineage growth (otherwise
        # plan size doubles every round) and materializes for the change
        # probe + next round in one go
        new_labels = new_labels.localCheckpoint()
        changed = new_labels.where("chg").limit(1).count()
        labels = new_labels.select(
            "id", F.col("new_cluster_id").alias("cluster_id")
        )
        if changed == 0:
            break
    edges.unpersist()
    return labels


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """(id, simhash): sum ±1 per hash bit over the doc's distinct tokens,
    bit set where the sum is positive. md5-derived token hashes keep it
    engine-portable.

    No row inflation: the earlier shape exploded tokens×bits (a 32-64×
    intermediate) and aggregated twice. Here each token's md5 prefix is
    decomposed ONCE into 32-bit integer chunks (substring + conv — exact
    for any ``bits`` ≤ 128), and a single groupBy(id) computes all per-bit
    one-counts as ``bits`` map-side-combined sums over ``(chunk >> k) % 2``
    expressions. The ±1 sign sum never needs materializing: with ``n``
    distinct tokens, ``sum(±1) > 0  ⇔  2·ones > n`` (ties stay unset,
    identical to the exploded form). Signature assembly uses
    ``shiftleft(1L, b)`` — bit 63 lands on the sign bit; the signed value
    IS the two's-complement bit pattern, and banding below reads it with
    an unsigned shift."""
    if not 1 <= bits <= 128:
        raise ValueError(f"bits must be in [1, 128], got {bits}")
    n_hex = (bits + 3) // 4
    toks = spread(df).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.split(normalized_text(text_col), " "))
        ).alias("tok"),
    )
    # md5 hex computed ONCE per token; big-endian prefix → 32-bit chunks
    # (chunk j covers bits 32j..32j+31, counted from the LSB of the prefix).
    # All per-bit expression lists are built as parsed SQL text, not
    # chained Column ops: the former shape spent ~300 Py4J round-trips
    # (~0.6 s of pure driver time per call) assembling the same tree
    # (the ranks.py lesson — build SQL text in wide driver loops).
    hashed = toks.select(F.col(id_col), F.md5(F.col("tok")).alias("hx"))
    chunk_cols = []
    for j in range((bits + 31) // 32):
        width = min(8, n_hex - 8 * j)
        start = n_hex - 8 * j - width + 1
        chunk_cols.append(
            F.expr(
                f"CAST(conv(substring(hx, {start}, {width}), 16, 10) AS BIGINT)"
            ).alias(f"c{j}")
        )
    chunked = hashed.select(F.col(id_col), *chunk_cols)
    ones = [
        F.expr(f"sum(shiftright(c{b // 32}, {b % 32}) % 2)").alias(f"o{b}")
        for b in range(bits)
    ]
    agg = chunked.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"), *ones)
    sig = F.expr(
        "CAST(0 AS BIGINT) + "
        + " + ".join(
            f"if(o{b} * 2 > n, shiftleft(CAST(1 AS BIGINT), {b}), CAST(0 AS BIGINT))"
            for b in range(bits)
        )
    )
    return agg.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_pairs(
    sh: DataFrame, id_col: str, max_hamming: int = 3, bits: int = 32, bands: int = 4
) -> DataFrame:
    """Pairs with hamming(simhash) ≤ max_hamming, found via pigeonhole
    banding (≤3 differing bits over 4 bands ⇒ ≥1 identical band), so the
    search is a bucket join instead of an all-pairs scan."""
    width = bits // bands
    # unsigned shift: with bits=64 the sign bit is a real hash bit, and an
    # arithmetic shift would smear it over the high bands
    band_cols = [
        F.struct(
            F.lit(i).alias("band_idx"),
            F.expr(
                f"shiftrightunsigned(simhash, {i * width}) % {2 ** width}"
            ).alias("band_val"),
        )
        for i in range(bands)
    ]
    banded = sh.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*band_cols)).alias("band")
    ).select(id_col, "simhash", "band.band_idx", "band.band_val")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.withColumn("hamming", hamming).where(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")


def span_grams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
) -> DataFrame:
    """Positional word k-gram hashes: ``(id, pos, h)`` — one row per
    k-gram occurrence, h md5-derived (oracle-reproducible; collisions
    affect both engines identically). The shared front end of BOTH
    span-dedup granularities: :func:`repeated_span_runs` (cross-document)
    and the intra-document repeat signal join this frame against itself
    with different equi-keys, so callers that need both should build it
    once (queries_round5 persists it per session)."""
    # short docs are dropped by the Generate itself (explode(NULL) emits
    # no rows): a where(size(w) >= k) on the aliased w was pushed below
    # the projection, re-inlining normalize+split so they ran TWICE per
    # doc — once serially on the scan task before spread's exchange
    return (
        spread(df)
        .select(F.col(id_col), F.split(normalized_text(text_col), " ").alias("w"))
        .select(
            id_col,
            F.explode(
                F.when(F.size("w") >= k, F.sequence(F.lit(1), F.size("w") - k + 1))
            ).alias("pos"),
            F.col("w"),
        )
        .select(
            id_col,
            "pos",
            F.conv(
                F.substring(
                    F.md5(F.array_join(F.expr(f"slice(w, pos, {k})"), " ")), 1, 15
                ),
                16,
                10,
            )
            .cast("bigint")
            .alias("h"),
        )
    )


def repeated_span_runs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    max_df: int | None = 256,
    grams: DataFrame | None = None,
) -> DataFrame:
    """UN-thresholded shared-run table feeding :func:`repeated_span_pairs`:
    one row per maximal run of consecutive shared word k-grams between a
    document pair — ``(id_a, id_b, run_len)`` down to run_len = 1.

    Split out so consumers with DIFFERENT run-length thresholds (the
    span-pair report at min_run=2 and the span-dedup drop set at
    min_run=7 both register as queries) can share ONE persisted
    evaluation of the expensive upstream — normalize → gram hash →
    inverted-index self-join → gaps-and-islands — instead of running it
    twice; filtering a run table by length is free, rebuilding it is the
    whole cost. Same sharing pattern as the jaccard-pairs artifact
    (queries_pipeline._shared_jaccard_pairs).

    Pipeline (never all-pairs, never a suffix array in one task):

    1. explode word positions; hash each k-gram (md5-derived, so the
       oracle reproduces it — collisions affect both engines identically);
    2. inverted-index self-join on the gram hash (cost Σ df² — near-unique
       k-grams at k≥4 keep df tiny); ``max_df`` caps that quadratic term:
       grams occurring more than ``max_df`` times corpus-wide (boilerplate
       like "all rights reserved and" on a web crawl, df in the millions)
       are anti-joined out of BOTH join sides before matching, exactly as
       :func:`ngram_jaccard_pairs` drops hot shingles. A run through a
       dropped hot gram splits into shorter runs, so capped output is a
       conservative (span-shortening) approximation; ``None`` is exact.
       The hot-gram set has at most ``total_grams / max_df`` members — a
       sliver that AQE broadcast-joins;
    3. matches on the same pair at the same positional offset
       (``pos_a − pos_b``) are consecutive iff ``pos_a − row_number()`` is
       constant — one window PARTITIONED BY (pair, offset), no global sort.
    """
    from pyspark.sql import Window

    if grams is None:
        grams = span_grams(df, id_col, text_col, k=k)
    if max_df is not None:
        hot = (
            grams.groupBy("h")
            .agg(F.count(F.lit(1)).alias("gram_df"))
            .where(F.col("gram_df") > max_df)
            .select("h")
        )
        grams = grams.join(hot, "h", "left_anti")
    a, b = grams.alias("a"), grams.alias("b")
    matches = a.join(
        b,
        (F.col("a.h") == F.col("b.h"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.col("a.pos").alias("pa"),
        (F.col("a.pos") - F.col("b.pos")).alias("diag"),
    )
    wrun = Window.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    runs = matches.withColumn("grp", F.col("pa") - F.row_number().over(wrun))
    return (
        runs.groupBy("id_a", "id_b", "diag", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
        .select("id_a", "id_b", "run_len")
    )


def repeated_span_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    min_run: int = 2,
    max_df: int | None = 256,
    runs: DataFrame | None = None,
) -> DataFrame:
    """Cross-document repeated SPANS: maximal runs of consecutive shared
    word k-grams between document pairs — the substring-level dedup signal
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better") that set-based MinHash/Jaccard can't see, because a long
    verbatim quotation inside two otherwise-different documents barely
    moves set similarity.

    The heavy lifting (and the scale story) lives in
    :func:`repeated_span_runs`; this thresholds runs of ≥ ``min_run``
    grams — spans of ``k + run − 1`` words — and aggregates per pair.
    Pass a precomputed/persisted ``runs`` frame (built with the same
    ``k``/``max_df``) to share that upstream across thresholds.

    Output: (id_a, id_b, longest_span_words, n_spans) per pair with at
    least one qualifying span.
    """
    if runs is None:
        runs = repeated_span_runs(df, id_col, text_col, k=k, max_df=max_df)
    spans = runs.where(F.col("run_len") >= min_run)
    return spans.groupBy("id_a", "id_b").agg(
        (F.max("run_len") + k - 1).cast("bigint").alias("longest_span_words"),
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
    )


def _paragraphs(text_col: str):
    """(position, paragraph) explode: split on blank lines, trim outer
    whitespace, drop empties — pure Column expressions.  The paragraph
    text stays ORIGINAL (inner newlines/spacing intact — a rebuilt
    document must not silently reformat code blocks or verse);
    :func:`_para_key` normalizes for MATCHING only."""
    paras = F.split(F.col(text_col), "\\n\\s*\\n")
    pz = F.filter(F.transform(paras, F.trim), lambda p: p != "")
    return F.posexplode(pz)


def _para_key(para) -> Column:
    """Duplicate-match key: whitespace-collapsed content hash, so
    spacing variants of the same boilerplate collide."""
    return F.xxhash64(F.regexp_replace(para, "\\s+", " "))


def paragraph_dedup_stats(
    df: DataFrame, id_col: str, text_col: str, min_len: int = 40
) -> DataFrame:
    """Per-document cross-corpus paragraph-duplication ratio — the
    boilerplate signal (headers, disclaimers, templated blurbs) that
    document-level dedup can't see because the surrounding text
    differs.  Paragraphs (blank-line split, whitespace-normalized,
    ≥ ``min_len`` chars) hash with xxhash64; a paragraph is DUPLICATED
    when its hash appears in more than one distinct document.  Two
    shuffles, both map-side combinable: (hash → distinct-doc count) and
    the per-doc rollup; the hash frame holds hashes, never text.
    Output: (id, n_paras, n_dup_paras, dup_ratio_ppm) — one row for
    EVERY input document (zero qualifying paragraphs reports 0/0/0,
    matching :func:`drop_duplicate_paragraphs`' kept-not-missing
    contract)."""
    pp = df.select(
        F.col(id_col).alias("id"), _paragraphs(text_col)
    ).select(
        "id", F.col("pos"), F.col("col").alias("para")
    ).where(F.length("para") >= min_len)
    ph = pp.select("id", "pos", _para_key("para").alias("ph"))
    docs_per_hash = ph.groupBy("ph").agg(
        F.count_distinct("id").alias("nd")
    )
    counted = (
        ph.join(docs_per_hash, "ph")
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_paras"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_paras"),
        )
    )
    return (
        df.select(id_col)
        .join(counted, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_paras", F.lit(0)).cast("bigint").alias("n_paras"),
            F.coalesce("n_dup_paras", F.lit(0))
            .cast("bigint")
            .alias("n_dup_paras"),
        )
        .select(
            id_col,
            "n_paras",
            "n_dup_paras",
            F.when(F.col("n_paras") > 0,
                   F.col("n_dup_paras") * 1_000_000 / F.col("n_paras"))
            .otherwise(0)
            .cast("bigint")
            .alias("dup_ratio_ppm"),
        )
    )


def drop_duplicate_paragraphs(
    df: DataFrame, id_col: str, text_col: str, min_len: int = 40
) -> DataFrame:
    """Rewrite each document keeping, for every paragraph seen anywhere
    in the corpus, only its CANONICAL occurrence — the (lowest id,
    lowest position) instance, a total order, so the result is
    deterministic under any partitioning.  Paragraphs shorter than
    ``min_len`` always survive (too short to be meaningful boilerplate
    evidence).  One window over the hash groups (partitioned BY hash —
    group sizes are duplicate counts, never corpus-sized) plus the
    per-doc reassembly sort.  Output: (id, text) with paragraphs
    rejoined by blank lines; documents whose every paragraph was a
    non-canonical duplicate come back EMPTY (kept, auditable) rather
    than silently vanishing."""
    from pyspark.sql import Window

    pp = df.select(
        F.col(id_col).alias("id"), _paragraphs(text_col)
    ).select("id", F.col("pos"), F.col("col").alias("para"))
    # short paragraphs get a UNIQUE per-occurrence group (hash of the
    # occurrence, not the text) so they always win their own window —
    # grouping them under one NULL key would funnel every short
    # paragraph in the corpus through a single window partition
    ph = pp.withColumn(
        "ph",
        F.when(
            F.length("para") >= min_len, _para_key("para")
        ).otherwise(F.xxhash64(F.lit("short:"), "id", "pos")),
    )
    w = Window.partitionBy("ph").orderBy("id", "pos")
    keep = ph.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") == 1
    )
    rebuilt = keep.groupBy(F.col("id").alias(id_col)).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            "\n\n",
        ).alias(text_col)
    )
    # a document whose every paragraph was a non-canonical duplicate
    # must come back EMPTY, not vanish
    return df.select(id_col).join(rebuilt, id_col, "left").select(
        id_col, F.coalesce(F.col(text_col), F.lit("")).alias(text_col)
    )


def unicode_normalized(df: DataFrame, text_col: str, out_col: str,
                       form: str = "NFKC") -> DataFrame:
    """Append ``out_col`` = unicodedata-normalized ``text_col`` (NFKC
    default: canonical composition + compatibility folding, so the
    composed and decomposed spellings of ``café`` — visually identical,
    byte-different — share one dedup key; fullwidth/halfwidth forms
    fold too).  Spark SQL has no normalizer, so this is an
    Arrow-batched pandas UDF — the pattern reserved for what Columns
    can't express; keep it ahead of the key computation, not in a hot
    per-comparison path."""
    import pandas
    from pyspark.sql.functions import pandas_udf

    def _norm_fn(s):
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize(form, x)
            if isinstance(x, str)
            else x
        )

    # this module uses PEP 563 (stringified) annotations, which the
    # pandas_udf hint parser rejects — attach the real objects instead
    _norm_fn.__annotations__ = {"s": pandas.Series, "return": pandas.Series}
    _norm = pandas_udf(_norm_fn, "string")
    return df.withColumn(out_col, _norm(F.col(text_col)))
