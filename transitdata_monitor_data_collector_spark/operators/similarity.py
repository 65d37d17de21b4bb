"""Similarity search over embedding columns (charter extension).

- :func:`cosine_topk` — brute-force top-k. Scale path: Spark's
  ``orderBy().limit(k)`` compiles to TakeOrderedAndProject — per-partition
  top-k then a k-sized merge on the driver; no full sort, no full shuffle.
  This IS the correct 100 TB baseline.
- :func:`cosine_neardup_pairs` — all-pairs above a threshold. Brute force
  is quadratic; at scale use :func:`rp_lsh_buckets` to cut candidates.
- :func:`rp_lsh_buckets` / :func:`ann_lsh_topk` — random-hyperplane LSH:
  deterministic literal hyperplanes folded into the plan (no broadcast
  needed), bucket join instead of cross join.

Vector math on the hot verify/refine paths is JVM-side
(``zip_with``/``aggregate``/``bit_count``); the one Python stage is the
Arrow-vectorized signature matmul in :func:`_rp_signatures` (dense linear
algebra — the documented exception to "UDFs are the slow path").
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from transitdata_monitor_data_collector_spark.functions.vectors import (
    as_double,
    cosine,
)


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k rows by cosine similarity to a literal query vector.

    The query vector is folded into the plan as an array literal —
    constant-folded by Catalyst, no join, no broadcast, no shuffle except
    the final k-row merge."""
    q = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")
    return (
        df.select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(k)
    )


#: Hard ceiling for the brute-force baseline: above this the O(n²)
#: compare (and the driver-collected matrix) cannot be an accident —
#: callers must use :func:`rp_lsh_neardup_pairs` instead.
BRUTE_FORCE_MAX_ROWS = 200_000


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_rows: int = BRUTE_FORCE_MAX_ROWS,
) -> DataFrame:
    """All pairs with cosine >= threshold (embedding near-dup detection) —
    the BRUTE-FORCE baseline, vectorized.

    Still O(n²) compares (that is the point of a baseline; the scale path
    is :func:`rp_lsh_neardup_pairs`), but executed at GEMM rate: the
    normalized matrix is broadcast once (n x dim doubles — small exactly
    when brute force is feasible at all), and each partition multiplies
    its row block against it in one numpy matmul inside an Arrow-batched
    ``mapInPandas`` — ~100x faster than evaluating an interpreted
    per-pair Column fold over the nested-loop join."""
    import numpy as np
    import pandas as pd

    src = df.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
    n = src.count()
    if n > max_rows:
        raise ValueError(
            f"cosine_neardup_pairs is the O(n²) brute-force BASELINE and "
            f"refuses {n:,} input rows (> {max_rows:,}): at this size the "
            f"quadratic compare (and the driver-side matrix broadcast) is "
            f"a scale bug, not a reference run. Use rp_lsh_neardup_pairs "
            f"(banded RP-LSH + exact verify — same output contract) or "
            f"pass max_rows explicitly for a deliberate oracle run."
        )
    pdf = src.toPandas()  # bounded: the guard above caps n
    ids_all = pdf["id"].to_numpy()
    m_all = np.stack(pdf["v"].to_numpy()).astype(np.float64)
    m_all /= np.maximum(np.linalg.norm(m_all, axis=1, keepdims=True), 1e-300)
    bc = df.sparkSession.sparkContext.broadcast((ids_all, m_all))

    def blocks(batches):
        b_ids, b_mat = bc.value
        for pb in batches:
            if len(pb) == 0:
                continue
            ids_b = pb["id"].to_numpy()
            mb = np.stack(pb["v"].to_numpy()).astype(np.float64)
            mb /= np.maximum(np.linalg.norm(mb, axis=1, keepdims=True), 1e-300)
            sims = np.round(mb @ b_mat.T, 6)  # (block, n)
            ii, jj = np.nonzero(sims >= threshold)
            keep = ids_b[ii] < b_ids[jj]  # upper triangle only
            yield pd.DataFrame(
                {
                    "id_a": ids_b[ii][keep],
                    "id_b": b_ids[jj][keep],
                    "cos_sim": sims[ii, jj][keep],
                }
            )

    return src.mapInPandas(blocks, "id_a long, id_b long, cos_sim double")


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (pure python, no numpy
    state leakage): xorshift-ish LCG -> Box-Muller."""
    state = seed * 6364136223846793005 % (2**63)
    planes = []
    for _ in range(n_planes):
        vals = []
        while len(vals) < dim:
            state = (state * 6364136223846793005 + 1442695040888963407) % (2**64)
            u1 = ((state >> 11) & ((1 << 53) - 1)) / float(1 << 53)
            state = (state * 6364136223846793005 + 1442695040888963407) % (2**64)
            u2 = ((state >> 11) & ((1 << 53) - 1)) / float(1 << 53)
            if u1 <= 1e-12:
                continue
            r = math.sqrt(-2.0 * math.log(u1))
            vals.append(r * math.cos(2 * math.pi * u2))
            if len(vals) < dim:
                vals.append(r * math.sin(2 * math.pi * u2))
        planes.append(vals[:dim])
    return planes


def rp_bucket_sql(
    vec_expr: str, dim: int, n_planes: int, seed: int = 42
) -> str:
    """DuckDB expression computing the same bucket id as
    :func:`rp_lsh_buckets` / the query-side signature in
    :func:`ann_lsh_topk`: the literal hyperplanes are rendered into SQL
    (``repr(float)`` is shortest-roundtrip, so both engines see identical
    doubles), making the "approximate" index deterministically
    oracle-checkable."""
    terms = []
    for i, plane in enumerate(_hyperplanes(dim, n_planes, seed)):
        arr = "[" + ", ".join(repr(x) for x in plane) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({vec_expr}, {arr}) > 0"
            f" THEN {2 ** i} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


def pico_dot_sql(a_expr: str, b_expr: str, dim: int) -> str:
    """DuckDB twin of ``functions.vectors.pico_dot``: picounit
    scaled-integer inner product over two DOUBLE[] expressions —
    floor(a[i]*b[i]*1e12 + 0.5) summed as BIGINT, descaled once.
    Order-independent and bit-identical to the Spark fold, where
    ``list_dot_product`` differs from a double fold by an ulp."""
    return (
        f"(CAST(list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> CAST(floor(({a_expr})[i] * ({b_expr})[i] * 1e12 + 0.5) "
        f"AS BIGINT))) AS DOUBLE) / 1e12)"
    )


def pico_cosine_sql(a_expr: str, b_expr: str, dim: int) -> str:
    """DuckDB twin of ``functions.vectors.pico_cosine``."""
    return (
        f"({pico_dot_sql(a_expr, b_expr, dim)} / "
        f"(sqrt({pico_dot_sql(a_expr, a_expr, dim)}) * "
        f"sqrt({pico_dot_sql(b_expr, b_expr, dim)})))"
    )


def pico_sqdist_sql(a_expr: str, b_expr: str, dim: int) -> str:
    """DuckDB twin of ``functions.vectors.pico_sqdist``."""
    return (
        f"(CAST(list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> CAST(floor(pow(({a_expr})[i] - ({b_expr})[i], 2) * 1e12 "
        f"+ 0.5) AS BIGINT))) AS DOUBLE) / 1e12)"
    )


def rp_lsh_buckets(
    df: DataFrame,
    dim: int,
    n_planes: int = 12,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane LSH bucket id per row (sign pattern over n_planes
    literal hyperplanes). Deterministic given (dim, n_planes, seed)."""
    sig = F.lit(0).cast("long")
    v = as_double(F.col(vec_col))
    for i, plane in enumerate(_hyperplanes(dim, n_planes, seed)):
        p = F.array(*[F.lit(x) for x in plane])
        d = F.aggregate(
            F.zip_with(v, p, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )
        sig = sig + F.when(d > 0, F.lit(2**i).cast("long")).otherwise(0)
    return df.select(F.col(id_col), F.col(vec_col), sig.alias("bucket"))


def ann_lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: restrict the scan to the query's LSH bucket, then
    exact cosine within it. At scale the bucket column would be a partition
    key (partition pruning turns this into a sub-scan)."""
    dim = len(query_vec)
    bucketed = rp_lsh_buckets(df, dim, n_planes, vec_col, id_col, seed)
    qsig = 0
    for i, plane in enumerate(_hyperplanes(dim, n_planes, seed)):
        d = sum(px * qx for px, qx in zip(plane, query_vec))
        if d > 0:
            qsig += 2**i
    q = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")
    return (
        bucketed.filter(F.col("bucket") == qsig)
        .select(
            F.col(id_col), F.round(cosine(F.col(vec_col), q), 6).alias("cos_sim")
        )
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(k)
    )


def _rp_signatures(
    df: DataFrame,
    dim: int,
    n_bands: int,
    band_planes: int,
    vec_col: str,
    id_col: str,
    seed: int,
) -> DataFrame:
    """(id, keys array<int>, sig array<long>) — per-band LSH keys plus the
    full sign pattern packed into 64-bit words (for hamming refinement).

    One Arrow-vectorized Pandas UDF: n_bands*band_planes sign tests per
    row are a dense (n x dim) @ (dim x planes) matmul — exactly the shape
    where nested Column aggregates fall back to interpreted eval and numpy
    is 10-100x faster (the charter's "UDFs are the slow path ... except
    vectorized linear algebra" case). Still a narrow map stage: no
    shuffle, Arrow batches in/out, planes baked into the UDF closure
    (shipped once per executor, not per row)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    n_planes = n_bands * band_planes
    planes_m = np.array(_hyperplanes(dim, n_planes, seed)).T  # (dim, planes)
    pow2 = 2 ** np.arange(band_planes, dtype=np.int64)
    n_longs = (n_planes + 63) // 64
    word_w = 1 << np.arange(64, dtype=np.uint64)

    def _sigs(vecs):
        mat = np.stack(vecs.to_numpy()).astype(np.float64)  # (n, dim)
        signs = (mat @ planes_m) > 0  # (n, planes)
        keys = (
            signs.reshape(len(mat), n_bands, band_planes) * pow2
        ).sum(axis=2)  # (n, n_bands)
        padded = np.zeros((len(mat), n_longs * 64), dtype=bool)
        padded[:, :n_planes] = signs  # zero padding XORs away in hamming
        packed = (
            (padded.reshape(len(mat), n_longs, 64) * word_w)
            .sum(axis=2, dtype=np.uint64)
            .view(np.int64)  # bit-reinterpret: Spark longs are signed
        )
        return pd.DataFrame(
            {"keys": list(keys), "sig": list(packed)}
        )

    # legacy (no-type-hint) form: `from __future__ import annotations`
    # stringifies hints, which pandas_udf's hint inference can't resolve
    sigs = pandas_udf(_sigs, "keys array<long>, sig array<long>")
    return df.select(
        F.col(id_col).alias("id"), sigs(F.col(vec_col)).alias("s")
    )


def hamming_cut(threshold: float, n_bits: int) -> int:
    """Hamming cut for the signature refinement: for a pair exactly at the
    cosine threshold, disagreeing-bit count ~ Binomial(n_bits, θ/π); cut
    at mean + 6σ so the miss probability is ≈1e-9 (Chernoff), negligible
    next to the banding miss. Random pairs (θ≈π/2) sit ~9σ above the cut
    and are rejected before any vector is fetched."""
    frac = math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    mean = n_bits * frac
    sigma = math.sqrt(n_bits * frac * (1.0 - frac))
    return int(math.ceil(mean + 6.0 * sigma))


def rp_banded_candidates(
    df: DataFrame,
    dim: int,
    n_bands: int = 44,
    band_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Candidate near-dup pairs from BANDED random-hyperplane LSH — the
    sign-pattern analog of MinHash banding (see
    ``dedup.minhash_lsh_candidates``).

    Each band hashes the vector to a ``band_planes``-bit sign signature
    over literal hyperplanes; rows are exploded into ``n_bands`` tiny
    (id, band, key) triples and equi-self-joined on (band, key). P(two
    vectors at angle θ agree on one plane) = 1 - θ/π, so
    P(candidate) = 1 - (1 - (1-θ/π)^band_planes)^n_bands.
    At cos >= 0.9 (θ <= 0.451 rad, p ≈ 0.8564) the defaults give a miss
    probability of (1 - 0.8564^8)^44 ≈ 3e-7 — recall is effectively 1 at
    the verification threshold, so exact verification downstream
    determines the output. Unrelated pairs (θ ≈ π/2) collide per band at
    0.5^8 ≈ 0.004, so candidate volume stays near-linear. No cross join
    anywhere; the only shuffled rows are the banded key triples.
    """
    base = _rp_signatures(
        df, dim, n_bands, band_planes, vec_col, id_col, seed
    ).cache()  # one UDF pass feeds both sides of the self-join
    banded = base.select("id", F.posexplode("s.keys").alias("band", "key"))
    x = banded.alias("x")
    y = banded.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )


def rp_lsh_neardup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.9,
    n_bands: int = 44,
    band_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    dedup_exact_first: bool | str | None = None,
) -> DataFrame:
    """Banded-LSH candidates + hamming refinement + EXACT cosine
    verification: same output as the brute-force all-pairs join (the
    DuckDB oracle), with the quadratic compare confined to LSH buckets.

    Three-stage 100 TB plan:
    1. **Signature** — one narrow Arrow-batched map stage computes, per
       row, 44 8-bit band keys AND the full 352-bit sign pattern packed
       into 6 longs.
    2. **Candidates** — explode (band, key) triples, equi-self-join,
       distinct. Only id/band/key longs are shuffled (the packed
       signature does NOT ride through the explode).
    3. **Hamming refine, then exact verify** — candidate pairs first join
       the compact (id, 6-long sig) frame and are cut at
       :func:`hamming_cut` bits via codegen'd ``bit_count(xor)`` —
       a pair at cosine c disagrees on ~acos(c)/π of bits, so unrelated
       pairs (~50%) die here without ever fetching a vector. Survivors
       join the full vectors for the exact rounded cosine >= threshold.

    The refinement is what keeps the verify stage linear even when the
    banding degenerates (e.g. non-centered data clustered around one
    direction, where every pair collides in some band: histogram-like
    features). The brute-force :func:`cosine_neardup_pairs` is the
    small-data baseline/oracle."""
    from transitdata_monitor_data_collector_spark.operators import dedup as DD
    from transitdata_monitor_data_collector_spark.partitioning import (
        spread_small_input,
    )

    # A single-file corpus arrives as ONE split, which would pin the
    # signature matmul AND the banded candidate self-join + distinct to a
    # single task (the k=20 invariant sweep caught exactly this: the
    # small banded side broadcast, the whole quadratic candidate
    # enumeration on one core for an hour). Spread first — a no-op on
    # already-parallel inputs at real scale.
    df = spread_small_input(df, id_col)

    # ``dedup_exact_first`` (default: the dedup module's auto mode):
    # identical vectors produce identical signatures, so k exact copies
    # collide in EVERY band and multiply candidate pairs by k^2 — the
    # same quadratic-in-copies blowup the r8 shingle-set collapse fixed
    # for MinHash (the k=20 invariant sweep found this path still paying
    # it: ~400x the base candidate volume through one distinct). On a
    # duplicate-heavy corpus, collapse to one representative per DISTINCT
    # vector (exact: groupBy the vector column itself, min-id rep) before
    # banding, then expand pairs back through integer-only joins — cross
    # pairs inherit the content pair's cosine (identical doubles), intra
    # copies pair at exactly 1.0. Gated on the same cheap distinct-ratio
    # precheck as the text pipelines.
    decide = "auto" if dedup_exact_first is None else dedup_exact_first
    if decide == "auto":
        # shared memoized precheck (dedup._distinct_ratio_precheck):
        # within one build the decision is paid once per (frame, column),
        # and streaming inputs get the descriptive build-time error
        decide = DD._distinct_ratio_precheck(
            df, F.xxhash64(vec_col), vec_col
        )
    if decide:
        keyed = df.select(
            F.col(id_col).alias("doc_id"), F.col(vec_col).alias("_cv")
        )
        reps = keyed.groupBy("_cv").agg(F.min("doc_id").alias("ckey"))
        members = keyed.join(reps, "_cv").select("ckey", "doc_id")
        rep_key = members.filter(F.col("doc_id") == F.col("ckey"))
        rep_df = df.join(
            rep_key.select(F.col("doc_id").alias(id_col)), id_col, "left_semi"
        )
        rep_pairs = _rp_lsh_pairs_core(
            rep_df, dim, threshold, n_bands, band_planes, vec_col, id_col,
            seed,
        )
        # zero-norm vectors never self-pair (brute-force cosine is NULL),
        # so their duplicate groups must not expand into 1.0 intra pairs
        ok = rep_df.filter(
            F.aggregate(
                as_double(F.col(vec_col)),
                F.lit(0.0),
                lambda acc, x: acc + x * x,
            )
            > 0
        ).select(F.col(id_col).alias("doc_id"))
        rep_key_ok = rep_key.join(ok, "doc_id", "left_semi")
        members_ok = members.join(
            rep_key_ok.select("ckey"), "ckey", "left_semi"
        )
        return DD._expand_content_pairs(
            rep_pairs, rep_key_ok, members_ok,
            a_col="id_a", b_col="id_b", val_col="cos_sim",
        )
    return _rp_lsh_pairs_core(
        df, dim, threshold, n_bands, band_planes, vec_col, id_col, seed
    )


def _rp_lsh_pairs_core(
    df: DataFrame,
    dim: int,
    threshold: float,
    n_bands: int,
    band_planes: int,
    vec_col: str,
    id_col: str,
    seed: int,
) -> DataFrame:
    """The banding + hamming + verify pipeline over an already-spread,
    already-collapsed frame (see :func:`rp_lsh_neardup_pairs`)."""
    base = _rp_signatures(
        df, dim, n_bands, band_planes, vec_col, id_col, seed
    ).cache()  # one UDF pass: both join sides + both refine sides
    banded = base.select("id", F.posexplode("s.keys").alias("band", "key"))
    x = banded.alias("x")
    y = banded.alias("y")
    candidates = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    sigs = base.select("id", F.col("s.sig").alias("sig"))
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    hamming = F.aggregate(
        F.zip_with(
            F.col("sig_a"),
            F.col("sig_b"),
            lambda p, q: F.bit_count(p.bitwiseXOR(q)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, h: acc + h,
    )
    max_h = hamming_cut(threshold, n_bands * band_planes)
    refined = (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(hamming <= max_h)
        .select("id_a", "id_b")
    )
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    va = vecs.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"))
    vb = vecs.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"))
    return (
        refined.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos_sim", F.round(cosine(F.col("v_a"), F.col("v_b")), 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------


def ivf_train_centroids(
    df: DataFrame,
    n_lists: int = 16,
    max_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Train IVF coarse centroids with Lloyd iterations expressed as
    DataFrame aggregations.

    Deterministic init: the ``n_lists`` rows with smallest xxhash64(id)
    (a seeded pseudo-random sample with no RNG state). Each iteration:
    assign every vector to its nearest centroid (centroids folded into the
    plan as literals — no join, no broadcast), then recompute means via
    posexplode + groupBy(cluster, dim). Only (n_lists x dim) doubles ever
    reach the driver; the data-sized work is two narrow passes + one
    aggregation per iteration — the standard distributed-KMeans shape.
    """
    from pyspark.sql import functions as F  # local alias for readability

    vecs = df.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
    init_rows = (
        vecs.orderBy(F.xxhash64(F.col("id").cast("string")))
        .limit(n_lists)
        .collect()
    )
    centroids = [list(r["v"]) for r in init_rows]
    for _ in range(max_iter):
        assigned = vecs.withColumn(
            "cluster", _nearest_centroid_col(F.col("v"), centroids)
        )
        new_rows = (
            assigned.select("cluster", F.posexplode("v").alias("dim", "val"))
            .groupBy("cluster", "dim")
            .agg(F.avg("val").alias("mean"))
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in new_rows:
            by_cluster.setdefault(r["cluster"], {})[r["dim"]] = r["mean"]
        centroids = [
            [by_cluster[c][d] for d in sorted(by_cluster[c])]
            if c in by_cluster
            else centroids[c]  # empty cluster keeps its previous centroid
            for c in range(n_lists)
        ]
    return centroids


def _nearest_centroid_col(v, centroids: list[list[float]]):
    """argmin over squared L2 distance to literal centroids — a pure
    Column expression: an array of independent distance expressions and
    ``array_position(d, array_min(d))``. (A chained when(d < best, ...)
    formulation would embed the running best TWICE per step — exponential
    expression-tree blowup; this stays linear in n_lists.)"""
    from pyspark.sql import functions as F

    dists = F.array(*[_sq_dist(v, c) for c in centroids])
    # first index of the minimum (1-based -> 0-based); ties break low-index
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def _sq_dist(v, centroid: list[float]):
    from pyspark.sql import functions as F

    c = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Add the inverted-list id. At scale this column is the partition /
    cluster-by key of the stored index: a probe then scans only
    ``nprobe`` partitions (partition pruning does the candidate cut)."""
    from pyspark.sql import functions as F

    return df.select(
        F.col(id_col),
        F.col(vec_col),
        _nearest_centroid_col(as_double(F.col(vec_col)), centroids).alias("list_id"),
    )


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_lists: int = 16,
    nprobe: int = 4,
    max_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF ANN top-k: probe the ``nprobe`` nearest inverted lists, exact
    cosine only within them. With ``nprobe == n_lists`` this degrades to
    exact brute force (recall 1), giving a tunable recall/cost dial."""
    from pyspark.sql import functions as F

    if centroids is None:
        centroids = ivf_train_centroids(df, n_lists, max_iter, vec_col, id_col)
    order = sorted(
        range(len(centroids)),
        key=lambda i: sum(
            (a - b) * (a - b) for a, b in zip(centroids[i], query_vec)
        ),
    )
    probe = order[:nprobe]
    assigned = ivf_assign(df, centroids, vec_col, id_col)
    q = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")
    return (
        assigned.filter(F.col("list_id").isin(probe))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(k)
    )
