"""LLM-training-data pipeline operators (charter extension; graded as
first-class alongside SURVEY.md §2): dedup family, similarity search,
text analysis, multimodal plumbing — over the ``documents`` and
``embeddings`` tables.

Oracle strategy: approximate operators (MinHash-LSH, RP-LSH) are tuned so
recall ≈ 1 and candidates are verified EXACTLY — the declared output is an
exact quantity, so a brute-force DuckDB oracle checks it. Operators whose
output is inherently engine-internal (SimHash signatures, HLL sketches)
are registered without an oracle (driver records rows-only).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from transitdata_monitor_data_collector_spark.functions import text as TX
from transitdata_monitor_data_collector_spark.functions.rounding import (
    fround,
    fround_sql,
    fscaled,
    fscaled_sql,
)
from transitdata_monitor_data_collector_spark.functions.vectors import cosine, pico_dot
from transitdata_monitor_data_collector_spark.operators import dedup as DD
from transitdata_monitor_data_collector_spark.operators import similarity as SIM
from transitdata_monitor_data_collector_spark.partitioning import (
    spread_small_input,
)
from transitdata_monitor_data_collector_spark.plans import register, table

# ---------------------------------------------------------------------------
# Shared DuckDB fragments (kept in lockstep with functions/text.py).
# ---------------------------------------------------------------------------

# tokens of lower(text): matches TX.tokens(F.lower(text))
_DD_TOKENS_LOWER = "str_split_regex(trim(lower(text)), '\\s+')"
# tokens of raw text: matches TX.tokens(text)
_DD_TOKENS = "str_split_regex(trim(text), '\\s+')"

_DD_SHINGLES = f"""
  CASE WHEN len({_DD_TOKENS_LOWER}) >= 3
       THEN list_distinct([array_to_string(({_DD_TOKENS_LOWER})[i:i+2], ' ')
                           for i in generate_series(1, len({_DD_TOKENS_LOWER}) - 2)])
       ELSE CAST([] AS VARCHAR[]) END
"""

_JACCARD_ORACLE_BODY = f"""
    WITH sh AS (
      SELECT doc_id, {_DD_SHINGLES} AS shingles FROM documents
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, len(shingles) AS sz FROM sh)
    SELECT doc_a, doc_b,
           round(n_common / CAST(sa.sz + sb.sz - n_common AS DOUBLE), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(n_common / CAST(sa.sz + sb.sz - n_common AS DOUBLE), 6) >= {{thr}}
    ORDER BY doc_a, doc_b
"""


def _langid_sql() -> str:
    """DuckDB CASE mirroring functions.text.langid exactly."""
    # duckdb list literal: ['the', 'a', ...]
    score = {}
    for lang, markers in TX.LANG_MARKERS.items():
        lit = "[" + ", ".join("'" + m + "'" for m in markers) + "]"
        score[lang] = (
            f"len(list_filter({_DD_TOKENS}, t -> list_contains({lit}, lower(t))))"
        )
    branches = []
    prefs = TX.LANG_PREFERENCE
    for i, lang in enumerate(prefs):
        conds = [f"({score[lang]}) > 0"]
        for other in prefs[:i]:
            conds.append(f"({score[lang]}) > ({score[other]})")
        for other in prefs[i + 1 :]:
            conds.append(f"({score[lang]}) >= ({score[other]})")
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(branches) + " ELSE 'und' END"


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


@register(
    "doc_exact_dedup",
    oracle="""
    SELECT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS content_md5,
           min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY 1 ORDER BY content_md5
    """,
    doc="Exact dedup: hash-groupBy on normalized content md5, min-id "
    "representative. One shuffle; uniform keys (no skew) at any scale.",
    tags=("llm", "dedup"),
)
def doc_exact_dedup(spark, sf_dir):
    return DD.exact_dedup(table(spark, sf_dir, "documents")).orderBy("content_md5")


@register(
    "doc_ngram_jaccard_pairs",
    oracle=_JACCARD_ORACLE_BODY.format(thr=0.5),
    doc="Exact word-3-gram Jaccard near-dup pairs via inverted-index "
    "self-join (no cross join). Candidate generation is df-capped "
    "(DEFAULT_MAX_SHINGLE_FREQ) so a corpus-wide boilerplate shingle "
    "can't emit O(k^2) rows; verification re-computes |A∩B| on the full "
    "uncapped sets, so every reported jaccard is exact.",
    tags=("llm", "dedup"),
)
def doc_ngram_jaccard_pairs(spark, sf_dir):
    return DD.ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), threshold=0.5
    ).orderBy("doc_a", "doc_b")


@register(
    "doc_minhash_lsh_neardup",
    oracle=_JACCARD_ORACLE_BODY.format(thr=0.5),
    doc="MinHash(64)+LSH(32 bands of 2) candidates + exact Jaccard verify: "
    "recall ~1-6e-7 at J=0.5, so output == brute-force oracle; cost is "
    "bucket-local instead of corpus-wide.",
    tags=("llm", "dedup", "approx"),
)
def doc_minhash_lsh_neardup(spark, sf_dir):
    return DD.minhash_lsh_neardup_pairs(
        table(spark, sf_dir, "documents"), threshold=0.5
    ).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# Sketch-accuracy audit: MinHash-estimated vs exact Jaccard (r7).
# ---------------------------------------------------------------------------
# The production signature path hashes shingles with xxhash64 (JVM-only);
# this audit uses the cross-engine md5-prefix hash so the ENTIRE sketch —
# shingle hash -> 64 universal-hash minima -> per-pair signature-match
# estimate — replays bit-exactly in the DuckDB oracle. Same (a_i, b_i)
# universal-hash family as operators/dedup.minhash_signatures.

_MH_AUDIT_P = 2147483647
_MH_AUDIT_A = [40503, 121509, 202515, 283521, 364527, 445533, 526539, 607545, 688551, 769557, 850563, 931569, 1012575, 1093581, 1174587, 1255593, 1336599, 1417605, 1498611, 1579617, 1660623, 1741629, 1822635, 1903641, 1984647, 2065653, 2146659, 2227665, 2308671, 2389677, 2470683, 2551689, 2632695, 2713701, 2794707, 2875713, 2956719, 3037725, 3118731, 3199737, 3280743, 3361749, 3442755, 3523761, 3604767, 3685773, 3766779, 3847785, 3928791, 4009797, 4090803, 4171809, 4252815, 4333821, 4414827, 4495833, 4576839, 4657845, 4738851, 4819857, 4900863, 4981869, 5062875, 5143881]
_MH_AUDIT_B = [15485863, 16785584, 18085305, 19385026, 20684747, 21984468, 23284189, 24583910, 25883631, 27183352, 28483073, 29782794, 31082515, 32382236, 33681957, 34981678, 36281399, 37581120, 38880841, 40180562, 41480283, 42780004, 44079725, 45379446, 46679167, 47978888, 49278609, 50578330, 51878051, 53177772, 54477493, 55777214, 57076935, 58376656, 59676377, 60976098, 62275819, 63575540, 64875261, 66174982, 67474703, 68774424, 70074145, 71373866, 72673587, 73973308, 75273029, 76572750, 77872471, 79172192, 80471913, 81771634, 83071355, 84371076, 85670797, 86970518, 88270239, 89569960, 90869681, 92169402, 93469123, 94768844, 96068565, 97368286]


@register(
    "doc_minhash_estimate_error",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_DD_SHINGLES} AS shingles FROM documents
    ),
    hs AS (
      SELECT doc_id,
             list_transform(shingles,
               s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS xs,
             CAST(len(shingles) AS BIGINT) AS sz
      FROM sh WHERE len(shingles) > 0
    ),
    sig AS (
      SELECT doc_id, sz,
           [list_min(list_transform(xs, x -> (x * 40503 + 15485863) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 121509 + 16785584) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 202515 + 18085305) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 283521 + 19385026) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 364527 + 20684747) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 445533 + 21984468) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 526539 + 23284189) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 607545 + 24583910) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 688551 + 25883631) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 769557 + 27183352) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 850563 + 28483073) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 931569 + 29782794) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 1012575 + 31082515) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 1093581 + 32382236) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 1174587 + 33681957) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 1255593 + 34981678) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 1336599 + 36281399) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 1417605 + 37581120) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 1498611 + 38880841) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 1579617 + 40180562) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 1660623 + 41480283) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 1741629 + 42780004) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 1822635 + 44079725) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 1903641 + 45379446) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 1984647 + 46679167) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 2065653 + 47978888) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 2146659 + 49278609) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 2227665 + 50578330) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 2308671 + 51878051) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 2389677 + 53177772) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 2470683 + 54477493) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 2551689 + 55777214) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 2632695 + 57076935) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 2713701 + 58376656) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 2794707 + 59676377) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 2875713 + 60976098) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 2956719 + 62275819) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 3037725 + 63575540) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 3118731 + 64875261) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 3199737 + 66174982) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 3280743 + 67474703) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 3361749 + 68774424) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 3442755 + 70074145) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 3523761 + 71373866) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 3604767 + 72673587) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 3685773 + 73973308) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 3766779 + 75273029) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 3847785 + 76572750) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 3928791 + 77872471) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 4009797 + 79172192) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 4090803 + 80471913) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 4171809 + 81771634) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 4252815 + 83071355) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 4333821 + 84371076) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 4414827 + 85670797) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 4495833 + 86970518) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 4576839 + 88270239) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 4657845 + 89569960) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 4738851 + 90869681) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 4819857 + 92169402) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 4900863 + 93469123) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 4981869 + 94768844) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 5062875 + 96068565) % 2147483647)),
           list_min(list_transform(xs, x -> (x * 5143881 + 97368286) % 2147483647))] AS mh
      FROM hs
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    est AS (
      SELECT c.doc_a, c.doc_b,
             CAST(len(list_filter(range(1, 65),
                                  i -> a.mh[i] = b.mh[i])) * 1000 // 64
                  AS BIGINT) AS est_permille,
             CAST(c.n_common * 1000 // (a.sz + b.sz - c.n_common)
                  AS BIGINT) AS exact_permille
      FROM common c
      JOIN sig a ON a.doc_id = c.doc_a
      JOIN sig b ON b.doc_id = c.doc_b
      WHERE round(c.n_common / CAST(a.sz + b.sz - c.n_common AS DOUBLE), 6)
            >= 0.5
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(CASE WHEN count(*) = 0 THEN 0
                ELSE sum(abs(est_permille - exact_permille)) // count(*) END
                AS BIGINT) AS mean_abs_err_permille,
           CAST(coalesce(max(abs(est_permille - exact_permille)), 0)
                AS BIGINT) AS max_abs_err_permille,
           CAST(coalesce(sum(CASE WHEN est_permille >= 500 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_est_over_threshold
    FROM est
    """,
    doc="Sketch-accuracy audit for the MinHash dedup index: over the "
    "exact-verified near-dup pairs (J >= 0.5), compare the 64-hash "
    "MinHash signature estimate (matching-minima fraction) against "
    "exact shingle Jaccard — mean/max absolute error and how many "
    "pairs the sketch alone would keep at the 0.5 threshold. This is "
    "the 'measure, don't guess' gate for the dedup index, the "
    "dedup-side twin of emb_ann_recall_report: before trusting banding "
    "parameters on a 100 TB corpus you read this table. The audit "
    "hashes shingles with the cross-engine md5 prefix so signature "
    "minima replay bit-exactly in DuckDB (the production path's "
    "xxhash64 is JVM-only); the (a_i, b_i) universal-hash family is "
    "identical. Scale: one narrow signature pass (numpy-vectorized "
    "Pandas UDF, no shuffle), the inverted-index candidate join, and "
    "a single-row aggregate.",
    tags=("llm", "dedup", "approx", "quality"),
)
def doc_minhash_estimate_error(spark, sf_dir):
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from transitdata_monitor_data_collector_spark.operators.dedup import (
        shingle_sets,
    )
    from transitdata_monitor_data_collector_spark.partitioning import (
        spread_small_input,
    )

    docs = table(spark, sf_dir, "documents")
    # lazy localCheckpoint, not cache(): the builder returns a lazy
    # DataFrame, so an in-function unpersist would fire before any action
    # and the cache would never serve the two consumers (sig and ex) —
    # the r7 ADVICE finding. The checkpoint materializes shingling+md5
    # once at the caller's first action and both branches reuse it;
    # leftover blocks are drained by bench._assert_cold between queries.
    sets = shingle_sets(
        spread_small_input(docs, "doc_id"), "text", "doc_id", 3
    ).withColumn(
        "xs",
        F.transform(
            "shingles",
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10)
            .cast("long")
            % _MH_AUDIT_P,
        ),
    ).localCheckpoint(eager=False)

    A = np.array(_MH_AUDIT_A, dtype=np.int64)
    B = np.array(_MH_AUDIT_B, dtype=np.int64)

    def _mh(hs):
        out = []
        for a in hs:
            arr = np.asarray(a, dtype=np.int64)
            if len(arr) == 0:
                out.append(np.array([], dtype=np.int64))
                continue
            # (64, n) rehash then min per hash — same vectorized shape
            # as operators/dedup.minhash_signatures
            out.append(
                ((arr[None, :] * A[:, None] + B[:, None]) % _MH_AUDIT_P)
                .min(axis=1)
            )
        return pd.Series(out)

    mh = pandas_udf(_mh, "array<long>")
    sig = sets.filter(F.col("set_size") > 0).select(
        "doc_id",
        F.col("set_size").cast("long").alias("sz"),
        mh(F.col("xs")).alias("mh"),
    )

    ex = sets.select("doc_id", F.explode("shingles").alias("shingle"))
    common = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sz").alias("sz_a"),
        F.col("mh").alias("mh_a"),
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sz").alias("sz_b"),
        F.col("mh").alias("mh_b"),
    )
    est = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(
            F.round(
                F.col("n_common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")).cast(
                    "double"
                ),
                6,
            )
            >= 0.5
        )
        .select(
            F.expr(
                "CAST(size(filter(zip_with(mh_a, mh_b, (x, y) -> x = y), "
                "m -> m)) * 1000 DIV 64 AS BIGINT)"
            ).alias("est_permille"),
            F.expr(
                "CAST(n_common * 1000 DIV (sz_a + sz_b - n_common) "
                "AS BIGINT)"
            ).alias("exact_permille"),
        )
    )
    out = est.selectExpr(
        "CAST(count(*) AS BIGINT) AS n_pairs",
        "CAST(CASE WHEN count(*) = 0 THEN 0 "
        "ELSE sum(abs(est_permille - exact_permille)) DIV count(*) END "
        "AS BIGINT) AS mean_abs_err_permille",
        "CAST(coalesce(max(abs(est_permille - exact_permille)), 0) "
        "AS BIGINT) AS max_abs_err_permille",
        "CAST(coalesce(sum(CASE WHEN est_permille >= 500 THEN 1 ELSE 0 END), 0) "
        "AS BIGINT) AS n_est_over_threshold",
    )
    return out


# The recursive transitive-closure fragment shared by the cluster and
# curation oracles (everything through `comp`: doc_id -> component min).
_COMPONENT_CTES = f"""
    sh AS (
      SELECT doc_id, {_DD_SHINGLES} AS shingles FROM documents
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, len(shingles) AS sz FROM sh),
    pairs AS (
      SELECT doc_a, doc_b FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE round(n_common / CAST(sa.sz + sb.sz - n_common AS DOUBLE), 6)
            >= 0.5
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.d, reach.r FROM edges e JOIN reach ON reach.id = e.s
    ),
    comp AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
"""


# Connected components in ANSI SQL: the recursive CTE enumerates every
# (node, reachable-label) pair over the verified near-dup edges; min() per
# node is the component representative. Tractable for the oracle because
# sf0.01 components are tiny; Spark does it with bounded label-propagation
# rounds instead (operators/components.py).
_CLUSTER_ORACLE = f"""
    WITH RECURSIVE {_COMPONENT_CTES}
    SELECT doc_id, cluster_id, cluster_id = doc_id AS is_kept
    FROM comp ORDER BY doc_id
"""


@register(
    "doc_dedup_clusters",
    oracle=_CLUSTER_ORACLE,
    doc="Fuzzy-dedup CLUSTER assignment — the missing half of near-dup "
    "detection: MinHash-LSH verified pairs -> distributed connected "
    "components (min-label propagation, one equi-join + agg per round, "
    "rounds = O(cluster diameter), lineage truncated per round) -> "
    "cluster_id = min doc_id, is_kept = survivor flag. Every doc is "
    "assigned; singletons keep themselves. Oracle: recursive-CTE "
    "transitive closure over the same brute-force Jaccard pairs.",
    tags=("llm", "dedup"),
)
def doc_dedup_clusters(spark, sf_dir):
    return DD.dedup_clusters(
        table(spark, sf_dir, "documents"), threshold=0.5
    ).orderBy("doc_id")


# Full curation-pipeline oracle: language gate -> quality gate ->
# repetition gate -> exact-dup survivor -> near-dup cluster survivor.
_CURATION_ORACLE = f"""
    WITH RECURSIVE {_COMPONENT_CTES},
    qt AS (
      SELECT doc_id,
             CAST(len({_DD_TOKENS}) AS DOUBLE) AS tc,
             CASE WHEN len({_DD_TOKENS}) > 0
                  THEN CAST(list_sum(list_transform({_DD_TOKENS}, t -> length(t)))
                            AS DOUBLE) / len({_DD_TOKENS})
                  ELSE 0.0 END AS mtl,
             CASE WHEN length(text) > 0
                  THEN CAST(length(text)
                            - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                            AS DOUBLE) / length(text)
                  ELSE 0.0 END AS pr,
             CASE WHEN len({_DD_TOKENS}) > 0
                  THEN CAST(len(list_filter({_DD_TOKENS},
                         t -> list_contains({TX.EN_STOPWORDS!r}, lower(t))))
                       AS DOUBLE) / len({_DD_TOKENS})
                  ELSE 0.0 END AS sr
      FROM documents
    ),
    feat AS (
      SELECT d.doc_id,
             {{langid}} AS lang_pred,
             round(0.3 * least(tc / 100.0, 1.0)
                   + 0.2 * (CASE WHEN mtl >= 3.0 AND mtl <= 10.0
                            THEN 1.0 ELSE 0.5 END)
                   + 0.3 * (1.0 - least(pr * 5.0, 1.0))
                   + 0.2 * least(sr * 4.0, 1.0), 6) AS quality,
             round(CASE WHEN len({_DD_TOKENS_LOWER}) > 0
                   THEN 1.0 - CAST(len(list_distinct({_DD_TOKENS_LOWER}))
                                   AS DOUBLE) / len({_DD_TOKENS_LOWER})
                   ELSE 0.0 END, 6) AS dup_word_frac,
             md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS content_md5
      FROM documents d JOIN qt USING (doc_id)
    ),
    keepers AS (
      SELECT content_md5, min(doc_id) AS keep_id
      FROM (SELECT doc_id,
                   md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))
                     AS content_md5
            FROM documents)
      GROUP BY 1
    ),
    final AS (
      SELECT f.doc_id, f.lang_pred, f.quality, f.dup_word_frac,
             CASE WHEN f.lang_pred <> 'en' THEN 'lang'
                  WHEN f.quality < 0.6 THEN 'quality'
                  WHEN f.dup_word_frac > 0.65 THEN 'repetition'
                  WHEN f.doc_id <> k.keep_id THEN 'exact_dup'
                  WHEN f.doc_id <> c.cluster_id THEN 'near_dup'
                  ELSE 'kept' END AS status
      FROM feat f
      JOIN keepers k USING (content_md5)
      JOIN comp c USING (doc_id)
    )
    SELECT doc_id, lang_pred, quality, dup_word_frac, status,
           status = 'kept' AS kept
    FROM final ORDER BY doc_id
"""


@register(
    "doc_curation",
    oracle=_CURATION_ORACLE.replace("{langid}", _langid_sql()),
    doc="The END-TO-END training-data curation pipeline as ONE query: "
    "language-ID gate -> quality-score gate -> repetition gate -> exact-"
    "dedup survivor -> fuzzy-dedup cluster survivor, with the first "
    "failing rule as the per-doc status. Composes langid, quality_score, "
    "dup_ngram_frac (all narrow row-wise), one content-hash aggregate, "
    "and the LSH + connected-components cluster path — i.e. every dedup/"
    "quality operator in the engine, at their individual scale shapes.",
    tags=("llm", "text", "dedup"),
)
def doc_curation(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    # the feature stage is CPU-heavy narrow compute (langid markers,
    # quality, repetition) — spread a single-split corpus across cores.
    # The token array is projected ONCE in a separate stage: langid's CASE
    # references the scores ~20x, and Catalyst keeps the projection (split
    # is non-cheap + multiply-referenced, so CollapseProject leaves it),
    # making one-split-per-row structural instead of codegen-CSE luck.
    feat = _docs_spread(spark, sf_dir).withColumn(
        "_toks", TX.tokens(F.col("text"))
    ).select(
        "doc_id",
        TX.langid_tokens(F.col("_toks")).alias("lang_pred"),
        TX.quality_score_tokens(F.col("text"), F.col("_toks")).alias("quality"),
        F.round(TX.dup_ngram_frac(F.col("text"), 1), 6).alias("dup_word_frac"),
        TX.content_fingerprint(F.col("text")).alias("content_md5"),
    )
    keepers = DD.exact_dedup(docs).select("content_md5", "keep_id")
    clusters = DD.dedup_clusters(docs, threshold=0.5).select(
        "doc_id", "cluster_id"
    )
    status = (
        F.when(F.col("lang_pred") != "en", "lang")
        .when(F.col("quality") < 0.6, "quality")
        .when(F.col("dup_word_frac") > 0.65, "repetition")
        .when(F.col("doc_id") != F.col("keep_id"), "exact_dup")
        .when(F.col("doc_id") != F.col("cluster_id"), "near_dup")
        .otherwise("kept")
    )
    return (
        # both sides are corpus-sized: a plain shuffle join (AQE decides),
        # NOT a broadcast — keepers has one row per distinct document
        feat.join(keepers, "content_md5")
        .join(clusters, "doc_id")
        .withColumn("status", status)
        .select(
            "doc_id",
            "lang_pred",
            "quality",
            "dup_word_frac",
            "status",
            (F.col("status") == "kept").alias("kept"),
        )
        .orderBy("doc_id")
    )


@register(
    "doc_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_transform(string_split_regex(lower(trim(text)), '\\s+'),
                            t -> ('0x'||substr(md5(t),1,15))::BIGINT) AS hs
      FROM documents
    )
    SELECT doc_id, {DD.simhash_sql()} AS simhash FROM toks ORDER BY doc_id
    """,
    doc="60-bit SimHash per doc (word unigrams, md5-prefix bit votes) — "
    "shuffle-free row-wise op; hamming-join downstream for near-dup. The "
    "cross-engine md5-prefix token hash (operators/dedup.py:simhash_md5) "
    "makes the signature itself bit-for-bit oracle-checkable; the "
    "xxhash64 variant (operators/dedup.py:simhash) is the drop-in when "
    "oracle parity isn't needed.",
    tags=("llm", "dedup", "approx"),
)
def doc_simhash(spark, sf_dir):
    return DD.simhash_md5(table(spark, sf_dir, "documents")).orderBy("doc_id")


# DuckDB mirror of operators/dedup.simhash_md5: md5-prefix token hashes,
# then the machine-generated 60-term per-bit majority expression
_SIMHASH_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id,
             list_transform(string_split_regex(lower(trim(text)), '\\s+'),
                            t -> ('0x'||substr(md5(t),1,15))::BIGINT) AS hs
      FROM documents
    ),
    sig AS (SELECT doc_id, {DD.simhash_sql()} AS simhash FROM toks)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ORDER BY doc_a, doc_b
    """


@register(
    "doc_simhash_neardup",
    oracle=_SIMHASH_ORACLE,
    doc="SimHash hamming near-dup (the consumer for the SimHash "
    "signature): pigeonhole-banded candidates (4 disjoint 15-bit bands — "
    "hamming <= 3 GUARANTEES one identical band, recall exactly 1) + "
    "bit_count(xor) verify. Cross-engine md5-prefix token hash makes the "
    "DuckDB oracle reproduce signatures bit-for-bit "
    "(operators/dedup.py:simhash_md5/simhash_banded_neardup_pairs).",
    tags=("llm", "dedup"),
)
def doc_simhash_neardup(spark, sf_dir):
    return DD.simhash_banded_neardup_pairs(
        table(spark, sf_dir, "documents")
    ).orderBy("doc_a", "doc_b")


@register(
    "doc_dedup_summary",
    oracle="""
    WITH groups AS (
      SELECT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS h,
             count(*) AS n_copies
      FROM documents GROUP BY 1
    )
    SELECT count(*) AS n_unique,
           CAST(sum(n_copies) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_groups
    FROM groups
    """,
    doc="Corpus dedup report (unique docs / total / duplicate groups).",
    tags=("llm", "dedup"),
)
def doc_dedup_summary(spark, sf_dir):
    return DD.dedup_summary(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------



def _docs_spread(spark, sf_dir):
    """documents table, spread across cores: every text query below is a
    CPU-heavy narrow pipeline, and a small corpus arrives as one file
    split (partitioning.spread_small_input is a no-op at real scale)."""
    from transitdata_monitor_data_collector_spark.partitioning import (
        spread_small_input,
    )

    return spread_small_input(table(spark, sf_dir, "documents"), "doc_id")


@register(
    "text_token_counts",
    oracle=f"""
    SELECT doc_id,
           len({_DD_TOKENS}) AS n_tokens,
           len(regexp_extract_all(text, '{TX.BPE_ISH}')) AS n_bpe_ish,
           length(text) AS n_chars
    FROM documents ORDER BY doc_id
    """,
    doc="Token counting: whitespace tokens + BPE-ish pre-tokenizer count "
    "(letter runs / digits / punct).",
    tags=("llm", "text"),
)
def text_token_counts(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    return d.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("n_tokens"),
        TX.bpe_ish_count(F.col("text")).alias("n_bpe_ish"),
        F.length("text").cast("long").alias("n_chars"),
    ).orderBy("doc_id")


# Dialect-shared quality-score SQL (DuckDB side), reused by the
# quality-weighted sampler below. repr() of the stopword list is valid
# DuckDB list syntax (single-quoted strings).
EN_STOPWORDS_LIT = repr(list(TX.EN_STOPWORDS))

_QUALITY_T_CTE = f"""t AS (
      SELECT doc_id, lang,
             CAST(len({_DD_TOKENS}) AS DOUBLE) AS tc,
             CASE WHEN len({_DD_TOKENS}) > 0
                  THEN CAST(list_sum(list_transform({_DD_TOKENS}, t -> length(t)))
                            AS DOUBLE) / len({_DD_TOKENS})
                  ELSE 0.0 END AS mtl,
             CASE WHEN length(text) > 0
                  THEN CAST(length(text)
                            - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                            AS DOUBLE) / length(text)
                  ELSE 0.0 END AS pr,
             CASE WHEN len({_DD_TOKENS}) > 0
                  THEN CAST(len(list_filter({_DD_TOKENS},
                         t -> list_contains({EN_STOPWORDS_LIT}, lower(t))))
                       AS DOUBLE) / len({_DD_TOKENS})
                  ELSE 0.0 END AS sr
      FROM documents
    )"""

_QUALITY_EXPR = """round(0.3 * least(tc / 100.0, 1.0)
                 + 0.2 * (CASE WHEN mtl >= 3.0 AND mtl <= 10.0 THEN 1.0 ELSE 0.5 END)
                 + 0.3 * (1.0 - least(pr * 5.0, 1.0))
                 + 0.2 * least(sr * 4.0, 1.0), 6)"""


@register(
    "text_quality_scores",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len({_DD_TOKENS}) AS DOUBLE) AS tc,
             CASE WHEN len({_DD_TOKENS}) > 0
                  THEN CAST(list_sum(list_transform({_DD_TOKENS}, t -> length(t)))
                            AS DOUBLE) / len({_DD_TOKENS})
                  ELSE 0.0 END AS mtl,
             CASE WHEN length(text) > 0
                  THEN CAST(length(text)
                            - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                            AS DOUBLE) / length(text)
                  ELSE 0.0 END AS pr,
             CASE WHEN len({_DD_TOKENS}) > 0
                  THEN CAST(len(list_filter({_DD_TOKENS},
                         t -> list_contains({TX.EN_STOPWORDS!r}, lower(t))))
                       AS DOUBLE) / len({_DD_TOKENS})
                  ELSE 0.0 END AS sr
      FROM documents
    )
    SELECT doc_id,
           round(0.3 * least(tc / 100.0, 1.0)
                 + 0.2 * (CASE WHEN mtl >= 3.0 AND mtl <= 10.0 THEN 1.0 ELSE 0.5 END)
                 + 0.3 * (1.0 - least(pr * 5.0, 1.0))
                 + 0.2 * least(sr * 4.0, 1.0), 6) AS quality
    FROM t ORDER BY doc_id
    """.replace('"', "'"),
    doc="Heuristic quality scoring: length/shape/punctuation/stopword mix.",
    tags=("llm", "text"),
)
def text_quality_scores(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    return (
        d.withColumn("_toks", TX.tokens(F.col("text")))
        .select(
            "doc_id",
            TX.quality_score_tokens(F.col("text"), F.col("_toks")).alias(
                "quality"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "text_repetition_scores",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DD_TOKENS_LOWER} AS tk FROM documents
    ),
    wc AS (
      SELECT doc_id, word, count(*) AS c
      FROM (SELECT doc_id, unnest(tk) AS word FROM toks)
      GROUP BY doc_id, word
    ),
    top AS (SELECT doc_id, max(c) AS top_c FROM wc GROUP BY doc_id),
    grams AS (
      SELECT doc_id, len(tk) AS n_words,
             CASE WHEN len(tk) >= 2
                  THEN [array_to_string(tk[i:i+1], ' ')
                        for i in generate_series(1, len(tk) - 1)]
                  ELSE CAST([] AS VARCHAR[]) END AS g2,
             CASE WHEN len(tk) >= 3
                  THEN [array_to_string(tk[i:i+2], ' ')
                        for i in generate_series(1, len(tk) - 2)]
                  ELSE CAST([] AS VARCHAR[]) END AS g3,
             tk
      FROM toks
    )
    SELECT g.doc_id, g.n_words,
           round(CASE WHEN g.n_words > 0
                 THEN 1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / g.n_words
                 ELSE 0.0 END, 6) AS dup_word_frac,
           round(CASE WHEN g.n_words > 0
                 THEN CAST(top_c AS DOUBLE) / g.n_words
                 ELSE 0.0 END, 6) AS top_word_frac,
           round(CASE WHEN len(g2) > 0
                 THEN 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2)
                 ELSE 0.0 END, 6) AS dup_2gram_frac,
           round(CASE WHEN len(g3) > 0
                 THEN 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3)
                 ELSE 0.0 END, 6) AS dup_3gram_frac
    FROM grams g JOIN top USING (doc_id)
    ORDER BY doc_id
    """,
    doc="Gopher-style repetition quality signals per doc: duplicate-word "
    "fraction, most-frequent-token share, duplicate 2-/3-gram fractions. "
    "All shuffle-free row-wise array arithmetic — top_token_frac is a "
    "longest-run scan of the SORTED token array rather than an explode + "
    "groupBy(doc, word), which would shuffle every token occurrence in "
    "the corpus (functions/text.py).",
    tags=("llm", "text"),
)
def text_repetition_scores(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    return d.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("n_words"),
        F.round(TX.dup_ngram_frac(F.col("text"), 1), 6).alias("dup_word_frac"),
        F.round(TX.top_token_frac(F.col("text")), 6).alias("top_word_frac"),
        F.round(TX.dup_ngram_frac(F.col("text"), 2), 6).alias("dup_2gram_frac"),
        F.round(TX.dup_ngram_frac(F.col("text"), 3), 6).alias("dup_3gram_frac"),
    ).orderBy("doc_id")


@register(
    "text_langid",
    oracle=f"""
    SELECT doc_id, {_langid_sql()} AS pred_lang
    FROM documents ORDER BY doc_id
    """,
    doc="Language-ID heuristic: marker-token scores + deterministic argmax.",
    tags=("llm", "text"),
)
def text_langid(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    # two-stage projection: split once, score the attribute (see doc_curation)
    return (
        d.withColumn("_toks", TX.tokens(F.col("text")))
        .select("doc_id", TX.langid_tokens(F.col("_toks")).alias("pred_lang"))
        .orderBy("doc_id")
    )


@register(
    "text_fingerprints",
    oracle=f"""
    WITH sh AS (SELECT doc_id, text, {_DD_SHINGLES} AS shingles FROM documents)
    SELECT doc_id,
           md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS content_md5,
           array_to_string(list_sort(list_transform(shingles, s -> md5(s)))[1:3], ',')
             AS min_shingle_md5s
    FROM sh ORDER BY doc_id
    """,
    doc="Document fingerprinting: normalized content md5 + 3 minimal "
    "shingle hashes (winnowing-style sketch, hash = md5 for oracle parity). "
    "Sketch is serialized to a comma-joined scalar: array-typed registry "
    "outputs crash the driver's pandas canonicalizer.",
    tags=("llm", "text"),
)
def text_fingerprints(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    shingles = TX.word_shingles(F.col("text"), 3)
    return d.select(
        "doc_id",
        TX.content_fingerprint(F.col("text")).alias("content_md5"),
        F.array_join(
            F.slice(
                F.array_sort(F.transform(shingles, lambda s: F.md5(s))), 1, 3
            ),
            ",",
        ).alias("min_shingle_md5s"),
    ).orderBy("doc_id")


@register(
    "text_lang_source_rollup",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY ROLLUP (lang, source)
    ORDER BY lang NULLS FIRST, source NULLS FIRST
    """,
    doc="Corpus composition rollup (lang x source) — the 'what's in my "
    "training set' query.",
    tags=("llm", "text"),
)
def text_lang_source_rollup(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return (
        d.rollup("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy(F.asc_nulls_first("lang"), F.asc_nulls_first("source"))
    )


# Cross-engine deterministic uniform hash in [0, 100): md5 prefix, the same
# trick that makes simhash_md5 oracle-checkable. NO rand()/sample(): the
# selection is a pure function of doc_id, so it is identical on retry, on
# re-partition, and across engines — the only sane way to sample at 100 TB.
_MD5_PCT = (
    "pmod(cast(conv(substring(md5(cast(doc_id AS string)), 1, 15), 16, 10)"
    " AS bigint), 100)"
)
_MD5_PCT_DD = "(('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 + 100) % 100"


@register(
    "doc_sample_hash",
    oracle=f"""
    SELECT doc_id, source, n_chars
    FROM documents
    WHERE {_MD5_PCT_DD} < 10
    ORDER BY doc_id
    """,
    doc="Deterministic 10% corpus sample: md5(doc_id) bucket < 10. A pure "
    "narrow filter (pushdown-friendly, no rand(), no shuffle) that yields "
    "the SAME sample on every run, every retry, and in the DuckDB oracle "
    "— reproducible subsetting for eval splits / ablations.",
    tags=("llm", "text", "sampling"),
)
def doc_sample_hash(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return (
        d.filter(F.expr(_MD5_PCT) < 10)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


@register(
    "doc_sample_stratified",
    oracle=f"""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY {_MD5_PCT_DD}, doc_id) AS rk
      FROM documents
    ) WHERE rk <= 5
    ORDER BY source, doc_id
    """,
    doc="Stratified per-source quota sample (5 docs per source), ordered "
    "by the deterministic md5 bucket — balanced mixture sampling for "
    "training-data composition control. One window per stratum "
    "(partitioned shuffle on source); rank, not rand(), so reproducible.",
    tags=("llm", "text", "sampling"),
)
def doc_sample_stratified(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    rk = F.row_number().over(
        W.partitionBy("source").orderBy(F.expr(_MD5_PCT).asc(), F.col("doc_id"))
    )
    return (
        d.select("doc_id", "source", rk.alias("rk"))
        .filter(F.col("rk") <= 5)
        .select("doc_id", "source")
        .orderBy("source", "doc_id")
    )


@register(
    "text_vocab_topk",
    oracle=f"""
    SELECT word, count(*) AS n_occurrences,
           count(DISTINCT doc_id) AS n_docs
    FROM (SELECT doc_id, unnest({_DD_TOKENS_LOWER}) AS word FROM documents)
    GROUP BY word
    ORDER BY n_occurrences DESC, word
    LIMIT 50
    """,
    doc="Corpus vocabulary head: top-50 words by occurrence with document "
    "frequency — the tokenizer/vocab-building precursor. Plan: explode -> "
    "partial (map-side) count per word -> single final agg -> "
    "TakeOrderedAndProject (per-partition top-k, k-row driver merge; no "
    "global sort).",
    tags=("llm", "text"),
)
def text_vocab_topk(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("word"),
    )
    return (
        words.groupBy("word")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "word")
        .limit(50)
    )


# PII patterns — identical strings compiled by Java regex (Spark) and RE2
# (DuckDB): no lookarounds, no backrefs.
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE = "\\+[0-9][0-9 ]{7,}[0-9]"


@register(
    "text_pii_scrub",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN text || ' contact user' || doc_id ||
                       '@example.com for details'
                  WHEN doc_id % 11 = 0
                  THEN text || ' call +358 40 123 4567 today'
                  ELSE text END AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT)
             AS n_phones,
           md5(regexp_replace(regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>',
                                             'g'),
                              '{_PII_PHONE}', '<PHONE>', 'g')) AS scrub_md5
    FROM aug ORDER BY doc_id
    """,
    doc="PII redaction pass: detect + replace emails and phone numbers "
    "with placeholder tokens (narrow codegen regexp_replace — the "
    "standard pre-training scrub stage). The corpus is synthetic, so "
    "deterministic PII is INJECTED in-query (doc_id-keyed) on both "
    "engines first; the scrubbed text is compared by md5 so the oracle "
    "pins exact byte equality of the redaction.",
    tags=("llm", "text"),
)
def text_pii_scrub(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    aug = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com for details"),
        ),
    ).when(
        F.col("doc_id") % 11 == 0,
        F.concat(F.col("text"), F.lit(" call +358 40 123 4567 today")),
    ).otherwise(F.col("text"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(aug, _PII_EMAIL, "<EMAIL>"), _PII_PHONE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.regexp_count(aug, F.lit(_PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(aug, F.lit(_PII_PHONE)).cast("long").alias("n_phones"),
        F.md5(scrubbed).alias("scrub_md5"),
    ).orderBy("doc_id")


@register(
    "doc_chunking",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DD_TOKENS} AS ts FROM documents),
    st AS (
      SELECT doc_id, ts,
             unnest(generate_series(1, greatest(len(ts), 1), 96)) AS chunk_start
      FROM toks
    )
    SELECT doc_id, CAST(chunk_start AS BIGINT) AS chunk_start,
           CAST(len(ts[chunk_start:chunk_start + 127]) AS BIGINT)
             AS n_chunk_tokens,
           md5(array_to_string(ts[chunk_start:chunk_start + 127], ' '))
             AS chunk_md5
    FROM st ORDER BY doc_id, chunk_start
    """,
    doc="Sliding-window document chunking (128-token chunks, stride 96 = "
    "32-token overlap) — the context-window prep stage of every training/"
    "RAG pipeline. Pure narrow codegen: sequence() of chunk starts -> "
    "posexplode -> slice; no shuffle, no UDF, scales as a map-only stage. "
    "Chunk text is compared by md5 so the oracle pins byte equality.",
    tags=("llm", "text"),
)
def doc_chunking(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    ts = TX.tokens(F.col("text"))
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(ts), F.lit(1)), F.lit(96)
    )
    chunk = F.slice(F.col("ts"), F.col("chunk_start"), 128)
    return (
        d.select(
            "doc_id",
            ts.alias("ts"),
            F.explode(starts).alias("chunk_start"),
        )
        .select(
            "doc_id",
            F.col("chunk_start").cast("long").alias("chunk_start"),
            F.size(chunk).cast("long").alias("n_chunk_tokens"),
            F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_start")
    )


# 8-token shingle hashes of lowercased text (cross-engine md5-prefix), the
# unit of train/eval overlap detection
_DECON_SHINGLES_DD = f"""
  CASE WHEN len({_DD_TOKENS_LOWER}) >= 8
       THEN [('0x' || substr(md5(array_to_string(({_DD_TOKENS_LOWER})[i:i+7],
                                                 ' ')), 1, 15))::BIGINT
             for i in generate_series(1, len({_DD_TOKENS_LOWER}) - 7)]
       ELSE CAST([] AS BIGINT[]) END
"""


@register(
    "doc_decontamination",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, {_MD5_PCT_DD} AS pct,
             unnest({_DECON_SHINGLES_DD}) AS h
      FROM documents
    ),
    tr AS (SELECT doc_id, h FROM sh WHERE pct >= 10),
    ev AS (SELECT doc_id AS eval_id, h FROM sh WHERE pct < 10)
    SELECT tr.doc_id AS doc_id,
           CAST(count(DISTINCT tr.h) AS BIGINT) AS n_shared_shingles,
           CAST(count(DISTINCT ev.eval_id) AS BIGINT) AS n_eval_docs
    FROM tr JOIN ev ON tr.h = ev.h
    GROUP BY tr.doc_id ORDER BY doc_id
    """,
    doc="Train/eval decontamination: flag training docs sharing any 8-token "
    "shingle with the held-out eval split (the doc_sample_hash 10% md5 "
    "bucket — the engine's canonical deterministic split). Inverted-index "
    "equi-join on md5-prefix shingle hashes — the same near-linear shape "
    "as the n-gram Jaccard dedup, NOT an all-pairs compare; at 100 TB the "
    "(small) eval shingle set is a broadcast semi-join against the "
    "training explode.",
    tags=("llm", "text", "dedup"),
)
def doc_decontamination(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    ts = TX.tokens(F.lower(F.col("text")))
    n = F.size(ts)
    hashes = F.when(
        n >= 8,
        F.transform(
            F.sequence(F.lit(1), n - 7),
            lambda i: F.conv(
                F.substring(F.md5(F.array_join(F.slice(ts, i, 8), " ")), 1, 15),
                16,
                10,
            ).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    pct = F.expr(_MD5_PCT)
    sh = d.select(
        "doc_id", pct.alias("pct"), F.explode(hashes).alias("h")
    ).distinct()
    tr = sh.filter(F.col("pct") >= 10).select("doc_id", "h")
    ev = sh.filter(F.col("pct") < 10).select(
        F.col("doc_id").alias("eval_id"), "h"
    )
    return (
        tr.join(ev, "h")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("h").alias("n_shared_shingles"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_tfidf_topk",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, unnest({_DD_TOKENS_LOWER}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, term,
             round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rk
      FROM scored
    ) WHERE rk <= 3 ORDER BY doc_id, tfidf DESC, term
    """,
    doc="Top-3 characteristic terms per document by TF-IDF — keyword "
    "extraction / topic probing over the corpus. Two partial-aggregated "
    "shuffles (term-frequency, document-frequency) + one per-doc window; "
    "document count enters as a 1-row broadcast cross join. Ranking is on "
    "the ROUNDED score with a term tie-break, so the ordering (and hence "
    "the result) is identical across engines despite libm ln() ulps.",
    tags=("llm", "text"),
)
def text_tfidf_topk(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    words = d.select(
        "doc_id",
        F.explode(TX.tokens(F.lower(F.col("text")))).alias("term"),
    )
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    rk = F.row_number().over(
        W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.col("term"))
    )
    return (
        scored.withColumn("rk", rk)
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tfidf")
        .orderBy("doc_id", F.desc("tfidf"), "term")
    )


@register(
    "doc_incremental_dedup",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_MD5_PCT_DD} AS pct, {_DD_SHINGLES} AS shingles
      FROM documents
    ),
    ne AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE pct >= 50),
    be AS (SELECT doc_id AS base_id, unnest(shingles) AS shingle
           FROM sh WHERE pct < 50),
    common AS (
      SELECT ne.doc_id, be.base_id, count(*) AS n_common
      FROM ne JOIN be USING (shingle) GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, len(shingles) AS sz FROM sh),
    pairs AS (
      SELECT c.doc_id, c.base_id,
             round(n_common / CAST(sn.sz + sb.sz - n_common AS DOUBLE), 6)
               AS jaccard
      FROM common c
      JOIN sizes sn ON sn.doc_id = c.doc_id
      JOIN sizes sb ON sb.doc_id = c.base_id
      WHERE round(n_common / CAST(sn.sz + sb.sz - n_common AS DOUBLE), 6)
            >= 0.5
    )
    SELECT doc_id, n_matches, best_match_id, best_jaccard FROM (
      SELECT doc_id, base_id AS best_match_id, jaccard AS best_jaccard,
             count(*) OVER (PARTITION BY doc_id) AS n_matches,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY jaccard DESC, base_id) AS rn
      FROM pairs
    ) WHERE rn = 1 ORDER BY doc_id
    """,
    doc="Incremental dedup: match each NEW doc (md5 bucket >= 50, i.e. "
    "half the corpus standing in for a fresh crawl) against the EXISTING "
    "corpus (bucket < 50) by exact 3-gram Jaccard >= 0.5, reporting match "
    "count and best match per new doc. Asymmetric inverted-index join "
    "(operators/dedup.py:cross_corpus_neardup) — neither side is "
    "self-paired, and at 100 TB the new batch is the small broadcast "
    "side, so the cost is ~linear in the base corpus.",
    tags=("llm", "dedup"),
)
def doc_incremental_dedup(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    pct = F.expr(_MD5_PCT)
    new_df = d.filter(pct >= 50)
    base_df = d.filter(pct < 50)
    pairs = DD.cross_corpus_neardup(new_df, base_df, threshold=0.5)
    w = W.partitionBy("doc_id").orderBy(F.desc("jaccard"), "base_id")
    return (
        pairs.select(
            "doc_id",
            F.col("base_id").alias("best_match_id"),
            F.col("jaccard").alias("best_jaccard"),
            F.count("*").over(W.partitionBy("doc_id")).alias("n_matches"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select("doc_id", "n_matches", "best_match_id", "best_jaccard")
        .orderBy("doc_id")
    )


@register(
    "doc_pack_manifest",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             CAST(len({_DD_TOKENS}) AS BIGINT) AS n_tok
      FROM documents
    ),
    offsets AS (
      SELECT doc_id, source, n_tok,
             sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) - n_tok AS tok_offset
      FROM toks
    )
    SELECT source, CAST(tok_offset // 2048 AS BIGINT) AS bin_id,
           count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM offsets
    GROUP BY source, bin_id ORDER BY source, bin_id
    """,
    doc="Sequence-packing manifest: per-source running token offsets bin "
    "documents into 2048-token training sequences (the concat-then-chunk "
    "packing used by pre-training loaders), emitting per-bin doc counts "
    "and fill. Deterministic doc_id order, windows PARTITIONED BY source "
    "— per-shard packing, so no global single-partition cumsum exists at "
    "any scale.",
    tags=("llm", "text", "window"),
)
def doc_pack_manifest(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", TX.token_count(F.col("text")).alias("n_tok")
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    offsets = toks.withColumn(
        "tok_offset", F.sum("n_tok").over(w) - F.col("n_tok")
    )
    return (
        offsets.groupBy(
            "source", F.floor(F.col("tok_offset") / 2048).alias("bin_id")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "bin_id")
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------


def _query_vec(spark, sf_dir) -> list[float]:
    row = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .head()
    )
    return [float(x) for x in row["embedding"]]


_COS_DD = (
    "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))"
)


@register(
    "emb_cosine_topk",
    oracle=f"""
    SELECT b.vec_id AS vec_id, round({_COS_DD}, 6) AS cos_sim
    FROM (SELECT embedding FROM embeddings WHERE vec_id = 0) a
    CROSS JOIN embeddings b
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
    doc="Brute-force cosine top-k to a literal query vector — compiles to "
    "TakeOrderedAndProject (per-partition top-k + k-row merge), the correct "
    "100 TB baseline.",
    tags=("llm", "similarity"),
)
def emb_cosine_topk(spark, sf_dir):
    return SIM.cosine_topk(
        table(spark, sf_dir, "embeddings"), _query_vec(spark, sf_dir), k=10
    )


@register(
    "emb_neardup_pairs",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({_COS_DD}, 6) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round({_COS_DD}, 6) >= 0.9
    ORDER BY id_a, id_b
    """,
    doc="Embedding-cosine near-dup pairs (threshold 0.9) — the BRUTE-FORCE "
    "BASELINE, kept registered as the small-data reference "
    "implementation: still O(n²) compares, but executed as numpy block "
    "matmuls against a broadcast normalized matrix "
    "(operators/similarity.py:cosine_neardup_pairs) instead of an "
    "interpreted per-pair Column fold (~100x). The graded scale path is "
    "emb_neardup_lsh (banded RP-LSH candidates + exact verify, same "
    "oracle).",
    tags=("llm", "similarity", "dedup"),
)
def emb_neardup_pairs(spark, sf_dir):
    return SIM.cosine_neardup_pairs(
        table(spark, sf_dir, "embeddings"), threshold=0.9
    ).orderBy("id_a", "id_b")


@register(
    "emb_neardup_lsh",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({_COS_DD}, 6) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round({_COS_DD}, 6) >= 0.9
    ORDER BY id_a, id_b
    """,
    doc="Embedding near-dup via banded RP-LSH + hamming refine + exact "
    "cosine verify — the 100 TB scale path, checked against the SAME "
    "brute-force oracle as emb_neardup_pairs. Plan shape: one Arrow-"
    "batched signature matmul -> explode 44 (band, 8-bit key) triples -> "
    "equi-self-join -> bit_count(xor) hamming cut on packed 352-bit "
    "signatures -> exact cosine on survivors only. Miss probability at "
    "the 0.9 threshold ≈ 3e-7 (operators/similarity.py). No nested-loop "
    "or cartesian join anywhere in the plan (asserted in tests/"
    "test_plans.py).",
    tags=("llm", "similarity", "dedup"),
)
def emb_neardup_lsh(spark, sf_dir):
    return SIM.rp_lsh_neardup_pairs(
        table(spark, sf_dir, "embeddings"), dim=64, threshold=0.9
    ).orderBy("id_a", "id_b")


# The synthetic embeddings are i.i.d. unit vectors: the max pairwise cosine
# is ~0.56 at sf0.01, so the 0.9-threshold near-dup queries above correctly
# return 0 rows — a vacuous (0 == 0) correctness check. This variant plants
# near-duplicates DERIVED FROM THE DATA inside the query: union each vector
# with a deterministically perturbed copy (+0.05 on two of every three
# coordinates, id offset +100000). Planted pairs land at cosine 0.944-0.966,
# background pairs stay <= 0.6, so the LSH path must recover exactly the 500
# planted pairs — a non-vacuous recall check against the brute-force oracle.
# Perturbation margins: banded-LSH miss probability at cos 0.944 is
# (1 - 0.893^8)^44 ≈ 1e-10; rounded cosines sit >= 3e-10 from any 1e-6
# rounding boundary while cross-engine summation-order error is < 2e-14.
_PLANT_DD = """
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        (x, i) -> x + CAST(0.05 AS DOUBLE)
                                    * CAST((i % 3) - 1 AS DOUBLE)) AS embedding
  FROM embeddings
"""


def _planted_embeddings(spark, sf_dir):
    """embeddings ∪ perturbed copy — Spark twin of _PLANT_DD.

    DuckDB lambda indices are 1-based, Spark's are 0-based, so the Spark
    coefficient is ((i+1) % 3) - 1; both engines do the identical IEEE
    double ops (float->double widening is exact, k ∈ {-1,0,1})."""
    base = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    pert = base.select(
        (F.col("vec_id") + F.lit(100000)).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x
            + F.lit(0.05) * (((i + F.lit(1)) % F.lit(3)) - F.lit(1)).cast("double"),
        ).alias("embedding"),
    )
    return base.unionByName(pert)


@register(
    "emb_neardup_planted",
    oracle=f"""
    WITH u AS ({_PLANT_DD})
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({_COS_DD}, 6) AS cos_sim
    FROM u a JOIN u b ON a.vec_id < b.vec_id
    WHERE round({_COS_DD}, 6) >= 0.9
    ORDER BY id_a, id_b
    """,
    doc="Non-vacuous recall gate for the banded RP-LSH near-dup path: the "
    "corpus is unioned with a deterministic perturbed copy of itself "
    "(planted pairs at cosine 0.944-0.966, background <= 0.6), and the "
    "LSH + hamming-refine + exact-verify pipeline must emit exactly the "
    "planted pairs that the brute-force DuckDB oracle finds. Same plan "
    "shape as emb_neardup_lsh — banded equi-self-join, no nested-loop or "
    "cartesian join.",
    tags=("llm", "similarity", "dedup"),
)
def emb_neardup_planted(spark, sf_dir):
    return SIM.rp_lsh_neardup_pairs(
        _planted_embeddings(spark, sf_dir), dim=64, threshold=0.9
    ).orderBy("id_a", "id_b")


@register(
    "emb_ann_lsh_topk",
    oracle=f"""
    WITH s AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             {SIM.rp_bucket_sql("CAST(embedding AS DOUBLE[])", 64, 6)} AS bucket
      FROM embeddings
    ),
    q AS (SELECT v AS qv, bucket AS qbucket FROM s WHERE vec_id = 0)
    SELECT s.vec_id AS vec_id,
           round(list_dot_product(s.v, q.qv) /
                 (sqrt(list_dot_product(s.v, s.v)) *
                  sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos_sim
    FROM s, q WHERE s.bucket = q.qbucket
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
    doc="ANN via random-hyperplane LSH: literal hyperplanes folded into the "
    "plan, query restricted to its own bucket; at scale the bucket is a "
    "partition key (partition pruning). Though approximate, the index is "
    "DETERMINISTIC given (dim, n_planes, seed), so the oracle recomputes "
    "the same buckets in DuckDB (operators/similarity.py:rp_bucket_sql) "
    "and the result is fully hash-checked.",
    tags=("llm", "similarity", "approx"),
)
def emb_ann_lsh_topk(spark, sf_dir):
    return SIM.ann_lsh_topk(
        table(spark, sf_dir, "embeddings"),
        _query_vec(spark, sf_dir),
        k=10,
        n_planes=6,
    )


@register(
    "emb_label_centroids",
    oracle="""
    SELECT label, count(*) AS n,
           round(avg(CAST(embedding[1] AS DOUBLE)), 6) AS dim0_mean,
           round(avg(list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[]))), 6)
             AS mean_sq_norm
    FROM embeddings GROUP BY label ORDER BY label
    """,
    doc="Per-label embedding stats (centroid component + mean squared norm) "
    "— clustering-quality probe, plain agg at any scale.",
    tags=("llm", "similarity"),
)
def emb_label_centroids(spark, sf_dir):
    from transitdata_monitor_data_collector_spark.functions.vectors import dot

    emb = table(spark, sf_dir, "embeddings")
    return (
        emb.groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.avg(F.element_at(F.col("embedding"), 1).cast("double")), 6
            ).alias("dim0_mean"),
            F.round(
                F.avg(dot(F.col("embedding"), F.col("embedding"))), 6
            ).alias("mean_sq_norm"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing (decode stubbed; Spark-side schema/batching real)
# ---------------------------------------------------------------------------


@register(
    "multimodal_binary_meta",
    oracle="""
    SELECT doc_id, octet_length(encode(text)) AS n_bytes,
           sha256(text) AS payload_sha256
    FROM documents ORDER BY doc_id
    """,
    doc="Opaque-binary column handling: payload length + content hash over "
    "a binary column (stand-in for image/audio payloads; decode is stubbed "
    "in operators/multimodal.py, the Spark plumbing is real).",
    tags=("llm", "multimodal"),
)
def multimodal_binary_meta(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.lower(F.sha2(payload, 256)).alias("payload_sha256"),
    ).orderBy("doc_id")


@register(
    "multimodal_decode_meta",
    oracle="""
    SELECT doc_id,
           CAST(16 + doc_id % 64 AS INTEGER) AS width,
           CAST(16 + doc_id % 48 AS INTEGER) AS height,
           CAST((16 + doc_id % 64) * (16 + doc_id % 48) AS BIGINT) AS n_pixels,
           CAST(16 + octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents ORDER BY doc_id
    """,
    doc="Multimodal decode plumbing end-to-end: synthesize opaque binary "
    "image payloads (FAKEIMG header + body), decode via Arrow-batched "
    "mapInPandas (operators/multimodal.py, codec stubbed), verify header "
    "fields against the oracle's closed-form dimensions. The 8-byte magic "
    "+ 8-byte dims make n_bytes = 16 + body length.",
    tags=("llm", "multimodal"),
)
def multimodal_decode_meta(spark, sf_dir):
    from transitdata_monitor_data_collector_spark.operators.multimodal import (
        decode_image_meta,
        synthesize_image_payloads,
    )

    docs = table(spark, sf_dir, "documents")
    media = synthesize_image_payloads(docs)
    return (
        decode_image_meta(media)
        .select("doc_id", "width", "height", "n_pixels", "n_bytes")
        .orderBy("doc_id")
    )


@register(
    "multimodal_frame_sample_counts",
    oracle="""
    SELECT doc_id,
           CAST(CEIL((octet_length(encode(text)) // 64) / 4.0) AS BIGINT)
             AS n_sampled_frames
    FROM documents
    WHERE octet_length(encode(text)) >= 64
    ORDER BY doc_id
    """,
    doc="Frame-sampling fan-out (video analog): every 4th 64-byte chunk of "
    "the body becomes a frame row; per-doc sampled-frame counts are "
    "closed-form verifiable.",
    tags=("llm", "multimodal"),
)
def multimodal_frame_sample_counts(spark, sf_dir):
    from transitdata_monitor_data_collector_spark.operators.multimodal import (
        sample_frames,
        synthesize_image_payloads,
    )

    docs = table(spark, sf_dir, "documents")
    frames = sample_frames(synthesize_image_payloads(docs))
    return (
        frames.groupBy("doc_id")
        .agg(F.count("*").alias("n_sampled_frames"))
        .orderBy("doc_id")
    )


# emb_ann_ivf_topk / emb_ivf_store_topk are registered after the
# deterministic-Lloyd helper block below (they share its training dialect
# and oracle-SQL builders, which must be defined first).


_FEAT_DD = """
    bytes_t AS (
      SELECT doc_id, list_transform(range(1, length(text) + 1),
                                    i -> ascii(substr(text, i, 1)) % 64) AS bs
      FROM documents WHERE length(text) > 0
    ),
    feat AS (
      SELECT doc_id, list_transform(range(0, 64),
               b -> CAST(len(list_filter(bs, x -> x = b)) AS DOUBLE) / len(bs))
               AS v
      FROM bytes_t
    )"""


@register(
    "multimodal_feature_neardup",
    oracle=f"""
    WITH {_FEAT_DD}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
    FROM feat a JOIN feat b ON a.doc_id < b.doc_id
    WHERE round(list_dot_product(a.v, b.v)
                / (sqrt(list_dot_product(a.v, a.v))
                   * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.999
    ORDER BY id_a, id_b
    """,  # the fake payload body is the UTF-8 text (ASCII in this corpus),
    # so the mapInPandas byte histogram is recomputable in SQL: per-char
    # ascii()%64 counts over len — the oracle is the brute-force all-pairs
    # cosine the LSH+hamming+verify pipeline must reproduce exactly
    doc="The full multimodal near-dup path: synthesize binary payloads -> "
    "extract_features (L1-normalized byte histogram, operators/"
    "multimodal.py — a real computed feature, not a stub) -> banded "
    "RP-LSH candidates + hamming refine + exact cosine verify (operators/"
    "similarity.py; no nested-loop join — same scale path as "
    "emb_neardup_lsh). Histogram features all cluster near the uniform "
    "direction, so the BANDING degenerates (most pairs collide in some "
    "band) — it is the packed-signature hamming cut that keeps the "
    "verify stage linear here, rejecting pairs below ~cos 0.99 via "
    "codegen bit_count(xor) before any vector is fetched. Swap the "
    "histogram for a CLIP embedding and this query is production image "
    "dedup.",
    tags=("llm", "multimodal", "dedup"),
)
def multimodal_feature_neardup(spark, sf_dir):
    from transitdata_monitor_data_collector_spark.operators.multimodal import (
        extract_features,
        synthesize_image_payloads,
    )
    from transitdata_monitor_data_collector_spark.operators.similarity import (
        rp_lsh_neardup_pairs,
    )

    # spread BEFORE the Arrow-batched feature UDF: a single-file corpus
    # would otherwise compute every histogram in one task (rp_lsh's own
    # spread exchange sits downstream of this projection in the lineage)
    docs = _docs_spread(spark, sf_dir)
    feats = extract_features(synthesize_image_payloads(docs)).filter(
        F.col("feature").isNotNull()
    )
    return rp_lsh_neardup_pairs(
        feats, dim=64, threshold=0.999, vec_col="feature", id_col="doc_id"
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Embedding QA: per-dimension statistics. The standard pre-training check
# for dead/clipped/exploding dimensions before indexing or training.
# ---------------------------------------------------------------------------


@register(
    "emb_dim_stats",
    oracle="""
    WITH exploded AS (
        SELECT generate_subscripts(embedding, 1) - 1 AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM embeddings
    )
    SELECT dim, count(*) AS n_vals,
           floor(CAST(sum(CAST(floor(val * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
                 / count(*) + 0.5) / 1e6 AS mean_val,
           round(min(val), 6) AS min_val,
           round(max(val), 6) AS max_val
    FROM exploded
    GROUP BY dim ORDER BY dim
    """,
    doc="Per-dimension embedding statistics (dead/clipped-dimension QA "
    "before ANN indexing — pairs with emb_ann_* and the IVF trainer in "
    "operators/similarity.py). posexplode fans each vector into (dim, "
    "val) pairs, but the aggregate collapses map-side to n_dims rows per "
    "task before the single tiny shuffle (64 groups); means go through "
    "exact micro-unit integer sums (floor(x*1e6 + 0.5), engine-"
    "independent half-up on identical doubles) so neither partial-"
    "aggregation order nor the engines' differing round() algorithms "
    "can flip the value.",
    tags=("llm", "embedding", "agg"),
)
def emb_dim_stats(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        F.posexplode("embedding").alias("dim", "raw_val")
    ).select("dim", F.col("raw_val").cast("double").alias("val"))
    return (
        exploded.groupBy("dim")
        .agg(
            F.count("*").alias("n_vals"),
            (
                F.floor(
                    F.sum(F.floor(F.col("val") * 1e6 + 0.5).cast("long"))
                    .cast("double")
                    / F.count("*")
                    + 0.5
                )
                / 1e6
            ).alias("mean_val"),
            F.round(F.min("val"), 6).alias("min_val"),
            F.round(F.max("val"), 6).alias("max_val"),
        )
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# Mixture resampling: deterministic hash-rate downsampling to a target
# language mix — the "data mixing" stage of a pre-training pipeline.
# ---------------------------------------------------------------------------

_MD5_PPM = (
    "pmod(cast(conv(substring(md5(cast(doc_id AS string)), 1, 15), 16, 10)"
    " AS bigint), 1000000)"
)
_MD5_PPM_DD = (
    "(('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000000"
    " + 1000000) % 1000000"
)


@register(
    "doc_mixture_resample",
    oracle=f"""
    WITH lang_cnt AS (
        SELECT lang, count(*) AS cnt FROM documents GROUP BY lang
    ),
    cap AS (SELECT min(cnt) AS cap FROM lang_cnt)
    SELECT doc_id, lang
    FROM documents JOIN lang_cnt USING (lang), cap
    WHERE {_MD5_PPM_DD} * cnt < cap * 1000000
    ORDER BY doc_id
    """,
    doc="Downsample to a uniform language mixture: per-language acceptance "
    "rate = min_lang_count / lang_count, applied as a deterministic "
    "md5(doc_id) threshold in parts-per-million — INTEGER comparison "
    "(bucket * cnt < cap * 1e6), so the kept set is exact, retry-stable, "
    "and engine-independent. The scale path: per-language counts are a "
    "tiny broadcast, the filter is a narrow map over the corpus — no "
    "per-stratum window sort (contrast doc_sample_stratified's exact-"
    "quota rank, which pays a window shuffle for exact counts).",
    tags=("llm", "text", "sampling"),
)
def doc_mixture_resample(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    lang_cnt = d.groupBy("lang").agg(F.count("*").alias("cnt"))
    cap = lang_cnt.agg(F.min("cnt").alias("cap"))
    return (
        d.join(F.broadcast(lang_cnt), "lang")
        .crossJoin(F.broadcast(cap))
        .filter(F.expr(_MD5_PPM) * F.col("cnt") < F.col("cap") * F.lit(1000000))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Hard-negative mining: per-label centroid, then the most-similar vectors
# from OTHER labels — contrastive-training data prep.
# ---------------------------------------------------------------------------


# Shared centroid CTEs (DuckDB side): exploded vectors + micro-quantized
# per-(label, dim) means — used by the hard-negative miner and the
# nearest-centroid classifier so the two oracles cannot drift.
_CENT_CTES_DD = """exploded AS (
        SELECT label, vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM embeddings
    ),
    dim_means AS (
        SELECT label, dim,
               floor(CAST(sum(CAST(floor(val * 1e6 + 0.5) AS BIGINT))
                          AS DOUBLE) / count(*) + 0.5) / 1e6 AS mean_val
        FROM exploded GROUP BY label, dim
    )"""


@register(
    "emb_hard_negatives_centroid",
    oracle=f"""
    WITH {_CENT_CTES_DD},
    norm_c AS (
        SELECT label AS anchor_label,
               CAST(sum(CAST(floor(mean_val * mean_val * 1e12 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e12 AS nc
        FROM dim_means GROUP BY label
    ),
    norm_v AS (
        SELECT vec_id,
               CAST(sum(CAST(floor(val * val * 1e12 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e12 AS nv
        FROM exploded GROUP BY vec_id
    ),
    dots AS (
        SELECT m.label AS anchor_label, e.vec_id,
               CAST(sum(CAST(floor(m.mean_val * e.val * 1e12 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e12 AS dp
        FROM dim_means m JOIN exploded e USING (dim)
        WHERE e.label <> m.label
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT anchor_label, vec_id,
               floor(dp / (sqrt(nc) * sqrt(nv)) * 1e6 + 0.5) / 1e6 AS cos_sim
        FROM dots JOIN norm_c USING (anchor_label) JOIN norm_v USING (vec_id)
    )
    SELECT anchor_label, vec_id, cos_sim FROM scored
    QUALIFY row_number() OVER (PARTITION BY anchor_label
                               ORDER BY cos_sim DESC, vec_id) <= 5
    ORDER BY anchor_label, cos_sim DESC, vec_id
    """,
    doc="Hard-negative mining for contrastive training: per-label centroid "
    "(micro-unit-quantized per-dimension means via floor(x*1e6 + 0.5) — "
    "engine-independent where round() is NOT: Spark rounds the exact "
    "decimal expansion, DuckDB rounds a scaled double, and float32-derived "
    "means land on .5 boundaries often enough to flip the 6th decimal), "
    "then the top-5 most-similar vectors from OTHER labels per centroid. Scale shape: centroids are n_labels x dim "
    "doubles (broadcast), scoring is one narrow pass over the corpus "
    "(n_labels cosines per row), and the per-label top-k is a bounded "
    "window — no pairwise vector join anywhere.",
    tags=("llm", "similarity", "embedding"),
)
def emb_hard_negatives_centroid(spark, sf_dir):
    from transitdata_monitor_data_collector_spark.functions.vectors import (
        as_double,
    )

    # exact inner products: see functions.vectors.pico_dot
    dec_dot = pico_dot

    emb = table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("dim", "raw")
    ).select("label", "dim", F.col("raw").cast("double").alias("val"))
    dim_means = exploded.groupBy("label", "dim").agg(
        (
            F.floor(
                F.sum(F.floor(F.col("val") * 1e6 + 0.5).cast("long"))
                .cast("double")
                / F.count("*")
                + 0.5
            )
            / 1e6
        ).alias("mean_val")
    )
    cent = (
        dim_means.groupBy("label")
        .agg(
            F.array_sort(F.collect_list(F.struct("dim", "mean_val"))).alias("s")
        )
        .select(
            F.col("label").alias("anchor_label"),
            F.transform("s", lambda x: x["mean_val"]).alias("centroid"),
        )
    )
    v = as_double(F.col("embedding"))
    scored = (
        emb.crossJoin(F.broadcast(cent))
        .filter(F.col("label") != F.col("anchor_label"))
        .select(
            "anchor_label",
            "vec_id",
            (
                F.floor(
                    dec_dot(F.col("centroid"), v)
                    / (
                        F.sqrt(dec_dot(F.col("centroid"), F.col("centroid")))
                        * F.sqrt(dec_dot(v, v))
                    )
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("anchor_label").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
        .orderBy("anchor_label", F.desc("cos_sim"), "vec_id")
    )


# ---------------------------------------------------------------------------
# Scalar int8 quantization of the embedding corpus: per-dimension affine
# codes + reconstruction error — the storage-shrink step before shipping
# an ANN index (4x smaller than float32, recall loss quantified here).
# ---------------------------------------------------------------------------


@register(
    "emb_quantize_int8",
    oracle="""
    WITH exploded AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM embeddings
    ),
    dim_range AS (
        SELECT dim, min(val) AS lo, max(val) AS hi
        FROM exploded GROUP BY dim
    ),
    coded AS (
        SELECT e.dim,
               CAST(floor((val - lo) * 255.0 / (hi - lo) + 0.5) AS INT)
                 - 128 AS code,
               val, lo, hi
        FROM exploded e JOIN dim_range USING (dim)
        WHERE hi > lo
    )
    SELECT dim, count(*) AS n,
           min(code) AS code_min, max(code) AS code_max,
           floor(CAST(sum(CAST(floor(
                 pow(val - (lo + (code + 128) * (hi - lo) / 255.0), 2)
                 * 1e12 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1e12 / count(*) * 1e9 + 0.5) / 1e9 AS mse
    FROM coded
    GROUP BY dim ORDER BY dim
    """,
    doc="Scalar int8 quantization QA: per-dimension affine code "
    "(round((v-lo)*255/(hi-lo)) - 128) plus the reconstruction MSE it "
    "costs, reported per dimension. Two passes over the exploded values "
    "— a 64-group min/max aggregate (broadcast back) and the coding "
    "pass — both collapse map-side; the MSE goes through exact decimal "
    "sums so the hash matches the sequential oracle. Constant "
    "dimensions (hi == lo) are excluded rather than divided by zero.",
    tags=("llm", "embedding", "agg"),
)
def emb_quantize_int8(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "raw")
    ).select("vec_id", "dim", F.col("raw").cast("double").alias("val"))
    dim_range = exploded.groupBy("dim").agg(
        F.min("val").alias("lo"), F.max("val").alias("hi")
    )
    # floor(x + 0.5) / picounit BIGINT sums, not round(): the code and the
    # MSE must be bit-identical to the oracle (tests/test_rounding_contract)
    coded = (
        exploded.join(F.broadcast(dim_range), "dim")
        .filter(F.col("hi") > F.col("lo"))
        .withColumn(
            "code",
            F.floor(
                (F.col("val") - F.col("lo")) * 255.0 / (F.col("hi") - F.col("lo"))
                + 0.5
            ).cast("int")
            - 128,
        )
    )
    recon = F.col("lo") + (F.col("code") + 128) * (F.col("hi") - F.col("lo")) / 255.0
    return (
        coded.groupBy("dim")
        .agg(
            F.count("*").alias("n"),
            F.min("code").alias("code_min"),
            F.max("code").alias("code_max"),
            (
                F.floor(
                    F.sum(fscaled(F.pow(F.col("val") - recon, 2), 12))
                    .cast("double")
                    / 1e12
                    / F.count("*")
                    * 1e9
                    + 0.5
                )
                / 1e9
            ).alias("mse"),
        )
        .orderBy("dim")
    )


@register(
    "doc_quality_weighted_sample",
    oracle=f"""
    WITH {_QUALITY_T_CTE},
    scored AS (
        SELECT doc_id, lang, {_QUALITY_EXPR} AS quality FROM t
    )
    SELECT doc_id, lang, quality
    FROM scored
    WHERE {_MD5_PPM_DD} < quality * 500000
    ORDER BY doc_id
    """,
    doc="Quality-weighted deterministic sampling: acceptance probability "
    "proportional to the heuristic quality score (keep-rate = q/2), "
    "applied as the md5(doc_id) parts-per-million threshold — the "
    "DSIR-style 'sample good documents more' curation stage, with zero "
    "randomness: identical keep set on retry, re-partition, and in the "
    "oracle. Narrow filter over the corpus; no shuffle before the "
    "output sort.",
    tags=("llm", "text", "sampling"),
)
def doc_quality_weighted_sample(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    scored = d.withColumn("_toks", TX.tokens(F.col("text"))).select(
        "doc_id",
        "lang",
        TX.quality_score_tokens(F.col("text"), F.col("_toks")).alias("quality"),
    )
    return (
        scored.filter(F.expr(_MD5_PPM) < F.col("quality") * 500000)
        .orderBy("doc_id")
    )


@register(
    "text_bigrams_topk",
    oracle=f"""
    SELECT bigram, count(*) AS n_occurrences,
           count(DISTINCT doc_id) AS n_docs
    FROM (
      SELECT doc_id, unnest(
        CASE WHEN len({_DD_TOKENS_LOWER}) >= 2
             THEN list_transform(range(1, len({_DD_TOKENS_LOWER})),
                    i -> ({_DD_TOKENS_LOWER})[i] || ' '
                         || ({_DD_TOKENS_LOWER})[i+1])
             ELSE [] END) AS bigram
      FROM documents
    )
    GROUP BY bigram
    ORDER BY n_occurrences DESC, bigram
    LIMIT 20
    """,
    doc="Corpus bigram head: top-20 adjacent-word pairs with document "
    "frequency — the n-gram LM / tokenizer-merge precursor (pairs with "
    "text_vocab_topk's unigrams). Bigrams are built row-wise with "
    "transform over the token array (narrow, no self-join on token "
    "position), then explode -> partial+final count -> TakeOrdered.",
    tags=("llm", "text"),
)
def text_bigrams_topk(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.expr(
            "transform(sequence(1, size(split(trim(lower(text)), '\\\\s+')) - 1), "
            "i -> concat(element_at(split(trim(lower(text)), '\\\\s+'), i), ' ', "
            "element_at(split(trim(lower(text)), '\\\\s+'), i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = d.select("doc_id", F.explode(bigrams).alias("bigram"))
    return (
        exploded.groupBy("bigram")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "bigram")
        .limit(20)
    )


# Recall reports compute exact ground truth with an O(queries x corpus)
# brute-force pass (10 query vectors broadcast against every candidate).
# That is the right shape for a REPORT — bounded by the capped query set —
# but a 100x corpus must fail loudly instead of grinding through a
# quadratic-ish compare or OOMing the driver (r6 VERDICT item 7; same
# contract as operators/similarity.cosine_neardup_pairs' refusal).
_RECALL_REPORT_MAX_ROWS = 200_000


def _guard_recall_corpus(e, what: str, max_rows: int = _RECALL_REPORT_MAX_ROWS):
    # count over the id column only: counting the full frame evaluates
    # the as_double vector transform on every row (measured 1.6 s vs
    # 0.2 s at sf0.1) — the guard needs the row count, not the vectors
    n = e.select(e.columns[0]).count()
    if n > max_rows:
        raise ValueError(
            f"{what} is a recall REPORT with an exact brute-force "
            f"ground-truth pass and refuses {n:,} corpus rows "
            f"(> {max_rows:,}): at this size compute recall on a "
            f"deterministic sample (vec_id range slice) instead of the "
            f"full corpus."
        )
    return e


@register(
    "emb_ann_recall_report",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv,
               {SIM.rp_bucket_sql("CAST(embedding AS DOUBLE[])", 64, 6)}
                   AS q_bucket
        FROM embeddings WHERE vec_id < 10
    ),
    c AS (
        SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS cv,
               {SIM.rp_bucket_sql("CAST(embedding AS DOUBLE[])", 64, 6)}
                   AS c_bucket
        FROM embeddings
    ),
    bf AS (
        SELECT q_id, c_id FROM (
            SELECT q.q_id, c.c_id,
                   row_number() OVER (
                       PARTITION BY q.q_id
                       ORDER BY floor({SIM.pico_cosine_sql("qv", "cv", 64)}
                                      * 1e6 + 0.5) DESC,
                             c.c_id) AS rn
            FROM q JOIN c ON c.c_id <> q.q_id
        ) WHERE rn <= 10
    ),
    ann AS (
        SELECT q_id, c_id FROM (
            SELECT q.q_id, c.c_id,
                   row_number() OVER (
                       PARTITION BY q.q_id
                       ORDER BY floor({SIM.pico_cosine_sql("qv", "cv", 64)}
                                      * 1e6 + 0.5) DESC,
                             c.c_id) AS rn
            FROM q JOIN c ON c.c_bucket = q.q_bucket AND c.c_id <> q.q_id
        ) WHERE rn <= 10
    )
    SELECT bf.q_id AS query_id,
           CAST(count(ann.c_id) AS DOUBLE) / 10.0 AS recall_at_10
    FROM bf LEFT JOIN ann USING (q_id, c_id)
    GROUP BY bf.q_id ORDER BY query_id
    """,
    doc="ANN self-measurement: recall@10 of the RP-LSH bucket probe "
    "against the exact brute-force top-10, per query vector (the "
    "'measure, don't guess' gate every approximate index needs before "
    "production). Ten query vectors broadcast against the corpus; both "
    "rankings use the identical picounit-cosine (pico_dot — an ulp-"
    "exact scaled-integer accumulation, NOT a double fold, which "
    "differs from DuckDB's list_dot_product often enough to flip a "
    "6-decimal tiebreak) + id tiebreak, so the report is deterministic "
    "and fully oracle-checked — the literal hyperplanes render into "
    "the DuckDB oracle (rp_bucket_sql) exactly as in emb_ann_lsh_topk.",
    tags=("llm", "similarity", "approx"),
)
def emb_ann_recall_report(spark, sf_dir):
    from transitdata_monitor_data_collector_spark.functions.vectors import (
        as_double,
        pico_cosine,
    )

    emb = table(spark, sf_dir, "embeddings")
    bucketed = SIM.rp_lsh_buckets(emb, dim=64, n_planes=6)
    cand = bucketed.select(
        F.col("vec_id").alias("c_id"),
        as_double(F.col("embedding")).alias("cv"),
        F.col("bucket").alias("c_bucket"),
    )
    qry = bucketed.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"),
        as_double(F.col("embedding")).alias("qv"),
        F.col("bucket").alias("q_bucket"),
    )
    cos_r = F.floor(pico_cosine(F.col("qv"), F.col("cv")) * 1e6 + 0.5)
    w = W.partitionBy("q_id").orderBy(F.desc("cos"), "c_id")

    def topk(pairs):
        return (
            pairs.withColumn("cos", cos_r)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 10)
            .select("q_id", "c_id")
        )

    bf = topk(
        cand.join(F.broadcast(qry), F.col("c_id") != F.col("q_id"))
    )
    ann = topk(
        cand.join(
            F.broadcast(qry),
            (F.col("c_bucket") == F.col("q_bucket"))
            & (F.col("c_id") != F.col("q_id")),
        )
    )
    # ann/hit sides are <= 10 queries x 10 picks — broadcast, never
    # sort-merge (plan-audit showed an SMJ leaking in here)
    hits = bf.join(F.broadcast(ann), ["q_id", "c_id"], "left_semi")
    return (
        bf.groupBy("q_id")
        .agg(F.count("*").alias("n_bf"))
        .join(
            F.broadcast(
                hits.groupBy("q_id").agg(F.count("*").alias("n_hit"))
            ),
            "q_id",
            "left",
        )
        .select(
            F.col("q_id").alias("query_id"),
            (F.coalesce(F.col("n_hit"), F.lit(0)).cast("double") / 10.0).alias(
                "recall_at_10"
            ),
        )
        .orderBy("query_id")
    )


# --- deterministic IVF (emb_ivf_recall_report) ------------------------------
# The production IVF path (operators.similarity.ivf_*) trains k-means with
# float Lloyd iterations — correct, but FP-iteration-order-sensitive, so its
# quality claim was only ever rows-only checkable. This report re-derives an
# IVF index in a fully engine-deterministic dialect: md5-seeded init, a FIXED
# number of Lloyd rounds, micro-quantized centroid means, picounit distances
# — every step bit-identical in Spark and DuckDB, making recall@10 of the
# nprobe probe vs brute force a hash-checkable driver row.

_IVF_K, _IVF_NPROBE, _IVF_ROUNDS, _IVF_DIM = 8, 2, 2, 64


def _ivf_assign_cte(name: str, cent: str) -> str:
    d = SIM.pico_sqdist_sql("e.v", "c.cv", _IVF_DIM)
    return f"""
    {name} AS (
      SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {d}, c.cid) AS rn
        FROM e CROSS JOIN {cent} c
      ) WHERE rn = 1
    )"""


def _ivf_update_cte(name: str, assigned: str) -> str:
    return f"""
    {name} AS (
      SELECT cid, list(mean_val ORDER BY dim) AS cv FROM (
        SELECT cid, dim,
               floor(CAST(sum(CAST(floor(val * 1e6 + 0.5) AS BIGINT))
                          AS DOUBLE) / count(*) + 0.5) / 1e6 AS mean_val
        FROM (SELECT cid, generate_subscripts(v, 1) - 1 AS dim,
                     unnest(v) AS val
              FROM {assigned})
        GROUP BY cid, dim
      ) GROUP BY cid
    )"""



def _ivf_spark_assign(e, cent):
    """Nearest-centroid assignment by picounit sq-dist — the Spark twin
    of _ivf_assign_cte. Expressed as min(struct(dist, cid, v)) per
    vec_id, NOT a row_number window: lexicographic struct-min equals the
    (ORDER BY dist, cid LIMIT 1) argmin exactly ((dist, cid) is unique
    per group), and a hash aggregate combines map-side — no per-group
    sort, no full-width shuffle of the k-fanned candidate rows."""
    from transitdata_monitor_data_collector_spark.functions.vectors import (
        pico_sqdist,
    )

    d = pico_sqdist(F.col("v"), F.col("cv"))
    return (
        e.crossJoin(F.broadcast(cent))
        .groupBy("vec_id")
        .agg(
            F.min(
                F.struct(d.alias("d"), F.col("cid").alias("cid"),
                         F.col("v").alias("v"))
            ).alias("b")
        )
        .select("vec_id", F.col("b.v").alias("v"), F.col("b.cid").alias("cid"))
    )


def _ivf_spark_update(assigned):
    """Micro-quantized centroid means — the Spark twin of _ivf_update_cte."""
    exploded = assigned.select("cid", F.posexplode("v").alias("dim", "val"))
    dim_means = exploded.groupBy("cid", "dim").agg(
        (
            F.floor(
                F.sum(F.floor(F.col("val") * 1e6 + 0.5).cast("long"))
                .cast("double")
                / F.count("*")
                + 0.5
            )
            / 1e6
        ).alias("mean_val")
    )
    return (
        dim_means.groupBy("cid")
        .agg(
            F.array_sort(F.collect_list(F.struct("dim", "mean_val"))).alias("s")
        )
        .select("cid", F.transform("s", lambda x: x["mean_val"]).alias("cv"))
    )


def _seeded_rows(e, k: int):
    """The k rows with smallest (md5(vec_id), vec_id), ranked 0..k-1 —
    identical to `row_number() OVER (ORDER BY md5, vec_id) - 1 < k`, but
    orderBy().limit(k) compiles to TakeOrderedAndProject (per-partition
    top-k + merge) instead of a SINGLE-PARTITION global sort window over
    the whole corpus; the residual ranking window runs over k rows."""
    top = (
        e.select(
            F.md5(F.col("vec_id").cast("string")).alias("mk"), "vec_id", "v"
        )
        .orderBy("mk", "vec_id")
        .limit(k)
    )
    return top.withColumn(
        "cid", F.row_number().over(W.orderBy("mk", "vec_id")) - 1
    )


def _ivf_spark_train(e, k: int = _IVF_K, rounds: int = _IVF_ROUNDS):
    """md5-seeded init + ``rounds`` quantized Lloyd rounds; returns
    (final_centroids, final_assignment) — deterministic cross-engine."""
    cent = _seeded_rows(e, k).select("cid", F.col("v").alias("cv"))
    for _ in range(rounds):
        # checkpoint the K-row centroid table each round (same lazy-
        # Lloyd replay hazard as _pq_spark_train — see comment there).
        # LAZY (r12): rounds chain through RDD lineage and materialize
        # inside the first consumer's job instead of one job per round.
        cent = _ivf_spark_update(
            _ivf_spark_assign(e, cent)
        ).localCheckpoint(eager=False)
    return cent, _ivf_spark_assign(e, cent)


def _ivf_train_ctes(k: int, rounds: int) -> tuple[str, str]:
    """SQL twin of :func:`_ivf_spark_train`: returns (CTE text, final
    centroid CTE name). Requires a CTE ``e(vec_id, v)`` in scope; emits
    ``c0`` (md5-seeded init) then ``a{i}``/``c{i}`` per Lloyd round."""
    parts = [
        f"""c0 AS (
        SELECT cid, cv FROM (
            SELECT row_number() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                   ) - 1 AS cid,
                   v AS cv
            FROM e
        ) WHERE cid < {k}
    )"""
    ]
    cent = "c0"
    for i in range(1, rounds + 1):
        parts.append(_ivf_assign_cte(f"a{i}", cent))
        parts.append(_ivf_update_cte(f"c{i}", f"a{i}"))
        cent = f"c{i}"
    return ",".join(parts), cent


def _ivf_oracle_sql() -> str:
    train, cent = _ivf_train_ctes(_IVF_K, _IVF_ROUNDS)
    cos_rank = (
        f"floor({SIM.pico_cosine_sql('qv', 'cv', _IVF_DIM)} * 1e6 + 0.5)"
    )
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    {train},
    {_ivf_assign_cte("afin", cent)},
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
    probe AS (
      SELECT q_id, qv, cid FROM (
        SELECT q.q_id, q.qv, c.cid,
               row_number() OVER (PARTITION BY q.q_id
                   ORDER BY {SIM.pico_sqdist_sql("q.qv", "c.cv", _IVF_DIM)},
                            c.cid) AS rn
        FROM q CROSS JOIN {cent} c
      ) WHERE rn <= {_IVF_NPROBE}
    ),
    bf AS (
      SELECT q_id, c_id FROM (
        SELECT q.q_id, c.vec_id AS c_id,
               row_number() OVER (PARTITION BY q.q_id
                   ORDER BY {cos_rank.replace("cv", "c.v")} DESC,
                            c.vec_id) AS rn
        FROM q JOIN e c ON c.vec_id <> q.q_id
      ) WHERE rn <= 10
    ),
    ann AS (
      SELECT q_id, c_id FROM (
        SELECT p.q_id, a.vec_id AS c_id,
               row_number() OVER (PARTITION BY p.q_id
                   ORDER BY {cos_rank.replace("qv", "p.qv")
                                     .replace("cv", "a.v")} DESC,
                            a.vec_id) AS rn
        FROM probe p JOIN afin a USING (cid)
        WHERE a.vec_id <> p.q_id
      ) WHERE rn <= 10
    )
    SELECT bf.q_id AS query_id,
           CAST(count(ann.c_id) AS DOUBLE) / 10.0 AS recall_at_10
    FROM bf LEFT JOIN ann USING (q_id, c_id)
    GROUP BY bf.q_id ORDER BY query_id
    """


@register(
    "emb_ivf_recall_report",
    oracle=_ivf_oracle_sql(),
    doc="IVF ANN quality gate, fully oracle-checkable: recall@10 of an "
    f"nprobe={_IVF_NPROBE} probe over a k={_IVF_K} inverted-file index vs "
    "the exact brute-force top-10, per query vector. Unlike the "
    "production float-Lloyd IVF (operators.similarity.ivf_train_"
    "centroids — FP-iteration-order-sensitive, rows-only), training here "
    "is engine-deterministic end to end: md5-seeded init (first k "
    f"vectors by md5(vec_id)), a FIXED {_IVF_ROUNDS} Lloyd rounds whose "
    "centroid means are micro-quantized via picounit BIGINT sums, and "
    "picounit squared distances for every argmin — so the DuckDB oracle "
    "replays the identical training and the recall report hash-matches. "
    "Scale shape: centroids are k x dim doubles broadcast each round "
    "(never collected), assignment is one narrow pass + bounded window, "
    "probe candidates prune to nprobe/k of the corpus.",
    tags=("llm", "similarity", "approx", "embedding"),
)
def emb_ivf_recall_report(spark, sf_dir):
    from transitdata_monitor_data_collector_spark.functions.vectors import (
        as_double,
        pico_cosine,
        pico_sqdist,
    )

    emb = table(spark, sf_dir, "embeddings")
    # spread the one-split scan so the Lloyd assigns / probe ranking /
    # brute-force pass parallelize (profiled r11: tasks=1 end-to-end
    # otherwise); no-op at real scale — guide §2.5
    e = _guard_recall_corpus(
        spread_small_input(
            emb.select("vec_id", as_double(F.col("embedding")).alias("v")),
            "vec_id",
        ),
        "emb_ivf_recall_report",
    )
    cent, afin = _ivf_spark_train(e)

    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    w_probe = W.partitionBy("q_id").orderBy(
        pico_sqdist(F.col("qv"), F.col("cv")), "cid"
    )
    probe = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= _IVF_NPROBE)
        .select("q_id", "qv", "cid")
    )

    cos_rank = F.floor(
        pico_cosine(F.col("qv"), F.col("cv")) * 1e6 + 0.5
    )
    w_rank = W.partitionBy("q_id").orderBy(F.desc("cos_m"), "c_id")

    def topk(pairs):
        return (
            pairs.withColumn("cos_m", cos_rank)
            .withColumn("rn", F.row_number().over(w_rank))
            .filter(F.col("rn") <= 10)
            .select("q_id", "c_id")
        )

    corpus = e.select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"))
    bf = topk(
        corpus.join(F.broadcast(q), F.col("c_id") != F.col("q_id"))
    )
    ann = topk(
        # probe is (10 queries x nprobe) rows — broadcast it against the
        # corpus-sized assignment instead of shuffling afin by cid
        F.broadcast(probe)
        .join(
            afin.select(
                "cid", F.col("vec_id").alias("c_id"), F.col("v").alias("cv")
            ),
            "cid",
        )
        .filter(F.col("c_id") != F.col("q_id"))
    )
    # ann/hit sides are <= 10 queries x 10 picks — broadcast, never
    # sort-merge (plan-audit showed an SMJ leaking in here)
    hits = bf.join(F.broadcast(ann), ["q_id", "c_id"], "left_semi")
    return (
        bf.groupBy("q_id")
        .agg(F.count("*").alias("n_bf"))
        .join(
            F.broadcast(
                hits.groupBy("q_id").agg(F.count("*").alias("n_hit"))
            ),
            "q_id",
            "left",
        )
        .select(
            F.col("q_id").alias("query_id"),
            (F.coalesce(F.col("n_hit"), F.lit(0)).cast("double") / 10.0).alias(
                "recall_at_10"
            ),
        )
        .orderBy("query_id")
    )


# --- deterministic IVF top-k (the former rows-only pair, migrated) ---------
# emb_ann_ivf_topk / emb_ivf_store_topk predate the deterministic-Lloyd
# dialect and were the registry's only closable rows-only entries (r7
# VERDICT item 2): their float-Lloyd training was FP-iteration-order-
# sensitive, so no oracle could replay it. Re-based onto the same
# md5-seeded micro-quantized training as emb_ivf_recall_report, both now
# carry a full DuckDB oracle and hash-gate like any other query.

_IVF_TOPK_LISTS, _IVF_TOPK_NPROBE, _IVF_TOPK_K = 16, 4, 10


def _ivf_topk_oracle() -> str:
    train, cent = _ivf_train_ctes(_IVF_TOPK_LISTS, _IVF_ROUNDS)
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    {train},
    {_ivf_assign_cte("afin", cent)},
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    probe AS (
      SELECT cid, qv FROM (
        SELECT c.cid, q.qv,
               row_number() OVER (
                   ORDER BY {SIM.pico_sqdist_sql("q.qv", "c.cv", _IVF_DIM)},
                            c.cid) AS rn
        FROM q CROSS JOIN {cent} c
      ) WHERE rn <= {_IVF_TOPK_NPROBE}
    )
    SELECT a.vec_id AS vec_id,
           floor({SIM.pico_cosine_sql("p.qv", "a.v", _IVF_DIM)}
                 * 1e6 + 0.5) / 1e6 AS cos_sim
    FROM probe p JOIN afin a USING (cid)
    ORDER BY cos_sim DESC, vec_id
    LIMIT {_IVF_TOPK_K}
    """


def _ivf_topk_rank(cand):
    """Rank probed candidates by micro-quantized picounit cosine — the
    cross-engine-stable ordering key both migrated top-k queries and
    their shared oracle use (ties broken by vec_id)."""
    from transitdata_monitor_data_collector_spark.functions.vectors import (
        pico_cosine,
    )

    return (
        cand.select(
            "vec_id",
            (
                F.floor(
                    pico_cosine(F.col("qv"), F.col("v")) * 1e6 + 0.5
                )
                / 1e6
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(_IVF_TOPK_K)
    )


@register(
    "emb_ann_ivf_topk",
    oracle=_ivf_topk_oracle(),
    doc="IVF (inverted-file) ANN top-k: deterministic-Lloyd coarse "
    f"centroids (md5-seeded init, {_IVF_ROUNDS} micro-quantized rounds — "
    "the emb_ivf_recall_report dialect, so the oracle replays training "
    f"bit-exactly), nprobe={_IVF_TOPK_NPROBE}-of-{_IVF_TOPK_LISTS} list "
    "probe, exact picounit cosine within probed lists. The 100 TB path: "
    "list_id as the stored index's partition key -> probes become "
    "partition-pruned sub-scans (emb_ivf_store_topk is that shape). "
    "Recall vs brute force is pinned in tests/test_ivf.py.",
    tags=("llm", "similarity", "embedding"),
)
def emb_ann_ivf_topk(spark, sf_dir):
    from transitdata_monitor_data_collector_spark.functions.vectors import (
        as_double,
        pico_sqdist,
    )

    emb = table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    cent, afin = _ivf_spark_train(e, k=_IVF_TOPK_LISTS)
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    # nprobe nearest lists: 1 x k candidate rows, bounded window
    probe = (
        q.crossJoin(F.broadcast(cent))
        .withColumn(
            "rn",
            F.row_number().over(
                W.orderBy(pico_sqdist(F.col("qv"), F.col("cv")), "cid")
            ),
        )
        .filter(F.col("rn") <= _IVF_TOPK_NPROBE)
        .select("cid", "qv")
    )
    # probe is nprobe rows — broadcast it against the corpus-sized
    # assignment (equi-join on cid prunes to nprobe/k of the corpus)
    return _ivf_topk_rank(F.broadcast(probe).join(afin, "cid"))


@register(
    "emb_ivf_store_topk",
    oracle=_ivf_topk_oracle(),
    doc="IVF ANN over a STORED index — the production shape of "
    "emb_ann_ivf_topk: the deterministic-Lloyd assignment is written "
    "once to a parquet index partitioned by inverted-list id (one-time "
    "build, _SUCCESS-guarded, centroids persisted as index metadata); a "
    "probe then reads ONLY the nprobe nearest list partitions — the "
    "list_id filter lands in PartitionFilters (directory pruning, "
    "asserted in tests/test_plans.py), so query cost scales with "
    "nprobe/n_lists of the corpus, not the corpus. Training shares "
    "emb_ivf_recall_report's engine-deterministic dialect, so the same "
    "oracle replays the stored index's content exactly.",
    tags=("llm", "similarity", "store", "embedding"),
)
def emb_ivf_store_topk(spark, sf_dir):
    import hashlib
    import json
    import math
    import os
    import tempfile

    from transitdata_monitor_data_collector_spark.functions.vectors import (
        as_double,
    )

    emb = table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    # uid-scoped store dir: predictable world-shared /tmp names are
    # hijackable on multi-user hosts (r7 ADVICE on read_parquet_stream).
    # The key fingerprints the SOURCE parquet (size + mtime_ns), not just
    # the path: stress_parity rebuilds its sf_dir in place per k, and a
    # path-only key would silently serve the previous k's index (the
    # rate_over_store staleness bug, docs/STRESS.md finding 5).
    st = os.stat(os.path.join(sf_dir, "embeddings.parquet"))
    fingerprint = f"{sf_dir}:v1:{st.st_size}:{st.st_mtime_ns}"
    store = os.path.join(
        tempfile.gettempdir(),
        "tmdc_ivf_store_det_%d_%s"
        % (os.getuid(), hashlib.md5(fingerprint.encode()).hexdigest()[:12]),
    )
    meta_path = os.path.join(store, "_centroids.json")
    if not os.path.exists(os.path.join(store, "_SUCCESS")):
        cent, afin = _ivf_spark_train(e, k=_IVF_TOPK_LISTS)
        afin.withColumnRenamed("cid", "list_id").write.partitionBy(
            "list_id"
        ).mode("overwrite").parquet(store)
        # k x dim doubles — bounded index metadata, never corpus-sized
        rows = cent.orderBy("cid").collect()
        with open(meta_path, "w") as f:
            json.dump([list(r["cv"]) for r in rows], f)
    with open(meta_path) as f:
        centroids = json.load(f)

    query_vec = _query_vec(spark, sf_dir)

    def pico_sq(c):  # driver replay of functions.vectors.pico_sqdist
        return sum(
            math.floor((a - b) * (a - b) * 1e12 + 0.5)
            for a, b in zip(c, query_vec)
        )

    order = sorted(range(len(centroids)), key=lambda i: (pico_sq(centroids[i]), i))
    probe = order[:_IVF_TOPK_NPROBE]
    q = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")
    idx = spark.read.parquet(store).filter(F.col("list_id").isin(probe))
    return _ivf_topk_rank(idx.withColumn("qv", q))


@register(
    "emb_centroid_confusion",
    oracle=f"""
    WITH {_CENT_CTES_DD},
    cent_norm AS (
        SELECT label AS c_label,
               CAST(sum(CAST(floor(mean_val * mean_val * 1e12 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e12 AS nc
        FROM dim_means GROUP BY label
    ),
    vec_norm AS (
        SELECT vec_id,
               CAST(sum(CAST(floor(val * val * 1e12 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e12 AS nv
        FROM exploded GROUP BY vec_id
    ),
    dots AS (
        SELECT m.label AS c_label, e.vec_id,
               CAST(sum(CAST(floor(m.mean_val * e.val * 1e12 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e12 AS dp
        FROM dim_means m JOIN exploded e USING (dim)
        GROUP BY 1, 2
    ),
    assigned AS (
        SELECT vec_id, c_label AS pred_label
        FROM (
          SELECT d.vec_id, d.c_label,
                 row_number() OVER (
                     PARTITION BY d.vec_id
                     ORDER BY floor(dp / (sqrt(nc) * sqrt(nv)) * 1e6 + 0.5)
                              DESC,
                              d.c_label) AS rn
          FROM dots d JOIN cent_norm USING (c_label)
                      JOIN vec_norm USING (vec_id)
        ) WHERE rn = 1
    )
    SELECT e.label AS true_label, a.pred_label, count(*) AS n
    FROM (SELECT DISTINCT vec_id, label FROM embeddings) e
    JOIN assigned a USING (vec_id)
    GROUP BY 1, 2
    ORDER BY true_label, pred_label
    """,
    doc="Nearest-centroid classification confusion matrix: every vector "
    "is assigned to its most-cosine-similar label centroid (micro-"
    "quantized floor-rounding end to end, lowest-label tiebreak) and "
    "counted against its true label — the clustering-quality / "
    "label-noise probe run before training on weak labels. Scale shape: "
    "centroids broadcast, one scoring pass, bounded per-vector argmax "
    "window, tiny confusion output.",
    tags=("llm", "embedding", "similarity"),
)
def emb_centroid_confusion(spark, sf_dir):
    from transitdata_monitor_data_collector_spark.functions.vectors import (
        as_double,
    )

    dec_dot = pico_dot  # shared ulp-exact inner product

    emb = table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("dim", "raw")
    ).select("label", "dim", F.col("raw").cast("double").alias("val"))
    dim_means = exploded.groupBy("label", "dim").agg(
        (
            F.floor(
                F.sum(F.floor(F.col("val") * 1e6 + 0.5).cast("long"))
                .cast("double")
                / F.count("*")
                + 0.5
            )
            / 1e6
        ).alias("mean_val")
    )
    cent = (
        dim_means.groupBy("label")
        .agg(
            F.array_sort(F.collect_list(F.struct("dim", "mean_val"))).alias("s")
        )
        .select(
            F.col("label").alias("c_label"),
            F.transform("s", lambda x: x["mean_val"]).alias("centroid"),
        )
    )
    v = as_double(F.col("embedding"))
    cos_micro = F.floor(
        dec_dot(F.col("centroid"), v)
        / (
            F.sqrt(dec_dot(F.col("centroid"), F.col("centroid")))
            * F.sqrt(dec_dot(v, v))
        )
        * 1e6
        + 0.5
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("cos_m"), "c_label")
    assigned = (
        emb.crossJoin(F.broadcast(cent))
        .withColumn("cos_m", cos_micro)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("label").alias("true_label"),
                F.col("c_label").alias("pred_label"))
    )
    return (
        assigned.groupBy("true_label", "pred_label")
        .agg(F.count("*").alias("n"))
        .orderBy("true_label", "pred_label")
    )


@register(
    "doc_containment_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_DD_SHINGLES} AS shingles FROM documents
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, len(shingles) AS sz FROM sh)
    SELECT doc_a, doc_b,
           floor(n_common / CAST(sa.sz AS DOUBLE) * 1e6 + 0.5) / 1e6
               AS cont_a_in_b,
           floor(n_common / CAST(sb.sz AS DOUBLE) * 1e6 + 0.5) / 1e6
               AS cont_b_in_a
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE greatest(n_common / CAST(sa.sz AS DOUBLE),
                   n_common / CAST(sb.sz AS DOUBLE)) >= 0.6
    ORDER BY doc_a, doc_b
    """,
    doc="Asymmetric n-gram CONTAINMENT pairs (|A int B| / |A| in either "
    "direction >= 0.6) — catches sub-document duplication that symmetric "
    "Jaccard misses (a long doc embedding a short one dilutes the union "
    "but not the smaller side's containment). Same inverted-index "
    "equi-self-join as the Jaccard path: shuffle on shingle, never "
    "all-pairs.",
    tags=("llm", "dedup"),
)
def doc_containment_pairs(spark, sf_dir):
    from transitdata_monitor_data_collector_spark.partitioning import (
        spread_small_input,
    )

    docs = table(spark, sf_dir, "documents")
    sets = DD.shingle_sets(spread_small_input(docs, "doc_id")).cache()
    exploded = sets.select("doc_id", F.explode("shingles").alias("shingle"))
    a, b = exploded.alias("a"), exploded.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("sz_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("sz_b"))
    c_ab = F.col("n_common") / F.col("sz_a").cast("double")
    c_ba = F.col("n_common") / F.col("sz_b").cast("double")
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.greatest(c_ab, c_ba) >= 0.6)
        .select(
            "doc_a",
            "doc_b",
            (F.floor(c_ab * 1e6 + 0.5) / 1e6).alias("cont_a_in_b"),
            (F.floor(c_ba * 1e6 + 0.5) / 1e6).alias("cont_b_in_a"),
        )
        .orderBy("doc_a", "doc_b")
    )


@register(
    "doc_token_budget_trim",
    oracle=f"""
    WITH {_QUALITY_T_CTE},
    scored AS (
        SELECT t.doc_id, d.source, {_QUALITY_EXPR} AS quality,
               len(str_split_regex(trim(d.text), '\\s+')) AS n_tokens
        FROM t JOIN documents d ON d.doc_id = t.doc_id
    ),
    ranked AS (
        SELECT doc_id, source, quality, n_tokens,
               sum(n_tokens) OVER (
                   PARTITION BY source
                   ORDER BY quality DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_tokens
        FROM scored
    )
    SELECT doc_id, source, quality, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM ranked
    WHERE cum_tokens <= 2000
    ORDER BY source, cum_tokens
    """,
    doc="Token-budget curation: per source, greedily keep the highest-"
    "quality documents until a 2,000-token budget fills (quality-desc, "
    "doc_id tiebreak — the 'best docs under a budget' selection every "
    "mixture-controlled pretraining run makes). The cumulative token "
    "sum is a window PARTITIONED BY SOURCE, so the sort parallelizes "
    "per source — never a global single-partition cumsum; token counts "
    "and the cumulative sum are exact integers.",
    tags=("llm", "text", "sampling", "window"),
)
def doc_token_budget_trim(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    scored = d.withColumn("_toks", TX.tokens(F.col("text"))).select(
        "doc_id",
        "source",
        TX.quality_score_tokens(F.col("text"), F.col("_toks")).alias("quality"),
        F.size(F.col("_toks")).cast("long").alias("n_tokens"),
    )
    w = (
        W.partitionBy("source")
        .orderBy(F.desc("quality"), "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        scored.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= 2000)
        .select("doc_id", "source", "quality", "cum_tokens")
        .orderBy("source", "cum_tokens")
    )


# ---------------------------------------------------------------------------
# Round 4 widening: retrieval scoring (BM25), tokenizer-training statistics
# (BPE merge pairs), per-source deterministic reservoir, and winnowing
# fingerprints — the remaining text-pipeline staples, each oracle-checked.
# ---------------------------------------------------------------------------

_BM25_TERMS = ["spark", "hash", "window"]
_BM25_K1, _BM25_B = 1.2, 0.75


@register(
    "text_bm25_search",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {_DD_TOKENS_LOWER} AS toks FROM documents
    ),
    dl AS (
      SELECT doc_id, len(toks) AS dl FROM tk
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, term,
             len(list_filter(toks, x -> x = term)) AS tf
      FROM tk CROSS JOIN (
        SELECT unnest({_BM25_TERMS!r}) AS term
      )
      WHERE len(list_filter(toks, x -> x = term)) > 0
    ),
    df AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    scored AS (
      SELECT tf.doc_id,
             CAST(floor(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * (tf * ({_BM25_K1} + 1.0))
               / (tf + {_BM25_K1} * (1.0 - {_BM25_B}
                                     + {_BM25_B} * dl / avgdl))
               * 1e9 + 0.5) AS BIGINT) AS score_nano
      FROM tf
      JOIN df USING (term)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
    )
    SELECT doc_id,
           floor(CAST(sum(score_nano) AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6
             AS bm25_score
    FROM scored
    GROUP BY doc_id
    ORDER BY bm25_score DESC, doc_id
    LIMIT 25
    """,
    doc="BM25 retrieval scoring for a literal term set — the classic "
    "search/RAG ranking function computed corpus-wide (k1=1.2, b=0.75). "
    "Per-term partial scores are nano-quantized BIGINTs so the per-doc "
    "sum is order-independent and hash-identical to the oracle (a "
    "double sum over terms would be addition-order-dependent). Scale "
    "shape: term stats (df, N, avgdl) are a 3-row broadcast; scoring is "
    "one narrow pass over the token arrays; top-25 is "
    "TakeOrderedAndProject. At 100 TB the same plan serves with an "
    "inverted-index table replacing the full-scan tf step.",
    tags=("llm", "text", "search"),
)
def text_bm25_search(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    toks = TX.tokens(F.lower(F.col("text")))
    tk = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("dl"))
    terms = tk.sparkSession.createDataFrame(
        [(t,) for t in _BM25_TERMS], "term string"
    )
    tf = (
        tk.crossJoin(F.broadcast(terms))
        .select(
            "doc_id",
            "dl",
            "term",
            F.size(
                F.filter("toks", lambda x: x == F.col("term"))
            ).alias("tf"),
        )
        .filter(F.col("tf") > 0)
    )
    df_stats = tf.groupBy("term").agg(F.count("*").alias("df"))
    corpus = tk.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    score_nano = F.floor(
        F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        )
        * (F.col("tf") * (_BM25_K1 + 1.0))
        / (
            F.col("tf")
            + _BM25_K1
            * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
        * 1e9
        + 0.5
    ).cast("long")
    return (
        tf.join(F.broadcast(df_stats), "term")
        .crossJoin(F.broadcast(corpus))
        .select("doc_id", score_nano.alias("score_nano"))
        .groupBy("doc_id")
        .agg(
            (
                F.floor(
                    F.sum("score_nano").cast("double") / 1e9 * 1e6 + 0.5
                )
                / 1e6
            ).alias("bm25_score")
        )
        .orderBy(F.desc("bm25_score"), "doc_id")
        .limit(25)
    )


@register(
    "text_bpe_merge_pairs",
    oracle=f"""
    WITH words AS (
      SELECT unnest({_DD_TOKENS_LOWER}) AS w FROM documents
    ),
    pairs AS (
      SELECT unnest([substr(w, i, 2)
                     for i in generate_series(1, length(w) - 1)]) AS pair
      FROM words
      WHERE length(w) >= 2
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS n
    FROM pairs
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 20
    """,
    doc="BPE tokenizer-training statistic: the top-20 adjacent character "
    "pairs across all corpus words — exactly the count a byte-pair-"
    "encoding trainer computes to pick its first merge. Explode words "
    "-> per-word character bigrams (narrow transform, no position self-"
    "join) -> partial+final count -> TakeOrdered. The full BPE loop is "
    "this query iterated with a merge applied between rounds.",
    tags=("llm", "text"),
)
def text_bpe_merge_pairs(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    words = d.select(
        F.explode(TX.tokens(F.lower(F.col("text")))).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(20)
    )


@register(
    "doc_reservoir_per_source",
    oracle="""
    SELECT doc_id, source, rk FROM (
      SELECT doc_id, source,
             row_number() OVER (
                 PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    ) WHERE rk <= 5
    ORDER BY source, rk
    """,
    doc="Deterministic per-source reservoir: keep exactly 5 documents per "
    "source, selected by md5(doc_id) order — the per-domain downsampling "
    "every mixture-balanced corpus build needs, with zero randomness "
    "(identical keep set on retry and re-partition; the md5 order IS the "
    "uniform draw). One bounded window per source partition; no global "
    "sort, no collect.",
    tags=("llm", "sampling", "window"),
)
def doc_reservoir_per_source(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 5)
        .orderBy("source", "rk")
    )


@register(
    "doc_winnowing_fingerprints",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id,
             CASE WHEN len({_DD_TOKENS_LOWER}) >= 3
                  THEN [array_to_string(({_DD_TOKENS_LOWER})[i:i+2], ' ')
                        for i in generate_series(1, len({_DD_TOKENS_LOWER}) - 2)]
                  ELSE CAST([] AS VARCHAR[]) END AS shingles
      FROM documents
    ),
    pos AS (
      SELECT doc_id,
             generate_subscripts(shingles, 1) AS p,
             md5(unnest(shingles)) AS h
      FROM sh
    ),
    winmin AS (
      SELECT doc_id,
             min(h) OVER (PARTITION BY doc_id ORDER BY p
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      FROM pos
    )
    SELECT doc_id,
           CAST(count(DISTINCT fp) AS BIGINT) AS n_fingerprints,
           min(fp) AS fp_min
    FROM winmin
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="Winnowing fingerprints (Schleimer et al., SIGMOD'03): hash the "
    "POSITIONAL 3-word shingle sequence, slide a 4-shingle window, and "
    "keep each window's minimum hash — the guarantee-bearing sketch for "
    "plagiarism / near-copy detection (any shared run >= w+n-1 words "
    "shares a fingerprint). Reported per doc as distinct-fingerprint "
    "count + minimal fingerprint. Narrow posexplode + one bounded "
    "window per doc — at 100 TB the fingerprints feed the same banded "
    "bucket-join used by every other near-dup path.",
    tags=("llm", "text", "dedup"),
)
def doc_winnowing_fingerprints(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    toks = TX.tokens(F.lower(F.col("text")))
    idx = F.when(
        F.size(toks) >= 3, F.sequence(F.lit(0), F.size(toks) - 3)
    ).otherwise(F.array().cast("array<int>"))
    shingles = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
            F.element_at(toks, i + 3),
        ),
    )
    pos = d.select(
        "doc_id", F.posexplode(shingles).alias("p", "s")
    ).select("doc_id", "p", F.md5("s").alias("h"))
    w = (
        W.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(W.currentRow, 3)
    )
    return (
        pos.select("doc_id", F.min("h").over(w).alias("fp"))
        .groupBy("doc_id")
        .agg(
            F.countDistinct("fp").alias("n_fingerprints"),
            F.min("fp").alias("fp_min"),
        )
        .orderBy("doc_id")
    )


@register(
    "doc_perplexity_unigram",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_DD_TOKENS_LOWER}) AS t FROM documents
    ),
    freq AS (
      SELECT t,
             CAST(floor(-ln(CAST(count(*) AS DOUBLE)
                            / (SELECT count(*) FROM tok)) * 1e9 + 0.5)
                  AS BIGINT) AS nll_nano
      FROM tok GROUP BY t
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           floor(CAST(sum(nll_nano) AS DOUBLE) / 1e9 / count(*) * 1e6 + 0.5)
             / 1e6 AS avg_nll
    FROM tok JOIN freq USING (t)
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="Unigram language-model scoring: corpus token frequencies become "
    "-ln(p) surprisal values, and each document is scored by its mean "
    "per-token negative log-likelihood — the simplest member of the "
    "perplexity-filter family every pretraining pipeline runs (a KenLM "
    "stand-in with the same dataflow). Surprisals are nano-quantized "
    "BIGINTs at the DISTINCT-token level, so per-doc sums are exact "
    "integer accumulation — order-independent and hash-stable. Scale "
    "shape: the vocabulary aggregate collapses map-side; the vocab "
    "table broadcasts; scoring is one narrow explode + count per doc. "
    "(Reported as avg_nll, not exp(avg_nll): libm exp is not "
    "correctly-rounded cross-engine, ln-at-nano-precision is.)",
    tags=("llm", "text", "quality"),
)
def doc_perplexity_unigram(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    tok = d.select(
        "doc_id", F.explode(TX.tokens(F.lower(F.col("text")))).alias("t")
    )
    # corpus size as a lazy broadcast scalar (1-row crossJoin), never a
    # driver-side action inside the builder
    total = tok.agg(F.count("*").cast("double").alias("total"))
    freq = (
        tok.groupBy("t")
        .agg(F.count("*").cast("double").alias("cnt"))
        .crossJoin(F.broadcast(total))
        .select(
            "t",
            F.floor(-F.log(F.col("cnt") / F.col("total")) * 1e9 + 0.5)
            .cast("long")
            .alias("nll_nano"),
        )
    )
    return (
        tok.join(F.broadcast(freq), "t")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            (
                F.floor(
                    F.sum("nll_nano").cast("double")
                    / 1e9
                    / F.count("*")
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("avg_nll"),
        )
        .orderBy("doc_id")
    )


def _semantic_dedup_oracle() -> str:
    rounds = []
    cent = "c0"
    for i in range(1, _IVF_ROUNDS + 1):
        rounds.append(_ivf_assign_cte(f"a{i}", cent))
        rounds.append(_ivf_update_cte(f"c{i}", f"a{i}"))
        cent = f"c{i}"
    cos_micro = (
        f"floor({SIM.pico_cosine_sql('a.v', 'b.v', _IVF_DIM)} * 1e6 + 0.5)"
    )
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    c0 AS (
        SELECT cid, cv FROM (
            SELECT row_number() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                   ) - 1 AS cid,
                   v AS cv
            FROM e
        ) WHERE cid < {_IVF_K}
    ),
    {",".join(rounds)},
    {_ivf_assign_cte("afin", cent)},
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {cos_micro} AS cos_micro
      FROM afin a JOIN afin b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE {cos_micro} >= 400000
    )
    SELECT id_b AS vec_id,
           CAST(min(id_a) AS BIGINT) AS kept_by,
           CAST(max(cos_micro) AS BIGINT) AS best_cos_micro
    FROM pairs
    GROUP BY id_b
    ORDER BY vec_id
    """


@register(
    "emb_semantic_dedup",
    oracle=_semantic_dedup_oracle(),
    doc="SemDeDup (Abbas et al. 2023): semantic deduplication bounded by "
    "k-means clusters — pairwise cosine is computed ONLY within each "
    "cluster of the deterministic IVF index (same md5-seeded quantized "
    "Lloyd training as emb_ivf_recall_report), and a vector is dropped "
    "when a lower-id cluster-mate sits above the similarity threshold. "
    "The cluster bound is the whole point at 100 TB: pairwise work is "
    "sum(cluster_size^2), not n^2, and each cluster's compare is an "
    "equi-join on cid. The threshold compares the micro-quantized "
    "cosine (>= 400000 micro-units = 0.4), so the keep/drop decision "
    "itself is bit-deterministic cross-engine. Output is the drop list "
    "with its keeper and best similarity.",
    tags=("llm", "similarity", "dedup", "embedding"),
)
def emb_semantic_dedup(spark, sf_dir):
    from transitdata_monitor_data_collector_spark.functions.vectors import (
        as_double,
        pico_dot,
    )

    emb = table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    _cent, afin = _ivf_spark_train(e)

    # Precompute each vector's sqrt-norm ONCE: the oracle inlines
    # pico_cosine_sql per pair, but sqrt/multiply/divide over identical
    # doubles in the same association are bit-identical whether the
    # sqrt-norms are hoisted or recomputed inline — same doubles, same
    # floor, identical hash; ~3x less work in the O(sum cluster^2) stage.
    withn = afin.select(
        "vec_id", "v", "cid", F.sqrt(pico_dot(F.col("v"), F.col("v"))).alias("nn")
    )
    a = withn.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"),
        F.col("nn").alias("na"), "cid"
    )
    b = withn.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb"),
        F.col("nn").alias("nb"), "cid"
    )
    cos_micro = F.floor(
        pico_dot(F.col("va"), F.col("vb"))
        / (F.col("na") * F.col("nb"))
        * 1e6
        + 0.5
    )
    pairs = (
        a.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_micro", cos_micro)
        .filter(F.col("cos_micro") >= 400000)
    )
    return (
        pairs.groupBy(F.col("id_b").alias("vec_id"))
        .agg(
            F.min("id_a").alias("kept_by"),
            F.max("cos_micro").cast("long").alias("best_cos_micro"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# Collocation mining / heavy hitters / Zipf profiling — the corpus-statistics
# trio a tokenizer/LM team runs before training.

_DD_BIGRAMS = f"""
      CASE WHEN len({_DD_TOKENS_LOWER}) >= 2
           THEN list_transform(range(1, len({_DD_TOKENS_LOWER})),
                  i -> ({_DD_TOKENS_LOWER})[i] || ' '
                       || ({_DD_TOKENS_LOWER})[i+1])
           ELSE [] END
"""

_SPARK_BIGRAMS = (
    "transform(sequence(1, size(split(trim(lower(text)), '\\\\s+')) - 1), "
    "i -> concat(element_at(split(trim(lower(text)), '\\\\s+'), i), ' ', "
    "element_at(split(trim(lower(text)), '\\\\s+'), i + 1)))"
)


@register(
    "text_collocations_pmi",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_DD_TOKENS_LOWER}) AS t FROM documents
    ),
    uni AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t),
    nu AS (SELECT CAST(count(*) AS BIGINT) AS n_uni FROM tok),
    big AS (
      SELECT unnest({_DD_BIGRAMS}) AS bigram FROM documents
    ),
    bc AS (
      SELECT bigram, CAST(count(*) AS BIGINT) AS c_xy
      FROM big GROUP BY bigram HAVING count(*) >= 5
    ),
    nb AS (SELECT CAST(count(*) AS BIGINT) AS n_big FROM big),
    pmi AS (
      SELECT b.bigram, b.c_xy, u1.c AS c_x, u2.c AS c_y,
             CAST(floor(ln((CAST(b.c_xy AS DOUBLE) * n_uni * n_uni)
                           / (CAST(n_big AS DOUBLE) * u1.c * u2.c))
                        * 1e9 + 0.5) AS BIGINT) AS pmi_nano
      FROM bc b, nu, nb
      JOIN uni u1 ON u1.t = str_split(b.bigram, ' ')[1]
      JOIN uni u2 ON u2.t = str_split(b.bigram, ' ')[2]
    )
    SELECT bigram, c_xy, c_x, c_y, pmi_nano
    FROM pmi ORDER BY pmi_nano DESC, bigram LIMIT 30
    """,
    doc="Pointwise-mutual-information collocations: top-30 adjacent word "
    "pairs by PMI = ln(p(xy) / (p(x)p(y))) with a min-support of 5 — "
    "the classic collocation/multi-word-expression miner (Church & "
    "Hanks), and the association metric behind phrase-vocab induction. "
    "PMI is computed once per DISTINCT surviving bigram (few rows) as "
    "a single ln over an exact integer ratio, nano-quantized so the "
    "ranking key is a BIGINT — the perplexity-query discipline for "
    "libm-sensitive math. Unigram/bigram counts are partial-aggregated "
    "map-side; the two unigram joins broadcast the vocab.",
    tags=("llm", "text"),
)
def text_collocations_pmi(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    tok = d.select(F.explode(TX.tokens(F.lower(F.col("text")))).alias("t"))
    uni = tok.groupBy("t").agg(F.count("*").alias("c"))
    nu = tok.agg(F.count("*").alias("n_uni"))
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    bigrams = F.when(F.size(toks) >= 2, F.expr(_SPARK_BIGRAMS)).otherwise(
        F.array().cast("array<string>")
    )
    big = d.select(F.explode(bigrams).alias("bigram"))
    bc = (
        big.groupBy("bigram")
        .agg(F.count("*").alias("c_xy"))
        .filter(F.col("c_xy") >= 5)
    )
    nb = big.agg(F.count("*").alias("n_big"))
    parts = F.split(F.col("bigram"), " ")
    pmi = (
        bc.crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .withColumn("w1", F.element_at(parts, 1))
        .withColumn("w2", F.element_at(parts, 2))
        .join(
            F.broadcast(uni.select(F.col("t").alias("w1"), F.col("c").alias("c_x"))),
            "w1",
        )
        .join(
            F.broadcast(uni.select(F.col("t").alias("w2"), F.col("c").alias("c_y"))),
            "w2",
        )
        .select(
            "bigram",
            "c_xy",
            "c_x",
            "c_y",
            F.floor(
                F.log(
                    (F.col("c_xy").cast("double") * F.col("n_uni") * F.col("n_uni"))
                    / (F.col("n_big").cast("double") * F.col("c_x") * F.col("c_y"))
                )
                * 1e9
                + 0.5
            )
            .cast("long")
            .alias("pmi_nano"),
        )
    )
    return pmi.orderBy(F.desc("pmi_nano"), "bigram").limit(30)


@register(
    "text_zipf_profile",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_DD_TOKENS_LOWER}) AS t FROM documents
    ),
    freq AS (
      SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t
    ),
    ranked AS (
      SELECT t, c,
             CAST(row_number() OVER (ORDER BY c DESC, t) AS BIGINT) AS rnk
      FROM freq
    ),
    top AS (SELECT * FROM ranked WHERE rnk <= 100),
    fit AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum({fscaled_sql('ln(CAST(rnk AS DOUBLE))', 6)})
                  AS BIGINT) AS sx,
             CAST(sum({fscaled_sql('ln(CAST(c AS DOUBLE))', 6)})
                  AS BIGINT) AS sy,
             CAST(sum({fscaled_sql('ln(CAST(rnk AS DOUBLE))', 6)}
                      * {fscaled_sql('ln(CAST(c AS DOUBLE))', 6)})
                  AS BIGINT) AS sxy,
             CAST(sum({fscaled_sql('ln(CAST(rnk AS DOUBLE))', 6)}
                      * {fscaled_sql('ln(CAST(rnk AS DOUBLE))', 6)})
                  AS BIGINT) AS sxx
      FROM top
    )
    SELECT n AS n_ranks,
           floor((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                 * 1e6 + 0.5) / 1e6 AS zipf_slope
    FROM fit
    """,
    doc="Zipf's-law profile: least-squares slope of ln(frequency) vs "
    "ln(rank) over the top-100 vocabulary — the corpus-health number "
    "(natural text ~ -1; boilerplate-heavy or synthetic corpora "
    "deviate hard) every pretraining data report quotes. Per-rank "
    "logs are micro-quantized BIGINTs (ln computed once per DISTINCT "
    "rank — the libm-sensitivity discipline), so the regression "
    "moments are exact integer sums; one pinned double division at "
    "the end. Vocab count collapses map-side; the rank window runs "
    "over distinct tokens only.",
    tags=("llm", "text", "agg"),
)
def text_zipf_profile(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    tok = d.select(F.explode(TX.tokens(F.lower(F.col("text")))).alias("t"))
    freq = tok.groupBy("t").agg(F.count("*").alias("c"))
    wr = W.orderBy(F.desc("c"), "t")
    top = (
        freq.withColumn("rnk", F.row_number().over(wr).cast("long"))
        .filter(F.col("rnk") <= 100)
    )
    lx = fscaled(F.log(F.col("rnk").cast("double")), 6)
    ly = fscaled(F.log(F.col("c").cast("double")), 6)
    fit = top.agg(
        F.count("*").alias("n"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * ly).alias("sxy"),
        F.sum(lx * lx).alias("sxx"),
    )
    n_d = F.col("n").cast("double")
    slope = (n_d * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / (
        n_d * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    )
    return fit.select(
        F.col("n").alias("n_ranks"),
        (F.floor(slope * 1e6 + 0.5) / 1e6).alias("zipf_slope"),
    )


# Count-Min sketch: d=4 hash rows x w=512 columns. Cross-engine hash:
# first 8 hex chars of md5(token || '#' || row) — a 32-bit value both
# engines produce identically — modulo the width.
_CMS_D, _CMS_W = 4, 512


def _cms_col_sql(tok_expr: str, row: int) -> str:
    return (
        f"(('0x' || substr(md5({tok_expr} || '#{row}'), 1, 8))::BIGINT"
        f" % {_CMS_W})"
    )


def _cms_col_spark(tok: "F.Column", row: int):
    return (
        F.conv(F.substring(F.md5(F.concat(tok, F.lit(f"#{row}"))), 1, 8), 16, 10)
        .cast("long")
        % _CMS_W
    )


@register(
    "sketch_countmin_heavy_hitters",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_DD_TOKENS_LOWER}) AS t FROM documents
    ),
    cells AS (
      {" UNION ALL ".join(
        f"SELECT {r} AS row_i, {_cms_col_sql('t', r)} AS col_i, "
        f"CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 2"
        for r in range(_CMS_D)
      )}
    ),
    exact AS (
      SELECT t, CAST(count(*) AS BIGINT) AS exact_n
      FROM tok GROUP BY t ORDER BY exact_n DESC, t LIMIT 20
    )
    SELECT e.t AS token, e.exact_n,
           min(c.cnt) AS cms_estimate,
           min(c.cnt) - e.exact_n AS overcount
    FROM exact e
    JOIN cells c ON {" OR ".join(
        f"(c.row_i = {r} AND c.col_i = {_cms_col_sql('e.t', r)})"
        for r in range(_CMS_D)
    )}
    GROUP BY e.t, e.exact_n
    ORDER BY e.exact_n DESC, token
    """,
    doc="Count-Min sketch (d=4 rows x w=512 cols) over corpus tokens, "
    "validated against exact counts for the top-20 heavy hitters: "
    "estimate = min over rows of the hashed-cell counter, always >= "
    "the true count (one-sided error <= 2N/w per row w.h.p.) — the "
    "mergeable streaming-frequency sketch (Cormode & Muthukrishnan) "
    "that replaces an unbounded exact vocabulary at 100 TB. The "
    "sketch build is d map-side-combined aggregates over (row, "
    "hash-col) — 2,048 cells total regardless of corpus size — and "
    "the hash (md5-prefix mod w) is cross-engine exact, so the whole "
    "sketch, not just the report, is oracle-checked. Probe joins "
    "broadcast the 20-row candidate list.",
    tags=("llm", "text", "sketch", "approx"),
)
def sketch_countmin_heavy_hitters(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    tok = d.select(F.explode(TX.tokens(F.lower(F.col("text")))).alias("t"))

    def cms_col(tok_col, row_col):
        # dynamic-row variant of _cms_col_spark: one pass emits all d rows
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(tok_col, F.lit("#"), row_col.cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _CMS_W
        )

    rows = F.array(*[F.lit(r) for r in range(_CMS_D)])
    # ONE scan builds the whole sketch: explode the d row indices per
    # token, hash to (row, col), partial-agg map-side -> d*w cells.
    cells = (
        tok.select("t", F.explode(rows).alias("row_i"))
        .groupBy("row_i", cms_col(F.col("t"), F.col("row_i")).alias("col_i"))
        .agg(F.count("*").alias("cnt"))
    )
    exact = (
        tok.groupBy("t")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "t")
        .limit(20)
        .withColumnRenamed("t", "token")
    )
    probe = exact.select(
        "token", "exact_n", F.explode(rows).alias("row_i")
    ).withColumn("col_i", cms_col(F.col("token"), F.col("row_i")))
    est = (
        F.broadcast(probe)
        .join(cells, ["row_i", "col_i"])
        .groupBy("token", "exact_n")
        .agg(F.min("cnt").alias("cms_estimate"))
    )
    return est.select(
        "token",
        "exact_n",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("exact_n")).alias("overcount"),
    ).orderBy(F.desc("exact_n"), "token")


@register(
    "multimodal_audio_energy",
    oracle="""
    WITH bytes_t AS (
      SELECT doc_id, list_transform(range(1, length(text) + 1),
                                    i -> ascii(substr(text, i, 1)) - 128)
               AS ss
      FROM documents WHERE length(text) > 0
    ),
    samp AS (
      SELECT doc_id,
             CAST((generate_subscripts(ss, 1) - 1) // 256 AS BIGINT)
               AS frame_index,
             CAST(unnest(ss) AS BIGINT) AS s
      FROM bytes_t
    ),
    fr AS (
      SELECT doc_id, frame_index,
             CAST(count(*) AS BIGINT) AS n_samples,
             CAST(sum(s * s) AS BIGINT) AS ss2
      FROM samp GROUP BY doc_id, frame_index
    )
    SELECT doc_id, frame_index, n_samples,
           CAST(floor(sqrt(CAST(ss2 AS DOUBLE) / n_samples) * 1e6 + 0.5)
                AS BIGINT) AS rms_micro
    FROM fr ORDER BY doc_id, frame_index
    """,  # fake PCM sample_i = utf8_byte_i - 128 (ASCII corpus), so the
    # oracle replays the DSP from the text column: integer sum-of-squares
    # per 256-sample frame, then sqrt/divide — correctly-rounded IEEE ops,
    # micro-quantized.
    doc="Audio modality end-to-end: synthesize FAKEAUD containers (magic "
    "+ rate/count header + signed-8-bit PCM) -> parse header -> "
    "per-256-sample-frame RMS energy (operators/multimodal.py:"
    "audio_frame_energy) — the voice-activity-detection / silence-trim "
    "primitive of every speech-data pipeline. The DSP is REAL byte "
    "math (numpy add.reduceat sum-of-squares), only the codec is the "
    "documented stub; librosa swaps in at decode_with_library without "
    "touching schema or partitioning. Narrow Arrow-batched mapInPandas, "
    "no shuffle before the output sort; fan-out bounded at "
    "n_samples/256 rows per payload.",
    tags=("llm", "multimodal"),
)
def multimodal_audio_energy(spark, sf_dir):
    from transitdata_monitor_data_collector_spark.operators.multimodal import (
        audio_frame_energy,
        synthesize_audio_payloads,
    )

    docs = _docs_spread(spark, sf_dir)
    return audio_frame_energy(synthesize_audio_payloads(docs)).orderBy(
        "doc_id", "frame_index"
    )


@register(
    "doc_dsir_importance",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(unnest({_DD_TOKENS_LOWER})), 1, 8))::BIGINT
               % 1024 AS b
      FROM documents
    ),
    raw_c AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM tok GROUP BY b),
    tgt_c AS (
      SELECT b, CAST(count(*) AS BIGINT) AS ct FROM tok
      WHERE lang = 'en' GROUP BY b
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS nr,
             CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS nt
      FROM tok
    ),
    lam AS (
      SELECT r.b,
             CAST(floor(ln((CAST(coalesce(t.ct, 0) + 1 AS DOUBLE)
                            / (nt + 1024))
                           / (CAST(r.cr + 1 AS DOUBLE) / (nr + 1024)))
                        * 1e9 + 0.5) AS BIGINT) AS lam_nano
      FROM raw_c r LEFT JOIN tgt_c t USING (b), tot
    )
    SELECT k.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           floor(CAST(sum(l.lam_nano) AS DOUBLE) / 1e9 / count(*) * 1e6
                 + 0.5) / 1e6 AS dsir_logratio
    FROM tok k JOIN lam l USING (b)
    GROUP BY k.doc_id
    ORDER BY k.doc_id
    """,
    doc="DSIR importance weights (Xie et al. 2023, 'Data Selection for "
    "Language Models via Importance Resampling'): per-document mean "
    "log-likelihood ratio of hashed unigram features between the "
    "target distribution (lang='en' here) and the raw corpus, with "
    "add-1 smoothing over 1024 md5 buckets — the importance score "
    "that upsamples target-like documents. Per-bucket log-ratios are "
    "nano-quantized BIGINTs at the DISTINCT-bucket level (1024 rows), "
    "so per-doc sums are exact integer accumulation; the bucket table "
    "broadcasts. Feature hashing is the same md5-prefix idiom as the "
    "Count-Min sketch — cross-engine exact.",
    tags=("llm", "text", "sampling"),
)
def doc_dsir_importance(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    tok = d.select(
        "doc_id",
        "lang",
        F.explode(TX.tokens(F.lower(F.col("text")))).alias("t"),
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5(F.col("t")), 1, 8), 16, 10).cast("long")
            % 1024
        ).alias("b"),
    )
    raw_c = tok.groupBy("b").agg(F.count("*").alias("cr"))
    tgt_c = (
        tok.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count("*").alias("ct"))
    )
    tot = tok.agg(
        F.count("*").alias("nr"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("nt"),
    )
    lam = (
        raw_c.join(tgt_c, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.floor(
                F.log(
                    (
                        (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                        / (F.col("nt") + 1024)
                    )
                    / ((F.col("cr") + 1).cast("double") / (F.col("nr") + 1024))
                )
                * 1e9
                + 0.5
            )
            .cast("long")
            .alias("lam_nano"),
        )
    )
    return (
        tok.join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            (
                F.floor(
                    F.sum("lam_nano").cast("double")
                    / 1e9
                    / F.count("*")
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("dsir_logratio"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_char_entropy",
    oracle="""
    WITH ch AS (
      SELECT doc_id, length(text) AS len,
             unnest(list_transform(range(1, length(text) + 1),
                                   i -> substr(text, i, 1))) AS c
      FROM documents WHERE length(text) > 0
    ),
    cc AS (
      SELECT doc_id, len, c, CAST(count(*) AS BIGINT) AS n
      FROM ch GROUP BY doc_id, len, c
    ),
    terms AS (
      SELECT doc_id, len,
             CAST(floor(n * ln(CAST(n AS DOUBLE) / len) * 1e9 + 0.5)
                  AS BIGINT) AS t_nano
      FROM cc
    )
    SELECT doc_id,
           floor(-CAST(sum(t_nano) AS DOUBLE) / 1e9 / max(len) * 1e6 + 0.5)
             / 1e6 AS char_entropy
    FROM terms GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Per-document character-level Shannon entropy (nats): H = "
    "-sum_c p_c ln p_c — the cheap gibberish / base64-blob / "
    "repeated-char detector that complements the word-level quality "
    "gates. Each (doc, char) term is nano-quantized before the sum "
    "so accumulation is exact; one explode + one (doc, char) "
    "aggregate, both map-side-combining, no joins.",
    tags=("llm", "text", "quality"),
)
def text_char_entropy(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    ch = d.filter(F.length("text") > 0).select(
        "doc_id",
        F.length("text").alias("len"),
        F.explode(
            F.expr("transform(sequence(1, length(text)), i -> substring(text, i, 1))")
        ).alias("c"),
    )
    cc = ch.groupBy("doc_id", "len", "c").agg(F.count("*").alias("n"))
    terms = cc.select(
        "doc_id",
        "len",
        F.floor(
            F.col("n") * F.log(F.col("n").cast("double") / F.col("len")) * 1e9
            + 0.5
        )
        .cast("long")
        .alias("t_nano"),
    )
    return (
        terms.groupBy("doc_id")
        .agg(
            (
                F.floor(
                    -F.sum("t_nano").cast("double") / 1e9 / F.max("len") * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("char_entropy")
        )
        .orderBy("doc_id")
    )


@register(
    "emb_matryoshka_recall",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < 10
    ),
    c AS (
        SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings
    ),
    bf AS (
        SELECT q_id, c_id FROM (
            SELECT q.q_id, c.c_id,
                   row_number() OVER (
                       PARTITION BY q.q_id
                       ORDER BY floor({SIM.pico_cosine_sql("qv", "cv", 64)}
                                      * 1e6 + 0.5) DESC,
                             c.c_id) AS rn
            FROM q, c WHERE c.c_id <> q.q_id
        ) WHERE rn <= 10
    ),
    tr AS (
        SELECT q_id, c_id FROM (
            SELECT q.q_id, c.c_id,
                   row_number() OVER (
                       PARTITION BY q.q_id
                       ORDER BY floor({SIM.pico_cosine_sql("qv[1:16]", "cv[1:16]", 16)}
                                      * 1e6 + 0.5) DESC,
                             c.c_id) AS rn
            FROM q, c WHERE c.c_id <> q.q_id
        ) WHERE rn <= 10
    )
    SELECT bf.q_id AS query_id,
           CAST(count(tr.c_id) AS BIGINT) AS n_overlap,
           CAST(count(tr.c_id) AS DOUBLE) / 10.0 AS recall_at_10
    FROM bf LEFT JOIN tr USING (q_id, c_id)
    GROUP BY bf.q_id ORDER BY query_id
    """,
    doc="Matryoshka / MRL truncation QA (Kusupati et al. 2022): recall@10 "
    "of a 16-dim PREFIX ranking against the full 64-dim exact ranking, "
    "per query — the measurement that decides whether truncated "
    "embeddings are safe for the cheap first-stage retrieval tier "
    "(prefix cosine costs 4x less bandwidth and FLOPs at 100 TB). "
    "Both rankings use the picounit cosine + id tiebreak; the prefix "
    "is array slicing on both engines, so the report is fully "
    "hash-checked like emb_ann_recall_report.",
    tags=("llm", "similarity", "approx", "embedding"),
)
def emb_matryoshka_recall(spark, sf_dir):
    from transitdata_monitor_data_collector_spark.functions.vectors import (
        as_double,
        pico_cosine,
    )

    e = _guard_recall_corpus(
        table(spark, sf_dir, "embeddings").select(
            "vec_id", as_double(F.col("embedding")).alias("v")
        ),
        "emb_matryoshka_recall",
    )
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"))
    pairs = F.broadcast(q).crossJoin(c).filter(F.col("c_id") != F.col("q_id"))

    def topk(score_col):
        w = W.partitionBy("q_id").orderBy(F.desc("s"), "c_id")
        return (
            pairs.withColumn("s", score_col)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 10)
            .select("q_id", "c_id")
        )

    bf = topk(F.floor(pico_cosine(F.col("qv"), F.col("cv")) * 1e6 + 0.5))
    tr = topk(
        F.floor(
            pico_cosine(
                F.slice(F.col("qv"), 1, 16), F.slice(F.col("cv"), 1, 16)
            )
            * 1e6
            + 0.5
        )
    )
    return (
        bf.join(tr.withColumn("hit", F.lit(1)), ["q_id", "c_id"], "left")
        .groupBy(F.col("q_id").alias("query_id"))
        .agg(
            F.count("hit").alias("n_overlap"),
            (F.count("hit").cast("double") / 10.0).alias("recall_at_10"),
        )
        .orderBy("query_id")
    )


@register(
    "emb_centroid_drift",
    oracle="""
    WITH dims AS (
      SELECT label, CAST(vec_id % 2 AS BIGINT) AS half,
             generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6 + 0.5)
                  AS BIGINT) AS vm
      FROM embeddings
    ),
    means AS (
      SELECT label, half, dim,
             CAST(floor(CAST(sum(vm) AS DOUBLE) / count(*)) AS BIGINT) AS m
      FROM dims GROUP BY label, half, dim
    ),
    paired AS (
      SELECT a.label, a.dim, a.m AS ma, b.m AS mb
      FROM means a JOIN means b
        ON a.label = b.label AND a.dim = b.dim
       AND a.half = 0 AND b.half = 1
    )
    SELECT label,
           floor(CAST(sum(ma * mb) AS DOUBLE)
                 / (sqrt(CAST(sum(ma * ma) AS DOUBLE))
                    * sqrt(CAST(sum(mb * mb) AS DOUBLE))) * 1e6 + 0.5) / 1e6
             AS centroid_cosine
    FROM paired GROUP BY label ORDER BY label
    """,
    doc="Embedding drift monitor: cosine between per-label centroids of "
    "two deterministic corpus halves (vec_id parity stands in for "
    "before/after batches) — the A/B check that catches a silently "
    "retrained or re-normalized encoder before it poisons an ANN "
    "index. Per-dim micro-quantized integer means (the "
    "emb_hard_negatives discipline), exact integer dot products, one "
    "pinned sqrt/divide at the end. Shape: posexplode collapses "
    "map-side to |label| x 2 x 64 rows; everything after is "
    "dimension-sized.",
    tags=("llm", "embedding", "monitoring"),
)
def emb_centroid_drift(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.col("embedding")).alias("dim", "val"),
    ).select(
        "label",
        "half",
        "dim",
        F.floor(F.col("val").cast("double") * 1e6 + 0.5)
        .cast("long")
        .alias("vm"),
    )
    means = dims.groupBy("label", "half", "dim").agg(
        F.floor(F.sum("vm").cast("double") / F.count("*"))
        .cast("long")
        .alias("m")
    )
    a = means.filter(F.col("half") == 0).select(
        "label", "dim", F.col("m").alias("ma")
    )
    b = means.filter(F.col("half") == 1).select(
        "label", "dim", F.col("m").alias("mb")
    )
    paired = a.join(b, ["label", "dim"])
    return (
        paired.groupBy("label")
        .agg(
            (
                F.floor(
                    F.sum(F.col("ma") * F.col("mb")).cast("double")
                    / (
                        F.sqrt(F.sum(F.col("ma") * F.col("ma")).cast("double"))
                        * F.sqrt(F.sum(F.col("mb") * F.col("mb")).cast("double"))
                    )
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("centroid_cosine")
        )
        .orderBy("label")
    )


# Symmetric-delete (SymSpell) string-similarity join: two words are within
# Damerau/Levenshtein distance 2 only if some <=2-deletion variant of one
# equals some <=2-deletion variant of the other — so the candidate set is
# an EQUI-join on deletion variants (narrow per-word fan-out, ~1+L+L^2/2
# keys), never a cross join. Exact levenshtein() verifies survivors.
_DEL1 = (
    "transform(sequence(1, length({w})), i -> "
    "concat(substring({w}, 1, i - 1), substring({w}, i + 1, length({w}))))"
)


def _sym_variants_expr(col: str) -> str:
    d1 = _DEL1.format(w=col)
    d2 = (
        f"flatten(transform({d1}, v -> transform(sequence(1, length(v)), "
        f"j -> concat(substring(v, 1, j - 1), substring(v, j + 1, length(v))))))"
    )
    return f"array_distinct(concat(array({col}), {d1}, {d2}))"


@register(
    "text_typo_pairs_symdelete",
    oracle=f"""
    WITH v AS (
      SELECT t, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT unnest({_DD_TOKENS_LOWER}) AS t FROM documents
      ) WHERE length(t) >= 3 GROUP BY t
    )
    SELECT a.t AS w_a, b.t AS w_b, a.n AS n_a, b.n AS n_b,
           CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist
    FROM v a JOIN v b ON a.t < b.t AND levenshtein(a.t, b.t) <= 2
    ORDER BY w_a, w_b
    """,
    doc="String-similarity join: vocabulary pairs within edit distance 2 "
    "(typo/variant mining — the SymSpell spell-correction candidate "
    "structure, and the same join class as fuzzy entity resolution). "
    "The Spark plan is the SCALE path: each word emits its <=2-deletion "
    "neighborhood (~1 + L + L^2/2 short keys, built with nested "
    "transform() — no UDF), candidates come from ONE equi-self-join on "
    "the variant key, and exact levenshtein() verifies survivors — "
    "never a cross join (suite-wide cartesian assertion applies). The "
    "DuckDB oracle is the brute-force all-pairs levenshtein the "
    "banded plan must reproduce exactly, mirroring the LSH/brute-force "
    "pairing used for embedding near-dup. Hot-bucket note: 1-char "
    "variant keys (deletions of 3-char words) are shared widely, but "
    "their bucket size is bounded by the count of <=3-char vocabulary "
    "entries — dimension-sized at any corpus scale; the join key is "
    "the VOCAB, not the token stream.",
    tags=("llm", "text", "join", "dedup"),
)
def text_typo_pairs_symdelete(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    vocab = (
        d.select(F.explode(TX.tokens(F.lower(F.col("text")))).alias("t"))
        .filter(F.length("t") >= 3)
        .groupBy("t")
        .agg(F.count("*").alias("n"))
    )
    variants = vocab.select(
        "t", "n", F.explode(F.expr(_sym_variants_expr("t"))).alias("vkey")
    )
    a = variants.select(
        F.col("t").alias("w_a"), F.col("n").alias("n_a"), "vkey"
    )
    b = variants.select(
        F.col("t").alias("w_b"), F.col("n").alias("n_b"), "vkey"
    )
    cand = (
        a.join(b, "vkey")
        .filter(F.col("w_a") < F.col("w_b"))
        .select("w_a", "w_b", "n_a", "n_b")
        .distinct()
    )
    return (
        cand.withColumn(
            "dist", F.levenshtein(F.col("w_a"), F.col("w_b")).cast("long")
        )
        .filter(F.col("dist") <= 2)
        .orderBy("w_a", "w_b")
    )


@register(
    "text_langid_confusion",
    oracle=f"""
    WITH pred AS (
      SELECT doc_id, lang, {_langid_sql()} AS pred_lang FROM documents
    ),
    cm AS (
      SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
      FROM pred GROUP BY lang, pred_lang
    )
    SELECT lang, pred_lang, n,
           floor(CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY lang) * 1e6 + 0.5) / 1e6
             AS row_frac
    FROM cm ORDER BY lang, pred_lang
    """,
    doc="Language-ID confusion matrix: the marker-token classifier's "
    "predictions against the corpus's labeled lang column, with "
    "row-normalized fractions — the per-class quality report that "
    "decides whether the cheap heuristic can gate a crawl or needs a "
    "fastText-class model behind it (swap the classifier inside "
    "functions/text.langid; the evaluation query is unchanged). "
    "Dimension-sized output (|lang|^2); one aggregate.",
    tags=("llm", "text", "quality"),
)
def text_langid_confusion(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    pred = d.withColumn("_toks", TX.tokens(F.col("text"))).select(
        "lang", TX.langid_tokens(F.col("_toks")).alias("pred_lang")
    )
    cm = pred.groupBy("lang", "pred_lang").agg(F.count("*").alias("n"))
    wl = W.partitionBy("lang")
    return cm.select(
        "lang",
        "pred_lang",
        "n",
        (
            F.floor(F.col("n").cast("double") / F.sum("n").over(wl) * 1e6 + 0.5)
            / 1e6
        ).alias("row_frac"),
    ).orderBy("lang", "pred_lang")


# RAKE (Rapid Automatic Keyword Extraction, Rose et al. 2010): candidate
# phrases are maximal stopword-free token runs; each word scores
# degree/frequency over the phrase corpus; a phrase scores the sum of its
# words. Stopword split is a pure-regex rewrite (identical pattern text in
# both engines), scores are micro-quantized at the DISTINCT-word level so
# phrase sums are exact integer accumulation.
_RAKE_STOPS = "the|a|and|of|to|in|is|for|on|with|at|by|from|as|an|or"
_RAKE_SPLIT = f"\\b(?:{_RAKE_STOPS})\\b"


@register(
    "text_rake_keyphrases",
    oracle=f"""
    WITH ph AS (
      SELECT trim(p) AS phrase FROM (
        SELECT unnest(str_split(
          regexp_replace(lower(text), '{_RAKE_SPLIT}', '|', 'g'), '|')) AS p
        FROM documents
      ) WHERE trim(p) <> ''
    ),
    pw AS (
      SELECT phrase, str_split_regex(phrase, '\\s+') AS ws FROM ph
    ),
    wstat AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(deg) AS BIGINT) AS degree
      FROM (
        SELECT unnest(ws) AS w, len(ws) AS deg FROM pw
      ) GROUP BY w
    ),
    wscore AS (
      SELECT w, CAST(floor(CAST(degree AS DOUBLE) / freq * 1e6 + 0.5)
                     AS BIGINT) AS s_micro
      FROM wstat
    ),
    pscore AS (
      SELECT p.phrase, CAST(sum(s.s_micro) AS BIGINT) AS score_micro
      FROM (SELECT phrase, unnest(ws) AS w FROM pw) p
      JOIN wscore s ON s.w = p.w
      GROUP BY p.phrase
    )
    SELECT p.phrase,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           min(ps.score_micro) / CAST(count(*) AS BIGINT) AS score_micro
    FROM ph p JOIN pscore ps USING (phrase)
    GROUP BY p.phrase
    ORDER BY score_micro DESC, phrase LIMIT 20
    """,
    doc="RAKE keyphrase extraction (Rose et al. 2010): maximal "
    "stopword-free token runs scored by sum over words of "
    "degree/frequency — the classic unsupervised keyword miner "
    "(tokenizer-vocab and tag-generation precursor). The stopword cut "
    "is one regexp_replace-to-separator + split (no UDF, identical "
    "pattern both engines); word scores micro-quantize at the distinct "
    "word (the division is the only non-integer step), phrase sums are "
    "exact integers. Narrow explode -> two map-side aggregates -> "
    "vocab-sized join.",
    tags=("llm", "text"),
)
def text_rake_keyphrases(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    ph = (
        d.select(
            F.explode(
                F.split(
                    F.regexp_replace(F.lower(F.col("text")), _RAKE_SPLIT, "|"),
                    r"\|",
                )
            ).alias("p")
        )
        .select(F.trim(F.col("p")).alias("phrase"))
        .filter(F.col("phrase") != "")
    )
    pw = ph.select("phrase", F.split(F.col("phrase"), r"\s+").alias("ws"))
    words = pw.select(
        F.explode(F.col("ws")).alias("w"), F.size("ws").alias("deg")
    )
    wstat = words.groupBy("w").agg(
        F.count("*").alias("freq"), F.sum("deg").alias("degree")
    )
    wscore = wstat.select(
        "w",
        F.floor(F.col("degree").cast("double") / F.col("freq") * 1e6 + 0.5)
        .cast("long")
        .alias("s_micro"),
    )
    pscore = (
        pw.select("phrase", F.explode("ws").alias("w"))
        .join(F.broadcast(wscore), "w")
        .groupBy("phrase")
        .agg(F.sum("s_micro").alias("score_micro"))
    )
    return (
        ph.join(pscore, "phrase")
        .groupBy("phrase")
        .agg(
            F.count("*").alias("n_occurrences"),
            (F.min("score_micro") / F.count("*")).alias("score_micro"),
        )
        .orderBy(F.desc("score_micro"), "phrase")
        .limit(20)
    )


# Per-stratum sampling rates for the sampleBy analog (parts-per-million).
_STRAT_RATES_PPM = {"en": 800000, "de": 500000, "fr": 500000, "es": 250000,
                    "zh": 250000}


@register(
    "doc_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang FROM documents
    WHERE {_MD5_PPM_DD} < CASE lang
        {" ".join(f"WHEN '{k}' THEN {v}" for k, v in _STRAT_RATES_PPM.items())}
        ELSE 0 END
    ORDER BY doc_id
    """,
    doc="Stratified sampling with per-stratum rates (the "
    "DataFrameStatFunctions.sampleBy analog, DETERMINISTIC): each "
    "document keeps iff its md5 parts-per-million falls under its "
    "language's rate — en 80%, de/fr 50%, es/zh 25% — the "
    "language-rebalancing cut every multilingual pretraining mix "
    "applies. Zero randomness: identical keep set on retry, "
    "re-partition, and in the oracle (sampleBy's Bernoulli draw could "
    "never hash cross-engine). Narrow filter, no shuffle before the "
    "output sort.",
    tags=("llm", "sampling"),
)
def doc_stratified_sample(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    rate = F.lit(0)
    for k, v in _STRAT_RATES_PPM.items():
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    return (
        d.filter(F.expr(_MD5_PPM) < rate)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@register(
    "doc_gopher_quality_rules",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             len({_DD_TOKENS_LOWER}) AS n_words,
             CAST(length(regexp_replace(text, '[^#*]', '', 'g')) AS BIGINT)
               AS n_symbols,
             length(text) - length(replace(text, ' ', '')) AS n_spaces,
             length(text) AS n_chars,
             len(list_filter({_DD_TOKENS_LOWER},
                 w -> w IN ('the', 'and', 'of', 'to', 'a'))) AS n_stop
      FROM documents
    )
    SELECT doc_id,
           CASE
             WHEN n_words < 5 OR n_words > 100000 THEN 'word_count'
             WHEN n_words > 0 AND
                  CAST(n_chars - n_spaces AS DOUBLE) / n_words
                    NOT BETWEEN 2.0 AND 12.0 THEN 'mean_word_len'
             WHEN n_words > 0 AND
                  CAST(n_symbols AS DOUBLE) / n_words > 0.1 THEN 'symbol_ratio'
             WHEN n_stop = 0 THEN 'no_stopwords'
             ELSE 'pass'
           END AS gopher_status
    FROM feats ORDER BY doc_id
    """,
    doc="Gopher-rule quality gate (Rae et al. 2021, Table A1 — adapted "
    "thresholds): word-count bounds, mean-word-length window, "
    "symbol-to-word ratio, and the must-contain-a-stopword rule, "
    "evaluated as a CASE ladder with the FIRST failing rule reported "
    "(the actionable form: tells the curator why a doc died). All "
    "features are integer counts from one narrow projection; the two "
    "ratios are pinned double divisions. Complements the generic "
    "text_quality_scores with the named-paper rule set.",
    tags=("llm", "text", "quality"),
)
def doc_gopher_quality_rules(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    toks = TX.tokens(F.lower(F.col("text")))
    feats = d.select(
        "doc_id",
        F.size(toks).alias("n_words"),
        F.length(F.regexp_replace(F.col("text"), "[^#*]", "")).cast("long").alias(
            "n_symbols"
        ),
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), " ", ""))
        ).alias("n_spaces"),
        F.length("text").alias("n_chars"),
        F.size(
            F.filter(
                toks,
                lambda w: w.isin("the", "and", "of", "to", "a"),
            )
        ).alias("n_stop"),
    )
    mwl = (F.col("n_chars") - F.col("n_spaces")).cast("double") / F.col("n_words")
    status = (
        F.when(
            (F.col("n_words") < 5) | (F.col("n_words") > 100000), "word_count"
        )
        .when(
            (F.col("n_words") > 0) & (~mwl.between(2.0, 12.0)), "mean_word_len"
        )
        .when(
            (F.col("n_words") > 0)
            & (F.col("n_symbols").cast("double") / F.col("n_words") > 0.1),
            "symbol_ratio",
        )
        .when(F.col("n_stop") == 0, "no_stopwords")
        .otherwise("pass")
    )
    return feats.select("doc_id", status.alias("gopher_status")).orderBy(
        "doc_id"
    )


@register(
    "doc_ccnet_perplexity_buckets",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({_DD_TOKENS_LOWER}) AS t FROM documents
    ),
    freq AS (
      SELECT t,
             CAST(floor(-ln(CAST(count(*) AS DOUBLE)
                            / (SELECT count(*) FROM tok)) * 1e9 + 0.5)
                  AS BIGINT) AS nll_nano
      FROM tok GROUP BY t
    ),
    scored AS (
      SELECT k.doc_id, k.lang,
             CAST(sum(f.nll_nano) AS BIGINT) AS nll_sum,
             CAST(count(*) AS BIGINT) AS n_tok
      FROM tok k JOIN freq f USING (t)
      GROUP BY k.doc_id, k.lang
    )
    SELECT doc_id, lang,
           CASE ntile(3) OVER (PARTITION BY lang
                               ORDER BY nll_sum * 1.0 / n_tok, doc_id)
             WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
             AS ccnet_bucket
    FROM scored ORDER BY doc_id
    """,
    doc="CCNet-style perplexity bucketing (Wenzek et al. 2020): within "
    "each language, documents split into head/middle/tail terciles of "
    "unigram-LM mean surprisal — the curation tier every CommonCrawl "
    "pipeline stamps before mixing (head = fluent, tail = noisy). "
    "Rides the doc_perplexity_unigram scoring (vocabulary-level "
    "nano-quantized surprisals, exact integer sums); the tercile is "
    "ntile over the EXACT rational nll_sum/n_tok with doc_id "
    "tiebreak, so bucket edges are deterministic cross-engine.",
    tags=("llm", "text", "quality", "sampling"),
)
def doc_ccnet_perplexity_buckets(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    tok = d.select(
        "doc_id",
        "lang",
        F.explode(TX.tokens(F.lower(F.col("text")))).alias("t"),
    )
    total = tok.agg(F.count("*").cast("double").alias("total"))
    freq = (
        tok.groupBy("t")
        .agg(F.count("*").cast("double").alias("cnt"))
        .crossJoin(F.broadcast(total))
        .select(
            "t",
            F.floor(-F.log(F.col("cnt") / F.col("total")) * 1e9 + 0.5)
            .cast("long")
            .alias("nll_nano"),
        )
    )
    scored = (
        tok.join(F.broadcast(freq), "t")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("nll_nano").alias("nll_sum"),
            F.count("*").alias("n_tok"),
        )
    )
    wn = W.partitionBy("lang").orderBy(
        F.col("nll_sum") * 1.0 / F.col("n_tok"), "doc_id"
    )
    bucket = (
        F.when(F.ntile(3).over(wn) == 1, "head")
        .when(F.ntile(3).over(wn) == 2, "middle")
        .otherwise("tail")
    )
    return scored.select(
        "doc_id", "lang", bucket.alias("ccnet_bucket")
    ).orderBy("doc_id")


@register(
    "doc_source_preference_dedup",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY md5(text)
               ORDER BY CAST(substr(source, 4) AS INTEGER), doc_id
             ) AS rn,
             CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT)
               AS group_size
      FROM documents
    )
    SELECT doc_id, source, group_size, rn = 1 AS kept
    FROM ranked
    ORDER BY doc_id
    """,
    doc="Cross-source exact dedup with SOURCE PREFERENCE: within each "
    "content-hash group, keep the copy from the highest-priority source "
    "(numeric suffix of the source id; doc_id tiebreak) and mark the "
    "rest dropped — the 'prefer the cleanest mirror' policy every "
    "multi-crawl curation pipeline needs, vs doc_exact_dedup's "
    "first-by-id survivor. One hash shuffle on md5(text); both the "
    "row_number and the group_size ride the same window partitioning, "
    "so Spark plans a single sort+exchange. Survivor choice is total-"
    "ordered (priority, doc_id) => deterministic cross-engine.",
    tags=("llm-data", "dedup", "window"),
)
def doc_source_preference_dedup(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    priority = F.substring("source", 4, 10).cast("int")
    w = W.partitionBy(F.md5("text")).orderBy(priority.asc(), F.col("doc_id"))
    wc = W.partitionBy(F.md5("text"))
    return (
        docs.select(
            "doc_id",
            "source",
            F.count("*").over(wc).alias("group_size"),
            (F.row_number().over(w) == 1).alias("kept"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# PCA power iteration: dominant principal direction of the embedding cloud
# as a bounded-round DataFrame iteration — the third iterative-algorithm
# pattern next to connected components (min-label BSP) and PageRank
# (weighted BSP), here dense linear algebra: v <- normalize(X^T X v).
# Each matvec is ONE scan (posexplode + 64-group aggregate, map-side
# collapsed); the driver ever holds only D scalars (the IVF-centroid
# discipline). All arithmetic is quantized — picounit per-term dot
# products, micro-unit y sums, nano-quantized unit vectors — so the
# DuckDB oracle replays every round bit-exactly in unrolled CTEs.
_PCA_ROUNDS = 6


def _pca_oracle(rounds: int = _PCA_ROUNDS) -> str:
    ctes = [
        """
    x AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS xv
      FROM embeddings
    ),
    v0 AS (SELECT DISTINCT pos, 0.125 AS vj FROM x)"""
    ]
    for r in range(1, rounds + 1):
        ctes.append(f"""
    dq{r} AS (
      SELECT x.vec_id,
             CAST(sum(CAST(floor(x.xv * v.vj * 1e12 + 0.5) AS BIGINT))
                  AS BIGINT) AS dq
      FROM x JOIN v{r - 1} v USING (pos)
      GROUP BY x.vec_id
    ),
    y{r} AS (
      SELECT x.pos,
             CAST(sum(CAST(floor(x.xv * CAST(d.dq AS DOUBLE) / 1e6 + 0.5)
                           AS BIGINT)) AS BIGINT) AS y_n
      FROM x JOIN dq{r} d USING (vec_id)
      GROUP BY x.pos
    ),
    n{r} AS (
      SELECT sqrt(CAST(sum(CAST(y_n AS HUGEINT) * y_n) AS DOUBLE)) AS nrm
      FROM y{r}
    ),
    v{r} AS (
      SELECT pos, floor(CAST(y_n AS DOUBLE) / nrm * 1e9 + 0.5) / 1e9 AS vj
      FROM y{r}, n{r}
    )""")
    r = rounds
    return (
        "WITH " + ",".join(ctes) + f"""
    SELECT y.pos AS pos, y.y_n AS y_n, v.vj AS loading,
           floor(nrm / 1e6 * 1e6 + 0.5) / 1e6 AS eig
    FROM y{r} y JOIN v{r} v USING (pos), n{r}
    ORDER BY pos
    """
    )


@register(
    "emb_pca_power_iteration",
    oracle=_pca_oracle(),
    doc="Dominant principal direction of the embedding corpus via POWER "
    "ITERATION (6 fixed rounds from the constant unit start 1/8): "
    "v <- normalize(X^T X v), with the Gram matvec factored as "
    "X^T (X v) so nothing D x D is ever materialized — per round one "
    "scan computes the picounit row dots (X v, exact BIGINT "
    "accumulation), posexplode fans (pos, x) pairs that collapse "
    "map-side into D=64 micro-unit integer sums (X^T dots), and only "
    "those 64 scalars reach the driver for nano-quantized "
    "renormalization (the IVF-centroid discipline, "
    "operators/similarity.py). The eigenvalue estimate is the final "
    "y-norm de-scaled. Every round is exact integer/IEEE arithmetic, "
    "so the DuckDB oracle's 6 unrolled CTE rounds reproduce the "
    "loadings bit-for-bit — the iteration itself is hash-gated, not "
    "just the final report.",
    tags=("llm", "embedding", "iterative", "agg"),
)
def emb_pca_power_iteration(spark, sf_dir):
    import math

    from transitdata_monitor_data_collector_spark.functions.vectors import as_double

    # one width-restoring shuffle up front: the testdata table is a single
    # parquet file (=> one input split), and all six matvec rounds reuse
    # the same shuffle output (identical lineage => skipped stages). The
    # integer accumulation is order-independent, so partitioning cannot
    # move the result.
    emb = (
        table(spark, sf_dir, "embeddings")
        .select("embedding")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    dim_row = emb.select(F.size("embedding").alias("d")).first()
    dim = dim_row["d"]
    v = [0.125] * dim
    y_df = None
    for _ in range(_PCA_ROUNDS):
        varr = F.array(*[F.lit(float(x)) for x in v])
        dq = F.aggregate(
            F.zip_with(
                as_double(F.col("embedding")),
                varr,
                lambda x, w: F.floor(x * w * 1e12 + 0.5).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        )
        # NOTE (r11): a 64-accumulator single-row aggregate (no explode)
        # was tried here and measured ~2x SLOWER — 64 agg buffers defeat
        # whole-stage codegen, while this explode + groupBy(pos) shape
        # already partial-aggregates map-side (64 rows per task cross
        # the exchange, not N x 64). Kept as-is deliberately.
        rows = emb.select(
            dq.alias("dq"),
            F.posexplode(as_double(F.col("embedding"))).alias("pos", "xv"),
        )
        y_df = rows.groupBy("pos").agg(
            F.sum(
                F.floor(
                    F.col("xv") * F.col("dq").cast("double") / 1e6 + 0.5
                ).cast("long")
            ).alias("y_n")
        )
        y = {r["pos"]: r["y_n"] for r in y_df.collect()}
        ssq = sum(y[p] * y[p] for p in range(dim))  # exact int, order-free
        nrm = math.sqrt(float(ssq))
        v = [math.floor(y[p] / nrm * 1e9 + 0.5) / 1e9 for p in range(dim)]
    eig = math.floor(nrm / 1e6 * 1e6 + 0.5) / 1e6
    loading = F.array(*[F.lit(float(x)) for x in v])
    return (
        y_df.select(
            "pos",
            "y_n",
            F.element_at(loading, F.col("pos") + 1).alias("loading"),
            F.lit(eig).alias("eig"),
        )
        .orderBy("pos")
    )


# ---------------------------------------------------------------------------
# Distinct-count / membership sketches (mergeable, oracle-checkable)
# ---------------------------------------------------------------------------

_KMV_K = 64


@register(
    "sketch_kmv_distinct",
    oracle=f"""
    WITH tok AS (
      SELECT lang, {_DD_TOKENS_LOWER} AS ts FROM documents
    ),
    sh AS (
      SELECT lang, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
      FROM tok, unnest(range(1, len(ts) - 1)) AS r(i)
      WHERE len(ts) >= 3
    ),
    dh AS (
      SELECT DISTINCT lang, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h
      FROM sh
    ),
    ranked AS (
      SELECT lang, h,
             row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
      FROM dh
    ),
    est AS (
      SELECT lang,
             count(*) AS n_exact,
             CASE WHEN count(*) < {_KMV_K} THEN count(*)
                  ELSE ({_KMV_K} - 1) * 4294967296
                       // (max(CASE WHEN rn = {_KMV_K} THEN h END) + 1)
             END AS kmv_estimate
      FROM ranked GROUP BY lang
    )
    SELECT lang,
           CAST(n_exact AS BIGINT) AS n_exact,
           CAST(kmv_estimate AS BIGINT) AS kmv_estimate,
           {fround_sql("100.0 * (kmv_estimate - n_exact) / n_exact", 2)}
             AS rel_err_pct
    FROM est ORDER BY lang
    """,
    doc="KMV (bottom-k, k=64) distinct-count sketch over per-language "
    "3-token shingles, validated against the exact distinct count: "
    "estimate = (k-1) * 2^32 // (h_(k) + 1) where h_(k) is the k-th "
    "smallest 32-bit md5 hash (Bar-Yossef et al. 2002); when fewer "
    "than k distinct values exist the sketch IS the exact answer. "
    "Unlike HLL (agg_approx_count_distinct, rows-only) the md5-based "
    "KMV is bit-identical cross-engine, so the DRIVER hash-checks an "
    "approximate-distinct sketch end to end. Scale shape: one "
    "map-side-combined distinct collapses the corpus to its "
    "vocabulary, the per-group sort ranks only distinct hashes, and "
    "the estimate is exact integer division (no doubles until the "
    "report). The sketch is mergeable (union of bottom-k sets -> "
    "bottom-k), the property that lets 1000 executors each keep 64 "
    "longs per group instead of an exact vocabulary at 100 TB.",
    tags=("llm", "text", "sketch", "approx"),
)
def sketch_kmv_distinct(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    ts = TX.tokens(F.lower(F.col("text")))
    n = F.size(ts)
    shingles = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: F.array_join(F.slice(ts, i, 3), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    dh = (
        d.select("lang", F.explode(shingles).alias("s"))
        .select(
            "lang",
            F.conv(F.substring(F.md5("s"), 1, 8), 16, 10)
            .cast("long")
            .alias("h"),
        )
        .distinct()
    )
    ranked = dh.select(
        "lang",
        "h",
        F.row_number().over(W.partitionBy("lang").orderBy("h")).alias("rn"),
    )
    est = (
        ranked.groupBy("lang")
        .agg(
            F.count("*").alias("n_exact"),
            F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("hk"),
        )
        .select(
            "lang",
            F.col("n_exact").cast("long").alias("n_exact"),
            F.when(F.col("n_exact") < _KMV_K, F.col("n_exact"))
            .otherwise(
                F.expr(f"({_KMV_K} - 1) * 4294967296 div (hk + 1)")
            )
            .cast("long")
            .alias("kmv_estimate"),
        )
    )
    return est.select(
        "lang",
        "n_exact",
        "kmv_estimate",
        fround(
            100.0
            * (F.col("kmv_estimate") - F.col("n_exact"))
            / F.col("n_exact"),
            2,
        ).alias("rel_err_pct"),
    ).orderBy("lang")


_BLOOM_M = 1 << 20  # bit positions
_BLOOM_K = 3  # hash functions


def _bloom_pos_sql(g: str, j: int) -> str:
    return f"('0x' || substr(md5({g} || '#{j}'), 1, 8))::BIGINT % {_BLOOM_M}"


@register(
    "sketch_bloom_decontamination",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_MD5_PCT_DD} AS pct, {_DD_TOKENS_LOWER} AS ts
      FROM documents
    ),
    grams AS (
      SELECT doc_id, pct,
             ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]
               || ' ' || ts[i+4] || ' ' || ts[i+5] || ' ' || ts[i+6]
               || ' ' || ts[i+7] AS g
      FROM tok, unnest(range(1, len(ts) - 6)) AS r(i)
      WHERE len(ts) >= 8
    ),
    train_g AS (SELECT DISTINCT g FROM grams WHERE pct >= 10),
    eval_g AS (SELECT DISTINCT g FROM grams WHERE pct < 10),
    bits AS (
      SELECT DISTINCT pos FROM (
        {" UNION ALL ".join(
            f"SELECT {_bloom_pos_sql('g', j)} AS pos FROM train_g"
            for j in range(_BLOOM_K)
        )}
      )
    ),
    probe AS (
      SELECT DISTINCT g, pos FROM (
        {" UNION ALL ".join(
            f"SELECT g, {_bloom_pos_sql('g', j)} AS pos FROM eval_g"
            for j in range(_BLOOM_K)
        )}
      )
    ),
    per_g AS (
      SELECT p.g,
             count(*) AS n_pos,
             count(b.pos) AS n_hit,
             max(CASE WHEN t.g IS NOT NULL THEN 1 ELSE 0 END) AS present
      FROM probe p
      LEFT JOIN bits b ON p.pos = b.pos
      LEFT JOIN train_g t ON p.g = t.g
      GROUP BY p.g
    )
    SELECT CAST(count(*) AS BIGINT) AS n_eval_grams,
           CAST(coalesce(sum(present), 0) AS BIGINT) AS n_present,
           CAST(coalesce(sum(CASE WHEN n_hit = n_pos THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_candidates,
           CAST(coalesce(sum(CASE WHEN n_hit = n_pos AND present = 0
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_false_pos,
           (SELECT CAST(count(*) AS BIGINT) FROM bits) AS bits_set,
           {fround_sql(
               "CASE WHEN count(*) - coalesce(sum(present), 0) > 0 THEN "
               "100.0 * coalesce(sum(CASE WHEN n_hit = n_pos AND present = 0 "
               "THEN 1 ELSE 0 END), 0) "
               "/ (count(*) - coalesce(sum(present), 0)) ELSE 0.0 END", 4)}
             AS fp_rate_pct
    FROM per_g
    """,
    doc="Bloom-filter decontamination pre-screen: a deterministic Bloom "
    "filter (m=2^20 bit positions, k=3 md5-derived hashes) is built "
    "over the TRAIN split's distinct 8-gram shingles and probed with "
    "the EVAL split's 8-grams — the constant-size membership screen "
    "that, at 100 TB, replaces shipping the full training n-gram set "
    "into the decontamination join (doc_decontamination); only Bloom "
    "candidates proceed to the exact verify. The filter is modeled "
    "relationally (distinct bit positions + broadcast probe join) so "
    "the WHOLE structure is oracle-checked — Spark's native runtime "
    "Bloom pushdown does the same thing engine-side with real "
    "bitsets. Reports observed false-positive rate against the exact "
    "semi-join ground truth; one-sided error only (no false "
    "negatives, asserted by n_candidates >= n_present).",
    tags=("llm", "text", "sketch", "approx", "dedup"),
)
def sketch_bloom_decontamination(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    ts = TX.tokens(F.lower(F.col("text")))
    n = F.size(ts)
    grams = F.when(
        n >= 8,
        F.transform(
            F.sequence(F.lit(1), n - 7),
            lambda i: F.array_join(F.slice(ts, i, 8), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pct = F.expr(_MD5_PCT)
    g = d.select(pct.alias("pct"), F.explode(grams).alias("g"))
    # ONE tokenize+explode+distinct pass for both splits: train_g and
    # eval_g as separate distincts each replayed the corpus gram
    # pipeline, and train_g is consumed twice more downstream (bits +
    # the present join) — profiled r11: three ~6 MB gram expansions per
    # run. The combined distinct-gram table with membership flags is
    # the vocabulary-sized thing worth caching at any scale.
    gd = (
        g.groupBy("g")
        .agg(
            F.max((F.col("pct") >= 10).cast("int")).alias("in_train"),
            F.max((F.col("pct") < 10).cast("int")).alias("in_eval"),
        )
        .cache()
    )
    train_g = gd.filter(F.col("in_train") == 1).select("g")
    eval_g = gd.filter(F.col("in_eval") == 1).select("g")

    def bloom_pos(gcol, j):
        return (
            F.conv(
                F.substring(F.md5(F.concat(gcol, F.lit(f"#{j}"))), 1, 8),
                16,
                10,
            ).cast("long")
            % _BLOOM_M
        )

    def positions(df):
        return df.select(
            "g",
            F.explode(
                F.array_distinct(
                    F.array(
                        *[bloom_pos(F.col("g"), j) for j in range(_BLOOM_K)]
                    )
                )
            ).alias("pos"),
        )

    bits = positions(train_g).select("pos").distinct()
    probe = positions(eval_g)
    per_g = (
        probe.join(F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left")
        .groupBy("g")
        .agg(
            F.count("*").alias("n_pos"),
            F.count("hit").alias("n_hit"),
        )
        .join(
            train_g.withColumn("present", F.lit(1)), "g", "left"
        )
        .select(
            "g",
            "n_pos",
            "n_hit",
            F.coalesce(F.col("present"), F.lit(0)).alias("present"),
        )
    )
    cand = (F.col("n_hit") == F.col("n_pos")).cast("long")
    fp = ((F.col("n_hit") == F.col("n_pos")) & (F.col("present") == 0)).cast(
        "long"
    )
    summary = per_g.agg(
        F.count("*").cast("long").alias("n_eval_grams"),
        F.coalesce(F.sum("present"), F.lit(0)).cast("long").alias("n_present"),
        F.coalesce(F.sum(cand), F.lit(0)).cast("long").alias("n_candidates"),
        F.coalesce(F.sum(fp), F.lit(0)).cast("long").alias("n_false_pos"),
    )
    n_bits = bits.agg(F.count("*").cast("long").alias("bits_set"))
    denom = F.col("n_eval_grams") - F.col("n_present")
    return summary.crossJoin(F.broadcast(n_bits)).select(
        "n_eval_grams",
        "n_present",
        "n_candidates",
        "n_false_pos",
        "bits_set",
        F.when(
            denom > 0,
            fround(100.0 * F.col("n_false_pos") / denom, 4),
        )
        .otherwise(F.lit(0.0))
        .alias("fp_rate_pct"),
    )


@register(
    "text_jsd_corpus_drift",
    oracle=f"""
    WITH halves AS (
      SELECT lang, CASE WHEN {_MD5_PCT_DD} < 50 THEN 'a' ELSE 'b' END AS half,
             unnest({_DD_TOKENS_LOWER}) AS t
      FROM documents
    ),
    cnt AS (
      SELECT lang, t,
             CAST(sum(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN half = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM halves GROUP BY lang, t
    ),
    tot AS (
      SELECT lang, CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
      FROM cnt GROUP BY lang
    ),
    terms AS (
      SELECT c.lang,
             CAST(floor((
               CASE WHEN c.ca > 0 THEN
                 0.5 * (CAST(c.ca AS DOUBLE) / t.na)
                     * ln((CAST(c.ca AS DOUBLE) / t.na)
                          / ((CAST(c.ca AS DOUBLE) / t.na
                              + CAST(c.cb AS DOUBLE) / t.nb) / 2))
               ELSE 0.0 END
               +
               CASE WHEN c.cb > 0 THEN
                 0.5 * (CAST(c.cb AS DOUBLE) / t.nb)
                     * ln((CAST(c.cb AS DOUBLE) / t.nb)
                          / ((CAST(c.ca AS DOUBLE) / t.na
                              + CAST(c.cb AS DOUBLE) / t.nb) / 2))
               ELSE 0.0 END) * 1e9 + 0.5) AS BIGINT) AS term_nano
      FROM cnt c JOIN tot t USING (lang)
    )
    SELECT t.lang,
           tot.na AS n_tokens_a, tot.nb AS n_tokens_b,
           CAST(count(*) AS BIGINT) AS vocab_union,
           CAST(sum(t.term_nano) AS BIGINT) AS jsd_nano,
           CAST(sum(t.term_nano) AS DOUBLE) / 1e9 AS jsd
    FROM terms t JOIN tot USING (lang)
    GROUP BY t.lang, tot.na, tot.nb
    ORDER BY t.lang
    """,
    doc="Jensen-Shannon divergence between the token distributions of two "
    "deterministic md5-split corpus halves, per language — the "
    "distribution-drift monitor run between crawl snapshots before a "
    "new batch joins the training mix (JSD is symmetric and bounded "
    "by ln 2, unlike KL). Probability ratios are IEEE-exact doubles; "
    "ln() (the one libm call) is evaluated once per DISTINCT "
    "(lang, token) and nano-quantized immediately — the "
    "collocations-PMI discipline — so per-language sums are exact "
    "integer adds in any order. Counts collapse map-side to "
    "vocabulary-sized rows; totals broadcast back.",
    tags=("llm", "text", "approx"),
)
def text_jsd_corpus_drift(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    pct = F.expr(_MD5_PCT)
    halves = d.select(
        "lang",
        F.when(pct < 50, F.lit("a")).otherwise(F.lit("b")).alias("half"),
        F.explode(TX.tokens(F.lower(F.col("text")))).alias("t"),
    )
    cnt = halves.groupBy("lang", "t").agg(
        F.sum(F.when(F.col("half") == "a", 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("half") == "b", 1).otherwise(0))
        .cast("long")
        .alias("cb"),
    )
    tot = cnt.groupBy("lang").agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
    )
    p = F.col("ca").cast("double") / F.col("na")
    q = F.col("cb").cast("double") / F.col("nb")
    m = (p + q) / 2
    term = F.when(F.col("ca") > 0, 0.5 * p * F.log(p / m)).otherwise(
        F.lit(0.0)
    ) + F.when(F.col("cb") > 0, 0.5 * q * F.log(q / m)).otherwise(F.lit(0.0))
    terms = cnt.join(F.broadcast(tot), "lang").select(
        "lang",
        "na",
        "nb",
        F.floor(term * 1e9 + 0.5).cast("long").alias("term_nano"),
    )
    return (
        terms.groupBy("lang", "na", "nb")
        .agg(
            F.count("*").cast("long").alias("vocab_union"),
            F.sum("term_nano").cast("long").alias("jsd_nano"),
        )
        .select(
            "lang",
            F.col("na").alias("n_tokens_a"),
            F.col("nb").alias("n_tokens_b"),
            "vocab_union",
            "jsd_nano",
            (F.col("jsd_nano").cast("double") / 1e9).alias("jsd"),
        )
        .orderBy("lang")
    )


@register(
    "doc_ngram_novelty",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_DD_TOKENS_LOWER} AS ts FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id,
             ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]
               || ' ' || ts[i+4] || ' ' || ts[i+5] || ' ' || ts[i+6]
               || ' ' || ts[i+7] AS g
      FROM tok, unnest(range(1, len(ts) - 6)) AS r(i)
      WHERE len(ts) >= 8
    ),
    first_seen AS (
      SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g
    )
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           {fround_sql(
               "CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)"
               " AS DOUBLE) / count(*)", 6)} AS novelty
    FROM grams g JOIN first_seen f USING (g)
    GROUP BY g.doc_id
    ORDER BY g.doc_id
    """,
    doc="Per-document 8-gram novelty: the fraction of a document's "
    "distinct 8-grams whose FIRST occurrence (min doc_id over the "
    "corpus-wide arrival order) is this document — the "
    "novelty/memorization score curation pipelines use to prefer "
    "fresh text over boilerplate when trimming to a token budget "
    "(complements doc_containment_pairs, which finds the containing "
    "pairs; this scores every doc in one pass). Two "
    "map-side-combined aggregates keyed by gram then doc — no "
    "pairwise joins; the gram inverted index is the same asymmetric "
    "shape as doc_incremental_dedup, built once and reusable for "
    "both.",
    tags=("llm", "text", "dedup"),
)
def doc_ngram_novelty(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    ts = TX.tokens(F.lower(F.col("text")))
    n = F.size(ts)
    grams = F.when(
        n >= 8,
        F.transform(
            F.sequence(F.lit(1), n - 7),
            lambda i: F.array_join(F.slice(ts, i, 8), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = d.select("doc_id", F.explode(grams).alias("g")).distinct()
    first_seen = g.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        g.join(first_seen, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("long")
            )
            .cast("long")
            .alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_novel",
        fround(
            F.col("n_novel").cast("double") / F.col("n_grams"), 6
        ).alias("novelty"),
    ).orderBy("doc_id")


@register(
    "doc_perplexity_kneser_ney",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_DD_TOKENS_LOWER} AS ts FROM documents
    ),
    bg AS (
      SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
      FROM tok, unnest(range(1, len(ts))) AS r(i)
      WHERE len(ts) >= 2
    ),
    bgc AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2
    ),
    ctx AS (
      SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
             CAST(count(*) AS BIGINT) AS n1f
      FROM bgc GROUP BY 1
    ),
    back AS (
      SELECT w2, CAST(count(*) AS BIGINT) AS n1b FROM bgc GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM bgc),
    lp AS (
      SELECT b.w1, b.w2,
             CAST(floor(ln(
               (CAST(b.c12 AS DOUBLE) - 0.75) / c.c1
               + 0.75 * (CAST(c.n1f AS DOUBLE) / c.c1)
                      * (CAST(k.n1b AS DOUBLE) / tot.t)
             ) * 1e9 + 0.5) AS BIGINT) AS lp_nano
      FROM bgc b JOIN ctx c USING (w1) JOIN back k USING (w2) CROSS JOIN tot
    ),
    docbg AS (
      SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS k
      FROM bg GROUP BY 1, 2, 3
    )
    SELECT d.doc_id,
           CAST(sum(d.k) AS BIGINT) AS n_bigrams,
           CAST(sum(d.k * l.lp_nano) AS BIGINT) AS sum_lp_nano,
           {fround_sql(
               "CAST(sum(d.k * l.lp_nano) AS DOUBLE)"
               " / (CAST(sum(d.k) AS DOUBLE) * 1e9)", 6)} AS mean_logprob
    FROM docbg d JOIN lp l USING (w1, w2)
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """,
    doc="Interpolated Kneser-Ney bigram language-model scoring (Kneser & "
    "Ney 1995, d=0.75) of every document against the corpus-trained "
    "model — the statistically-principled upgrade of "
    "doc_perplexity_unigram and the batch analog of the KenLM filter "
    "CCNet applies at crawl scale: P(w2|w1) = (c12-d)/c1 + "
    "d*N1+(w1,.)/c1 * N1+(.,w2)/N1+(.,.) (continuation probability, "
    "not raw frequency, for the backoff mass). Every model quantity "
    "is an exact integer count; the probability arithmetic is "
    "correctly-rounded IEEE ops in an identical expression tree on "
    "both engines, and ln() — the one libm call — is evaluated once "
    "per DISTINCT bigram type (vocab^2-bounded; real corpora "
    "threshold counts first) and nano-quantized, so per-doc sums are "
    "order-independent integer adds. Mean log-prob is reported "
    "rather than exp()'d perplexity: exp is per-doc libm and would "
    "re-introduce the cross-engine ulp the quantization removed.",
    tags=("llm", "text"),
)
def doc_perplexity_kneser_ney(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    ts = TX.tokens(F.lower(F.col("text")))
    n = F.size(ts)
    pairs = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.element_at(ts, i).alias("w1"),
                F.element_at(ts, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = d.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    # one explode feeds everything: corpus bigram counts derive from the
    # per-doc counts (sum of k), so the token stream is scanned once.
    # CACHE both reductions: docbg has two consumers (bgc + the final
    # per-doc join) and bgc has four (ctx, back, tot, lp) — left lazy,
    # the corpus tokenize+explode+group pipeline replayed once per
    # consumer (profiled r11: FIVE ~32-task heavy stages, exec ~79 s
    # CPU ~48 s at sf0.1, each re-reading the same exchange). Cached,
    # the token stream is scanned once and the n-gram stats derive from
    # the (far smaller) count tables — guide §2.4/§5.
    docbg = bg.groupBy("doc_id", "w1", "w2").agg(
        F.count("*").cast("long").alias("k")
    ).cache()
    bgc = docbg.groupBy("w1", "w2").agg(
        F.sum("k").cast("long").alias("c12")
    ).cache()
    ctx = bgc.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count("*").cast("long").alias("n1f"),
    )
    back = bgc.groupBy("w2").agg(F.count("*").cast("long").alias("n1b"))
    tot = bgc.agg(F.count("*").cast("long").alias("t"))
    prob = (F.col("c12").cast("double") - 0.75) / F.col("c1") + F.lit(0.75) * (
        F.col("n1f").cast("double") / F.col("c1")
    ) * (F.col("n1b").cast("double") / F.col("t"))
    lp = (
        bgc.join(ctx, "w1")
        .join(back, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.floor(F.log(prob) * 1e9 + 0.5).cast("long").alias("lp_nano"),
        )
    )
    return (
        docbg.join(lp, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_bigrams"),
            F.sum(F.col("k") * F.col("lp_nano"))
            .cast("long")
            .alias("sum_lp_nano"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "sum_lp_nano",
            fround(
                F.col("sum_lp_nano").cast("double")
                / (F.col("n_bigrams").cast("double") * 1e9),
                6,
            ).alias("mean_logprob"),
        )
        .orderBy("doc_id")
    )


@register(
    "multimodal_image_ahash_neardup",
    oracle="""
    WITH b AS (
      SELECT doc_id, length(text) AS n,
             list_transform(range(1, length(text) + 1),
                            i -> ascii(substr(text, i, 1))) AS bs
      FROM documents WHERE length(text) >= 64
    ),
    pos AS (
      SELECT doc_id, n,
             CAST(((generate_subscripts(bs, 1) - 1) * 64) // n AS BIGINT)
               AS k,
             CAST(unnest(bs) AS BIGINT) AS v
      FROM b
    ),
    seg AS (
      SELECT doc_id, n, k, CAST(sum(v) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS c
      FROM pos GROUP BY 1, 2, 3
    ),
    tot AS (SELECT doc_id, CAST(sum(s) AS BIGINT) AS ts FROM seg GROUP BY 1),
    bits AS (
      SELECT seg.doc_id, seg.k,
             CASE WHEN seg.s * seg.n > tot.ts * seg.c
                  THEN 1::BIGINT ELSE 0::BIGINT END AS bit
      FROM seg JOIN tot USING (doc_id)
    ),
    bands AS (
      SELECT doc_id, CAST(k // 16 AS INTEGER) AS band_i,
             CAST(sum(bit << CAST(k % 16 AS INTEGER)) AS BIGINT) AS band_v
      FROM bits GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      FROM bands a
      JOIN bands b2 ON a.band_i = b2.band_i AND a.band_v = b2.band_v
                    AND a.doc_id < b2.doc_id
    ),
    ham AS (
      SELECT c.id_a, c.id_b,
             CAST(sum(bit_count(xor(ba.band_v, bb.band_v))) AS BIGINT)
               AS hamming
      FROM cand c
      JOIN bands ba ON ba.doc_id = c.id_a
      JOIN bands bb ON bb.doc_id = c.id_b AND bb.band_i = ba.band_i
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b, hamming,
           hamming <= 3 AS is_neardup
    FROM ham ORDER BY id_a, id_b
    """,
    doc="Image near-duplicate pairs via perceptual average-hash: 64-bit "
    "aHash signatures (bit = cell mean > global mean, exact integer "
    "cross-multiplication — no floats anywhere) banded into 4 x "
    "16-bit keys; any shared band makes a candidate, and hamming <= 3 "
    "over bit_count(xor) confirms. By pigeonhole, 4 bands over a "
    "64-bit signature give EXACT recall for hamming <= 3 — no "
    "probabilistic miss, unlike the S-curve MinHash bands. The "
    "signature extraction runs over the opaque binary payload path "
    "(mapInPandas, codec swap point documented in "
    "operators/multimodal.py); the oracle replays the byte math from "
    "the source text the fake container wraps. Same banded "
    "bucket-join discipline as doc_simhash_neardup — candidates from "
    "an equi-join, never an all-pairs compare. Emits every banded "
    "candidate with its hamming and an is_neardup flag (<= 3) rather "
    "than only survivors, so the report stays non-degenerate when a "
    "small corpus holds no true image dups.",
    tags=("llm", "multimodal", "dedup", "sketch"),
)
def multimodal_image_ahash_neardup(spark, sf_dir):
    from transitdata_monitor_data_collector_spark.operators.multimodal import (
        image_ahash_bands,
        synthesize_image_payloads,
    )

    docs = _docs_spread(spark, sf_dir)
    # cache: bands feeds FOUR consumers (both self-join sides + the two
    # hamming re-join sides) and each reference otherwise replays the
    # whole payload-synthesis + aHash extraction — a corpus-sized
    # mapInPandas Python pass (profiled r11: four ArrowEvalPython passes,
    # ~100 s of summed executor wait). The cached frame is 4 small rows
    # per doc; one Python pass at any scale.
    bands = image_ahash_bands(synthesize_image_payloads(docs)).cache()
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_i") == F.col("b.band_i"))
            & (F.col("a.band_v") == F.col("b.band_v"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    ba = bands.select(
        F.col("doc_id").alias("id_a"),
        F.col("band_i"),
        F.col("band_v").alias("va"),
    )
    bb = bands.select(
        F.col("doc_id").alias("id_b"),
        F.col("band_i"),
        F.col("band_v").alias("vb"),
    )
    return (
        cand.join(ba, "id_a")
        .join(bb, ["id_b", "band_i"])
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(F.bit_count(F.col("va").bitwiseXOR(F.col("vb"))))
            .cast("long")
            .alias("hamming")
        )
        .select(
            "id_a",
            "id_b",
            "hamming",
            (F.col("hamming") <= 3).alias("is_neardup"),
        )
        .orderBy("id_a", "id_b")
    )


@register(
    "emb_binary_quantization_recall",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    dims AS (
      SELECT vec_id, generate_subscripts(v, 1) - 1 AS dim,
             CAST(floor(CAST(unnest(v) AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
               AS xq
      FROM e
    ),
    thr AS (
      SELECT dim, CAST(sum(xq) AS BIGINT) AS sq,
             CAST(count(*) AS BIGINT) AS n
      FROM dims GROUP BY 1
    ),
    words AS (
      SELECT vec_id, CAST(dim // 16 AS INTEGER) AS word_i,
             CAST(sum(CASE WHEN d.xq * t.n > t.sq
                           THEN 1::BIGINT ELSE 0::BIGINT END
                      << CAST(dim % 16 AS INTEGER)) AS BIGINT) AS w
      FROM dims d JOIN thr t USING (dim) GROUP BY 1, 2
    ),
    ham AS (
      SELECT qw.vec_id AS q_id, cw.vec_id AS c_id,
             CAST(sum(bit_count(xor(qw.w, cw.w))) AS BIGINT) AS ham
      FROM words qw JOIN words cw USING (word_i)
      WHERE qw.vec_id < 10 AND cw.vec_id <> qw.vec_id
      GROUP BY 1, 2
    ),
    bq AS (
      SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               row_number() OVER (PARTITION BY q_id ORDER BY ham, c_id) AS rn
        FROM ham
      ) WHERE rn <= 10
    ),
    q AS (
      SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 10
    ),
    c AS (
      SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings
    ),
    bf AS (
      SELECT q_id, c_id FROM (
        SELECT q.q_id, c.c_id,
               row_number() OVER (
                 PARTITION BY q.q_id
                 ORDER BY floor({SIM.pico_cosine_sql("qv", "cv", 64)}
                                * 1e6 + 0.5) DESC,
                       c.c_id) AS rn
        FROM q, c WHERE c.c_id <> q.q_id
      ) WHERE rn <= 10
    )
    SELECT bf.q_id AS query_id,
           CAST(count(bq.c_id) AS BIGINT) AS n_overlap,
           CAST(count(bq.c_id) AS DOUBLE) / 10.0 AS recall_at_10
    FROM bf LEFT JOIN bq USING (q_id, c_id)
    GROUP BY bf.q_id ORDER BY query_id
    """,
    doc="Binary-quantization QA: recall@10 of 1-bit-per-dimension "
    "signatures (bit = dim value above the per-dimension corpus mean, "
    "decided by EXACT integer cross-multiplication over micro-"
    "quantized values) ranked by hamming distance, against the exact "
    "picounit-cosine top-10 — the measurement that qualifies 64x-"
    "compressed vectors for a first-stage retrieval tier (the BQ mode "
    "modern vector stores ship; complements emb_quantize_int8's 4x "
    "and emb_matryoshka_recall's prefix tiers). Signatures are 4 x "
    "16-bit words (never a shift into bit 63), hamming is "
    "bit_count(xor) over a word-aligned equi-join, and both rankings "
    "tie-break on id, so the whole report hashes cross-engine.",
    tags=("llm", "similarity", "approx", "embedding", "sketch"),
)
def emb_binary_quantization_recall(spark, sf_dir):
    from transitdata_monitor_data_collector_spark.functions.vectors import (
        as_double,
        pico_cosine,
    )

    e = _guard_recall_corpus(
        table(spark, sf_dir, "embeddings").select(
            "vec_id", as_double(F.col("embedding")).alias("v")
        ),
        "emb_binary_quantization_recall",
    )
    dims = e.select(
        "vec_id", F.posexplode("v").alias("dim", "x")
    ).select(
        "vec_id",
        "dim",
        F.floor(F.col("x") * 1e6 + 0.5).cast("long").alias("xq"),
    )
    thr = dims.groupBy("dim").agg(
        F.sum("xq").alias("sq"), F.count("*").alias("n")
    )
    words = (
        dims.join(F.broadcast(thr), "dim")
        .select(
            "vec_id",
            (F.col("dim") / 16).cast("int").alias("word_i"),
            F.expr(
                "shiftleft(CAST(IF(xq * n > sq, 1, 0) AS BIGINT),"
                " CAST(dim % 16 AS INT))"
            ).alias("wbit"),
        )
        .groupBy("vec_id", "word_i")
        .agg(F.sum("wbit").cast("long").alias("w"))
    )
    q_w = words.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "word_i", F.col("w").alias("qw")
    )
    c_w = words.select(
        F.col("vec_id").alias("c_id"), "word_i", F.col("w").alias("cw")
    )
    ham = (
        F.broadcast(q_w)
        .join(c_w, "word_i")
        .filter(F.col("c_id") != F.col("q_id"))
        .groupBy("q_id", "c_id")
        .agg(
            F.sum(F.bit_count(F.col("qw").bitwiseXOR(F.col("cw"))))
            .cast("long")
            .alias("ham")
        )
    )
    w_bq = W.partitionBy("q_id").orderBy(F.asc("ham"), "c_id")
    bq = (
        ham.withColumn("rn", F.row_number().over(w_bq))
        .filter(F.col("rn") <= 10)
        .select("q_id", "c_id")
    )
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"))
    pairs = F.broadcast(q).crossJoin(c).filter(F.col("c_id") != F.col("q_id"))
    w_bf = W.partitionBy("q_id").orderBy(F.desc("s"), "c_id")
    bf = (
        pairs.withColumn(
            "s",
            F.floor(pico_cosine(F.col("qv"), F.col("cv")) * 1e6 + 0.5),
        )
        .withColumn("rn", F.row_number().over(w_bf))
        .filter(F.col("rn") <= 10)
        .select("q_id", "c_id")
    )
    return (
        bf.join(bq.withColumn("hit", F.lit(1)), ["q_id", "c_id"], "left")
        .groupBy(F.col("q_id").alias("query_id"))
        .agg(
            F.count("hit").cast("long").alias("n_overlap"),
            (F.count("hit").cast("double") / 10.0).alias("recall_at_10"),
        )
        .orderBy("query_id")
    )


def _pow_chain_sql(expr: str, n: int) -> str:
    """Integer power as an explicit multiplication tree (binary
    exponentiation, fixed association) — the SAME SQL text runs on both
    engines, so every intermediate product is the identical
    correctly-rounded IEEE double. Replaces pow(), which is libm and not
    correctly rounded."""
    if n == 1:
        return f"({expr})"
    half = _pow_chain_sql(expr, n // 2)
    if n % 2 == 0:
        return f"({half} * {half})"
    return f"({half} * {half} * ({expr}))"


_LSH_CONFIGS = [(32, 2), (16, 4), (8, 8), (4, 16)]  # (bands, rows), 64 hashes


def _band_p_sql(b: int, r: int) -> str:
    """P(pair becomes an LSH candidate) = 1 - (1 - s^r)^b as a
    deterministic multiplication tree over the pair's exact Jaccard s."""
    srp = _pow_chain_sql("s", r)
    return f"(1.0 - {_pow_chain_sql(f'(1.0 - {srp})', b)})"


@register(
    "doc_minhash_band_tuning",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_DD_SHINGLES} AS shingles FROM documents
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, len(shingles) AS sz FROM sh),
    pairs AS (
      SELECT CAST(n_common AS DOUBLE)
               / (sa.sz + sb.sz - n_common) AS s
      FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE 2 * n_common >= sa.sz + sb.sz - n_common
    ),
    per_cfg AS (
      {" UNION ALL ".join(
          f'''SELECT {b} AS bands, {r} AS rows_per_band,
              CAST(count(*) AS BIGINT) AS n_pairs,
              CAST(sum(CAST(floor({_band_p_sql(b, r)} * 1e9 + 0.5)
                            AS BIGINT)) AS BIGINT) AS sum_p_nano,
              CAST(min(CAST(floor({_band_p_sql(b, r)} * 1e9 + 0.5)
                            AS BIGINT)) AS BIGINT) AS worst_p_nano
              FROM pairs'''
          for b, r in _LSH_CONFIGS
      )}
    )
    SELECT bands, rows_per_band, n_pairs, sum_p_nano, worst_p_nano,
           {fround_sql("CAST(sum_p_nano AS DOUBLE) / (n_pairs * 1e9)", 6)}
             AS expected_recall
    FROM per_cfg ORDER BY bands DESC
    """,
    doc="LSH band-layout tuning report: for each (bands, rows) layout of "
    "the 64 MinHash values, the expected recall over the corpus's "
    "OBSERVED near-dup pair population (exact 3-gram Jaccard >= 0.5, "
    "stated integer-exactly as 2*|inter| >= |union|) using the "
    "S-curve P(candidate) = 1 - (1 - s^r)^b — how an index team picks "
    "b x r before reindexing 100 TB, from data instead of folklore. "
    "s is one exact-integer division; every power is an explicit "
    "multiplication tree (shared SQL text on both engines — pow() is "
    "libm and not correctly rounded, a product chain of "
    "correctly-rounded IEEE multiplies is deterministic), "
    "nano-quantized per pair before summing. Also reports the "
    "worst-case pair probability — the number that catches a layout "
    "whose AVERAGE looks fine while its threshold-edge pairs leak.",
    tags=("llm", "dedup", "approx", "sketch"),
)
def doc_minhash_band_tuning(spark, sf_dir):
    from transitdata_monitor_data_collector_spark.operators.dedup import shingle_sets

    sets = shingle_sets(_docs_spread(spark, sf_dir))
    ex = sets.select("doc_id", F.explode("shingles").alias("shingle"))
    a, b = ex.alias("a"), ex.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("sza"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("szb"))
    pairs = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            2 * F.col("n_common")
            >= F.col("sza") + F.col("szb") - F.col("n_common")
        )
        .select(
            (
                F.col("n_common").cast("double")
                / (F.col("sza") + F.col("szb") - F.col("n_common"))
            ).alias("s")
        )
    )
    cfgs = []
    for bands, r in _LSH_CONFIGS:
        p_nano = F.expr(
            f"CAST(floor({_band_p_sql(bands, r)} * 1e9 + 0.5) AS BIGINT)"
        )
        cfgs.append(
            pairs.select(p_nano.alias("p_nano")).agg(
                F.lit(bands).alias("bands"),
                F.lit(r).alias("rows_per_band"),
                F.count("*").cast("long").alias("n_pairs"),
                F.sum("p_nano").cast("long").alias("sum_p_nano"),
                F.min("p_nano").cast("long").alias("worst_p_nano"),
            )
        )
    out = cfgs[0]
    for c in cfgs[1:]:
        out = out.unionByName(c)
    return out.select(
        "bands",
        "rows_per_band",
        "n_pairs",
        "sum_p_nano",
        "worst_p_nano",
        fround(
            F.col("sum_p_nano").cast("double") / (F.col("n_pairs") * 1e9), 6
        ).alias("expected_recall"),
    ).orderBy(F.desc("bands"))


@register(
    "doc_cdc_chunk_dedup",
    oracle="""
    WITH base AS (
      SELECT doc_id, source, text, length(text) AS n
      FROM documents WHERE length(text) >= 8
    ),
    bounded AS (
      SELECT doc_id, source, text, n,
             list_sort(list_distinct(
               list_concat(
                 list_filter(range(8, n + 1),
                   i -> ('0x' || substr(md5(substr(text, i - 7, 8)), 1, 8))
                          ::BIGINT % 32 = 0),
                 [n]))) AS bnd
      FROM base
    ),
    chunks AS (
      SELECT doc_id, source,
             md5(substr(text,
                        CASE WHEN j = 1 THEN 1 ELSE bnd[j - 1] + 1 END,
                        bnd[j] - CASE WHEN j = 1 THEN 0 ELSE bnd[j - 1] END))
               AS chash,
             bnd[j] - CASE WHEN j = 1 THEN 0 ELSE bnd[j - 1] END AS clen
      FROM bounded, unnest(range(1, len(bnd) + 1)) AS r(j)
    )
    SELECT source,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS total_chunks,
           CAST(count(DISTINCT chash) AS BIGINT) AS distinct_chunks,
           CAST(sum(clen) AS BIGINT) AS total_chunk_chars,
           CAST(floor((1.0 - CAST(count(DISTINCT chash) AS DOUBLE)
                             / count(*)) * 1e6 + 0.5) AS BIGINT)
             AS dedup_ratio_micro
    FROM chunks GROUP BY source ORDER BY source
    """,
    doc="Content-defined chunking + chunk-level dedup (the "
    "Rabin/FastCDC storage-dedup primitive): a boundary lands after "
    "any position whose 8-char window hash is = 0 mod 32 (expected "
    "32-char chunks), so chunk boundaries RESYNCHRONIZE after an "
    "insertion — unlike fixed-size blocks, one edit invalidates one "
    "chunk, not every block after it. Reports per-source chunk "
    "counts, distinct chunk content hashes, and the dedup ratio a "
    "content-addressed store would achieve. Boundary detection is a "
    "pure array pipeline (range -> filter -> slice) inside one "
    "narrow projection — no UDF, no shuffle until the per-source "
    "aggregate; chunk identity travels as md5, never the substring.",
    tags=("llm", "text", "dedup", "sketch"),
)
def doc_cdc_chunk_dedup(spark, sf_dir):
    d = _docs_spread(spark, sf_dir).filter(F.length("text") >= 8)
    bnd = F.array_sort(
        F.array_distinct(
            F.concat(
                F.filter(
                    F.sequence(F.lit(8), F.length("text")),
                    lambda i: F.conv(
                        F.substring(
                            F.md5(F.substring("text", i - 7, 8)), 1, 8
                        ),
                        16,
                        10,
                    ).cast("long")
                    % 32
                    == 0,
                ),
                F.array(F.length("text").cast("int")),
            )
        )
    )
    bounded = d.select("doc_id", "source", "text", bnd.alias("bnd"))
    prev = F.when(F.col("j") == 1, F.lit(0)).otherwise(
        F.element_at(F.col("bnd"), F.col("j") - 1)
    )
    cur = F.element_at(F.col("bnd"), F.col("j"))
    chunks = (
        bounded.select(
            "doc_id",
            "source",
            "bnd",
            "text",
            F.explode(F.sequence(F.lit(1), F.size("bnd"))).alias("j"),
        )
        .select(
            "doc_id",
            "source",
            F.md5(
                F.col("text").substr(prev + 1, (cur - prev).cast("int"))
            ).alias("chash"),
            (cur - prev).cast("long").alias("clen"),
        )
    )
    return (
        chunks.groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("total_chunks"),
            F.countDistinct("chash").cast("long").alias("distinct_chunks"),
            F.sum("clen").cast("long").alias("total_chunk_chars"),
        )
        .select(
            "source",
            "n_docs",
            "total_chunks",
            "distinct_chunks",
            "total_chunk_chars",
            F.floor(
                (
                    1.0
                    - F.col("distinct_chunks").cast("double")
                    / F.col("total_chunks")
                )
                * 1e6
                + 0.5
            )
            .cast("long")
            .alias("dedup_ratio_micro"),
        )
        .orderBy("source")
    )


@register(
    "emb_mahalanobis_ood",
    oracle="""
    WITH dims AS (
      SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6 + 0.5)
                  AS BIGINT) AS xq
      FROM embeddings
    ),
    stats AS (
      SELECT label, dim,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(xq) AS BIGINT) AS s,
             CAST(sum(xq * xq) AS BIGINT) AS q
      FROM dims GROUP BY 1, 2
    ),
    terms AS (
      SELECT d.vec_id, d.label,
             CAST(floor(
               CAST((st.n * d.xq - st.s) * (st.n * d.xq - st.s) AS DOUBLE)
               / (st.n * st.q - st.s * st.s) * 1e6 + 0.5) AS BIGINT)
               AS t_micro
      FROM dims d JOIN stats st USING (label, dim)
      WHERE st.n * st.q - st.s * st.s > 0
    ),
    scores AS (
      SELECT vec_id, label,
             CAST(sum(t_micro) AS BIGINT) AS score_micro
      FROM terms GROUP BY 1, 2
    )
    SELECT vec_id, label, score_micro
    FROM scores
    ORDER BY score_micro DESC, vec_id
    LIMIT 20
    """,
    doc="Diagonal-Mahalanobis out-of-distribution scoring per label: "
    "score = sum_d (x_d - mu_d)^2 / var_d against the vector's OWN "
    "label's per-dimension moments, top-20 most-OOD embeddings — the "
    "mislabeled/outlier screen run before contrastive training or "
    "centroid indexing (complements emb_centroid_confusion, which "
    "asks 'nearer to another centroid?'; this asks 'improbable under "
    "its own?'). The per-dim z^2 term is the exact-integer ratio "
    "(n*x - S)^2 / (n*Q - S^2) over micro-quantized values — "
    "scale-invariant, so the n^2 factors cancel — micro-quantized "
    "per dim BEFORE the sum (64 correctly-rounded divisions, then "
    "order-free integer adds). Moments collapse map-side to "
    "(labels x dims) rows and broadcast back; one narrow pass, one "
    "top-k. Integer headroom: terms peak near (n_label * 6e5)^2, so "
    "BIGINT holds to ~n_label 5e6 per label; past that, drop the "
    "quantization to 1e4 (the z^2 ratio is scale-invariant, only "
    "resolution changes).",
    tags=("llm", "embedding", "approx"),
)
def emb_mahalanobis_ood(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    from transitdata_monitor_data_collector_spark.functions.vectors import as_double

    dims = emb.select(
        "vec_id",
        "label",
        F.posexplode(as_double(F.col("embedding"))).alias("dim", "x"),
    ).select(
        "vec_id",
        "label",
        "dim",
        F.floor(F.col("x") * 1e6 + 0.5).cast("long").alias("xq"),
    )
    stats = dims.groupBy("label", "dim").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("xq").cast("long").alias("s"),
        F.sum(F.col("xq") * F.col("xq")).cast("long").alias("q"),
    )
    dev = F.col("n") * F.col("xq") - F.col("s")
    var = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    terms = (
        dims.join(F.broadcast(stats), ["label", "dim"])
        .filter(var > 0)
        .select(
            "vec_id",
            "label",
            F.floor((dev * dev).cast("double") / var * 1e6 + 0.5)
            .cast("long")
            .alias("t_micro"),
        )
    )
    return (
        terms.groupBy("vec_id", "label")
        .agg(F.sum("t_micro").cast("long").alias("score_micro"))
        .orderBy(F.desc("score_micro"), "vec_id")
        .limit(20)
    )


@register(
    "multimodal_video_scene_cuts",
    oracle="""
    WITH b AS (
      SELECT doc_id, length(text) AS n,
             list_transform(range(1, length(text) + 1),
                            i -> ascii(substr(text, i, 1))) AS bs
      FROM documents WHERE length(text) >= 64
    ),
    pos AS (
      SELECT doc_id,
             CAST((generate_subscripts(bs, 1) - 1) // 64 AS INTEGER) AS k,
             CAST(unnest(bs) AS BIGINT) AS v,
             n // 64 AS n_frames
      FROM b
    ),
    sums AS (
      SELECT doc_id, k, CAST(sum(v) AS BIGINT) AS s
      FROM pos WHERE k < n_frames GROUP BY doc_id, k
    ),
    diffs AS (
      SELECT doc_id, k, s,
             abs(s - lag(s) OVER (PARTITION BY doc_id ORDER BY k)) AS d
      FROM sums
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(CASE WHEN d >= 1280 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cuts,
           CAST(min(CASE WHEN d >= 1280 THEN k END) AS BIGINT)
             AS first_cut
    FROM diffs GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Video scene-cut detection over the sampled-frame path: every "
    "64-byte frame's exact integer byte sum (the luminance proxy; "
    "with a real codec, the decoded pixel sum — same plumbing, "
    "operators/multimodal.frame_byte_sums) is lag-differenced per "
    "video, and a jump >= 1280 (mean shift >= 20/byte over equal-size "
    "frames, so integer sums compare directly — no division) marks a "
    "cut. Reports frames, cuts, and first-cut index per video — the "
    "shot-boundary pass that decides which frames a multimodal "
    "training pipeline keeps. Fan-out is frame-count-sized; the "
    "detector is one window per video over integer sums.",
    tags=("llm", "multimodal", "window"),
)
def multimodal_video_scene_cuts(spark, sf_dir):
    from transitdata_monitor_data_collector_spark.operators.multimodal import (
        frame_byte_sums,
        sample_frames,
        synthesize_image_payloads,
    )

    docs = _docs_spread(spark, sf_dir)
    frames = sample_frames(synthesize_image_payloads(docs), stride=1)
    sums = frame_byte_sums(frames)
    w = W.partitionBy("doc_id").orderBy("frame_index")
    diffs = sums.select(
        "doc_id",
        F.col("frame_index").alias("k"),
        F.abs(F.col("byte_sum") - F.lag("byte_sum").over(w)).alias("d"),
    )
    return (
        diffs.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_frames"),
            F.sum(F.when(F.col("d") >= 1280, 1).otherwise(0))
            .cast("long")
            .alias("n_cuts"),
            F.min(F.when(F.col("d") >= 1280, F.col("k")))
            .cast("long")
            .alias("first_cut"),
        )
        .orderBy("doc_id")
    )


def _ivf_balance_oracle_sql() -> str:
    rounds = []
    cent = "c0"
    for i in range(1, _IVF_ROUNDS + 1):
        rounds.append(_ivf_assign_cte(f"a{i}", cent))
        rounds.append(_ivf_update_cte(f"c{i}", f"a{i}"))
        cent = f"c{i}"
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    c0 AS (
        SELECT cid, cv FROM (
            SELECT row_number() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                   ) - 1 AS cid,
                   v AS cv
            FROM e
        ) WHERE cid < {_IVF_K}
    ),
    {",".join(rounds)},
    {_ivf_assign_cte("afin", cent)},
    sizes AS (
      SELECT cid, CAST(count(*) AS BIGINT) AS n_vectors
      FROM afin GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM e)
    SELECT c.cid, coalesce(s.n_vectors, 0) AS n_vectors,
           CAST(floor(CAST(coalesce(s.n_vectors, 0) * {_IVF_K} AS DOUBLE)
                      / tot.nt * 1e6 + 0.5) AS BIGINT) AS load_micro
    FROM {cent} c LEFT JOIN sizes s USING (cid) CROSS JOIN tot
    ORDER BY cid
    """


@register(
    "emb_ivf_balance_report",
    oracle=_ivf_balance_oracle_sql(),
    doc=f"IVF index balance report: per-cluster vector counts and load "
    f"factor (n * k / N; 1e6 micro = perfectly balanced) for the "
    f"deterministic k={_IVF_K} index — the health check run before "
    f"trusting nprobe math, because a skewed inverted file turns "
    f"'probe 2 of 8 lists' into 'scan half the corpus' (hot cluster) "
    f"or wasted probes (empty ones), exactly the partition-skew "
    f"failure mode salting fixes for joins. Rides the same md5-seeded "
    f"micro-quantized Lloyd training as emb_ivf_recall_report, so the "
    f"DuckDB oracle replays the identical index and the report is "
    f"hash-checked; empty clusters are densified from the centroid "
    f"list (a report that silently omits them hides the worst case).",
    tags=("llm", "similarity", "embedding", "approx"),
)
def emb_ivf_balance_report(spark, sf_dir):
    from transitdata_monitor_data_collector_spark.functions.vectors import as_double

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    cent, afin = _ivf_spark_train(e)
    sizes = afin.groupBy("cid").agg(
        F.count("*").cast("long").alias("n_vectors")
    )
    tot = e.agg(F.count("*").cast("long").alias("nt"))
    return (
        cent.select("cid")
        .join(F.broadcast(sizes), "cid", "left")  # <= _IVF_K rows each side
        .crossJoin(F.broadcast(tot))
        .select(
            "cid",
            F.coalesce("n_vectors", F.lit(0)).cast("long").alias("n_vectors"),
            F.floor(
                (F.coalesce("n_vectors", F.lit(0)) * _IVF_K).cast("double")
                / F.col("nt")
                * 1e6
                + 0.5
            )
            .cast("long")
            .alias("load_micro"),
        )
        .orderBy("cid")
    )


@register(
    "text_tokenizer_compression",
    oracle=f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(sum(len(regexp_extract_all(text, '{TX.BPE_ISH}')) )
                AS BIGINT) AS total_bpe_tokens,
           CAST(floor(CAST(sum(length(text)) AS DOUBLE)
                      / sum(len(regexp_extract_all(text, '{TX.BPE_ISH}')))
                      * 1000 + 0.5) AS BIGINT) AS chars_per_token_milli
    FROM documents GROUP BY lang ORDER BY lang
    """,
    doc="Tokenizer fertility / compression ratio per language: characters "
    "per BPE-ish token — the number that exposes tokenizer bias "
    "(languages the vocabulary serves badly pay more tokens per "
    "character, silently shrinking their effective share of a "
    "token-denominated training budget; mixture weights and per-lang "
    "token budgets must correct by exactly this ratio). Pure "
    "map-side-collapsing integer sums; one milli-quantized division "
    "per language.",
    tags=("llm", "text"),
)
def text_tokenizer_compression(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    per = d.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
        F.sum(TX.bpe_ish_count(F.col("text")))
        .cast("long")
        .alias("total_bpe_tokens"),
    )
    return per.select(
        "lang",
        "n_docs",
        "total_chars",
        "total_bpe_tokens",
        F.floor(
            F.col("total_chars").cast("double")
            / F.col("total_bpe_tokens")
            * 1000
            + 0.5
        )
        .cast("long")
        .alias("chars_per_token_milli"),
    ).orderBy("lang")


def _tok_offsets(d):
    """(off, total): per-token char offsets in the whitespace-normalized
    text, and per-doc normalized char totals — one posexplode + one
    (doc_id, pos) window sort, shared by every span-accounting query."""
    toks = TX.tokens(F.lower(F.col("text")))
    tok = d.select("doc_id", F.posexplode(toks).alias("pos", "word"))
    wd = W.partitionBy("doc_id").orderBy("pos")
    off = tok.withColumn(
        "start_c",
        F.coalesce(
            F.sum(F.length("word") + 1).over(
                wd.rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).cast("long"),
    )
    total = tok.groupBy("doc_id").agg(
        (F.sum(F.length("word")) + F.count("*") - 1)
        .cast("long")
        .alias("total_chars")
    )
    return off, total


def _ngram_spans(off, n):
    """(doc_id, s, e, gram): word n-grams with their char-span interval,
    built from n-1 lead() terms over the shared (doc_id, pos) sort."""
    wd = W.partitionBy("doc_id").orderBy("pos")
    sep = F.lit(" ")
    parts = ["word"]
    for i in range(1, n):
        parts += [sep, F.lead("word", i).over(wd)]
    return (
        off.select("doc_id", "start_c", F.concat(*parts).alias("gram"))
        .filter(F.col("gram").isNotNull())
        .select(
            "doc_id",
            F.col("start_c").alias("s"),
            (F.col("start_c") + F.length("gram")).cast("long").alias("e"),
            "gram",
        )
    )


def _interval_union(iv):
    """(doc_id, covered): total chars covered by the union of the
    (doc_id, s, e) intervals — sort by start, running max of end over
    preceding rows, each row contributes max(0, e - max(s, prev_max))."""
    cov = iv.withColumn(
        "pm",
        F.max("e").over(
            W.partitionBy("doc_id")
            .orderBy("s")
            .rowsBetween(W.unboundedPreceding, -1)
        ),
    )
    return cov.groupBy("doc_id").agg(
        F.sum(
            F.greatest(
                F.col("e")
                - F.greatest(F.col("s"), F.coalesce(F.col("pm"), F.lit(0))),
                F.lit(0).cast("long"),
            )
        )
        .cast("long")
        .alias("covered")
    )


@register(
    "doc_gopher_repetition_rules",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             generate_subscripts(ws, 1) AS pos,
             unnest(ws) AS word
      FROM (SELECT doc_id, {_DD_TOKENS_LOWER} AS ws FROM documents)
    ),
    off AS (
      SELECT doc_id, pos, word,
             CAST(coalesce(sum(length(word) + 1) OVER (
                 PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS start_c
      FROM tok
    ),
    total AS (
      SELECT doc_id,
             CAST(sum(length(word)) + count(*) - 1 AS BIGINT) AS total_chars
      FROM tok GROUP BY doc_id
    ),
    g2 AS (
      SELECT doc_id,
             word || ' ' || lead(word) OVER (
               PARTITION BY doc_id ORDER BY pos) AS gram
      FROM off
    ),
    g2top AS (
      SELECT doc_id, gram, cnt FROM (
        SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS cnt,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY count(*) DESC, gram) AS rn
        FROM g2 WHERE gram IS NOT NULL GROUP BY doc_id, gram)
      WHERE rn = 1
    ),
    g10 AS (
      SELECT doc_id, start_c,
             word || ' ' || lead(word, 1) OVER w || ' ' ||
             lead(word, 2) OVER w || ' ' || lead(word, 3) OVER w || ' ' ||
             lead(word, 4) OVER w || ' ' || lead(word, 5) OVER w || ' ' ||
             lead(word, 6) OVER w || ' ' || lead(word, 7) OVER w || ' ' ||
             lead(word, 8) OVER w || ' ' || lead(word, 9) OVER w AS gram
      FROM off
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    d10 AS (
      SELECT doc_id, start_c AS s, start_c + length(gram) AS e,
             count(*) OVER (PARTITION BY doc_id, gram) AS occ
      FROM g10 WHERE gram IS NOT NULL
    ),
    cov AS (
      SELECT doc_id, s, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY s
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS pm
      FROM d10 WHERE occ > 1
    ),
    dupc AS (
      SELECT doc_id,
             CAST(sum(greatest(e - greatest(s, coalesce(pm, 0)), 0))
               AS BIGINT) AS covered
      FROM cov GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(g.gram, '') AS top_2gram,
           coalesce(g.cnt, 0) AS top2_count,
           coalesce({fround_sql(
               "CAST(g.cnt * length(g.gram) AS DOUBLE)"
               " / nullif(t.total_chars, 0)", 6)}, 0.0) AS top2_char_frac,
           coalesce({fround_sql(
               "CAST(c.covered AS DOUBLE) / nullif(t.total_chars, 0)",
               6)}, 0.0) AS dup10_char_frac,
           (coalesce({fround_sql(
               "CAST(g.cnt * length(g.gram) AS DOUBLE)"
               " / nullif(t.total_chars, 0)", 6)}, 0.0) > 0.20
            OR coalesce({fround_sql(
               "CAST(c.covered AS DOUBLE) / nullif(t.total_chars, 0)",
               6)}, 0.0) > 0.10) AS is_repetitive
    FROM documents d
    LEFT JOIN total t ON t.doc_id = d.doc_id
    LEFT JOIN g2top g ON g.doc_id = d.doc_id
    LEFT JOIN dupc c ON c.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
    doc="Gopher REPETITION gate (Rae et al. 2021, Table A1's other half — "
    "doc_gopher_quality_rules covers the length/symbol rules): "
    "(a) fraction of characters inside the most frequent word 2-gram "
    "(count x gram chars / normalized text chars, >0.20 flags), and "
    "(b) fraction of characters covered by ANY duplicated word 10-gram "
    "(>0.10 flags) — overlapping occurrences counted ONCE via an "
    "interval-union sweep: sort occurrence intervals per doc, running "
    "max of interval end over preceding rows, each row contributes "
    "max(0, e - max(s, prev_max)). Everything is per-doc narrow work "
    "after one posexplode: token offsets, 2-/10-gram forms, and the "
    "sweep are windows over ONE (doc_id, pos) sort; dup counting is a "
    "(doc_id, gram) window. Char denominators use the token-normalized "
    "length (sum len + separators), making the metric whitespace-"
    "canonical. All fractions floor-micro'd (functions/rounding.py).",
    tags=("llm", "text", "quality"),
)
def doc_gopher_repetition_rules(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    off, total = _tok_offsets(d)
    wd = W.partitionBy("doc_id").orderBy("pos")
    sep = F.lit(" ")
    g2 = off.select(
        "doc_id",
        F.concat("word", sep, F.lead("word", 1).over(wd)).alias("gram"),
    ).filter(F.col("gram").isNotNull())
    g2top = (
        g2.groupBy("doc_id", "gram")
        .agg(F.count("*").cast("long").alias("cnt"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy(F.desc("cnt"), "gram")
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    d10 = (
        _ngram_spans(off, 10)
        .withColumn(
            "occ", F.count("*").over(W.partitionBy("doc_id", "gram"))
        )
        .filter(F.col("occ") > 1)
    )
    dupc = _interval_union(d10.select("doc_id", "s", "e"))
    tc = F.col("total_chars")
    top2_frac = F.coalesce(
        fround(
            (F.col("cnt") * F.length("gram")).cast("double")
            / F.nullif(tc, F.lit(0)),
            6,
        ),
        F.lit(0.0),
    )
    dup10_frac = F.coalesce(
        fround(F.col("covered").cast("double") / F.nullif(tc, F.lit(0)), 6),
        F.lit(0.0),
    )
    return (
        d.select("doc_id")
        .join(total, "doc_id", "left")
        .join(g2top, "doc_id", "left")
        .join(dupc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("gram", F.lit("")).alias("top_2gram"),
            F.coalesce("cnt", F.lit(0).cast("long")).alias("top2_count"),
            top2_frac.alias("top2_char_frac"),
            dup10_frac.alias("dup10_char_frac"),
            ((top2_frac > 0.20) | (dup10_frac > 0.10)).alias(
                "is_repetitive"
            ),
        )
        .orderBy("doc_id")
    )


# --- deterministic PQ (emb_pq_recall_report) --------------------------------
# Product quantization (Jegou et al., TPAMI 2011): split the 64-dim vector
# into M=8 subspaces of 8 dims, learn a K=16-entry codebook per subspace,
# store each vector as 8 four-bit codes (64x compression), and rank by
# asymmetric distance (exact query subvector vs reconstructed centroid).
# Same engine-deterministic training dialect as emb_ivf_recall_report:
# md5-seeded init, fixed Lloyd rounds, micro-quantized centroid means,
# picounit scaled-LONG distances (per-subspace terms stay integers, so the
# ADC sum is order-independent and hashes cross-engine).

_PQ_M, _PQ_SUBDIM, _PQ_K, _PQ_ROUNDS = 8, 8, 16, 2


def _pq_sqdist_long_sql(a: str, b: str) -> str:
    """Scaled-LONG picounit squared distance over one subspace (DuckDB)."""
    return (
        f"CAST(list_sum(list_transform(range(1, {_PQ_SUBDIM + 1}), "
        f"i -> CAST(floor(pow(({a})[i] - ({b})[i], 2) * 1e12 + 0.5) "
        f"AS BIGINT))) AS BIGINT)"
    )


def _pq_sqdist_long(a, b):
    """Spark twin of :func:`_pq_sqdist_long_sql` over the fixed
    ``_PQ_SUBDIM``-wide subspace, UNROLLED into a flat 8-term sum:
    zip_with + aggregate are interpreted higher-order functions that
    allocate an intermediate array per evaluation, and this kernel is
    the hottest expression in the PQ family (N x M x K rows per Lloyd
    assign). The unrolled form whole-stage-codegens and measured ~1.9x
    faster at subdim 8 (r11 micro-bench; at dim 64 unrolling is SLOWER —
    generated-code size defeats JIT — so the full-dim pico kernels in
    functions/vectors.py keep the fold). Values are bit-identical: the
    per-term expression is unchanged and LONG addition is associative."""
    terms = [
        F.floor(
            F.pow(F.element_at(a, i) - F.element_at(b, i), 2) * 1e12 + 0.5
        ).cast("long")
        for i in range(1, _PQ_SUBDIM + 1)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _pq_assign_cte(name: str, cent: str) -> str:
    d = _pq_sqdist_long_sql("s.sv", "c.cv")
    return f"""
    {name} AS (
      SELECT vec_id, m, sv, cid FROM (
        SELECT s.vec_id, s.m, s.sv, c.cid,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                                  ORDER BY {d}, c.cid) AS rn
        FROM es s JOIN {cent} c ON c.m = s.m
      ) WHERE rn = 1
    )"""


def _pq_update_cte(name: str, assigned: str) -> str:
    return f"""
    {name} AS (
      SELECT m, cid, list(mean_val ORDER BY dim) AS cv FROM (
        SELECT m, cid, dim,
               floor(CAST(sum(CAST(floor(val * 1e6 + 0.5) AS BIGINT))
                          AS DOUBLE) / count(*) + 0.5) / 1e6 AS mean_val
        FROM (SELECT m, cid, generate_subscripts(sv, 1) AS dim,
                     unnest(sv) AS val
              FROM {assigned})
        GROUP BY m, cid, dim
      ) GROUP BY m, cid
    )"""


def _pq_spark_subvectors(e):
    """(vec_id, m, sv): the M 8-dim slices of each vector — one narrow
    explode, no shuffle."""
    return e.select(
        "vec_id",
        "v",
        F.explode(F.sequence(F.lit(0), F.lit(_PQ_M - 1))).alias("m"),
    ).select(
        "vec_id",
        "m",
        F.slice("v", F.col("m") * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("sv"),
    )


def _pq_spark_assign(es, cent):
    """Per-subspace codebook assignment as min(struct(dist, cid, sv)) —
    same argmin as the oracle's (ORDER BY dist, cid) window, but a
    map-side-combining hash aggregate instead of a per-(vec_id, m) sort
    window over the K-fanned rows (see _ivf_spark_assign)."""
    d = _pq_sqdist_long(F.col("sv"), F.col("cv"))
    return (
        es.join(F.broadcast(cent), "m")
        .groupBy("vec_id", "m")
        .agg(
            F.min(
                F.struct(d.alias("d"), F.col("cid").alias("cid"),
                         F.col("sv").alias("sv"))
            ).alias("b")
        )
        .select("vec_id", "m", F.col("b.sv").alias("sv"),
                F.col("b.cid").alias("cid"))
    )


def _pq_spark_update(assigned):
    dim_means = assigned.select(
        "m", "cid", F.posexplode("sv").alias("dim", "val")
    ).groupBy("m", "cid", "dim").agg(
        (
            F.floor(
                F.sum(F.floor(F.col("val") * 1e6 + 0.5).cast("long"))
                .cast("double")
                / F.count("*")
                + 0.5
            )
            / 1e6
        ).alias("mean_val")
    )
    return (
        dim_means.groupBy("m", "cid")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "mean_val"))).alias("s"))
        .select("m", "cid", F.transform("s", lambda x: x["mean_val"]).alias("cv"))
    )


def _pq_spark_train(e, es, k: int = _PQ_K):
    """md5-seeded per-subspace codebooks + fixed quantized Lloyd rounds.
    Seeds via TakeOrdered (_seeded_rows), never a global sort window."""
    seeds = _seeded_rows(e, k).select("cid", "v")
    cent = _pq_spark_subvectors(
        seeds.select(F.col("cid").alias("vec_id"), "v")
    ).select("m", F.col("vec_id").alias("cid"), F.col("sv").alias("cv"))
    for _ in range(_PQ_ROUNDS):
        # localCheckpoint the (K x M)-row codebook each round: the Lloyd
        # DAG nests assign(update(assign(...))) and every downstream
        # consumer (encode, ADC, recall ground truth) references it again
        # — left unckeckpointed, Spark replays the whole training subtree
        # per reference. LAZY since r12 (the components.py discipline):
        # the plan still truncates to a LogicalRDD leaf at creation, but
        # the rounds chain through RDD lineage and materialize inside the
        # FIRST consumer's job (each round's RDD persists as the chain
        # evaluates) instead of spending one near-empty scheduling job
        # per round. Values unchanged; all consumers re-verified
        # hash-green.
        cent = _pq_spark_update(
            _pq_spark_assign(es, cent)
        ).localCheckpoint(eager=False)
    return cent


_PQ_E_RAW = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings"


def _pq_oracle_sql(
    e_src: str = _PQ_E_RAW,
    k: int = _PQ_K,
) -> str:
    rounds = []
    cent = "c0"
    for i in range(1, _PQ_ROUNDS + 1):
        rounds.append(_pq_assign_cte(f"a{i}", cent))
        rounds.append(_pq_update_cte(f"c{i}", f"a{i}"))
        cent = f"c{i}"
    bf_d = SIM.pico_sqdist_sql("q.qv", "c.v", _PQ_M * _PQ_SUBDIM)
    return f"""
    WITH e AS (
        {e_src}
    ),
    es AS (
        SELECT vec_id, m,
               v[m * {_PQ_SUBDIM} + 1 : (m + 1) * {_PQ_SUBDIM}] AS sv
        FROM e, (SELECT unnest(range(0, {_PQ_M})) AS m)
    ),
    seeds AS (
        SELECT cid, v FROM (
            SELECT row_number() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                   ) - 1 AS cid,
                   v
            FROM e
        ) WHERE cid < {k}
    ),
    c0 AS (
        SELECT m, cid,
               v[m * {_PQ_SUBDIM} + 1 : (m + 1) * {_PQ_SUBDIM}] AS cv
        FROM seeds, (SELECT unnest(range(0, {_PQ_M})) AS m)
    ),
    {",".join(rounds)},
    {_pq_assign_cte("codes", cent)},
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
    qs AS (
        SELECT vec_id AS q_id, m, sv AS qsv FROM es WHERE vec_id < 10
    ),
    adc AS (
      SELECT qs.q_id, k.vec_id AS c_id,
             CAST(sum({_pq_sqdist_long_sql("qs.qsv", "c.cv")}) AS BIGINT)
               AS adc_pico
      FROM codes k
      JOIN {cent} c ON c.m = k.m AND c.cid = k.cid
      JOIN qs ON qs.m = k.m
      WHERE k.vec_id <> qs.q_id
      GROUP BY qs.q_id, k.vec_id
    ),
    ann AS (
      SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY adc_pico, c_id) AS rn
        FROM adc
      ) WHERE rn <= 10
    ),
    bf AS (
      SELECT q_id, c_id FROM (
        SELECT q.q_id, c.vec_id AS c_id,
               row_number() OVER (PARTITION BY q.q_id
                                  ORDER BY {bf_d}, c.vec_id) AS rn
        FROM q JOIN e c ON c.vec_id <> q.q_id
      ) WHERE rn <= 10
    )
    SELECT bf.q_id AS query_id,
           CAST(count(ann.c_id) AS DOUBLE) / 10.0 AS recall_at_10
    FROM bf LEFT JOIN ann USING (q_id, c_id)
    GROUP BY bf.q_id ORDER BY query_id
    """


@register(
    "emb_pq_recall_report",
    oracle=_pq_oracle_sql(),
    doc="Product-quantization retrieval QA (Jegou et al., TPAMI 2011), "
    f"fully oracle-checkable: recall@10 of ADC ranking over M={_PQ_M} "
    f"subspaces x K={_PQ_K} codes (4 bits/subspace = 64x compression) "
    "vs the exact L2 top-10, per query vector — completing the "
    "compression ladder beside int8 (emb_quantize_int8), MRL prefixes "
    "(emb_matryoshka_recall), and 1-bit signs "
    "(emb_binary_quantization_recall). Training reuses the IVF report's "
    "engine-deterministic dialect per subspace: md5-seeded init, fixed "
    f"{_PQ_ROUNDS} Lloyd rounds, micro-quantized centroid means, and "
    "picounit scaled-LONG distances, so the DuckDB oracle replays the "
    "identical codebooks. ADC terms stay integer LONGs per subspace and "
    "sum exactly (order-independent). Scale shape: codebooks are "
    f"{_PQ_M}x{_PQ_K} tiny rows broadcast everywhere (the classic PQ "
    "lookup table); encoding is one narrow pass + bounded argmin window; "
    "the ADC scan joins codes to the broadcast codebook — no "
    "full-vector reads on the ranking path.",
    tags=("llm", "similarity", "approx", "embedding"),
)
def emb_pq_recall_report(spark, sf_dir):
    from transitdata_monitor_data_collector_spark.functions.vectors import (
        as_double,
    )

    emb = table(spark, sf_dir, "embeddings")
    # spread the one-split scan (see _pq_clustered_corpus) so training,
    # encode and ADC stages parallelize; no-op at real scale
    e = spread_small_input(
        emb.select("vec_id", as_double(F.col("embedding")).alias("v")),
        "vec_id",
    )
    return _pq_recall_body(_guard_recall_corpus(e, "emb_pq_recall_report"))


def _pq_recall_body(e, k: int = _PQ_K):
    """PQ train/encode/ADC-rank/recall over any (vec_id, v) corpus —
    shared by the raw-embedding report, the clustered-corpus variant, and
    the K-widened clustered variant (emb_pq_k64_recall_clustered)."""
    from transitdata_monitor_data_collector_spark.functions.vectors import (
        pico_sqdist,
    )

    # e is consumed by seeds + the bf ground truth, es by every Lloyd
    # round + encode + the query subvectors; left lazy the corpus
    # derivation (for the clustered variants an md5 mix per (vec_id,
    # dim)) replays per consumer. Lazy checkpoints materialize each once
    # at the first trainer action (measured 8.4 -> ~5 s for K=64 at
    # sf0.1); values unchanged.
    e = e.localCheckpoint(eager=False)
    es = _pq_spark_subvectors(e).localCheckpoint(eager=False)
    cent = _pq_spark_train(e, es, k)
    codes = _pq_spark_assign(es, cent).select("vec_id", "m", "cid")

    qs = es.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "m", F.col("sv").alias("qsv")
    )
    # the classic ADC lookup table: per-(query, subspace, code) distances
    # are Q x M x K values computed ONCE (~5k rows here), and the N x M
    # x Q fan-out then sums table lookups instead of evaluating the
    # 8-dim kernel per fanned row (the r10 shape computed it N x M x Q
    # times — guide §1.2 "per-task work"). Same LONG terms, same sums.
    dtab = (
        qs.join(cent, "m")
        .select(
            "q_id",
            "m",
            "cid",
            _pq_sqdist_long(F.col("qsv"), F.col("cv")).alias("d"),
        )
    )
    adc = (
        codes.join(F.broadcast(dtab), ["m", "cid"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", F.col("vec_id").alias("c_id"))
        .agg(F.sum("d").cast("long").alias("adc_pico"))
    )
    ann = (
        adc.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("q_id").orderBy("adc_pico", "c_id")
            ),
        )
        .filter(F.col("rn") <= 10)
        .select("q_id", "c_id")
    )
    return _recall_vs_exact_l2(e, ann)


def _recall_vs_exact_l2(e, ann):
    """recall@10 of `ann` (q_id, c_id) picks vs the exact picounit-L2
    top-10 over corpus `e` for queries vec_id < 10 — the shared tail of
    the PQ and IVFADC recall reports."""
    from transitdata_monitor_data_collector_spark.functions.vectors import (
        pico_sqdist,
    )

    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    bf = (
        # broadcast the 10-row QUERY side explicitly: without the hint
        # Spark may broadcast the corpus side of this theta join
        # (observed in PLAN_AUDIT r6), which is a driver OOM at 100x
        F.broadcast(q)
        .join(e.select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv64")),
              F.col("c_id") != F.col("q_id"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("q_id").orderBy(
                    pico_sqdist(F.col("qv"), F.col("cv64")), "c_id"
                )
            ),
        )
        .filter(F.col("rn") <= 10)
        .select("q_id", "c_id")
    )
    return (
        bf.join(
            F.broadcast(ann.withColumn("hit", F.lit(1))),
            ["q_id", "c_id"],
            "left",
        )
        .groupBy(F.col("q_id").alias("query_id"))
        .agg((F.count("hit").cast("double") / 10.0).alias("recall_at_10"))
        .orderBy("query_id")
    )


# --- clustered-corpus PQ recall (r5 VERDICT stretch item 8) -----------------
# The driver's embeddings are near-random, so compression-ladder recall
# reads 0.1-0.4 — technically correct but non-discriminative. This variant
# runs the IDENTICAL PQ pipeline over a corpus with planted cluster
# structure derived DETERMINISTICALLY from the same driver table (never a
# synthesized input): each vector is pulled 4:1 toward one of 8 md5-seeded
# cluster centers (v' = center(vec_id % 8, dim) + 0.25 * v), micro-grid
# rounded so both engines hold bit-identical doubles. True neighbors now
# share the query's cluster, the per-subspace codebooks capture the
# centers, and recall@10 separates from the raw-corpus baseline.

_PQ_CLUSTERS = 8

_PQ_E_CLUSTERED = f"""SELECT vec_id,
       list_transform(range(1, {_PQ_M * _PQ_SUBDIM + 1}), d ->
         floor((
           CAST((('0x' || substr(md5(CAST(vec_id % {_PQ_CLUSTERS} AS VARCHAR)
                     || ':' || CAST(d AS VARCHAR)), 1, 15))::BIGINT % 2001
                  - 1000) AS DOUBLE) / 1000.0
           + 0.25 * CAST(embedding[d] AS DOUBLE)
         ) * 1e6 + 0.5) / 1e6) AS v
        FROM embeddings"""


@register(
    "emb_pq_recall_clustered",
    oracle=_pq_oracle_sql(_PQ_E_CLUSTERED),
    doc="PQ retrieval QA on a corpus WITH planted cluster structure: "
    f"{_PQ_CLUSTERS} md5-seeded cluster centers in [-1,1]^64, each vector "
    "re-expressed as center + 0.25x original (a pure deterministic "
    "function of the driver table, micro-grid rounded for exact "
    "cross-engine doubles). Same training dialect, encode, ADC ranking, "
    "and exact-L2 ground truth as emb_pq_recall_report. MEASURED outcome "
    "(sf0.01): recall ~0.2, on par with the raw corpus — an honest "
    "negative result worth keeping: K=16 codes per subspace capture the "
    "8 COARSE centers but quantize away the 0.25x residual, so "
    "within-cluster ranking (where all true neighbors live) stays "
    "chance-level. The tier-separation demonstration lives in "
    "emb_compression_ladder_clustered, where codecs that preserve "
    "residual resolution (int8, MRL prefixes) separate cleanly from "
    "those that do not (1-bit signs); emb_pq_k64_recall_clustered is "
    "the PQ operating point that restores residual resolution (K=64, "
    "430 permille recall). Scale shape identical to "
    "emb_pq_recall_report (broadcast codebooks, one narrow encode pass).",
    tags=("llm", "similarity", "approx", "embedding"),
)
def emb_pq_recall_clustered(spark, sf_dir):
    return _pq_recall_body(
        _guard_recall_corpus(
            _pq_clustered_corpus(spark, sf_dir), "emb_pq_recall_clustered"
        )
    )


def _pq_clustered_corpus(spark, sf_dir):
    """The planted-cluster corpus (Spark twin of _PQ_E_CLUSTERED): each
    driver vector re-expressed as md5-seeded cluster center + 0.25x
    original, micro-grid rounded for exact cross-engine doubles.

    The raw scan is spread BEFORE the mix transform: the testdata table
    is one parquet split, which pins the 64-md5-per-row mix (and every
    downstream Lloyd assign / encode / ADC stage that inherits the
    partitioning through the localCheckpoints) to a single core —
    profiled r11: ALL heavy PQ/IVFADC stages ran with tasks=1 on a
    32-core box. At scale the scan has many splits and the spread is a
    no-op (guide §2.5 input skew / partitioning.spread_small_input)."""
    emb = spread_small_input(
        table(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        "vec_id",
    )
    dim = _PQ_M * _PQ_SUBDIM

    def mixed(d):
        h = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            (F.col("vec_id") % _PQ_CLUSTERS).cast("string"),
                            F.lit(":"),
                            d.cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
        )
        center = (h % 2001 - 1000).cast("double") / 1000.0
        val = F.element_at(F.col("embedding"), d.cast("int")).cast("double")
        return F.floor((center + 0.25 * val) * 1e6 + 0.5) / 1e6

    return emb.select(
        "vec_id",
        F.transform(F.sequence(F.lit(1), F.lit(dim)), mixed).alias("v"),
    )


@register(
    "emb_pq_k64_recall_clustered",
    oracle=_pq_oracle_sql(_PQ_E_CLUSTERED, k=64),
    doc="The PQ operating point that WORKS on the clustered corpus (r7 "
    "VERDICT item 6 — completing the compression story the K=16 honest "
    f"negative left open): same corpus, training dialect, encode, ADC "
    "ranking and exact-L2 ground truth as emb_pq_recall_clustered, but "
    f"K=64 codes per subspace (6 bits x M={_PQ_M} = 48 bits/vector, "
    "~85x compression vs float64). K=16 spends its codes on the 8 "
    "planted centers and quantizes away the 0.25x residual "
    "(recall ~180 permille); K=64 leaves ~8 codes of residual "
    "resolution per center and MEASURES 430 permille mean recall@10 at "
    "sf0.01 — above the 1-bit sign tier's 240 permille in "
    "emb_compression_ladder_clustered, so the ladder now has a usable "
    "PQ operating point between int8 and 1-bit. Trainer shapes are "
    "unchanged (broadcast codebooks, narrow encode, bounded argmin) — "
    "only the broadcast codebook grows 4x, still tiny.",
    tags=("llm", "similarity", "approx", "embedding"),
)
def emb_pq_k64_recall_clustered(spark, sf_dir):
    return _pq_recall_body(
        _guard_recall_corpus(
            _pq_clustered_corpus(spark, sf_dir), "emb_pq_k64_recall_clustered"
        ),
        k=64,
    )


# --- IVFADC: IVF coarse quantizer + PQ on RESIDUALS (Jegou et al. 2011) -----
# The full production ANN pipeline composed from the two deterministic
# trainers above: a coarse inverted-file index partitions the corpus, each
# vector is PQ-encoded as its RESIDUAL from its list centroid, and a query
# probes nprobe lists ranking candidates by ADC over query-residuals
# (residual re-derived per probed list, the classic IVFADC asymmetry).
# Residual encoding is why this beats flat PQ at equal bits: subtracting
# the center lets all K codes model within-cluster detail instead of
# splitting across clusters. Measured at sf0.01 on the clustered corpus:
# 540 permille mean recall@10 (vs flat PQ K=64's 430, K=16's 180) while
# ADC scans only nprobe/k_lists = 1/4 of the corpus.

_IVFADC_LISTS, _IVFADC_NPROBE, _IVFADC_PK = 8, 2, 64


def _ivfadc_pq_assign_cte(name: str, cent: str, with_list: bool) -> str:
    """Residual-PQ assignment over the `pes` residual subvectors (the
    p-prefixed twin of _pq_assign_cte; carries list_id through encode)."""
    d = _pq_sqdist_long_sql("s.sv", "c.cv")
    extra = ", s.list_id" if with_list else ""
    proj = "vec_id, m, sv, cid" + (", list_id" if with_list else "")
    return f"""
    {name} AS (
      SELECT {proj} FROM (
        SELECT s.vec_id, s.m, s.sv, c.cid{extra},
               row_number() OVER (PARTITION BY s.vec_id, s.m
                                  ORDER BY {d}, c.cid) AS rn
        FROM pes s JOIN {cent} c ON c.m = s.m
      ) WHERE rn = 1
    )"""


def _ivfadc_pq_update_cte(name: str, assigned: str) -> str:
    return f"""
    {name} AS (
      SELECT m, cid, list(mean_val ORDER BY dim) AS cv FROM (
        SELECT m, cid, dim,
               floor(CAST(sum(CAST(floor(val * 1e6 + 0.5) AS BIGINT))
                          AS DOUBLE) / count(*) + 0.5) / 1e6 AS mean_val
        FROM (SELECT m, cid, generate_subscripts(sv, 1) AS dim,
                     unnest(sv) AS val
              FROM {assigned})
        GROUP BY m, cid, dim
      ) GROUP BY m, cid
    )"""


def _ivfadc_oracle_sql(e_src: str) -> str:
    dim = _PQ_M * _PQ_SUBDIM
    train, cent = _ivf_train_ctes(_IVFADC_LISTS, _IVF_ROUNDS)
    rounds = []
    pc = "pc0"
    for i in range(1, _PQ_ROUNDS + 1):
        rounds.append(_ivfadc_pq_assign_cte(f"pa{i}", pc, with_list=False))
        rounds.append(_ivfadc_pq_update_cte(f"pc{i}", f"pa{i}"))
        pc = f"pc{i}"
    bf_d = SIM.pico_sqdist_sql("q.qv", "c.v", dim)
    return f"""
    WITH e AS (
        {e_src}
    ),
    {train},
    {_ivf_assign_cte("afin", cent)},
    res AS (
      SELECT a.vec_id, a.cid AS list_id,
             list_transform(range(1, {dim + 1}),
                            i -> floor((a.v[i] - c.cv[i]) * 1e6 + 0.5) / 1e6)
               AS v
      FROM afin a JOIN {cent} c USING (cid)
    ),
    pes AS (
        SELECT vec_id, list_id, m,
               v[m * {_PQ_SUBDIM} + 1 : (m + 1) * {_PQ_SUBDIM}] AS sv
        FROM res, (SELECT unnest(range(0, {_PQ_M})) AS m)
    ),
    pseeds AS (
        SELECT cid, v FROM (
            SELECT row_number() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                   ) - 1 AS cid,
                   v
            FROM res
        ) WHERE cid < {_IVFADC_PK}
    ),
    pc0 AS (
        SELECT m, cid,
               v[m * {_PQ_SUBDIM} + 1 : (m + 1) * {_PQ_SUBDIM}] AS cv
        FROM pseeds, (SELECT unnest(range(0, {_PQ_M})) AS m)
    ),
    {",".join(rounds)},
    {_ivfadc_pq_assign_cte("pcodes", pc, with_list=True)},
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
    probe AS (
      SELECT q_id, qv, cid, cv FROM (
        SELECT q.q_id, q.qv, c.cid, c.cv,
               row_number() OVER (PARTITION BY q.q_id
                   ORDER BY {SIM.pico_sqdist_sql("q.qv", "c.cv", dim)},
                            c.cid) AS rn
        FROM q CROSS JOIN {cent} c
      ) WHERE rn <= {_IVFADC_NPROBE}
    ),
    qsub AS (
      SELECT q_id, cid AS list_id, m,
             rv[m * {_PQ_SUBDIM} + 1 : (m + 1) * {_PQ_SUBDIM}] AS qsv
      FROM (
        SELECT q_id, cid,
               list_transform(range(1, {dim + 1}),
                              i -> floor((qv[i] - cv[i]) * 1e6 + 0.5) / 1e6)
                 AS rv
        FROM probe
      ), (SELECT unnest(range(0, {_PQ_M})) AS m)
    ),
    adc AS (
      SELECT qs.q_id, k.vec_id AS c_id,
             CAST(sum({_pq_sqdist_long_sql("qs.qsv", "c.cv")}) AS BIGINT)
               AS adc_pico
      FROM pcodes k
      JOIN {pc} c ON c.m = k.m AND c.cid = k.cid
      JOIN qsub qs ON qs.m = k.m AND qs.list_id = k.list_id
      WHERE k.vec_id <> qs.q_id
      GROUP BY qs.q_id, k.vec_id
    ),
    ann AS (
      SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY adc_pico, c_id) AS rn
        FROM adc
      ) WHERE rn <= 10
    ),
    bf AS (
      SELECT q_id, c_id FROM (
        SELECT q.q_id, c.vec_id AS c_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY {bf_d}, c.vec_id) AS rn
        FROM q JOIN e c ON c.vec_id <> q.q_id
      ) WHERE rn <= 10
    )
    SELECT bf.q_id AS query_id,
           CAST(count(ann.c_id) AS DOUBLE) / 10.0 AS recall_at_10
    FROM bf LEFT JOIN ann USING (q_id, c_id)
    GROUP BY bf.q_id ORDER BY query_id
    """


@register(
    "emb_ivfadc_recall_clustered",
    oracle=_ivfadc_oracle_sql(_PQ_E_CLUSTERED),
    doc="IVFADC retrieval QA (Jegou et al., TPAMI 2011 — the full "
    "IVF + PQ-on-residuals production pipeline, composed from the two "
    "deterministic trainers): an 8-list coarse inverted file partitions "
    "the clustered corpus, each vector is PQ-encoded as its RESIDUAL "
    f"from its list centroid (M={_PQ_M} x K={_IVFADC_PK}, 48 "
    f"bits/vector), and each query probes nprobe={_IVFADC_NPROBE} lists "
    "ranking candidates by ADC over per-list query residuals. MEASURED "
    "at sf0.01: 540 permille mean recall@10 vs flat PQ K=64's 430 and "
    "K=16's 180 — residual encoding beats flat PQ at equal bits while "
    "ADC scans only nprobe/lists = 1/4 of the corpus. Training is the "
    "engine-deterministic dialect end to end (md5-seeded inits, fixed "
    "micro-quantized Lloyd rounds, picounit integer distances), so the "
    "oracle replays coarse index, residuals, codebooks, probe and ADC "
    "bit-exactly. Scale shape: centroids/codebooks broadcast (8 + 512 "
    "tiny rows), residuals one narrow zip_with pass, candidates "
    "partition-pruned by list_id (the stored form would partition the "
    "code table by list like emb_ivf_store_topk).",
    tags=("llm", "similarity", "approx", "embedding"),
)
def emb_ivfadc_recall_clustered(spark, sf_dir):
    from transitdata_monitor_data_collector_spark.functions.vectors import (
        pico_sqdist,
    )

    e = _guard_recall_corpus(
        _pq_clustered_corpus(spark, sf_dir), "emb_ivfadc_recall_clustered"
    ).localCheckpoint(eager=False)
    cent, afin = _ivf_spark_train(e, k=_IVFADC_LISTS)

    def residual(v, cv):
        return F.zip_with(
            v, cv, lambda a, b: F.floor((a - b) * 1e6 + 0.5) / 1e6
        )

    res = (
        afin.join(F.broadcast(cent), "cid")
        .select(
            "vec_id",
            F.col("cid").alias("list_id"),
            residual(F.col("v"), F.col("cv")).alias("v"),
        )
        .localCheckpoint(eager=False)
    )
    pes = _pq_spark_subvectors(res).localCheckpoint(eager=False)
    pcent = _pq_spark_train(res.select("vec_id", "v"), pes, k=_IVFADC_PK)
    codes = (
        _pq_spark_assign(pes, pcent)
        .select("vec_id", "m", "cid")
        .join(res.select("vec_id", "list_id"), "vec_id")
    )

    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    w_probe = W.partitionBy("q_id").orderBy(
        pico_sqdist(F.col("qv"), F.col("cv")), "cid"
    )
    probe = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= _IVFADC_NPROBE)
        .select(
            "q_id",
            F.col("cid").alias("list_id"),
            residual(F.col("qv"), F.col("cv")).alias("rv"),
        )
    )
    qsub = probe.select(
        "q_id",
        "list_id",
        "rv",
        F.explode(F.sequence(F.lit(0), F.lit(_PQ_M - 1))).alias("m"),
    ).select(
        "q_id",
        "list_id",
        "m",
        F.slice("rv", F.col("m") * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("qsv"),
    )
    # ADC lookup table (see _pq_recall_body): per-(query, probed list,
    # subspace, code) residual distances computed once — Q x nprobe x M
    # x K rows — then the corpus fan-out sums lookups, never the 8-dim
    # kernel. Same LONG terms, same sums.
    dtab = qsub.join(pcent, "m").select(
        "q_id",
        "list_id",
        "m",
        "cid",
        _pq_sqdist_long(F.col("qsv"), F.col("cv")).alias("d"),
    )
    adc = (
        codes.join(F.broadcast(dtab), ["m", "cid", "list_id"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", F.col("vec_id").alias("c_id"))
        .agg(F.sum("d").cast("long").alias("adc_pico"))
    )
    ann = (
        adc.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("q_id").orderBy("adc_pico", "c_id")
            ),
        )
        .filter(F.col("rn") <= 10)
        .select("q_id", "c_id")
    )
    return _recall_vs_exact_l2(e, ann)


# --- compression-ladder tier separation on the clustered corpus ------------
# The tier-separation demonstration proper: ONE corpus with planted
# structure, FOUR compression codecs ranked against the same exact-L2
# ground truth. Codecs that keep residual resolution (int8 at 1/100 grid,
# MRL prefixes) should hold high recall; the 1-bit sign codec keeps only
# coarse direction and collapses — the separation the per-codec reports
# can't show on near-random input. All distances are exact BIGINTs
# (picounit squared terms / integer code squares / hamming counts), so
# the whole report hash-matches cross-engine.

_LAD_DIM = _PQ_M * _PQ_SUBDIM  # 64


def _lad_sq_long_sql(a: str, b: str, k: int) -> str:
    """Prefix-k squared L2 in exact picounit BIGINTs (no /1e12 — ordering
    only, keep it integer)."""
    return (
        f"CAST(list_sum(list_transform(range(1, {k + 1}), "
        f"i -> CAST(floor(pow(({a})[i] - ({b})[i], 2) * 1e12 + 0.5) "
        f"AS BIGINT))) AS BIGINT)"
    )


def _lad_sq_long(a, b, k: int):
    return F.aggregate(
        F.zip_with(
            F.slice(a, 1, k),
            F.slice(b, 1, k),
            lambda x, y: F.floor(F.pow(x - y, 2) * 1e12 + 0.5).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


@register(
    "emb_compression_ladder_clustered",
    oracle=f"""
    WITH e AS (
        {_PQ_E_CLUSTERED}
    ),
    ec AS (
      SELECT vec_id, v,
             list_transform(v, x -> CAST(floor(x * 100 + 0.5) AS BIGINT))
               AS c8,
             list_transform(v, x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END)
               AS sg
      FROM e
    ),
    qv AS (
      SELECT vec_id AS q_id, v AS qv, c8 AS q8, sg AS qs
      FROM ec WHERE vec_id < 10
    ),
    pairs AS (
      SELECT q.q_id, c.vec_id AS c_id,
             {_lad_sq_long_sql('q.qv', 'c.v', _LAD_DIM)} AS d_exact,
             {_lad_sq_long_sql('q.qv', 'c.v', 32)} AS d_m32,
             {_lad_sq_long_sql('q.qv', 'c.v', 16)} AS d_m16,
             CAST(list_sum(list_transform(range(1, {_LAD_DIM + 1}),
                  i -> (q.q8[i] - c.c8[i]) * (q.q8[i] - c.c8[i])))
                  AS BIGINT) AS d_int8,
             CAST(list_sum(list_transform(range(1, {_LAD_DIM + 1}),
                  i -> CASE WHEN q.qs[i] <> c.sg[i] THEN 1 ELSE 0 END))
                  AS BIGINT) AS d_sign
      FROM qv q JOIN ec c ON c.vec_id <> q.q_id
    ),
    bf AS (
      SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY d_exact, c_id) AS rn
        FROM pairs
      ) WHERE rn <= 10
    ),
    tiers AS (
      SELECT q_id, c_id, 'int8_x100' AS tier, d_int8 AS d FROM pairs
      UNION ALL
      SELECT q_id, c_id, 'mrl_prefix32', d_m32 FROM pairs
      UNION ALL
      SELECT q_id, c_id, 'mrl_prefix16', d_m16 FROM pairs
      UNION ALL
      SELECT q_id, c_id, 'sign_1bit', d_sign FROM pairs
    ),
    ranked AS (
      SELECT tier, q_id, c_id FROM (
        SELECT tier, q_id, c_id,
               row_number() OVER (PARTITION BY tier, q_id
                                  ORDER BY d, c_id) AS rn
        FROM tiers
      ) WHERE rn <= 10
    )
    SELECT r.tier,
           CAST(count(b.c_id) AS BIGINT) AS n_hits,
           CAST(count(b.c_id) * 10 AS BIGINT) AS recall_permille
    FROM ranked r
    LEFT JOIN (SELECT q_id, c_id, 1 AS hit FROM bf) b
           ON b.q_id = r.q_id AND b.c_id = r.c_id
    GROUP BY r.tier ORDER BY r.tier
    """,
    doc="Compression-ladder tier separation on the clustered corpus "
    "(r5 VERDICT stretch item 8 proper): the SAME planted-structure "
    f"corpus as emb_pq_recall_clustered ({_PQ_CLUSTERS} md5-seeded "
    "centers + 0.25x residual), ranked by four codecs against one "
    "exact-L2 top-10 ground truth — int8 (1/100 grid, keeps residuals), "
    "MRL prefix-32 and prefix-16 (truncate dimensions), and 1-bit signs "
    "(coarse direction only). Reports recall@10 x 10 queries per tier "
    "in exact permille; the separation (int8 ~= exact >> prefixes >> "
    "signs) is what tells a curation pipeline which tier is safe for "
    "its retrieval step. All tier distances are exact BIGINTs; scale "
    "shape: 10 broadcast query rows against the corpus, one pass, one "
    "bounded window per tier.",
    tags=("llm", "similarity", "approx", "embedding"),
)
def emb_compression_ladder_clustered(spark, sf_dir):
    # spread the one-split scan before the per-row md5 mix + 4-tier
    # distance pass (see _pq_clustered_corpus); no-op at real scale
    emb = spread_small_input(
        table(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        "vec_id",
    )

    def mixed(d):
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        (F.col("vec_id") % _PQ_CLUSTERS).cast("string"),
                        F.lit(":"),
                        d.cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        center = (h % 2001 - 1000).cast("double") / 1000.0
        val = F.element_at(F.col("embedding"), d.cast("int")).cast("double")
        return F.floor((center + 0.25 * val) * 1e6 + 0.5) / 1e6

    ec = emb.select(
        "vec_id",
        F.transform(F.sequence(F.lit(1), F.lit(_LAD_DIM)), mixed).alias("v"),
    ).select(
        "vec_id",
        "v",
        F.transform(
            "v", lambda x: F.floor(x * 100 + 0.5).cast("long")
        ).alias("c8"),
        F.transform(
            "v", lambda x: F.when(x >= 0, F.lit(1)).otherwise(F.lit(0))
        ).alias("sg"),
    )
    qv = ec.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("c8").alias("q8"),
        F.col("sg").alias("qs"),
    )
    add = lambda acc, v: acc + v  # noqa: E731
    pairs = (
        F.broadcast(qv)
        .join(ec, F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("c_id"),
            _lad_sq_long(F.col("qv"), F.col("v"), _LAD_DIM).alias("d_exact"),
            _lad_sq_long(F.col("qv"), F.col("v"), 32).alias("d_m32"),
            _lad_sq_long(F.col("qv"), F.col("v"), 16).alias("d_m16"),
            F.aggregate(
                F.zip_with(
                    "q8", "c8", lambda x, y: (x - y) * (x - y)
                ),
                F.lit(0).cast("long"),
                add,
            ).alias("d_int8"),
            F.aggregate(
                F.zip_with(
                    "qs",
                    "sg",
                    lambda x, y: F.when(x != y, F.lit(1).cast("long"))
                    .otherwise(F.lit(0).cast("long")),
                ),
                F.lit(0).cast("long"),
                add,
            ).alias("d_sign"),
        )
    )
    bf = (
        pairs.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("q_id").orderBy("d_exact", "c_id")
            ),
        )
        .filter(F.col("rn") <= 10)
        .select("q_id", "c_id", F.lit(1).alias("hit"))
    )
    tiers = pairs.select(
        "q_id",
        "c_id",
        F.expr(
            "stack(4, 'int8_x100', d_int8, 'mrl_prefix32', d_m32, "
            "'mrl_prefix16', d_m16, 'sign_1bit', d_sign) AS (tier, d)"
        ),
    )
    ranked = (
        tiers.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("tier", "q_id").orderBy("d", "c_id")
            ),
        )
        .filter(F.col("rn") <= 10)
        .select("tier", "q_id", "c_id")
    )
    return (
        ranked.join(F.broadcast(bf), ["q_id", "c_id"], "left")
        .groupBy("tier")
        .agg(
            F.count("hit").cast("long").alias("n_hits"),
            (F.count("hit") * 10).cast("long").alias("recall_permille"),
        )
        .orderBy("tier")
    )


@register(
    "doc_exact_substring_dedup",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             generate_subscripts(ws, 1) AS pos,
             unnest(ws) AS word
      FROM (SELECT doc_id, {_DD_TOKENS_LOWER} AS ws FROM documents)
    ),
    off AS (
      SELECT doc_id, pos, word,
             CAST(coalesce(sum(length(word) + 1) OVER (
                 PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS start_c
      FROM tok
    ),
    total AS (
      SELECT doc_id,
             CAST(sum(length(word)) + count(*) - 1 AS BIGINT) AS total_chars
      FROM tok GROUP BY doc_id
    ),
    g10 AS (
      SELECT doc_id, start_c AS s,
             word || ' ' || lead(word, 1) OVER w || ' ' ||
             lead(word, 2) OVER w || ' ' || lead(word, 3) OVER w || ' ' ||
             lead(word, 4) OVER w || ' ' || lead(word, 5) OVER w || ' ' ||
             lead(word, 6) OVER w || ' ' || lead(word, 7) OVER w || ' ' ||
             lead(word, 8) OVER w || ' ' || lead(word, 9) OVER w AS gram
      FROM off
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    spans AS (
      SELECT doc_id, s, s + length(gram) AS e, gram
      FROM g10 WHERE gram IS NOT NULL
    ),
    sh AS (
      SELECT gram FROM spans GROUP BY gram
      HAVING count(DISTINCT doc_id) > 1
    ),
    iv AS (SELECT doc_id, s, e, gram FROM spans JOIN sh USING (gram)),
    cov AS (
      SELECT doc_id, s, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY s
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS pm
      FROM iv
    ),
    dupc AS (
      SELECT doc_id,
             CAST(sum(greatest(e - greatest(s, coalesce(pm, 0)), 0))
               AS BIGINT) AS covered
      FROM cov GROUP BY doc_id
    ),
    nsh AS (
      SELECT doc_id, CAST(count(DISTINCT gram) AS BIGINT) AS n_shared_grams
      FROM iv GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(n.n_shared_grams, 0) AS n_shared_grams,
           coalesce({fround_sql(
               "CAST(c.covered AS DOUBLE) / nullif(t.total_chars, 0)",
               6)}, 0.0) AS dup_span_frac,
           coalesce({fround_sql(
               "CAST(c.covered AS DOUBLE) / nullif(t.total_chars, 0)",
               6)}, 0.0) > 0.2 AS is_flagged
    FROM documents d
    LEFT JOIN total t ON t.doc_id = d.doc_id
    LEFT JOIN dupc c ON c.doc_id = d.doc_id
    LEFT JOIN nsh n ON n.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
    doc="CROSS-document duplicated-span accounting (the exact-substring "
    "dedup signal of Lee et al. 2022, 'Deduplicating Training Data "
    "Makes Language Models Better', at word-10-gram granularity): a "
    "10-gram is shared if it occurs in >= 2 DISTINCT documents "
    "(inverted-index aggregate on the gram — one shuffle, partial "
    "count-distinct collapses hot grams map-side); each doc then "
    "reports the fraction of its normalized chars covered by ANY "
    "shared-gram occurrence, overlaps counted once via the same "
    "interval-union sweep as the within-doc Gopher gate "
    "(doc_gopher_repetition_rules — this is its corpus-level twin: "
    "that one flags self-repetition, this one flags boilerplate "
    "replicated ACROSS the corpus, which per-doc rules cannot see). "
    "At 100 TB the gram index is the same asymmetric join shape as "
    "doc_decontamination; span accounting stays per-doc narrow work.",
    tags=("llm", "text", "dedup"),
)
def doc_exact_substring_dedup(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    off, total = _tok_offsets(d)
    spans = _ngram_spans(off, 10)
    shared = (
        spans.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("gram")
    )
    iv = spans.join(shared, "gram")
    # ONE pass over iv for BOTH per-doc outputs (r11 VERDICT item 5: iv
    # fed the interval-union and the distinct-gram count as separate lazy
    # consumers, so the ~10x-corpus span stream and its gram join
    # replayed once per consumer — 3 full span materializations for the
    # query). The interval-union sweep (sort by s, running max of e) is
    # extended to carry gram and the n_shared_grams count-distinct rides
    # in the same groupBy. The covered sum is tie-order invariant (rows
    # tied on s contribute e - max(s, pm) whose sum is the union measure
    # in any tie order), so values are unchanged.
    cov = iv.withColumn(
        "pm",
        F.max("e").over(
            W.partitionBy("doc_id")
            .orderBy("s")
            .rowsBetween(W.unboundedPreceding, -1)
        ),
    )
    per_doc = cov.groupBy("doc_id").agg(
        F.sum(
            F.greatest(
                F.col("e")
                - F.greatest(F.col("s"), F.coalesce(F.col("pm"), F.lit(0))),
                F.lit(0).cast("long"),
            )
        )
        .cast("long")
        .alias("covered"),
        F.count_distinct("gram").cast("long").alias("n_shared_grams"),
    )
    frac = F.coalesce(
        fround(
            F.col("covered").cast("double")
            / F.nullif(F.col("total_chars"), F.lit(0)),
            6,
        ),
        F.lit(0.0),
    )
    return (
        d.select("doc_id")
        .join(total, "doc_id", "left")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared_grams", F.lit(0).cast("long")).alias(
                "n_shared_grams"
            ),
            frac.alias("dup_span_frac"),
            (frac > 0.2).alias("is_flagged"),
        )
        .orderBy("doc_id")
    )


@register(
    "sketch_kmv_set_ops",
    oracle=f"""
    WITH tok AS (
      SELECT lang, {_DD_TOKENS_LOWER} AS ts FROM documents
      WHERE lang IN ('en', 'de')
    ),
    sh AS (
      SELECT lang, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
      FROM tok, unnest(range(1, len(ts) - 1)) AS r(i)
      WHERE len(ts) >= 3
    ),
    dh AS (
      SELECT DISTINCT lang, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h
      FROM sh
    ),
    ska AS (
      SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
                     FROM dh WHERE lang = 'en') WHERE rn <= 64
    ),
    skb AS (
      SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
                     FROM dh WHERE lang = 'de') WHERE rn <= 64
    ),
    sku AS (
      SELECT h, row_number() OVER (ORDER BY h) AS rn
      FROM (SELECT DISTINCT h FROM
              (SELECT h FROM ska UNION ALL SELECT h FROM skb))
    ),
    ust AS (
      SELECT CAST(count(*) AS BIGINT) AS nm,
             max(CASE WHEN rn = 64 THEN h END) AS h64
      FROM sku
    ),
    icnt AS (
      SELECT CAST(count(*) AS BIGINT) AS ni FROM sku
      WHERE rn <= 64
        AND h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skb)
    ),
    exact AS (
      SELECT CAST(count(*) AS BIGINT) AS n_union_exact,
             CAST(sum(CASE WHEN nl = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_inter_exact
      FROM (SELECT h, count(DISTINCT lang) AS nl FROM dh GROUP BY h)
    ),
    calc AS (
      SELECT n_union_exact, n_inter_exact, ni,
             CAST(CASE WHEN nm < 64 THEN nm
                  ELSE 63 * 4294967296 // (h64 + 1) END AS BIGINT)
               AS union_est,
             CAST(least(nm, 64) AS BIGINT) AS kk
      FROM exact, ust, icnt
    )
    SELECT n_union_exact, union_est, n_inter_exact,
           CAST(ni * union_est // kk AS BIGINT) AS inter_est,
           CAST(ni * 1000 // kk AS BIGINT) AS jaccard_milli
    FROM calc
    """,
    doc="KMV sketch SET ALGEBRA (Beyer et al., SIGMOD'07): the union and "
    "intersection cardinalities of two vocabularies (en vs de 3-shingle "
    "sets) estimated purely from their MERGED bottom-64 sketches — "
    "union sketch = bottom-k of the two sketches' hashes, |A u B| from "
    "the k-th smallest as in sketch_kmv_distinct, Jaccard = fraction "
    "of union-sketch members present in BOTH input sketches, "
    "|A n B| = Jaccard x |A u B|. This is the property that matters "
    "at 100 TB: per-partition sketches of 64 longs merge associatively "
    "into any set-expression estimate without revisiting data; exact "
    "counterparts computed alongside validate the estimates. All "
    "arithmetic integer (md5 hashes, integer division), so the driver "
    "hash-checks the whole set-operation report.",
    tags=("llm", "text", "sketch", "approx"),
)
def sketch_kmv_set_ops(spark, sf_dir):
    d = _docs_spread(spark, sf_dir).filter(F.col("lang").isin("en", "de"))
    ts = TX.tokens(F.lower(F.col("text")))
    n = F.size(ts)
    shingles = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: F.array_join(F.slice(ts, i, 3), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    dh = (
        d.select("lang", F.explode(shingles).alias("s"))
        .select(
            "lang",
            F.conv(F.substring(F.md5("s"), 1, 8), 16, 10)
            .cast("long")
            .alias("h"),
        )
        .distinct()
        # dh feeds THREE independent consumers (the per-lang bottom-64
        # sketch window, the semi-join sketch re-derivations inside
        # icnt, and the exact union/intersection aggregate); left lazy
        # the corpus tokenize+shingle+md5+distinct pipeline replays once
        # per consumer (profiled at sf0.1: 3 parallel 32-task heavy
        # stages, 3 corpus scans). Caching the distinct hash set (~100x
        # smaller than the shingle stream; spills to disk if not) makes
        # it ONE pass at any scale — guide §2.4.
        .cache()
    )
    rnw = W.partitionBy("lang").orderBy("h")
    # <= 2*64 rows, consumed 4x (sku union + two icnt semi-joins): cache
    # so the bottom-64 window over dh runs once
    sk = (
        dh.withColumn("rn", F.row_number().over(rnw))
        .filter(F.col("rn") <= 64)
        .cache()
    )
    ska = sk.filter(F.col("lang") == "en").select("h")
    skb = sk.filter(F.col("lang") == "de").select("h")
    sku = (
        ska.union(skb)
        .distinct()
        .withColumn("rn", F.row_number().over(W.orderBy("h")))
    )
    ust = sku.agg(
        F.count("*").cast("long").alias("nm"),
        F.max(F.when(F.col("rn") == 64, F.col("h"))).alias("h64"),
    )
    icnt = (
        sku.filter(F.col("rn") <= 64)
        .join(ska, "h", "semi")
        .join(skb, "h", "semi")
        .agg(F.count("*").cast("long").alias("ni"))
    )
    exact = (
        dh.groupBy("h")
        .agg(F.countDistinct("lang").alias("nl"))
        .agg(
            F.count("*").cast("long").alias("n_union_exact"),
            F.sum(F.when(F.col("nl") == 2, 1).otherwise(0))
            .cast("long")
            .alias("n_inter_exact"),
        )
    )
    calc = (
        exact.crossJoin(F.broadcast(ust))
        .crossJoin(F.broadcast(icnt))
        .withColumn(
            "union_est",
            F.expr(
                "CAST(CASE WHEN nm < 64 THEN nm"
                " ELSE 63 * 4294967296 DIV (h64 + 1) END AS BIGINT)"
            ),
        )
        .withColumn("kk", F.least(F.col("nm"), F.lit(64)).cast("long"))
    )
    return calc.select(
        "n_union_exact",
        "union_est",
        "n_inter_exact",
        F.expr("CAST(ni * union_est DIV kk AS BIGINT)").alias("inter_est"),
        F.expr("CAST(ni * 1000 DIV kk AS BIGINT)").alias("jaccard_milli"),
    )


@register(
    "doc_curation_v2",
    oracle=f"""
    WITH tokq AS (
      SELECT doc_id,
             len({_DD_TOKENS_LOWER}) AS n_words,
             CAST(length(regexp_replace(text, '[^#*]', '', 'g')) AS BIGINT)
               AS n_symbols,
             length(text) - length(replace(text, ' ', '')) AS n_spaces,
             length(text) AS n_chars,
             len(list_filter({_DD_TOKENS_LOWER},
                 w -> w IN ('the', 'and', 'of', 'to', 'a'))) AS n_stop
      FROM documents
    ),
    gq AS (
      SELECT doc_id,
             CASE
               WHEN n_words < 5 OR n_words > 100000 THEN 'word_count'
               WHEN n_words > 0 AND
                    CAST(n_chars - n_spaces AS DOUBLE) / n_words
                      NOT BETWEEN 2.0 AND 12.0 THEN 'mean_word_len'
               WHEN n_words > 0 AND
                    CAST(n_symbols AS DOUBLE) / n_words > 0.1
                 THEN 'symbol_ratio'
               WHEN n_stop = 0 THEN 'no_stopwords'
               ELSE 'pass'
             END AS gopher_status
      FROM tokq
    ),
    tok AS (
      SELECT doc_id,
             generate_subscripts(ws, 1) AS pos,
             unnest(ws) AS word
      FROM (SELECT doc_id, {_DD_TOKENS_LOWER} AS ws FROM documents)
    ),
    off AS (
      SELECT doc_id, pos, word,
             CAST(coalesce(sum(length(word) + 1) OVER (
                 PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS start_c
      FROM tok
    ),
    total AS (
      SELECT doc_id,
             CAST(sum(length(word)) + count(*) - 1 AS BIGINT) AS total_chars
      FROM tok GROUP BY doc_id
    ),
    g10 AS (
      SELECT doc_id, start_c AS s,
             word || ' ' || lead(word, 1) OVER w || ' ' ||
             lead(word, 2) OVER w || ' ' || lead(word, 3) OVER w || ' ' ||
             lead(word, 4) OVER w || ' ' || lead(word, 5) OVER w || ' ' ||
             lead(word, 6) OVER w || ' ' || lead(word, 7) OVER w || ' ' ||
             lead(word, 8) OVER w || ' ' || lead(word, 9) OVER w AS gram
      FROM off
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    spans AS (
      SELECT doc_id, s, s + length(gram) AS e, gram
      FROM g10 WHERE gram IS NOT NULL
    ),
    rep AS (
      SELECT doc_id,
             CAST(sum(greatest(e - greatest(s, coalesce(pm, 0)), 0))
               AS BIGINT) AS covered
      FROM (
        SELECT doc_id, s, e,
               max(e) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS pm
        FROM (SELECT doc_id, s, e,
                     count(*) OVER (PARTITION BY doc_id, gram) AS occ
              FROM spans)
        WHERE occ > 1
      ) GROUP BY doc_id
    ),
    sh AS (
      SELECT gram FROM spans GROUP BY gram
      HAVING count(DISTINCT doc_id) > 1
    ),
    xdoc AS (
      SELECT doc_id,
             CAST(sum(greatest(e - greatest(s, coalesce(pm, 0)), 0))
               AS BIGINT) AS covered
      FROM (
        SELECT doc_id, s, e,
               max(e) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS pm
        FROM (SELECT doc_id, s, e FROM spans JOIN sh USING (gram))
      ) GROUP BY doc_id
    ),
    keepers AS (
      SELECT content_md5, min(doc_id) AS keep_id
      FROM (SELECT doc_id,
                   md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))
                     AS content_md5
            FROM documents)
      GROUP BY 1
    ),
    final AS (
      SELECT d.doc_id,
             CASE
               WHEN g.gopher_status <> 'pass'
                 THEN 'gopher:' || g.gopher_status
               WHEN coalesce({fround_sql(
                   "CAST(r.covered AS DOUBLE) / nullif(t.total_chars, 0)",
                   6)}, 0.0) > 0.10 THEN 'repetition'
               WHEN coalesce({fround_sql(
                   "CAST(x.covered AS DOUBLE) / nullif(t.total_chars, 0)",
                   6)}, 0.0) > 0.20 THEN 'dup_spans'
               WHEN d.doc_id <> k.keep_id THEN 'exact_dup'
               WHEN {_MD5_PPM_DD.replace("doc_id", "d.doc_id")} >= CASE d.lang
                   {" ".join(f"WHEN '{k}' THEN {v}"
                             for k, v in _STRAT_RATES_PPM.items())}
                   ELSE 0 END THEN 'sampled_out'
               ELSE 'kept'
             END AS status
      FROM documents d
      JOIN gq g ON g.doc_id = d.doc_id
      LEFT JOIN total t ON t.doc_id = d.doc_id
      LEFT JOIN rep r ON r.doc_id = d.doc_id
      LEFT JOIN xdoc x ON x.doc_id = d.doc_id
      JOIN keepers k
        ON k.content_md5 = md5(lower(regexp_replace(d.text, '\\s+', ' ', 'g')))
    )
    SELECT doc_id, status, status = 'kept' AS kept
    FROM final ORDER BY doc_id
    """,
    doc="The round-4 curation stack as ONE pipeline (the FineWeb-style "
    "recipe, complementing doc_curation's round-2 recipe): Gopher "
    "quality rules -> within-doc repetition gate (duplicated-10-gram "
    "char fraction > 0.10) -> cross-doc duplicated-span gate "
    "(shared-gram coverage > 0.20) -> exact-dedup survivor -> "
    "deterministic per-language stratified sampling (md5-ppm rates), "
    "with the FIRST failing stage as the per-doc status. Every stage "
    "is the independently gated query's exact logic "
    "(doc_gopher_quality_rules, doc_gopher_repetition_rules, "
    "doc_exact_substring_dedup, doc_exact_dedup, "
    "doc_stratified_sample), so this composition cross-checks them "
    "end to end; all heavy work rides one (doc_id, pos) window sort, "
    "one gram inverted index, and one content-hash aggregate.",
    tags=("llm", "text", "quality", "dedup", "sampling"),
)
def doc_curation_v2(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    toks = TX.tokens(F.lower(F.col("text")))
    feats = d.select(
        "doc_id",
        F.size(toks).alias("n_words"),
        F.length(F.regexp_replace(F.col("text"), "[^#*]", ""))
        .cast("long")
        .alias("n_symbols"),
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), " ", ""))
        ).alias("n_spaces"),
        F.length("text").alias("n_chars"),
        F.size(
            F.filter(toks, lambda w: w.isin("the", "and", "of", "to", "a"))
        ).alias("n_stop"),
    )
    mwl = (F.col("n_chars") - F.col("n_spaces")).cast("double") / F.col(
        "n_words"
    )
    gq = feats.select(
        "doc_id",
        F.when(
            (F.col("n_words") < 5) | (F.col("n_words") > 100000), "word_count"
        )
        .when(
            (F.col("n_words") > 0) & (~mwl.between(2.0, 12.0)),
            "mean_word_len",
        )
        .when(
            (F.col("n_words") > 0)
            & (F.col("n_symbols").cast("double") / F.col("n_words") > 0.1),
            "symbol_ratio",
        )
        .when(F.col("n_stop") == 0, "no_stopwords")
        .otherwise("pass")
        .alias("gopher_status"),
    )
    off, total = _tok_offsets(d)
    spans = _ngram_spans(off, 10)
    rep = _interval_union(
        spans.withColumn(
            "occ", F.count("*").over(W.partitionBy("doc_id", "gram"))
        )
        .filter(F.col("occ") > 1)
        .select("doc_id", "s", "e")
    ).withColumnRenamed("covered", "rep_covered")
    shared = (
        spans.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("gram")
    )
    xdoc = _interval_union(
        spans.join(shared, "gram").select("doc_id", "s", "e")
    ).withColumnRenamed("covered", "x_covered")
    content_md5 = F.md5(
        F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    )
    keepers = (
        d.select("doc_id", content_md5.alias("content_md5"))
        .groupBy("content_md5")
        .agg(F.min("doc_id").alias("keep_id"))
    )
    rate = F.lit(0)
    for k, v in _STRAT_RATES_PPM.items():
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    rep_frac = F.coalesce(
        fround(
            F.col("rep_covered").cast("double")
            / F.nullif(F.col("total_chars"), F.lit(0)),
            6,
        ),
        F.lit(0.0),
    )
    x_frac = F.coalesce(
        fround(
            F.col("x_covered").cast("double")
            / F.nullif(F.col("total_chars"), F.lit(0)),
            6,
        ),
        F.lit(0.0),
    )
    status = (
        F.when(
            F.col("gopher_status") != "pass",
            F.concat(F.lit("gopher:"), F.col("gopher_status")),
        )
        .when(rep_frac > 0.10, "repetition")
        .when(x_frac > 0.20, "dup_spans")
        .when(F.col("doc_id") != F.col("keep_id"), "exact_dup")
        .when(F.expr(_MD5_PPM) >= rate, "sampled_out")
        .otherwise("kept")
    )
    return (
        d.select("doc_id", "lang", content_md5.alias("content_md5"))
        .join(gq, "doc_id")
        .join(total, "doc_id", "left")
        .join(rep, "doc_id", "left")
        .join(xdoc, "doc_id", "left")
        .join(keepers, "content_md5")
        .select(
            "doc_id",
            status.alias("status"),
            (status == "kept").alias("kept"),
        )
        .orderBy("doc_id")
    )


def _ivf_sweep_oracle_sql() -> str:
    rounds = []
    cent = "c0"
    for i in range(1, _IVF_ROUNDS + 1):
        rounds.append(_ivf_assign_cte(f"a{i}", cent))
        rounds.append(_ivf_update_cte(f"c{i}", f"a{i}"))
        cent = f"c{i}"
    cos_rank = (
        f"floor({SIM.pico_cosine_sql('qv', 'cv', _IVF_DIM)} * 1e6 + 0.5)"
    )
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    c0 AS (
        SELECT cid, cv FROM (
            SELECT row_number() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                   ) - 1 AS cid,
                   v AS cv
            FROM e
        ) WHERE cid < {_IVF_K}
    ),
    {",".join(rounds)},
    {_ivf_assign_cte("afin", cent)},
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
    probe AS (
      SELECT q.q_id, q.qv, c.cid,
             row_number() OVER (PARTITION BY q.q_id
                 ORDER BY {SIM.pico_sqdist_sql("q.qv", "c.cv", _IVF_DIM)},
                          c.cid) AS rn
      FROM q CROSS JOIN {cent} c
    ),
    bf AS (
      SELECT q_id, c_id FROM (
        SELECT q.q_id, c.vec_id AS c_id,
               row_number() OVER (PARTITION BY q.q_id
                   ORDER BY {cos_rank.replace("cv", "c.v")} DESC,
                            c.vec_id) AS rn
        FROM q JOIN e c ON c.vec_id <> q.q_id
      ) WHERE rn <= 10
    ),
    bfn AS (SELECT CAST(count(*) AS BIGINT) AS n_bf FROM bf),
    annk AS (
      SELECT np, q_id, c_id FROM (
        SELECT p.np, p.q_id, a.vec_id AS c_id,
               row_number() OVER (PARTITION BY p.np, p.q_id
                   ORDER BY {cos_rank.replace("qv", "p.qv")
                                     .replace("cv", "a.v")} DESC,
                            a.vec_id) AS rnk
        FROM (SELECT ns.np, q_id, qv, cid FROM probe,
                (SELECT unnest([1, 2, 4]) AS np) ns
              WHERE rn <= ns.np) p
        JOIN afin a USING (cid)
        WHERE a.vec_id <> p.q_id
      ) WHERE rnk <= 10
    ),
    hits AS (
      SELECT np, CAST(count(*) AS BIGINT) AS n_hits
      FROM annk JOIN bf USING (q_id, c_id) GROUP BY np
    )
    SELECT ns.np AS nprobe,
           coalesce(h.n_hits, 0) AS n_hits, bfn.n_bf,
           CAST(coalesce(h.n_hits, 0) * 1000 // bfn.n_bf AS BIGINT)
             AS recall_milli
    FROM (SELECT unnest([1, 2, 4]) AS np) ns
    LEFT JOIN hits h ON h.np = ns.np, bfn
    ORDER BY nprobe
    """


@register(
    "emb_ivf_nprobe_sweep",
    oracle=_ivf_sweep_oracle_sql(),
    doc="The IVF tuning curve: recall@10 swept over nprobe in {1, 2, 4} "
    f"against the k={_IVF_K} deterministic index of "
    "emb_ivf_recall_report (same md5-seeded micro-quantized training, "
    "replayed identically by the oracle) — the accuracy-vs-cost curve "
    "an operator actually reads before fixing nprobe in production "
    "(nprobe/k is the fraction of the corpus scanned per query). ONE "
    "training pass and ONE ranked-centroid window feed all three "
    "sweep points (the nprobe filter is a literal explode, not three "
    "re-trainings); aggregate recall reported as exact integer "
    "permille so the curve hashes cross-engine.",
    tags=("llm", "similarity", "approx", "embedding"),
)
def emb_ivf_nprobe_sweep(spark, sf_dir):
    from transitdata_monitor_data_collector_spark.functions.vectors import (
        as_double,
        pico_cosine,
        pico_sqdist,
    )

    emb = table(spark, sf_dir, "embeddings")
    # spread the one-split scan so the Lloyd assigns / probe ranking /
    # brute-force pass parallelize (profiled r11: tasks=1 end-to-end
    # otherwise); no-op at real scale — guide §2.5
    e = _guard_recall_corpus(
        spread_small_input(
            emb.select("vec_id", as_double(F.col("embedding")).alias("v")),
            "vec_id",
        ),
        "emb_ivf_nprobe_sweep",
    )
    cent, afin = _ivf_spark_train(e)

    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    w_probe = W.partitionBy("q_id").orderBy(
        pico_sqdist(F.col("qv"), F.col("cv")), "cid"
    )
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("rn", F.row_number().over(w_probe))
        .select("q_id", "qv", "cid", "rn")
    )
    cos_rank = F.floor(pico_cosine(F.col("qv"), F.col("cv")) * 1e6 + 0.5)

    corpus = e.select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"))
    bf = (
        corpus.join(F.broadcast(q), F.col("c_id") != F.col("q_id"))
        .withColumn("cos_m", cos_rank)
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("q_id").orderBy(F.desc("cos_m"), "c_id")
            ),
        )
        .filter(F.col("rn") <= 10)
        .select("q_id", "c_id")
    )
    probe_np = (
        probes.select(
            "q_id",
            "qv",
            "cid",
            "rn",
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(4))).alias("np"),
        )
        .filter(F.col("rn") <= F.col("np"))
        .select("np", "q_id", "qv", "cid")
    )
    ann = (
        # probe_np is (3 nprobe points x 10 queries x nprobe) rows —
        # broadcast against the corpus-sized assignment (same shape fix
        # as emb_ivf_recall_report)
        F.broadcast(probe_np)
        .join(
            afin.select(
                "cid", F.col("vec_id").alias("c_id"), F.col("v").alias("cv")
            ),
            "cid",
        )
        .filter(F.col("c_id") != F.col("q_id"))
        .withColumn("cos_m", cos_rank)
        .withColumn(
            "rnk",
            F.row_number().over(
                W.partitionBy("np", "q_id").orderBy(F.desc("cos_m"), "c_id")
            ),
        )
        .filter(F.col("rnk") <= 10)
        .select("np", "q_id", "c_id")
    )
    hits = (
        ann.join(F.broadcast(bf), ["q_id", "c_id"], "left_semi")
        .groupBy("np")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    bfn = bf.agg(F.count("*").cast("long").alias("n_bf"))
    nps = e.sparkSession.createDataFrame([(1,), (2,), (4,)], "np int")
    return (
        nps.join(F.broadcast(hits), "np", "left")
        .crossJoin(F.broadcast(bfn))
        .select(
            F.col("np").alias("nprobe"),
            F.coalesce("n_hits", F.lit(0).cast("long")).alias("n_hits"),
            "n_bf",
            F.expr(
                "CAST(coalesce(n_hits, 0) * 1000 DIV n_bf AS BIGINT)"
            ).alias("recall_milli"),
        )
        .orderBy("nprobe")
    )


@register(
    "multimodal_audio_zcr",
    oracle="""
    WITH bytes_t AS (
      SELECT doc_id, list_transform(range(1, length(text) + 1),
                                    i -> ascii(substr(text, i, 1)) - 128)
               AS ss
      FROM documents WHERE length(text) > 0
    ),
    samp AS (
      SELECT doc_id,
             generate_subscripts(ss, 1) - 1 AS idx,
             CAST(unnest(ss) AS BIGINT) AS s
      FROM bytes_t
    ),
    fl AS (
      SELECT doc_id,
             CAST(idx // 256 AS BIGINT) AS frame_index,
             idx % 256 AS pos,
             s < 0 AS neg,
             lag(s < 0) OVER (PARTITION BY doc_id ORDER BY idx) AS prev_neg
      FROM samp
    )
    SELECT doc_id, frame_index,
           CAST(sum(CASE WHEN pos > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pairs,
           CAST(sum(CASE WHEN pos > 0 AND neg <> prev_neg THEN 1 ELSE 0 END)
             AS BIGINT) AS zero_crossings
    FROM fl GROUP BY doc_id, frame_index
    ORDER BY doc_id, frame_index
    """,
    doc="Audio zero-crossing rate per 256-sample frame — the second "
    "classic VAD feature beside RMS energy (multimodal_audio_energy): "
    "voiced speech = low ZCR + high energy, fricatives/noise = high "
    "ZCR, silence = low both; the (energy, zcr) pair per frame is the "
    "standard cheap speech/silence/noise segmenter run before any "
    "expensive ASR pass. A crossing is a sign flip between consecutive "
    "in-frame samples — a pure integer count, so the oracle replays it "
    "exactly from the same fake PCM (utf8 byte - 128). Same narrow "
    "Arrow-batched mapInPandas shape as the energy pass "
    "(operators/multimodal.py:audio_zero_crossings).",
    tags=("llm", "multimodal"),
)
def multimodal_audio_zcr(spark, sf_dir):
    from transitdata_monitor_data_collector_spark.operators.multimodal import (
        audio_zero_crossings,
        synthesize_audio_payloads,
    )

    docs = _docs_spread(spark, sf_dir)
    return audio_zero_crossings(synthesize_audio_payloads(docs)).orderBy(
        "doc_id", "frame_index"
    )


@register(
    "text_vocab_coverage_curve",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_DD_TOKENS_LOWER}) AS t FROM documents
    ),
    counts AS (
      SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY t
    ),
    ranked AS (
      SELECT cnt, row_number() OVER (ORDER BY cnt DESC, t) AS rn
      FROM counts
    ),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens,
                   CAST(count(*) AS BIGINT) AS vocab_size
            FROM counts)
    SELECT k,
           CAST(sum(cnt) AS BIGINT) AS covered_tokens,
           tot.total_tokens, tot.vocab_size,
           CAST(sum(cnt) * 1000 // tot.total_tokens AS BIGINT)
             AS coverage_permille
    FROM ranked, (SELECT unnest([10, 100, 1000]) AS k), tot
    WHERE rn <= k
    GROUP BY k, tot.total_tokens, tot.vocab_size
    ORDER BY k
    """,
    doc="Vocabulary coverage curve: the fraction of all corpus token "
    "OCCURRENCES covered by the top-k most frequent types, at k in "
    "{10, 100, 1000} — the number that sizes a tokenizer vocabulary or "
    "a stopword list (Zipfian corpora saturate fast; the marginal "
    "coverage of each added type is the vocab-size/UNK-rate tradeoff "
    "that text_zipf_profile's slope summarizes analytically). One "
    "vocab aggregate, one rank window over types (vocabulary-sized, "
    "not corpus-sized), and the three curve points fold into a single "
    "grouped aggregate via a literal k explode. Exact integers "
    "throughout; coverage reported as integer permille.",
    tags=("llm", "text", "agg"),
)
def text_vocab_coverage_curve(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    tok = d.select(
        F.explode(TX.tokens(F.lower(F.col("text")))).alias("t")
    )
    counts = tok.groupBy("t").agg(F.count("*").cast("long").alias("cnt"))
    ranked = counts.select(
        "cnt",
        F.row_number().over(W.orderBy(F.desc("cnt"), "t")).alias("rn"),
    )
    tot = counts.agg(
        F.sum("cnt").cast("long").alias("total_tokens"),
        F.count("*").cast("long").alias("vocab_size"),
    )
    ks = F.explode(F.array(F.lit(10), F.lit(100), F.lit(1000))).alias("k")
    return (
        ranked.select("cnt", "rn", ks)
        .filter(F.col("rn") <= F.col("k"))
        .groupBy("k")
        .agg(F.sum("cnt").cast("long").alias("covered_tokens"))
        .crossJoin(F.broadcast(tot))
        .select(
            "k",
            "covered_tokens",
            "total_tokens",
            "vocab_size",
            F.expr(
                "CAST(covered_tokens * 1000 DIV total_tokens AS BIGINT)"
            ).alias("coverage_permille"),
        )
        .orderBy("k")
    )


@register(
    "doc_segment_dedup",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    seg AS (
      SELECT doc_id, CAST(i AS INT) AS pos,
             array_to_string(list_slice(ws, i*10 + 1, i*10 + 10), ' ') AS segment
      FROM w, unnest(generate_series(0,
             CAST(ceil(len(ws) / 10.0) AS BIGINT) - 1)) AS t(i)
    ),
    ranked AS (
      SELECT doc_id, pos, segment,
             row_number() OVER (PARTITION BY md5(segment)
                                ORDER BY doc_id, pos) AS rn
      FROM seg
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           coalesce(string_agg(CASE WHEN rn = 1 THEN segment END,
                               ' ' ORDER BY pos), '') AS clean_text
    FROM ranked GROUP BY doc_id ORDER BY doc_id
    """,
    doc="C4-style segment-level dedup with document reconstruction "
    "(Raffel et al. 2020 §2.2 discard repeated three-sentence spans; "
    "CCNet's line-level variant): documents split into non-overlapping "
    "10-word segments, exactly ONE global occurrence of each segment "
    "survives (first by (doc_id, pos)), and every document is rebuilt "
    "from its surviving segments in order. Scale shape: the only "
    "shuffle keys on md5(segment) (uniform, bytes-bounded — the hash, "
    "not the text, is the exchange key), then one groupBy doc_id; both "
    "are plain hash partitions at any corpus size. The rebuilt text is "
    "part of the hashed output, so the reconstruction path is "
    "oracle-proven, not just the drop counters.",
    tags=("llm", "dedup", "text"),
)
def doc_segment_dedup(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    n_seg = F.ceil(F.size(words) / F.lit(10.0)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.array_join(F.slice(words, i * 10 + 1, 10), " "),
    )
    ex = d.select("doc_id", F.posexplode(segs).alias("pos", "segment"))
    ranked = ex.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy(F.md5("segment")).orderBy("doc_id", "pos")
        ),
    )
    kept_struct = F.when(F.col("rn") == 1, F.struct("pos", "segment"))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_segments"),
            F.sum((F.col("rn") > 1).cast("int")).cast("long").alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s.segment,
                ),
                " ",
            ).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


# PII patterns — deliberately dialect-neutral (character classes, bounded
# repetition, \b word boundaries only): identical semantics in Java regex
# (Spark) and RE2 (DuckDB).
_PII_RX_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_RX_PHONE = r"\+\d{1,3}-\d{1,3}-\d{3,6}"
_PII_RX_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


@register(
    "doc_pii_redaction",
    oracle=f"""
    WITH pii AS (
      SELECT doc_id,
             concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                    '@mail.example.com or +358-40-',
                    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
                    ' ip 10.', CAST(doc_id % 256 AS VARCHAR), '.0.',
                    CAST(doc_id % 100 AS VARCHAR)) AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_PII_RX_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{_PII_RX_PHONE}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(t, '{_PII_RX_IP}')) AS BIGINT)    AS n_ips,
           regexp_replace(
             regexp_replace(
               regexp_replace(t, '{_PII_RX_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_RX_PHONE}', '<PHONE>', 'g'),
             '{_PII_RX_IP}', '<IP>', 'g') AS redacted
    FROM pii ORDER BY doc_id
    """,
    doc="PII detection + redaction (the privacy pass every released "
    "training corpus runs; cf. BigScience ROOTS / Dolma PII filters): "
    "emails, international phone numbers, and IPv4 addresses are "
    "counted and replaced with typed placeholders. Deterministic "
    "synthetic PII is injected per row so BOTH the detector counts and "
    "the full redacted text round-trip through the oracle hash. "
    "Patterns restrict to the Java-regex/RE2 common subset (classes, "
    "bounded repetition, word boundaries — no lookaround), so the same "
    "pattern text runs in both engines. Pure projection: no shuffle at "
    "all except the output sort; codegen'd JVM regex on the hot path.",
    tags=("llm", "text"),
)
def doc_pii_redaction(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    t = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +358-40-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."),
        (F.col("doc_id") % 100).cast("string"),
    )
    pii = d.select("doc_id", t.alias("t"))
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _PII_RX_EMAIL, "<EMAIL>"),
            _PII_RX_PHONE,
            "<PHONE>",
        ),
        _PII_RX_IP,
        "<IP>",
    )
    return pii.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(_PII_RX_EMAIL), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("t", F.lit(_PII_RX_PHONE), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        F.size(F.regexp_extract_all("t", F.lit(_PII_RX_IP), F.lit(0)))
        .cast("long")
        .alias("n_ips"),
        red.alias("redacted"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Engine-deterministic classifier training (hard-sigmoid logistic regression)
# ---------------------------------------------------------------------------

_LOGREG_ROUNDS = 3


def _tdiv_sql(a: str, b: str) -> str:
    """Truncate-toward-zero integer division in DuckDB SQL, portable
    across DuckDB versions. DuckDB 1.0.0 truncates ``//`` toward zero
    (``-7 // 2 = -3``) while newer releases floor it (``-4``); Spark
    ``DIV`` always truncates. Spelling the sign out makes the oracle
    independent of which DuckDB the driver runs: for non-negative ``a``
    floor == truncate, and for negative ``a`` we divide ``-a`` (positive,
    so again floor == truncate) and negate. Requires ``b > 0``, which
    every call site satisfies (divisors are positive literals or row
    counts). Pinned by tests/test_duckdb_semantics.py."""
    return (
        f"(CASE WHEN ({a}) >= 0 THEN ({a}) // ({b}) "
        f"ELSE -((-({a})) // ({b})) END)"
    )


# Feature CTE, restricted to constructs the driver gate has proven
# version-stable (the doc_quality_logreg_hashed oracle is hash-green on
# the driver with string_split + unnest + DISTINCT): token counts come
# from unnest + count(*) / count(DISTINCT) instead of len/list_distinct,
# the length cap is a CASE instead of least(column, literal), and every
# aggregate-derived column is CAST to BIGINT so no HUGEINT (whose
# pandas-conversion dtype changed across DuckDB releases) survives into
# downstream arithmetic or the result set.
_LOGREG_FEAT_SQL = """
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
dt AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS ntok,
         CAST(count(DISTINCT tok) AS BIGINT) AS ndist
  FROM tok GROUP BY doc_id
),
feat AS (
  SELECT CAST(1000 AS BIGINT) AS x0,
         CAST(CASE WHEN d.n_chars < 1000 THEN d.n_chars ELSE 1000 END
              AS BIGINT) AS x1,
         dt.ntok AS x2,
         (dt.ndist * 1000) // dt.ntok AS x3,
         CASE WHEN d.lang = 'en' THEN CAST(1000000000 AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS y9
  FROM documents d JOIN dt ON d.doc_id = dt.doc_id
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM feat)
"""


def _logreg_oracle_sql() -> str:
    """Replay the exact integer GD in DuckDB CTEs. Every division whose
    numerator can go negative (pre-activation ``z``, gradient sums
    ``s0..s3``) uses :func:`_tdiv_sql` so the oracle matches Spark DIV
    (truncate toward zero) under ANY DuckDB ``//`` semantics — 1.0.0
    truncates, newer releases floor (the CORRECTNESS_r05 hash-red cause)."""
    parts = [_LOGREG_FEAT_SQL.strip().rstrip()]
    prev_w = None  # None = all-zero initial weights
    selects = []
    for r in range(1, _LOGREG_ROUNDS + 1):
        if prev_w is None:
            z = "CAST(0 AS BIGINT)"
            src = "feat"
        else:
            z = (
                f"(w.w0 * x0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3)"
            )
            src = f"feat CROSS JOIN {prev_w} w"
        p = (
            f"least(greatest(CAST(500000000 AS BIGINT) "
            f"+ {_tdiv_sql(z, '4000')}, "
            "CAST(0 AS BIGINT)), CAST(1000000000 AS BIGINT))"
        )
        parts.append(
            f"""g{r} AS (
  SELECT sum(err * x0) AS s0, sum(err * x1) AS s1,
         sum(err * x2) AS s2, sum(err * x3) AS s3,
         sum(abs(err)) AS sa
  FROM (SELECT ({p}) - y9 AS err, x0, x1, x2, x3 FROM {src})
)"""
        )
        base = (
            "CAST(0 AS BIGINT)"
            if prev_w is None
            else "w.w{k}"
        )
        wcols = ", ".join(
            (
                # CAST AS BIGINT: s{k} is a HUGEINT sum — without the
                # cast the weight columns (and everything computed from
                # them) stay HUGEINT, whose pandas-conversion dtype is
                # DuckDB-version-dependent (float64 on 1.0.0). The
                # hash-green hashed-logreg twin casts every weight; the
                # r5/r6 hash-red on this query traced to not doing so.
                f"CAST({base.format(k=k)} - "
                f"{_tdiv_sql(_tdiv_sql(f's{k}', 'n * 1000'), '4')} "
                f"AS BIGINT) AS w{k}"
            )
            for k in range(4)
        )
        from_w = "" if prev_w is None else f", {prev_w} w"
        parts.append(
            # sa = sum(abs(err)) is non-negative, so plain // is
            # floor==truncate there under any DuckDB version.
            f"w{r} AS (SELECT {wcols}, "
            f"CAST(sa // (n * 1000000) AS BIGINT) AS loss "
            f"FROM g{r}, nn{from_w})"
        )
        selects.append(
            f"SELECT {r} AS step, w0, w1, w2, w3, "
            f"loss AS mean_abs_err_permille FROM w{r}"
        )
        prev_w = f"w{r}"
    return (
        "WITH " + ",\n".join(parts) + "\n"
        + " UNION ALL ".join(selects)
        + " ORDER BY step"
    )


@register(
    "doc_quality_logreg",
    oracle=_logreg_oracle_sql(),
    doc="In-engine classifier training, engine-deterministic end to end: "
    f"{_LOGREG_ROUNDS} rounds of batch gradient descent for a hard-sigmoid "
    "logistic regression predicting lang='en' from document stats (bias, "
    "capped length, token count, distinct-token permille). The hard "
    "sigmoid (clamped linear, the quantized-NN activation) replaces exp "
    "so the entire training loop is EXACT BIGINT arithmetic — features "
    "permille-scaled, weights in nano units, truncating integer division "
    "(Spark DIV == DuckDB //, verified incl. negatives) — and the DuckDB "
    "oracle replays the identical 3-round trajectory CTE by CTE. Scale "
    "shape: each round is ONE distributed partial+final aggregate over "
    "the corpus; only 5 scalars reach the driver per round (the KMeans/"
    "power-iteration pattern), so rounds scale with corpus partitions, "
    "never rows-to-driver. Output: per-round weights + mean |error|.",
    tags=("llm", "text", "ml"),
)
def doc_quality_logreg(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    feat = d.selectExpr(
        "CAST(1000 AS BIGINT) AS x0",
        "CAST(least(n_chars, 1000) AS BIGINT) AS x1",
        "CAST(size(split(text, ' ')) AS BIGINT) AS x2",
        "CAST(size(array_distinct(split(text, ' '))) * 1000 AS BIGINT) "
        "DIV CAST(size(split(text, ' ')) AS BIGINT) AS x3",
        "CASE WHEN lang = 'en' THEN CAST(1000000000 AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END AS y9",
    ).cache()
    n = feat.count()

    def tdiv(a: int, b: int) -> int:
        # truncate-toward-zero division (Python // floors on negatives;
        # the engines truncate — match the engines)
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    w = [0, 0, 0, 0]
    rows = []
    for r in range(1, _LOGREG_ROUNDS + 1):
        z = f"({w[0]} * x0 + {w[1]} * x1 + {w[2]} * x2 + {w[3]} * x3)"
        p = (
            f"least(greatest(CAST(500000000 AS BIGINT) + {z} DIV 4000, "
            "CAST(0 AS BIGINT)), CAST(1000000000 AS BIGINT))"
        )
        err = f"(({p}) - y9)"
        s = feat.selectExpr(
            f"sum({err} * x0) AS s0",
            f"sum({err} * x1) AS s1",
            f"sum({err} * x2) AS s2",
            f"sum({err} * x3) AS s3",
            f"sum(abs({err})) AS sa",
        ).collect()[0]
        loss = tdiv(s["sa"], n * 1000000)
        for k in range(4):
            w[k] = w[k] - tdiv(tdiv(s[f"s{k}"], n * 1000), 4)
        rows.append((r, w[0], w[1], w[2], w[3], loss))
    return spark.createDataFrame(
        rows,
        "step int, w0 long, w1 long, w2 long, w3 long, "
        "mean_abs_err_permille long",
    ).orderBy("step")


# -- gate-side bisection diagnostics for the logreg trajectory -------------
# doc_quality_logreg(+_calibration) were hash-red on the driver's DuckDB in
# r5/r6 while every local mirror run was green (version-dependent oracle
# behavior). These two cheap queries split the trajectory so a driver
# CORRECTNESS row localizes any future divergence:
#   * _features red            -> the feature CTE (tokenization / casts)
#   * _features green, _round1 red -> the gradient/update integer math
#   * both green, full query red   -> the multi-round z-scoring path


def _logreg_spark_feat(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    return d.selectExpr(
        "CAST(1000 AS BIGINT) AS x0",
        "CAST(least(n_chars, 1000) AS BIGINT) AS x1",
        "CAST(size(split(text, ' ')) AS BIGINT) AS x2",
        "CAST(size(array_distinct(split(text, ' '))) * 1000 AS BIGINT) "
        "DIV CAST(size(split(text, ' ')) AS BIGINT) AS x3",
        "CASE WHEN lang = 'en' THEN CAST(1000000000 AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END AS y9",
    )


@register(
    "doc_quality_logreg_features",
    oracle=f"""
    WITH {_LOGREG_FEAT_SQL.strip()}
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(x1) AS BIGINT) AS sum_x1,
           CAST(min(x1) AS BIGINT) AS min_x1,
           CAST(max(x1) AS BIGINT) AS max_x1,
           CAST(sum(x2) AS BIGINT) AS sum_x2,
           CAST(sum(x3) AS BIGINT) AS sum_x3,
           CAST(min(x3) AS BIGINT) AS min_x3,
           CAST(max(x3) AS BIGINT) AS max_x3,
           CAST(sum(y9) // 1000000000 AS BIGINT) AS n_pos
    FROM feat
    """,
    doc="Gate diagnostic (bisection) for doc_quality_logreg: corpus-level "
    "aggregates of the exact feature CTE the trainer consumes — if this "
    "row hash-mismatches on the driver, the divergence is in feature "
    "construction (tokenization / distinct-count / caps), not the GD "
    "replay. All aggregates CAST to BIGINT so no HUGEINT reaches the "
    "result set.",
    tags=("llm", "text", "ml", "diagnostic"),
)
def doc_quality_logreg_features(spark, sf_dir):
    feat = _logreg_spark_feat(spark, sf_dir)
    return feat.selectExpr(
        "CAST(count(*) AS BIGINT) AS n_docs",
        "CAST(sum(x1) AS BIGINT) AS sum_x1",
        "CAST(min(x1) AS BIGINT) AS min_x1",
        "CAST(max(x1) AS BIGINT) AS max_x1",
        "CAST(sum(x2) AS BIGINT) AS sum_x2",
        "CAST(sum(x3) AS BIGINT) AS sum_x3",
        "CAST(min(x3) AS BIGINT) AS min_x3",
        "CAST(max(x3) AS BIGINT) AS max_x3",
        "CAST(sum(y9) DIV 1000000000 AS BIGINT) AS n_pos",
    )


def _logreg_round1_oracle_sql() -> str:
    """Round 1 of the GD replay only (initial weights are zero, so the
    pre-activation is the constant 5e8 and err = 5e8 - y9)."""
    p = "CAST(500000000 AS BIGINT)"
    return f"""
    WITH {_LOGREG_FEAT_SQL.strip()},
    g1 AS (
      SELECT sum(err * x0) AS s0, sum(err * x1) AS s1,
             sum(err * x2) AS s2, sum(err * x3) AS s3,
             sum(abs(err)) AS sa
      FROM (SELECT ({p}) - y9 AS err, x0, x1, x2, x3 FROM feat)
    )
    SELECT {', '.join(
        f"CAST(CAST(0 AS BIGINT) - "
        f"{_tdiv_sql(_tdiv_sql(f's{k}', 'n * 1000'), '4')} "
        f"AS BIGINT) AS w{k}" for k in range(4))},
           CAST(sa // (n * 1000000) AS BIGINT) AS mean_abs_err_permille
    FROM g1, nn
    """


@register(
    "doc_quality_logreg_round1",
    oracle=_logreg_round1_oracle_sql(),
    doc="Gate diagnostic (bisection) for doc_quality_logreg: the round-1 "
    "weight update only — with zero initial weights the activation is a "
    "constant, so this isolates the gradient-sum + truncating-division "
    "update step from both the feature CTE (covered by _features) and "
    "the multi-round z path. Red here = the integer update math "
    "diverges on the driver's DuckDB.",
    tags=("llm", "text", "ml", "diagnostic"),
)
def doc_quality_logreg_round1(spark, sf_dir):
    feat = _logreg_spark_feat(spark, sf_dir)
    n = feat.count()

    def tdiv(a: int, b: int) -> int:
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    err = "((CAST(500000000 AS BIGINT)) - y9)"
    s = feat.selectExpr(
        f"sum({err} * x0) AS s0",
        f"sum({err} * x1) AS s1",
        f"sum({err} * x2) AS s2",
        f"sum({err} * x3) AS s3",
        f"sum(abs({err})) AS sa",
    ).collect()[0]
    row = tuple(
        -tdiv(tdiv(s[f"s{k}"], n * 1000), 4) for k in range(4)
    ) + (tdiv(s["sa"], n * 1000000),)
    return spark.createDataFrame(
        [row],
        "w0 long, w1 long, w2 long, w3 long, mean_abs_err_permille long",
    )


# cross-engine 60-bit hash bucket (same idiom as simhash_md5):
#   DuckDB ('0x'||substr(md5(x),1,15))::BIGINT == Spark conv(substr(md5(x),1,15),16,10)
def _md5_bucket_sql(expr: str, mod: int) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT % {mod})"


def _md5_bucket_col(col, mod: int):
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long") % mod


# ---------------------------------------------------------------------------
# Sparse hashed-feature classifier training: weights live as a DataFrame.
# ---------------------------------------------------------------------------
# The fastText/CCNet-shaped quality classifier: hashed unigram+bigram bag
# features into _HL_H buckets, binary presence, hard-sigmoid logistic
# regression. The 100 TB point vs doc_quality_logreg (dense, 4 weights as
# driver scalars): here the weight VECTOR is itself distributed data —
# each GD round is two shuffles (feature join + per-bucket gradient agg)
# and a tiny broadcast of the weight table; the driver never holds a
# weight. That is the only shape that survives 2^20+ bucket classifiers.

_HL_H = 1024          # feature buckets (bias rides in bucket _HL_H)
_HL_ROUNDS = 3
_HL_ZDIV = 16         # pre-activation scale: p = clamp(5e8 + z/16)
_HL_WDIV = 4          # step: w -= g / (n * 4)


def _hashed_logreg_ctes() -> tuple[list[str], list[str], str]:
    """(cte_parts, per_round_stat_selects, final_weight_cte_name) — the
    shared GD-trajectory replay used by both hashed-logreg oracles."""
    b = _md5_bucket_sql("gtok", _HL_H)
    parts = [
        f"""docs_y AS (
      SELECT doc_id,
             CASE WHEN lang = 'en' THEN CAST(1000000000 AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS y9,
             string_split(text, ' ') AS ws
      FROM documents
    ),
    grams AS (
      SELECT doc_id, y9, unnest(ws) AS gtok FROM docs_y
      UNION ALL
      SELECT doc_id, y9, unnest(
        CASE WHEN len(ws) >= 2
             THEN list_transform(range(1, len(ws)),
                    i -> ws[i] || ' ' || ws[i + 1])
             ELSE [] END) AS gtok
      FROM docs_y
    ),
    feat AS (
      SELECT DISTINCT doc_id, y9, CAST({b} AS BIGINT) AS h FROM grams
      UNION
      SELECT doc_id, y9, CAST({_HL_H} AS BIGINT) AS h FROM docs_y
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docs_y)"""
    ]
    selects = []
    prev_w = None
    for r in range(1, _HL_ROUNDS + 1):
        if prev_w is None:
            parts.append(
                f"""e{r} AS (
      SELECT doc_id, CAST(500000000 AS BIGINT) - y9 AS err FROM docs_y
    )"""
            )
        else:
            parts.append(
                f"""z{r} AS (
      SELECT f.doc_id, f.y9,
             CAST(sum(coalesce(w.w, 0)) AS BIGINT) AS z
      FROM feat f LEFT JOIN {prev_w} w USING (h)
      GROUP BY f.doc_id, f.y9
    ),
    e{r} AS (
      SELECT doc_id,
             least(greatest(CAST(500000000 AS BIGINT)
                     + {_tdiv_sql('z', str(_HL_ZDIV))},
                   CAST(0 AS BIGINT)), CAST(1000000000 AS BIGINT)) - y9
               AS err
      FROM z{r}
    )"""
            )
        parts.append(
            f"""g{r} AS (
      SELECT f.h, CAST(sum(e.err) AS BIGINT) AS g
      FROM feat f JOIN e{r} e USING (doc_id)
      GROUP BY f.h
    )"""
        )
        upd = _tdiv_sql("g.g", f"nn.n * {_HL_WDIV}")
        if prev_w is None:
            parts.append(
                f"w{r} AS (SELECT g.h, CAST(0 - {upd} AS BIGINT) AS w "
                f"FROM g{r} g, nn)"
            )
        else:
            parts.append(
                f"""w{r} AS (
      SELECT g.h, CAST(coalesce(w.w, 0) - {upd} AS BIGINT) AS w
      FROM g{r} g LEFT JOIN {prev_w} w USING (h), nn
    )"""
            )
        # loss numerator is sum(abs(err)) >= 0 -> raw // is version-safe
        selects.append(
            f"""SELECT CAST({r} AS INTEGER) AS step,
           CAST((SELECT sum(abs(err)) FROM e{r}) // (nn.n * 1000000)
                AS BIGINT) AS loss_permille,
           (SELECT CAST(count(*) FILTER (WHERE w <> 0) AS BIGINT)
            FROM w{r}) AS n_active_buckets,
           (SELECT CAST(sum(abs(w)) AS BIGINT) FROM w{r}) AS sum_abs_w,
           (SELECT CAST(max(abs(w)) AS BIGINT) FROM w{r}) AS max_abs_w
    FROM nn"""
        )
        prev_w = f"w{r}"
    return parts, selects, prev_w


def _hashed_logreg_oracle_sql() -> str:
    parts, selects, _ = _hashed_logreg_ctes()
    return (
        "WITH "
        + ",\n".join(parts)
        + "\n"
        + " UNION ALL ".join(selects)
        + " ORDER BY step"
    )


def _hashed_logreg_topk_oracle_sql() -> str:
    parts, _, wfin = _hashed_logreg_ctes()
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
    SELECT CAST(h AS BIGINT) AS bucket, CAST(w AS BIGINT) AS weight_nano
    FROM {wfin} WHERE w <> 0
    ORDER BY abs(w) DESC, h LIMIT 20
    """
    )


@register(
    "doc_quality_logreg_hashed",
    oracle=_hashed_logreg_oracle_sql(),
    doc="Sparse hashed-feature quality classifier trained in-engine, the "
    "fastText/CCNet shape: unigram+bigram bag features hashed into "
    f"{_HL_H} buckets (60-bit md5 prefix % {_HL_H}; bias in bucket "
    f"{_HL_H}), binary presence, {_HL_ROUNDS} rounds of hard-sigmoid "
    "logistic GD in EXACT BIGINT arithmetic (truncating division, "
    "sign-explicit in the oracle via _tdiv_sql). The architectural point "
    "vs doc_quality_logreg: the weight vector is a DataFrame, never a "
    "driver value — per round, one broadcast-join of features to "
    "weights + per-doc sum (scoring), one join of features to errors + "
    "per-bucket sum (gradient), one left-join update of the weight "
    "table; the driver sees only the corpus count. This is the training "
    "shape that scales to 2^20+ buckets x 100 TB corpora where dense "
    "driver-side weights are impossible. Output: per-round loss and "
    "weight-table aggregates (active buckets, sum/max |w|) — aggregates "
    "only, so even the report never ships weights. (On this synthetic "
    "corpus tokens are independent of lang, so loss hovers near chance "
    "— the verified property is the exact distributed trajectory, like "
    "the dense twin.)",
    tags=("llm", "text", "ml"),
)
def doc_quality_logreg_hashed(spark, sf_dir):
    stats, _w, cached = _hashed_logreg_run(spark, sf_dir)
    try:
        out = stats[0]
        for s in stats[1:]:
            out = out.unionByName(s)
        out = out.orderBy("step")
        # materialize the 3-row report, then release the training cache
        # (corpus feat + per-round weight tables) — the rows are O(rounds)
        # scalars, same driver-traffic class as the loss itself
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        for df in cached:
            df.unpersist()


def _hashed_logreg_run(spark, sf_dir, n_buckets: int = _HL_H):
    """Run the sparse GD; returns (per-round stats DataFrames, final
    weight DataFrame, cached DataFrames) — shared by the trajectory
    report and the top-features report. ``n_buckets`` widens the hash
    space (bias rides in bucket ``n_buckets``); the oracle-gated
    queries pin the default, while the bench drives a 2^16-bucket run
    to demonstrate the weights-as-DataFrame shape at realistic
    classifier width. ``cached`` lists every persisted
    DataFrame (the corpus-sized feat table + each round's weight table);
    the CALLER must unpersist them all once its result rows are
    materialized (both registered queries collect their tiny result and
    rebuild it as a local DataFrame precisely so they can release the
    cache in a finally — before r7 a full-registry run leaked one corpus
    cache plus three weight tables per training query)."""
    d = _docs_spread(spark, sf_dir)
    docs_y = d.selectExpr(
        "doc_id",
        "CASE WHEN lang = 'en' THEN CAST(1000000000 AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END AS y9",
        "split(text, ' ') AS ws",
    )
    uni = docs_y.select("doc_id", "y9", F.explode("ws").alias("gtok"))
    bi = docs_y.filter(F.size("ws") >= 2).select(
        "doc_id",
        "y9",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1), "
                "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"
            )
        ).alias("gtok"),
    )
    grams = uni.unionByName(bi).select(
        "doc_id", "y9", _md5_bucket_col(F.col("gtok"), n_buckets).alias("h")
    )
    bias = docs_y.select(
        "doc_id", "y9", F.lit(n_buckets).cast("long").alias("h")
    )
    feat = grams.unionByName(bias).distinct().persist()
    cached = [feat]
    n = docs_y.count()
    feat.count()  # materialize ONCE: every round references feat 2x

    w = None
    stats = []
    for r in range(1, _HL_ROUNDS + 1):
        if w is None:
            err = docs_y.select(
                "doc_id",
                (F.lit(500000000).cast("long") - F.col("y9")).alias("err"),
            )
        else:
            z = (
                feat.join(F.broadcast(w), "h", "left")
                .groupBy("doc_id", "y9")
                .agg(
                    F.sum(F.coalesce("w", F.lit(0)))
                    .cast("long")
                    .alias("z")
                )
            )
            err = z.selectExpr(
                "doc_id",
                f"least(greatest(CAST(500000000 AS BIGINT) "
                f"+ z DIV {_HL_ZDIV}, CAST(0 AS BIGINT)), "
                "CAST(1000000000 AS BIGINT)) - y9 AS err",
            )
        # persist the doc-sized error frame (2 longs/doc): it has TWO
        # consumers — the gradient aggregate inside this round's weight
        # materialization, and the end-of-run loss aggregate. Unpersisted,
        # the loss job replayed the full scoring pass (feat join + corpus
        # aggregate) once more per round when the caller finally executed
        # the stats union (r11 VERDICT item 3: 4 corpus-scale jobs per
        # round; with the cache the stats union reads doc-sized caches).
        # The weight-materialization count below populates it (g reads
        # err), so no extra job is spent.
        err = err.persist()
        cached.append(err)
        g = (
            feat.join(err, "doc_id")
            .groupBy("h")
            .agg(F.sum("err").cast("long").alias("g"))
        )
        step = f"g DIV {n * _HL_WDIV}"
        if w is None:
            w = g.selectExpr("h", f"CAST(0 - ({step}) AS LONG) AS w")
        else:
            # weight table is <= _HL_H + 1 rows — broadcast, never shuffle
            w = g.join(F.broadcast(w), "h", "left").selectExpr(
                "h", f"CAST(coalesce(w, 0) - ({step}) AS LONG) AS w"
            )
        w = w.persist()
        cached.append(w)
        # Materialize the (<= _HL_H + 1)-row weight table NOW: round r+1's
        # scoring join, the update join, and the stats aggregate all
        # reference it, and leaving it lazy makes the final DAG replay
        # every round's full subtree per reference (measured 17 s -> 3 s
        # cold at sf0.1). The count moves ONE scalar to the driver; the
        # weights themselves never leave the executors.
        w.count()
        loss = err.agg(
            F.expr(f"sum(abs(err)) DIV {n * 1000000}")
            .cast("long")
            .alias("loss_permille")
        )
        wstats = w.agg(
            F.count(F.when(F.col("w") != 0, 1))
            .cast("long")
            .alias("n_active_buckets"),
            F.sum(F.abs("w")).cast("long").alias("sum_abs_w"),
            F.max(F.abs("w")).cast("long").alias("max_abs_w"),
        )
        stats.append(
            loss.crossJoin(wstats).select(
                F.lit(r).cast("int").alias("step"),
                "loss_permille",
                "n_active_buckets",
                "sum_abs_w",
                "max_abs_w",
            )
        )
    return stats, w, cached


@register(
    "doc_quality_logreg_hashed_topfeatures",
    oracle=_hashed_logreg_topk_oracle_sql(),
    doc="The sparse classifier's interpretability report — top-20 hashed "
    "feature buckets by |weight| after the full doc_quality_logreg_hashed "
    "trajectory (the fastText 'most predictive n-grams' listing, modulo "
    "hashing). Beyond interpretability this pins the ENTIRE distributed "
    "weight table cross-engine: the trajectory report checks only "
    "aggregates, while this one hash-gates individual trained weights "
    "(ORDER BY abs(w) DESC, h — total order, no ties). Scale shape: the "
    "training replay plus one TakeOrdered(20) over the bucket-sized "
    "weight table.",
    tags=("llm", "text", "ml"),
)
def doc_quality_logreg_hashed_topfeatures(spark, sf_dir):
    _stats, w, cached = _hashed_logreg_run(spark, sf_dir)
    try:
        out = (
            w.filter(F.col("w") != 0)
            .select(
                F.col("h").cast("long").alias("bucket"),
                F.col("w").cast("long").alias("weight_nano"),
            )
            .orderBy(F.abs("weight_nano").desc(), "bucket")
            .limit(20)
        )
        # materialize the 20-row report, then release the training cache
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        for df in cached:
            df.unpersist()


# ---------------------------------------------------------------------------
# Round 5 (late): training-export mechanics — deterministic output sharding
# and a dedup-consistent train/validation split. Both are pure hash-and-
# aggregate plans (one shuffle each), the shapes a 100 TB export job needs.
# ---------------------------------------------------------------------------

_N_SHARDS = 8

# (_md5_bucket_sql / _md5_bucket_col are defined above the hashed-logreg
# section, which also uses them at registration time.)


@register(
    "doc_shard_assignment",
    oracle=f"""
    WITH assigned AS (
      SELECT {_md5_bucket_sql("CAST(doc_id AS VARCHAR)", "_NSH_")} AS shard,
             len(str_split_regex(trim(text), '\\s+')) AS n_tokens
      FROM documents
    ),
    per_shard AS (
      SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
      FROM assigned GROUP BY shard
    )
    SELECT shard, n_docs, sum_tokens,
           round(sum_tokens / (sum(sum_tokens) OVER () / CAST(_NSH_ AS DOUBLE)), 6)
             AS balance_ratio
    FROM per_shard ORDER BY shard
    """.replace("_NSH_", str(_N_SHARDS)),
    doc="Deterministic hash sharding for training-data export: every doc "
    "lands in shard md5(doc_id) % 8, so the assignment is reproducible "
    "across runs and engines (no RNG, no order dependence), and shards "
    "balance by the law of large numbers. The report surfaces per-shard "
    "doc/token totals and each shard's token mass relative to the ideal "
    "1/N share (balance_ratio ~ 1.0), making imbalance observable instead "
    "of assumed. Scale: one shuffle on the shard key; the window over the "
    "8-row aggregate is driver-trivial. This is the export-side sibling "
    "of doc_token_budget_trim (selection) and doc_chunking (layout).",
    tags=("llm", "text", "export", "sharding"),
)
def doc_shard_assignment(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    assigned = d.select(
        _md5_bucket_col(F.col("doc_id").cast("string"), _N_SHARDS).alias("shard"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    per_shard = assigned.groupBy("shard").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("sum_tokens")
    )
    total = per_shard.agg(F.sum("sum_tokens").alias("_total"))
    return (
        per_shard.crossJoin(F.broadcast(total))
        .withColumn(
            "balance_ratio",
            F.round(
                F.col("sum_tokens") / (F.col("_total") / float(_N_SHARDS)), 6
            ),
        )
        .select("shard", "n_docs", "sum_tokens", "balance_ratio")
        .orderBy("shard")
    )


@register(
    "doc_leakage_free_split",
    oracle=f"""
    WITH g AS (
      SELECT doc_id,
             md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS content_md5,
             len(str_split_regex(trim(text), '\\s+')) AS n_tokens
      FROM documents
    ),
    assigned AS (
      SELECT 'content_hash' AS scheme,
             CASE WHEN {_md5_bucket_sql("content_md5", 10)} < 9
                  THEN 'train' ELSE 'val' END AS split,
             content_md5, n_tokens
      FROM g
      UNION ALL
      SELECT 'doc_id' AS scheme,
             CASE WHEN {_md5_bucket_sql("CAST(doc_id AS VARCHAR)", 10)} < 9
                  THEN 'train' ELSE 'val' END AS split,
             content_md5, n_tokens
      FROM g
    ),
    leaky AS (
      SELECT scheme,
             CAST(count(*) FILTER (WHERE n_splits > 1) AS BIGINT)
               AS n_leaky_groups
      FROM (
        SELECT scheme, content_md5, count(DISTINCT split) AS n_splits
        FROM assigned GROUP BY scheme, content_md5
      ) GROUP BY scheme
    )
    SELECT a.scheme, a.split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT a.content_md5) AS BIGINT) AS n_groups,
           CAST(sum(a.n_tokens) AS BIGINT) AS n_tokens,
           max(l.n_leaky_groups) AS n_leaky_groups
    FROM assigned a JOIN leaky l ON l.scheme = a.scheme
    GROUP BY a.scheme, a.split
    ORDER BY a.scheme, a.split
    """,
    doc="Dedup-consistent train/validation split: hashing the NORMALIZED-"
    "CONTENT group key sends every copy of a duplicated document to the "
    "same split (n_leaky_groups = 0 by construction), while the naive "
    "doc_id hash demonstrably scatters duplicate groups across splits — "
    "the train/test contamination mechanism SemDeDup/decontamination "
    "papers warn about, here measured side-by-side in one plan. 90/10 "
    "split via the same cross-engine md5 bucket as doc_shard_assignment. "
    "Scale: one shuffle per scheme on (scheme, content_md5); the leaky "
    "count broadcasts a 2-row aggregate back onto the split rows.",
    tags=("llm", "text", "dedup", "split"),
)
def doc_leakage_free_split(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    g = d.select(
        "doc_id",
        TX.content_fingerprint(F.col("text")).alias("content_md5"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    by_content = g.select(
        F.lit("content_hash").alias("scheme"),
        F.when(_md5_bucket_col(F.col("content_md5"), 10) < 9, "train")
        .otherwise("val")
        .alias("split"),
        "content_md5",
        "n_tokens",
    )
    by_id = g.select(
        F.lit("doc_id").alias("scheme"),
        F.when(_md5_bucket_col(F.col("doc_id").cast("string"), 10) < 9, "train")
        .otherwise("val")
        .alias("split"),
        "content_md5",
        "n_tokens",
    )
    assigned = by_content.unionByName(by_id)
    leaky = (
        assigned.groupBy("scheme", "content_md5")
        .agg(F.countDistinct("split").alias("n_splits"))
        .groupBy("scheme")
        .agg(
            F.sum((F.col("n_splits") > 1).cast("long")).alias("n_leaky_groups")
        )
    )
    return (
        assigned.groupBy("scheme", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("content_md5").alias("n_groups"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .join(F.broadcast(leaky), "scheme")
        .select(
            "scheme", "split", "n_docs", "n_groups", "n_tokens", "n_leaky_groups"
        )
        .orderBy("scheme", "split")
    )


_PACK_CTX = 512


@register(
    "doc_sequence_packing",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id,
             {_md5_bucket_sql("CAST(doc_id AS VARCHAR)", "_NSH_")} AS shard,
             len(str_split_regex(trim(text), '\\s+')) AS n_tokens
      FROM documents
    ),
    placed AS (
      SELECT shard, n_tokens,
             sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM docs
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST((sum(n_tokens) + {_PACK_CTX} - 1) // {_PACK_CTX} AS BIGINT)
             AS n_seqs,
           CAST((sum(n_tokens) + {_PACK_CTX} - 1) // {_PACK_CTX} * {_PACK_CTX}
                - sum(n_tokens) AS BIGINT) AS pad_tokens,
           CAST(sum(CASE WHEN (cum - n_tokens) // {_PACK_CTX}
                              <> (cum - 1) // {_PACK_CTX}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_docs
    FROM placed GROUP BY shard ORDER BY shard
    """.replace("_NSH_", str(_N_SHARDS)),
    doc="Concatenate-and-chunk sequence packing (the layout step between "
    "curation and the trainer): per hash shard, documents are laid out "
    "in deterministic doc_id order, the token stream is chopped into "
    "512-token training sequences, and the report gives sequence count, "
    "padding waste (only the final partial sequence pads), and how many "
    "documents straddle a sequence boundary (the attention-mask / "
    "document-leakage consideration in packed pretraining). Exact "
    "integer cumsum WINDOWED PER SHARD — the sort parallelizes across "
    "shards, never a global single-partition cumsum; at 100 TB the unit "
    "of sequential work stays one shard of one partition.",
    tags=("llm", "text", "export", "window"),
)
def doc_sequence_packing(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        _md5_bucket_col(F.col("doc_id").cast("string"), _N_SHARDS).alias("shard"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    w = (
        W.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    ctx = _PACK_CTX
    placed = docs.withColumn("cum", F.sum("n_tokens").over(w))
    n_seqs = F.floor((F.sum("n_tokens") + ctx - 1) / ctx).cast("long")
    straddles = (
        F.floor((F.col("cum") - F.col("n_tokens")) / ctx)
        != F.floor((F.col("cum") - 1) / ctx)
    ).cast("long")
    return (
        placed.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            n_seqs.alias("n_seqs"),
            (n_seqs * ctx - F.sum("n_tokens")).alias("pad_tokens"),
            F.sum(straddles).alias("n_boundary_docs"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# Round 5 (late): distributed BPE tokenizer TRAINING — the full multi-round
# merge loop, engine-deterministic and oracle-replayed (the logreg/Lloyd
# discipline applied to the tokenizer-training workload).
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 8


def _bpe_w0_sql() -> str:
    """Round-0 vocab CTE: distinct lowercased whitespace words (len >= 2;
    single-char words can never join a pair in any round), as a space-
    delimited symbol string, with corpus frequency. Vocab-level training
    makes the whole loop duplication-invariant: 10x-replicated corpora
    (the stress sweep) change freq, never the trajectory-relevant ratios."""
    return f"""
    w0 AS (
      SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS sym_str,
             CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest({_DD_TOKENS_LOWER}) AS w FROM documents)
      WHERE length(w) >= 2
      GROUP BY 1
    )"""


def _bpe_round_sql(r: int) -> str:
    """One replayed merge round: pair counts over w{r-1}, deterministic
    argmax (count DESC, pair ASC), and the merged vocab w{r} via the same
    left-to-right non-overlapping fold the Spark side applies (list_reduce
    with a space-delimited string accumulator; append-b IS the merge
    because the merged symbol is the concatenation a || b)."""
    prev, cur = f"w{r - 1}", f"w{r}"
    return f"""
    p{r} AS (
      SELECT pair, CAST(sum(freq) AS BIGINT) AS n
      FROM (
        SELECT unnest(CASE WHEN len(s) >= 2
                 THEN [s[i] || ' ' || s[i + 1]
                       for i in generate_series(1, len(s) - 1)]
                 ELSE [] END) AS pair, freq
        FROM (SELECT str_split(sym_str, ' ') AS s, freq FROM {prev})
      ) GROUP BY pair
    ),
    b{r} AS (SELECT pair, n FROM p{r} ORDER BY n DESC, pair LIMIT 1),
    {cur} AS (
      -- 1-row cross join: DuckDB lambdas cannot hold subqueries, but
      -- they can capture columns of the enclosing row
      SELECT list_reduce(str_split(sym_str, ' '),
               (acc, s) -> CASE WHEN (acc = ba{r}
                                      OR ends_with(acc, ' ' || ba{r}))
                                 AND s = bb{r}
                           THEN acc || bb{r}
                           ELSE acc || ' ' || s END) AS sym_str,
             freq
      FROM {prev},
           (SELECT split_part(pair, ' ', 1) AS ba{r},
                   split_part(pair, ' ', 2) AS bb{r} FROM b{r})
    )"""


def _bpe_oracle_sql() -> str:
    stages = ",".join(_bpe_round_sql(r) for r in range(1, _BPE_ROUNDS + 1))
    steps = " UNION ALL ".join(
        f"SELECT {r} AS step, split_part(pair, ' ', 1) AS sym_a, "
        f"split_part(pair, ' ', 2) AS sym_b, "
        f"replace(pair, ' ', '') AS merged, n FROM b{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )
    return f"WITH {_bpe_w0_sql()},{stages} {steps} ORDER BY step"


def _bpe_adjacent_pairs(sym_str):
    syms = F.split(sym_str, " ")
    return F.when(
        F.size(syms) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(syms) - 1),
            lambda i: F.concat(
                F.element_at(syms, i), F.lit(" "), F.element_at(syms, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _bpe_apply_merge(sym_str, sym_a: str, sym_b: str):
    """Left-to-right non-overlapping merge of adjacent (sym_a, sym_b) as a
    fold over the symbol string — appending sym_b to a trailing sym_a IS
    the merge (merged symbol = concatenation), and the freshly merged
    tail can never re-trigger (a||b = a is impossible for nonempty b), so
    the fold equals the canonical single-pass BPE merge. Literals go
    through F.lit (no SQL-string injection from corpus-derived symbols)."""
    syms = F.split(sym_str, " ")
    rest = F.slice(syms, 2, F.size(syms) - 1)
    la, lb = F.lit(sym_a), F.lit(sym_b)
    return F.aggregate(
        rest,
        F.element_at(syms, 1),
        lambda acc, s: F.when(
            (s == lb)
            & ((acc == la) | acc.endswith(F.concat(F.lit(" "), la))),
            F.concat(acc, lb),
        ).otherwise(F.concat(acc, F.lit(" "), s)),
    )


@register(
    "text_bpe_train_merges",
    oracle=_bpe_oracle_sql(),
    doc=f"Distributed BPE tokenizer TRAINING, the full loop: {_BPE_ROUNDS} "
    "merge rounds over the corpus vocabulary, engine-deterministic end to "
    "end and replayed stage-by-stage by the DuckDB oracle (the "
    "doc_quality_logreg discipline applied to tokenizer training). Scale "
    "shape: train on the (word, freq) vocab table — one corpus-sized "
    "shuffle up front, then every round is ONE vocab-sized partial+final "
    "pair-count aggregate; only the argmax row (1 pair) reaches the "
    "driver per round, never the vocab. Merge application is a JVM-side "
    "fold (F.aggregate) over each word's symbol string — no Python in "
    "the loop, no collect of word lists. Ties break (count DESC, pair "
    "ASC): binary-deterministic on both engines. Vocab-level training is "
    "also duplication-invariant, so the k-replicated stress corpora "
    "exercise identical trajectories at scaled counts. Output: the merge "
    "table (step, pair, merged symbol, count) — the artifact a tokenizer "
    "ships. Reference analog: none (the collector does no NLP); this is "
    "the LLM-pipeline extension surface, cf. Sennrich et al. 2016.",
    tags=("llm", "text", "ml"),
)
def text_bpe_train_merges(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    words = (
        d.select(F.explode(TX.tokens(F.lower(F.col("text")))).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select(
            F.trim(F.regexp_replace("w", "(.)", "$1 ")).alias("sym_str"),
            "freq",
        )
        .cache()
    )
    rows = []
    # ONE job per merge round (r11 VERDICT item 8: the loop ran 2 jobs/
    # round — argmax collect + a dedicated merged.count materialization —
    # i.e. ~51 near-empty scheduling stages at sf0.1): the round-r argmax
    # scan itself materializes round r-1's cached vocab (one-step lineage:
    # its parent generation is still cached while it fills), and the
    # parent is unpersisted only after the child's cache is populated.
    # Round 0 likewise materializes inside round 1's argmax instead of a
    # dedicated count. Argmax/merge values are untouched.
    prev = None
    try:
        for r in range(1, _BPE_ROUNDS + 1):
            best = (
                words.select(
                    F.explode(_bpe_adjacent_pairs(F.col("sym_str"))).alias(
                        "pair"
                    ),
                    "freq",
                )
                .groupBy("pair")
                .agg(F.sum("freq").alias("n"))
                .orderBy(F.desc("n"), "pair")
                .limit(1)
                .collect()
            )
            if prev is not None:  # child cache is populated now
                prev.unpersist()
                prev = None
            if not best:  # fully merged vocab (never at corpus scale)
                break
            pair, n = best[0]["pair"], int(best[0]["n"])
            sym_a, sym_b = pair.split(" ", 1)
            rows.append((r, sym_a, sym_b, sym_a + sym_b, n))
            merged = words.select(
                _bpe_apply_merge(F.col("sym_str"), sym_a, sym_b).alias(
                    "sym_str"
                ),
                "freq",
            ).cache()
            prev, words = words, merged
    finally:
        words.unpersist()
        if prev is not None:
            prev.unpersist()
    return spark.createDataFrame(
        rows, "step int, sym_a string, sym_b string, merged string, n long"
    ).orderBy("step")


_EPOCH_BUDGET_X = 3  # train-token budget as a multiple of the corpus total


@register(
    "doc_epoch_schedule",
    oracle=f"""
    WITH per_source AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len({_DD_TOKENS})) AS BIGINT) AS avail_tokens
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(sum(avail_tokens) AS BIGINT) AS corpus_tokens,
             CAST(count(*) AS BIGINT) AS n_sources
      FROM per_source
    )
    SELECT source, n_docs, avail_tokens,
           (corpus_tokens * {_EPOCH_BUDGET_X}) // n_sources AS target_tokens,
           ((corpus_tokens * {_EPOCH_BUDGET_X}) // n_sources * 1000)
             // avail_tokens AS epochs_milli,
           CAST(((corpus_tokens * {_EPOCH_BUDGET_X}) // n_sources * 1000)
             // avail_tokens > 4000 AS BIGINT) AS over_4_epochs
    FROM per_source, tot
    ORDER BY source
    """,
    doc="Epoch budgeting for a mixture-balanced training run (the "
    "Chinchilla-style data-recipe accounting step): per source, available "
    f"tokens vs an equal share of a {_EPOCH_BUDGET_X}x-corpus token "
    "budget, and the implied repeat factor in exact milli-epochs "
    "(integer DIV end to end — no floats, hash-stable). Sources whose "
    "share demands > 4 epochs are flagged: past ~4 repeats, extra epochs "
    "of the same data stop helping (Muennighoff et al. 2023, 'Scaling "
    "Data-Constrained Language Models'). Scale shape: one partial+final "
    "aggregate over the corpus + a 1-row broadcast of the totals — the "
    "per-source plan is source-cardinality-sized, never corpus-sized.",
    tags=("llm", "text", "sampling"),
)
def doc_epoch_schedule(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(TX.tokens(F.col("text")))).cast("long").alias(
            "avail_tokens"
        ),
    )
    tot = per_source.agg(
        F.sum("avail_tokens").alias("corpus_tokens"),
        F.count("*").alias("n_sources"),
    )
    target = F.expr(
        f"corpus_tokens * {_EPOCH_BUDGET_X} DIV n_sources"
    ).alias("target_tokens")
    epochs = F.expr(
        f"(corpus_tokens * {_EPOCH_BUDGET_X} DIV n_sources) * 1000 "
        "DIV avail_tokens"
    ).alias("epochs_milli")
    over = F.expr(
        f"CAST(((corpus_tokens * {_EPOCH_BUDGET_X} DIV n_sources) * 1000 "
        "DIV avail_tokens) > 4000 AS BIGINT)"
    ).alias("over_4_epochs")
    return (
        per_source.crossJoin(F.broadcast(tot))
        .select("source", "n_docs", "avail_tokens", target, epochs, over)
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 + vector cosine fused with Reciprocal-Rank Fusion.
# ---------------------------------------------------------------------------

_RRF_C = 60          # the standard RRF constant (Cormack et al. 2009)
_RRF_LIST_K = 50     # per-modality candidate list depth
_RRF_TOP = 10        # fused results per query
_RRF_QMOD, _RRF_QREM = 83, 7  # deterministic query-doc selector
_RRF_QCAP = 500  # query ids bounded to the base-id range: the query SET
                 # stays fixed-size as the corpus grows (O(q*n) brute
                 # force, not O(n^2/83)); base ids < 500 exist at every
                 # SF and survive the stress replicator's id offsets
_RRF_TERMS_PER_Q = 5          # query terms: 5 lexicographically-smallest


@register(
    "retrieval_hybrid_rrf",
    oracle=f"""
    WITH q AS (
      SELECT doc_id AS q_id, text FROM documents
      WHERE doc_id % {_RRF_QMOD} = {_RRF_QREM} AND doc_id < {_RRF_QCAP}
    ),
    qt AS (
      SELECT q_id, term FROM (
        SELECT q_id, t.term,
               row_number() OVER (PARTITION BY q_id ORDER BY t.term) AS rn
        FROM q CROSS JOIN
             unnest(list_distinct({_DD_TOKENS_LOWER})) AS t(term)
        WHERE length(t.term) >= 4
      ) WHERE rn <= {_RRF_TERMS_PER_Q}
    ),
    tok AS (
      SELECT doc_id, unnest({_DD_TOKENS_LOWER}) AS term FROM documents
    ),
    tf0 AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, term
    ),
    dl AS (
      SELECT doc_id, len({_DD_TOKENS_LOWER}) AS dl FROM documents
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ),
    df AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf0 GROUP BY term
    ),
    tscore AS (
      SELECT q_id, tf0.doc_id,
             CAST(sum(CAST(floor(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * (tf * ({_BM25_K1} + 1.0))
               / (tf + {_BM25_K1} * (1.0 - {_BM25_B}
                                     + {_BM25_B} * dl.dl / avgdl))
               * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS score_n
      FROM tf0
      JOIN qt USING (term)
      JOIN df USING (term)
      JOIN dl ON dl.doc_id = tf0.doc_id
      CROSS JOIN stats
      WHERE tf0.doc_id <> q_id
      GROUP BY q_id, tf0.doc_id
    ),
    trank AS (
      SELECT q_id, doc_id, rank_t FROM (
        SELECT q_id, doc_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY score_n DESC, doc_id) AS rank_t
        FROM tscore
      ) WHERE rank_t <= {_RRF_LIST_K}
    ),
    vq AS (
      SELECT vec_id AS q_id, embedding FROM embeddings
      WHERE vec_id % {_RRF_QMOD} = {_RRF_QREM} AND vec_id < {_RRF_QCAP}
    ),
    vscore AS (
      SELECT a.q_id, b.vec_id AS doc_id,
             CAST(floor({_COS_DD} * 1e6 + 0.5) AS BIGINT) AS cos_micro
      FROM vq a CROSS JOIN embeddings b
      WHERE b.vec_id <> a.q_id
    ),
    vrank AS (
      SELECT q_id, doc_id, rank_v FROM (
        SELECT q_id, doc_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos_micro DESC, doc_id) AS rank_v
        FROM vscore
      ) WHERE rank_v <= {_RRF_LIST_K}
    ),
    fused AS (
      SELECT coalesce(t.q_id, v.q_id) AS q_id,
             coalesce(t.doc_id, v.doc_id) AS doc_id,
             CAST(coalesce(1000000000 // ({_RRF_C} + t.rank_t), 0)
                  + coalesce(1000000000 // ({_RRF_C} + v.rank_v), 0)
                  AS BIGINT) AS rrf_n,
             t.rank_t AS text_rank, v.rank_v AS vec_rank
      FROM trank t
      FULL JOIN vrank v ON t.q_id = v.q_id AND t.doc_id = v.doc_id
    )
    SELECT q_id, doc_id, rrf_n, text_rank, vec_rank FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY rrf_n DESC, doc_id) AS rn
      FROM fused
    ) WHERE rn <= {_RRF_TOP}
    ORDER BY q_id, rrf_n DESC, doc_id
    """,
    doc="Hybrid retrieval with Reciprocal-Rank Fusion (Cormack et al. "
    "2009): per query document (deterministic id selector), a BM25 "
    "candidate list from its 5 lexicographically-smallest distinct "
    "terms (>= 4 chars) and a cosine candidate list from its "
    "embedding (doc i's vector is vec i), each ranked with a TOTAL "
    "order (nano/micro-quantized score desc, id asc), then fused as "
    "sum of 1e9 DIV (60 + rank) — integer-exact, so the fused ordering "
    "hashes cross-engine. This is the standard first-stage retrieval "
    "pattern for RAG and for hybrid near-dup mining in curation "
    "pipelines. Scale shape: query terms and query vectors are tiny "
    "broadcasts; the text side is an inverted-index equi-join (tf0 "
    "would be the pre-built index table at 100 TB); the vector side is "
    "query-broadcast brute force, swappable for the IVF/LSH path; "
    "fusion joins two (n_queries x k) lists — negligible.",
    tags=("llm", "text", "similarity", "search"),
)
def retrieval_hybrid_rrf(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    toks = TX.tokens(F.lower(F.col("text")))

    # query term sets: 5 smallest distinct >=4-char tokens per query doc
    wq = W.partitionBy("q_id").orderBy("term")
    qt = (
        d.filter(
            (F.col("doc_id") % _RRF_QMOD == _RRF_QREM)
            & (F.col("doc_id") < _RRF_QCAP)
        )
        .select(
            F.col("doc_id").alias("q_id"),
            F.explode(F.array_distinct(toks)).alias("term"),
        )
        .filter(F.length("term") >= 4)
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _RRF_TERMS_PER_Q)
        .drop("rn")
    )

    # ONE tokenize pass: tf0 is cached (it feeds the document-frequency
    # aggregate AND the candidate scoring join), and doc length derives
    # from tf0 as sum(tf) — the r10 shape re-tokenized the corpus for
    # tf0, dl and stats separately (plan audit: 11 exchanges, and the
    # dl join arrived as a SortMergeJoin over a second full scan).
    # sum(tf) == size(tokens) exactly: every token, including repeats,
    # lands in exactly one (doc_id, term) count.
    tf0 = (
        d.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .cache()
    )
    # doc length = sum(tf) over the cached index (== size(tokens): every
    # token lands in exactly one (doc_id, term) count). Corpus stats are
    # decoupled from dl (r11 ADVICE item 3): n_docs counts EVERY
    # documents row (a null-text doc has no tf0 rows and would otherwise
    # vanish from the denominator, where the oracle's stats CTE keeps it
    # with a NULL dl that its sum() skips), and total token mass is
    # sum(tf) over the whole cached index — sum(dl) == sum(tf) exactly.
    # The BM25 scoring join still reads the per-doc dl: a doc absent
    # from tf0 can never appear on the scoring probe side anyway.
    dl = tf0.groupBy("doc_id").agg(F.sum("tf").cast("int").alias("dl"))
    stats = (
        d.agg(F.count("*").alias("n_docs"))
        .crossJoin(tf0.agg(F.sum("tf").cast("double").alias("_tok_total")))
        .select(
            "n_docs", (F.col("_tok_total") / F.col("n_docs")).alias("avgdl")
        )
    )
    df_ = tf0.groupBy("term").agg(F.count("*").alias("df"))

    score_nano = F.floor(
        F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        )
        * (F.col("tf") * (_BM25_K1 + 1.0))
        / (
            F.col("tf")
            + _BM25_K1
            * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
        * 1e9
        + 0.5
    ).cast("long")
    tscore = (
        tf0.join(F.broadcast(qt), "term")
        .filter(F.col("doc_id") != F.col("q_id"))
        .join(F.broadcast(df_), "term")
        .join(dl.withColumnRenamed("doc_id", "_dld"), F.col("doc_id") == F.col("_dld"))
        .crossJoin(F.broadcast(stats))
        .select("q_id", "doc_id", score_nano.alias("score_n"))
        .groupBy("q_id", "doc_id")
        .agg(F.sum("score_n").alias("score_n"))
    )
    wt = W.partitionBy("q_id").orderBy(F.desc("score_n"), "doc_id")
    trank = (
        tscore.withColumn("rank_t", F.row_number().over(wt))
        .filter(F.col("rank_t") <= _RRF_LIST_K)
        .select("q_id", "doc_id", "rank_t")
    )

    emb = table(spark, sf_dir, "embeddings")
    vq = emb.filter(
        (F.col("vec_id") % _RRF_QMOD == _RRF_QREM)
        & (F.col("vec_id") < _RRF_QCAP)
    ).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    vscore = (
        emb.crossJoin(F.broadcast(vq))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("doc_id"),
            F.floor(
                cosine(F.col("embedding"), F.col("q_emb")) * 1e6 + 0.5
            )
            .cast("long")
            .alias("cos_micro"),
        )
    )
    wv = W.partitionBy("q_id").orderBy(F.desc("cos_micro"), "doc_id")
    vrank = (
        vscore.withColumn("rank_v", F.row_number().over(wv))
        .filter(F.col("rank_v") <= _RRF_LIST_K)
        .select("q_id", "doc_id", "rank_v")
    )

    fused = (
        trank.join(vrank, ["q_id", "doc_id"], "full_outer")
        .select(
            "q_id",
            "doc_id",
            (
                F.coalesce(
                    F.expr(f"1000000000 div ({_RRF_C} + rank_t)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"1000000000 div ({_RRF_C} + rank_v)"), F.lit(0)
                )
            )
            .cast("long")
            .alias("rrf_n"),
            F.col("rank_t").alias("text_rank"),
            F.col("rank_v").alias("vec_rank"),
        )
    )
    wf = W.partitionBy("q_id").orderBy(F.desc("rrf_n"), "doc_id")
    return (
        fused.withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") <= _RRF_TOP)
        .drop("rn")
        .orderBy("q_id", F.desc("rrf_n"), "doc_id")
    )


# ---------------------------------------------------------------------------
# MMR-diversified top-k: greedy re-ranking of the cosine candidate list.
# ---------------------------------------------------------------------------

_MMR_CAND_K = 20   # candidate list depth (relevance top-k)
_MMR_PICKS = 8     # diversified results per query
# lambda = 0.7 in integer tenths: mmr = 7*rel - 3*max_sim (micro units)
_MMR_W_REL, _MMR_W_DIV = 7, 3


def _mmr_oracle() -> str:
    """Unrolled greedy-trajectory oracle (the logreg/BPE replay pattern:
    chained CTEs, one per pick — recursive CTEs cannot aggregate over
    the recursive relation)."""
    comb1 = (
        f"CAST({_MMR_W_REL}*rel AS BIGINT)*1000000000 - doc_id"
    )
    steps = [
        f"""
    p1 AS (
      SELECT q_id, arg_max(doc_id, {comb1}) AS pick, max({comb1}) AS comb
      FROM cand GROUP BY q_id
    ),
    s1 AS (
      SELECT q_id, CAST(1 AS BIGINT) AS step, pick AS doc_id,
             CAST((comb + pick) // 1000000000 AS BIGINT) AS mmr_n
      FROM p1
    ),
    acc1 AS MATERIALIZED (SELECT q_id, [pick] AS sel FROM p1)"""
    ]
    for i in range(2, _MMR_PICKS + 1):
        comb = (
            f"CAST({_MMR_W_REL}*c.rel - {_MMR_W_DIV}*coalesce(ms.mx, 0)"
            f" AS BIGINT)*1000000000 - c.doc_id"
        )
        steps.append(f"""
    p{i} AS MATERIALIZED (
      SELECT c.q_id, arg_max(c.doc_id, {comb}) AS pick,
             max({comb}) AS comb
      FROM cand c
      JOIN acc{i - 1} v ON v.q_id = c.q_id
      LEFT JOIN (
        SELECT s.q_id, s.a AS doc_id, max(s.sim) AS mx
        FROM sims s
        JOIN acc{i - 1} v2 ON v2.q_id = s.q_id
             AND list_contains(v2.sel, s.b)
        GROUP BY s.q_id, s.a
      ) ms ON ms.q_id = c.q_id AND ms.doc_id = c.doc_id
      WHERE NOT list_contains(v.sel, c.doc_id)
      GROUP BY c.q_id
    ),
    s{i} AS (
      SELECT q_id, CAST({i} AS BIGINT) AS step, pick AS doc_id,
             CAST((comb + pick) // 1000000000 AS BIGINT) AS mmr_n
      FROM p{i}
    ),
    acc{i} AS MATERIALIZED (
      SELECT v.q_id, list_append(v.sel, p.pick) AS sel
      FROM acc{i - 1} v JOIN p{i} p USING (q_id)
    )""")
    union = "\n      UNION ALL\n      ".join(
        f"SELECT * FROM s{i}" for i in range(1, _MMR_PICKS + 1)
    )
    return f"""
    WITH vq AS (
      SELECT vec_id AS q_id, embedding FROM embeddings
      WHERE vec_id % {_RRF_QMOD} = {_RRF_QREM} AND vec_id < {_RRF_QCAP}
    ),
    vscore AS (
      SELECT a.q_id, b.vec_id AS doc_id,
             CAST(floor({_COS_DD} * 1e6 + 0.5) AS BIGINT) AS rel
      FROM vq a CROSS JOIN embeddings b
      WHERE b.vec_id <> a.q_id
    ),
    cand AS MATERIALIZED (
      SELECT q_id, doc_id, rel FROM (
        SELECT q_id, doc_id, rel,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY rel DESC, doc_id) AS rn
        FROM vscore
      ) WHERE rn <= {_MMR_CAND_K}
    ),
    sims AS MATERIALIZED (
      SELECT x.q_id, x.doc_id AS a, y.doc_id AS b,
             CAST(floor(
               list_dot_product(CAST(ea.embedding AS DOUBLE[]),
                                CAST(eb.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(ea.embedding AS DOUBLE[]),
                                        CAST(ea.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(eb.embedding AS DOUBLE[]),
                                          CAST(eb.embedding AS DOUBLE[]))))
               * 1e6 + 0.5) AS BIGINT) AS sim
      FROM cand x
      JOIN cand y ON x.q_id = y.q_id AND x.doc_id <> y.doc_id
      JOIN embeddings ea ON ea.vec_id = x.doc_id
      JOIN embeddings eb ON eb.vec_id = y.doc_id
    ),{",".join(steps)}
    SELECT q_id, step, doc_id, mmr_n FROM (
      {union}
    ) ORDER BY q_id, step
    """


@register(
    "retrieval_mmr_diversify",
    oracle=_mmr_oracle(),
    doc="Maximal-Marginal-Relevance diversified top-k (Carbonell & "
    "Goldstein 1998, lambda=0.7): greedy re-rank of each query's "
    "cosine top-20 — each pick maximizes 7*relevance - 3*max-"
    "similarity-to-already-picked, all in micro-quantized integer "
    "arithmetic with the doc-id tiebreak folded into one BIGINT "
    "(mmr*1e9 - doc_id), so the greedy trajectory is bit-identical "
    "cross-engine. Spark side: the inherently sequential per-query "
    "greedy runs as applyInPandas over (candidate, pairwise-sim) "
    "groups of k + k*(k-1) rows — the documented custom-operator path "
    "for semantics built-ins cannot express; candidate generation and "
    "the k x k sim table stay relational. The DuckDB oracle replays "
    "the identical 8-pick trajectory as unrolled chained CTEs (the "
    "logreg/BPE replay pattern). Diversified sampling of training "
    "batches and dedup-aware retrieval both reduce to this operator.",
    tags=("llm", "similarity", "search"),
)
def retrieval_mmr_diversify(spark, sf_dir):
    import pandas as pd

    emb = table(spark, sf_dir, "embeddings")
    vq = emb.filter(
        (F.col("vec_id") % _RRF_QMOD == _RRF_QREM)
        & (F.col("vec_id") < _RRF_QCAP)
    ).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    vscore = (
        emb.crossJoin(F.broadcast(vq))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("doc_id"),
            F.floor(cosine(F.col("embedding"), F.col("q_emb")) * 1e6 + 0.5)
            .cast("long")
            .alias("rel"),
        )
    )
    wv = W.partitionBy("q_id").orderBy(F.desc("rel"), "doc_id")
    cand = (
        vscore.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") <= _MMR_CAND_K)
        .drop("rn")
    )
    # fetch candidate embeddings by broadcasting the SMALL candidate set
    # into the embeddings scan (broadcasting embeddings itself would not
    # survive a 100 TB table); the enriched candidate list (n_q x k rows
    # with vectors) is then tiny and self-joins broadcast-side
    cand_emb = emb.join(
        F.broadcast(cand), emb["vec_id"] == cand["doc_id"]
    ).select("q_id", F.col("doc_id").alias("a"), "rel", F.col("embedding").alias("ea"))
    cb = cand_emb.select(
        F.col("q_id").alias("q2"),
        F.col("a").alias("b"),
        F.col("ea").alias("eb"),
    )
    pairs = (
        cand_emb.join(
            F.broadcast(cb),
            (cand_emb["q_id"] == cb["q2"]) & (cand_emb["a"] != cb["b"]),
        )
        .select(
            "q_id",
            "a",
            "rel",
            "b",
            F.floor(cosine(F.col("ea"), F.col("eb")) * 1e6 + 0.5)
            .cast("long")
            .alias("sim"),
        )
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        rel = {
            int(a): int(r)
            for a, r in pdf[["a", "rel"]].drop_duplicates().itertuples(
                index=False
            )
        }
        sim = {
            (int(a), int(b)): int(s)
            for a, b, s in pdf[["a", "b", "sim"]].itertuples(index=False)
        }
        q_id = int(pdf["q_id"].iloc[0])
        selected: list[int] = []
        out = []
        for step in range(1, _MMR_PICKS + 1):
            best = None
            for c in rel:
                if c in selected:
                    continue
                ms = (
                    max(sim.get((c, s), 0) for s in selected)
                    if selected
                    else 0
                )
                mmr = _MMR_W_REL * rel[c] - _MMR_W_DIV * ms
                comb = mmr * 1_000_000_000 - c
                if best is None or comb > best[0]:
                    best = (comb, c, mmr)
            selected.append(best[1])
            out.append((q_id, step, best[1], best[2]))
        return pd.DataFrame(
            out, columns=["q_id", "step", "doc_id", "mmr_n"]
        )

    return (
        pairs.groupBy("q_id")
        .applyInPandas(greedy, "q_id long, step long, doc_id long, mmr_n long")
        .orderBy("q_id", "step")
    )


# ---------------------------------------------------------------------------
# Temperature-based mixture sampling across sources (mT5/XLM-R style).
# ---------------------------------------------------------------------------

# 2^60: the md5 60-bit prefix is uniform on [0, 2^60); a doc is kept when
# its prefix falls below floor(rate * 2^60 + 0.5)
_MIX_HASH_SPAN = float(1 << 60)


@register(
    "doc_mixture_temperature_sample",
    oracle=f"""
    WITH base AS (
      SELECT source, doc_id,
             CAST(len(str_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               AS u
      FROM documents
    ),
    stats AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS tokens,
             CAST(floor(sqrt(CAST(sum(n_tokens) AS DOUBLE)) * 1e9 + 0.5)
                  AS BIGINT) AS w
      FROM base GROUP BY source
    ),
    corpus_tot AS (
      SELECT CAST(sum(w) AS BIGINT) AS big_w,
             CAST(sum(tokens) AS BIGINT) // 2 AS budget
      FROM stats
    ),
    rated AS (
      SELECT source, n_docs, tokens, w, big_w, budget,
             least(1.0, (CAST(budget AS DOUBLE) * CAST(w AS DOUBLE))
                        / (CAST(big_w AS DOUBLE) * CAST(tokens AS DOUBLE)))
               AS rate_d
      FROM stats CROSS JOIN corpus_tot
    ),
    thr AS (
      SELECT source, n_docs, tokens,
             CAST(floor(rate_d * 1e6 + 0.5) AS BIGINT) AS rate_micro,
             CAST(floor(CAST(w AS DOUBLE) / CAST(big_w AS DOUBLE) * 1e6
                        + 0.5) AS BIGINT) AS target_share_micro,
             CAST(floor(rate_d * {_MIX_HASH_SPAN!r} + 0.5) AS BIGINT)
               AS cut
      FROM rated
    ),
    sampled AS (
      SELECT b.source,
             CAST(count(*) FILTER (WHERE b.u < t.cut) AS BIGINT)
               AS sampled_docs,
             CAST(coalesce(sum(b.n_tokens) FILTER (WHERE b.u < t.cut), 0)
                  AS BIGINT) AS sampled_tokens
      FROM base b JOIN thr t USING (source)
      GROUP BY b.source
    )
    SELECT t.source, t.n_docs, t.tokens, t.rate_micro,
           t.target_share_micro, s.sampled_docs, s.sampled_tokens,
           CAST(floor(CAST(s.sampled_tokens AS DOUBLE)
                      / CAST(sum(s.sampled_tokens) OVER () AS DOUBLE)
                      * 1e6 + 0.5) AS BIGINT) AS realized_share_micro
    FROM thr t JOIN sampled s USING (source)
    ORDER BY t.source
    """,
    doc="Temperature-based mixture sampling across sources (the "
    "mT5/XLM-R multilingual recipe): per-source sampling mass "
    "proportional to tokens^(1/T) with T=2 — chosen so the power is "
    "sqrt, which IEEE-754 requires to be correctly rounded, hence "
    "bit-identical cross-engine (ln/exp for arbitrary T are not). "
    "Weights are nano-quantized to integers before the normalizing "
    "sum, the token budget is half the corpus in exact integer DIV, "
    "and each doc's keep/drop decision is its 60-bit md5 prefix "
    "against floor(rate * 2^60) — deterministic, reproducible, no "
    "RNG, so the realized mixture is auditable against the target "
    "share (both reported micro-quantized). Scale: two aggregates "
    "over the corpus plus a broadcast of the per-source rate table; "
    "the sampling filter is one narrow hash compare per row.",
    tags=("llm", "text", "export", "sampling"),
)
def doc_mixture_temperature_sample(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    base = d.select(
        "source",
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("u"),
        # cached: the two-pass shape is inherent (global rates first,
        # then per-source sampled counts under those rates), but left
        # lazy pass 2 re-tokenizes and re-hashes the full corpus
        # (plan audit r10: 16 exchanges). The cached frame is 4 narrow
        # columns — far smaller than the text it derives from — and
        # spills if memory-tight; at any scale one scan beats two.
    ).cache()
    stats = base.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("tokens"),
    ).withColumn(
        "w",
        F.floor(F.sqrt(F.col("tokens").cast("double")) * 1e9 + 0.5).cast("long"),
    )
    glob = stats.agg(
        F.sum("w").alias("big_w"),
        F.expr("sum(tokens) div 2").alias("budget"),
    )
    rate_d = F.least(
        F.lit(1.0),
        (F.col("budget").cast("double") * F.col("w").cast("double"))
        / (F.col("big_w").cast("double") * F.col("tokens").cast("double")),
    )
    thr = (
        stats.crossJoin(F.broadcast(glob))
        .select(
            "source",
            "n_docs",
            "tokens",
            F.floor(rate_d * 1e6 + 0.5).cast("long").alias("rate_micro"),
            F.floor(
                F.col("w").cast("double") / F.col("big_w").cast("double") * 1e6
                + 0.5
            )
            .cast("long")
            .alias("target_share_micro"),
            F.floor(rate_d * F.lit(_MIX_HASH_SPAN) + 0.5)
            .cast("long")
            .alias("cut"),
        )
    )
    kept = F.col("u") < F.col("cut")
    sampled = (
        base.join(F.broadcast(thr.select("source", "cut")), "source")
        .groupBy("source")
        .agg(
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("sampled_docs"),
            F.coalesce(F.sum(F.when(kept, F.col("n_tokens"))), F.lit(0))
            .cast("long")
            .alias("sampled_tokens"),
        )
    )
    tot = sampled.agg(F.sum("sampled_tokens").alias("_tot"))
    return (
        thr.drop("cut")
        .join(sampled, "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "tokens",
            "rate_micro",
            "target_share_micro",
            "sampled_docs",
            "sampled_tokens",
            F.floor(
                F.col("sampled_tokens").cast("double")
                / F.col("_tot").cast("double")
                * 1e6
                + 0.5
            )
            .cast("long")
            .alias("realized_share_micro"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Range-sharded export layout via distributed ranking (histogram CDF).
# ---------------------------------------------------------------------------

_RANGE_SHARDS = 8


@register(
    "doc_range_shard_export",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, n_chars FROM documents
    ),
    hist AS (
      SELECT n_chars, CAST(count(*) AS BIGINT) AS cnt
      FROM keyed GROUP BY n_chars
    ),
    cdf AS (
      SELECT n_chars, cnt,
             CAST(coalesce(sum(cnt) OVER (ORDER BY n_chars
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before,
             CAST(sum(cnt) OVER () AS BIGINT) AS total
      FROM hist
    ),
    ranked AS (
      SELECT k.doc_id, k.n_chars,
             c.cum_before
               + row_number() OVER (PARTITION BY k.n_chars
                                    ORDER BY k.doc_id) AS rnk,
             c.total
      FROM keyed k JOIN cdf c USING (n_chars)
    ),
    assigned AS (
      SELECT doc_id, n_chars,
             CAST((rnk - 1) * {_RANGE_SHARDS} // total AS BIGINT) AS shard
      FROM ranked
    )
    SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM assigned GROUP BY shard ORDER BY shard
    """,
    doc="Range-sharded export layout (sorted data layout for curriculum "
    "order / scan locality), with the global rank computed the "
    "SCALE-CORRECT way: no single-partition window over the corpus — "
    "instead a histogram CDF over the DISTINCT key values (bounded "
    "cardinality; the only unpartitioned window runs over that bounded "
    "set, the KMV-sketch discipline) gives each key its preceding "
    "count, and a per-key-partitioned row_number supplies the exact "
    "tie-broken offset. shard = (rank-1)*N DIV total is exact integer "
    "math, so shard sizes differ by at most 1 and boundaries are "
    "reproducible — unlike Spark's sampled range partitioner. Report: "
    "per-shard doc counts and key ranges (contiguous, non-overlapping "
    "by construction).",
    tags=("llm", "export", "sharding", "window"),
)
def doc_range_shard_export(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    keyed = d.select("doc_id", "n_chars")
    hist = keyed.groupBy("n_chars").agg(F.count("*").alias("cnt"))
    wc = W.orderBy("n_chars").rowsBetween(W.unboundedPreceding, -1)
    cdf = hist.select(
        "n_chars",
        F.coalesce(F.sum("cnt").over(wc), F.lit(0)).alias("cum_before"),
        F.sum("cnt").over(
            W.orderBy(F.lit(1)).rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        ).alias("total"),
    )
    wt = W.partitionBy("n_chars").orderBy("doc_id")
    ranked = keyed.join(F.broadcast(cdf), "n_chars").select(
        "doc_id",
        "n_chars",
        (F.col("cum_before") + F.row_number().over(wt)).alias("rnk"),
        "total",
    )
    assigned = ranked.select(
        "doc_id",
        "n_chars",
        F.expr(f"(rnk - 1) * {_RANGE_SHARDS} div total").alias("shard"),
    )
    return (
        assigned.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# Nucleus-style per-source quality cutoff (cumulative-mass selection).
# ---------------------------------------------------------------------------

_NUCLEUS_P_PCT = 80  # keep the top docs covering 80% of source token mass


@register(
    "doc_nucleus_quality_cutoff",
    oracle=f"""
    WITH toks AS (
      SELECT source, doc_id,
             CAST(len(str_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens,
             CAST(n_chars AS BIGINT) AS quality
      FROM documents
    ),
    mass AS (
      SELECT source, doc_id, n_tokens, quality,
             CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
               ORDER BY quality DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before,
             CAST(sum(n_tokens) OVER (PARTITION BY source) AS BIGINT)
               AS src_total
      FROM toks
    ),
    kept AS (
      SELECT * FROM mass
      WHERE cum_before * 100 < src_total * {_NUCLEUS_P_PCT}
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS kept_docs,
           CAST(sum(n_tokens) AS BIGINT) AS kept_tokens,
           CAST(min(quality) AS BIGINT) AS quality_cutoff,
           CAST(floor(CAST(sum(n_tokens) AS DOUBLE)
                      / CAST(max(src_total) AS DOUBLE) * 1e6 + 0.5)
                AS BIGINT) AS kept_share_micro
    FROM kept GROUP BY source ORDER BY source
    """,
    doc="Nucleus-style (top-p) per-source quality cutoff: within each "
    "source, docs ordered by quality (n_chars proxy, doc_id tiebreak) "
    "are kept while the cumulative token mass BEFORE them is under "
    "p=80% of the source total — the doc that crosses the threshold is "
    "included, matching top-p sampling's convention. The predicate is "
    "exact integer cross-multiplication (cum*100 < total*80 — no "
    "division, no floats), so the kept set is bit-reproducible. This "
    "is the curation pattern between a hard quality threshold (keeps "
    "variable mass) and uniform sampling (ignores quality): guarantee "
    "a mass budget per source while preferring the best documents. "
    "Scale: windows partition by source; the cumulative sum is one "
    "pass; no global window anywhere.",
    tags=("llm", "text", "export", "sampling", "window"),
)
def doc_nucleus_quality_cutoff(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    toks = d.select(
        "source",
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
        F.col("n_chars").cast("long").alias("quality"),
    )
    wm = (
        W.partitionBy("source")
        .orderBy(F.desc("quality"), "doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    ws = W.partitionBy("source")
    mass = toks.select(
        "source",
        "doc_id",
        "n_tokens",
        "quality",
        F.coalesce(F.sum("n_tokens").over(wm), F.lit(0)).alias("cum_before"),
        F.sum("n_tokens").over(ws).alias("src_total"),
    )
    kept = mass.filter(
        F.col("cum_before") * 100 < F.col("src_total") * _NUCLEUS_P_PCT
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("kept_docs"),
            F.sum("n_tokens").alias("kept_tokens"),
            F.min("quality").alias("quality_cutoff"),
            F.floor(
                F.sum("n_tokens").cast("double")
                / F.max("src_total").cast("double")
                * 1e6
                + 0.5
            )
            .cast("long")
            .alias("kept_share_micro"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Calibration (reliability) report for the in-engine quality classifier.
# ---------------------------------------------------------------------------


def _logreg_weights_cte() -> str:
    """The logreg trajectory replay as a CTE chain ending in w3 (weights
    after the final round) — shared shape with _logreg_oracle_sql, incl.
    the sign-explicit :func:`_tdiv_sql` on every negative-capable
    division (DuckDB ``//``-version portability)."""
    parts = [_LOGREG_FEAT_SQL.strip().rstrip()]
    prev_w = None
    for r in range(1, _LOGREG_ROUNDS + 1):
        if prev_w is None:
            z = "CAST(0 AS BIGINT)"
            src = "feat"
        else:
            z = "(w.w0 * x0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3)"
            src = f"feat CROSS JOIN {prev_w} w"
        p = (
            f"least(greatest(CAST(500000000 AS BIGINT) "
            f"+ {_tdiv_sql(z, '4000')}, "
            "CAST(0 AS BIGINT)), CAST(1000000000 AS BIGINT))"
        )
        parts.append(
            f"""g{r} AS (
  SELECT sum(err * x0) AS s0, sum(err * x1) AS s1,
         sum(err * x2) AS s2, sum(err * x3) AS s3
  FROM (SELECT ({p}) - y9 AS err, x0, x1, x2, x3 FROM {src})
)"""
        )
        base = "CAST(0 AS BIGINT)" if prev_w is None else "w.w{k}"
        wcols = ", ".join(
            # CAST AS BIGINT — same HUGEINT quarantine as
            # _logreg_oracle_sql (see comment there).
            f"CAST({base.format(k=k)} - "
            f"{_tdiv_sql(_tdiv_sql(f's{k}', 'n * 1000'), '4')} "
            f"AS BIGINT) AS w{k}"
            for k in range(4)
        )
        from_w = "" if prev_w is None else f", {prev_w} w"
        parts.append(f"w{r} AS (SELECT {wcols} FROM g{r}, nn{from_w})")
        prev_w = f"w{r}"
    return ",\n".join(parts)


@register(
    "doc_quality_calibration",
    oracle=f"""
    WITH {_logreg_weights_cte()},
    scored AS (
      SELECT CAST(least(greatest(CAST(500000000 AS BIGINT)
               + {_tdiv_sql("w.w0 * x0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3",
                            "4000")},
               CAST(0 AS BIGINT)), CAST(1000000000 AS BIGINT))
             AS BIGINT) AS p_nano,
             y9
      FROM feat CROSS JOIN w{_LOGREG_ROUNDS} w
    ),
    binned AS (
      SELECT CAST(least(p_nano * 10 // 1000000000, 9) AS BIGINT) AS bin,
             p_nano, y9
      FROM scored
    ),
    per_bin AS (
      SELECT bin,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(p_nano) // count(*) AS BIGINT) AS conf_nano,
             CAST(sum(CASE WHEN y9 > 0 THEN 1 ELSE 0 END) * 1000000000
                  // count(*) AS BIGINT) AS acc_nano
      FROM binned GROUP BY bin
    )
    SELECT bin, n_docs, conf_nano, acc_nano,
           abs(conf_nano - acc_nano) AS gap_nano,
           CAST(sum(n_docs * abs(conf_nano - acc_nano)) OVER ()
                // sum(n_docs) OVER () AS BIGINT) AS ece_nano
    FROM per_bin ORDER BY bin
    """,
    doc="Calibration (reliability) report for the engine-trained quality "
    "classifier: documents are re-scored with the FINAL weights of the "
    "doc_quality_logreg trajectory (replayed identically on both "
    "engines), binned into 10 fixed-width probability bins by pure "
    "integer math (p*10 DIV 1e9), and each bin reports mean predicted "
    "probability (confidence) vs observed positive rate (accuracy) in "
    "exact nano-integer arithmetic; the Expected Calibration Error "
    "(sum of bin-weighted |conf - acc| over N) rides along as a "
    "constant column. Every classifier-based curation pipeline needs "
    "this check before trusting score thresholds. Scale: one training "
    "replay (3 aggregate rounds), one scoring pass, a 10-row window.",
    tags=("llm", "text", "quality", "agg"),
)
def doc_quality_calibration(spark, sf_dir):
    d = _docs_spread(spark, sf_dir)
    feat = d.selectExpr(
        "CAST(1000 AS BIGINT) AS x0",
        "CAST(least(n_chars, 1000) AS BIGINT) AS x1",
        "CAST(size(split(text, ' ')) AS BIGINT) AS x2",
        "CAST(size(array_distinct(split(text, ' '))) * 1000 AS BIGINT) "
        "DIV CAST(size(split(text, ' ')) AS BIGINT) AS x3",
        "CASE WHEN lang = 'en' THEN CAST(1000000000 AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END AS y9",
    ).cache()
    n = feat.count()

    def tdiv(a: int, b: int) -> int:
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    w = [0, 0, 0, 0]
    for _ in range(_LOGREG_ROUNDS):
        z = f"({w[0]} * x0 + {w[1]} * x1 + {w[2]} * x2 + {w[3]} * x3)"
        p = (
            f"least(greatest(CAST(500000000 AS BIGINT) + {z} DIV 4000, "
            "CAST(0 AS BIGINT)), CAST(1000000000 AS BIGINT))"
        )
        err = f"(({p}) - y9)"
        s = feat.selectExpr(
            f"sum({err} * x0) AS s0",
            f"sum({err} * x1) AS s1",
            f"sum({err} * x2) AS s2",
            f"sum({err} * x3) AS s3",
        ).collect()[0]
        for k in range(4):
            w[k] = w[k] - tdiv(tdiv(s[f"s{k}"], n * 1000), 4)

    z = f"({w[0]} * x0 + {w[1]} * x1 + {w[2]} * x2 + {w[3]} * x3)"
    scored = feat.selectExpr(
        f"least(greatest(CAST(500000000 AS BIGINT) + {z} DIV 4000, "
        "CAST(0 AS BIGINT)), CAST(1000000000 AS BIGINT)) AS p_nano",
        "y9",
    )
    per_bin = (
        scored.selectExpr(
            "least(p_nano * 10 DIV 1000000000, CAST(9 AS BIGINT)) AS bin",
            "p_nano",
            "y9",
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.expr("sum(p_nano) div count(*)").alias("conf_nano"),
            F.expr(
                "sum(CASE WHEN y9 > 0 THEN 1 ELSE 0 END) * 1000000000 "
                "div count(*)"
            ).alias("acc_nano"),
        )
    )
    wall = W.orderBy(F.lit(1)).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    return (
        per_bin.select(
            "bin",
            "n_docs",
            "conf_nano",
            "acc_nano",
            F.abs(F.col("conf_nano") - F.col("acc_nano")).alias("gap_nano"),
        )
        .withColumn("_wsum", F.sum(F.col("n_docs") * F.col("gap_nano")).over(wall))
        .withColumn("_n", F.sum("n_docs").over(wall))
        .withColumn("ece_nano", F.expr("_wsum div _n"))
        .drop("_wsum", "_n")
        .orderBy("bin")
    )


# threshold sweep for the trained quality gate (r7): thresholds in nano
# probability units; every stat is exact BIGINT with zero-guarded division
_QT_THRESHOLDS = [300000000, 400000000, 480000000, 500000000, 600000000]


@register(
    "doc_quality_threshold_sweep",
    oracle=f"""
    WITH {_logreg_weights_cte()},
    scored AS (
      SELECT CAST(least(greatest(CAST(500000000 AS BIGINT)
               + {_tdiv_sql("w.w0 * x0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3",
                            "4000")},
               CAST(0 AS BIGINT)), CAST(1000000000 AS BIGINT))
             AS BIGINT) AS p_nano,
             y9
      FROM feat CROSS JOIN w{_LOGREG_ROUNDS} w
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_all,
             CAST(sum(CASE WHEN y9 > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos_all
      FROM scored
    ),
    sweep AS (
      SELECT s.*, t.thr
      FROM scored s
      CROSS JOIN (SELECT unnest([{", ".join(
          f"CAST({t} AS BIGINT)" for t in _QT_THRESHOLDS)}]) AS thr) t
    )
    SELECT thr AS threshold_nano,
           CAST(count(*) FILTER (WHERE p_nano >= thr) AS BIGINT) AS n_keep,
           CAST(count(*) FILTER (WHERE p_nano >= thr) * 1000 // n_all
                AS BIGINT) AS keep_permille,
           CAST(CASE WHEN count(*) FILTER (WHERE p_nano >= thr) = 0 THEN 0
                ELSE sum(CASE WHEN p_nano >= thr AND y9 > 0 THEN 1 ELSE 0 END)
                     * 1000 // count(*) FILTER (WHERE p_nano >= thr) END
                AS BIGINT) AS precision_permille,
           CAST(CASE WHEN n_pos_all = 0 THEN 0
                ELSE sum(CASE WHEN p_nano >= thr AND y9 > 0 THEN 1 ELSE 0 END)
                     * 1000 // n_pos_all END AS BIGINT) AS capture_permille
    FROM sweep, tot
    GROUP BY thr, n_all, n_pos_all
    ORDER BY threshold_nano
    """,
    doc="Operating-point selection for the engine-trained quality gate: "
    "documents are scored with the final doc_quality_logreg weights "
    "(trajectory replayed identically on both engines) and swept over "
    f"{len(_QT_THRESHOLDS)} fixed probability thresholds; each row "
    "reports corpus keep-rate, precision (positives among kept) and "
    "positive capture (kept positives over all positives) in exact "
    "integer permille with zero-guarded division. This is the report a "
    "curation pipeline reads to pick its cut before committing a 100 TB "
    "filter pass — the complement of doc_quality_calibration's "
    "reliability view. Scale: one training replay, one scoring pass, a "
    "threshold-exploded aggregate (x5 rows, no extra shuffle key).",
    tags=("llm", "text", "quality", "ml"),
)
def doc_quality_threshold_sweep(spark, sf_dir):
    # localCheckpoint, not cache(): the training collects below consumed
    # the cache, but the returned scoring DataFrame is lazy — the former
    # in-function unpersist fired before the caller's action, so the
    # final pass recomputed the features (r7 ADVICE). The checkpoint
    # (materialized here by count()) serves training AND final scoring.
    feat = _logreg_spark_feat(spark, sf_dir).localCheckpoint(eager=False)
    n = feat.count()

    def tdiv(a: int, b: int) -> int:
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    w = [0, 0, 0, 0]
    for _ in range(_LOGREG_ROUNDS):
        z = f"({w[0]} * x0 + {w[1]} * x1 + {w[2]} * x2 + {w[3]} * x3)"
        p = (
            f"least(greatest(CAST(500000000 AS BIGINT) + {z} DIV 4000, "
            "CAST(0 AS BIGINT)), CAST(1000000000 AS BIGINT))"
        )
        err = f"(({p}) - y9)"
        s = feat.selectExpr(
            f"sum({err} * x0) AS s0",
            f"sum({err} * x1) AS s1",
            f"sum({err} * x2) AS s2",
            f"sum({err} * x3) AS s3",
        ).collect()[0]
        for k in range(4):
            w[k] = w[k] - tdiv(tdiv(s[f"s{k}"], n * 1000), 4)

    z = f"({w[0]} * x0 + {w[1]} * x1 + {w[2]} * x2 + {w[3]} * x3)"
    scored = feat.selectExpr(
        f"CAST(least(greatest(CAST(500000000 AS BIGINT) + {z} DIV 4000, "
        "CAST(0 AS BIGINT)), CAST(1000000000 AS BIGINT)) AS BIGINT) "
        "AS p_nano",
        "y9",
    )
    thr_arr = ", ".join(f"CAST({t} AS BIGINT)" for t in _QT_THRESHOLDS)
    swept = scored.select(
        "p_nano", "y9", F.explode(F.expr(f"array({thr_arr})")).alias("thr")
    )
    agg = swept.groupBy("thr").agg(
        F.sum(F.when(F.col("p_nano") >= F.col("thr"), 1).otherwise(0))
        .cast("long")
        .alias("n_keep"),
        F.sum(
            F.when((F.col("p_nano") >= F.col("thr")) & (F.col("y9") > 0), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_pos_keep"),
    )
    tot = scored.agg(
        F.count("*").cast("long").alias("n_all"),
        F.sum(F.when(F.col("y9") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_pos_all"),
    )
    out = agg.crossJoin(F.broadcast(tot)).selectExpr(
        "thr AS threshold_nano",
        "n_keep",
        "CAST(n_keep * 1000 DIV n_all AS BIGINT) AS keep_permille",
        "CAST(CASE WHEN n_keep = 0 THEN 0 "
        "ELSE n_pos_keep * 1000 DIV n_keep END AS BIGINT) "
        "AS precision_permille",
        "CAST(CASE WHEN n_pos_all = 0 THEN 0 "
        "ELSE n_pos_keep * 1000 DIV n_pos_all END AS BIGINT) "
        "AS capture_permille",
    )
    return out.orderBy("threshold_nano")


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis-Spirakis races).
# ---------------------------------------------------------------------------

_ES_SAMPLE_K = 10
_ES_HASH_SPAN_D = float(1 << 60)


@register(
    "doc_weighted_sample_es",
    oracle=f"""
    WITH keyed AS (
      SELECT source, doc_id,
             CAST(n_chars AS BIGINT) AS weight,
             CAST(floor(
               ln({_ES_HASH_SPAN_D!r}
                  / (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                          ::BIGINT AS DOUBLE) + 1.0))
               / CAST(n_chars AS DOUBLE) * 1e12 + 0.5) AS BIGINT)
               AS race_pico
      FROM documents WHERE n_chars > 0
    )
    SELECT source, rank, doc_id, weight, race_pico FROM (
      SELECT source, doc_id, weight, race_pico,
             row_number() OVER (PARTITION BY source
                                ORDER BY race_pico, doc_id) AS rank
      FROM keyed
    ) WHERE rank <= {_ES_SAMPLE_K}
    ORDER BY source, rank
    """,
    doc="Weighted sampling WITHOUT replacement via Efraimidis-Spirakis "
    "exponential races — the one-pass distributed algorithm for "
    "'sample k docs per source with probability proportional to "
    "weight': each doc draws u from its 60-bit md5 prefix (no RNG, "
    "reproducible) and races with key -ln(u)/weight; the k smallest "
    "keys per source are an exact weighted sample. The key is "
    "pico-quantized with a doc_id tiebreak so the ranking is "
    "deterministic cross-engine (ln differs by <=1 ulp between libms; "
    "at 1e-12 quantization the flip probability is ~1e-9/doc, the "
    "accepted distinct-level-ln risk class). Scale: one narrow map "
    "pass + per-source top-k (WindowGroupLimit partial per partition "
    "-- no global sort); weights never need normalizing, which is "
    "what makes this THE distributed weighted sampler.",
    tags=("llm", "export", "sampling", "window"),
)
def doc_weighted_sample_es(spark, sf_dir):
    d = _docs_spread(spark, sf_dir).filter(F.col("n_chars") > 0)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .cast("double")
        + 1.0
    )
    race = F.floor(
        F.log(F.lit(_ES_HASH_SPAN_D) / u)
        / F.col("n_chars").cast("double")
        * 1e12
        + 0.5
    ).cast("long")
    keyed = d.select(
        "source",
        "doc_id",
        F.col("n_chars").cast("long").alias("weight"),
        race.alias("race_pico"),
    )
    wr = W.partitionBy("source").orderBy("race_pico", "doc_id")
    return (
        keyed.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= _ES_SAMPLE_K)
        .select("source", "rank", "doc_id", "weight", "race_pico")
        .orderBy("source", "rank")
    )
