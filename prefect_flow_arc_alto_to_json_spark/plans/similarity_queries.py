"""Similarity-search operators as driver-checked queries over ``embeddings``.

Cosine arithmetic happens in double on both engines, in the same
left-to-right order, and scores are rounded before ranking — so the brute
force results value-match. The near-dup query plants perturbed copies
(natural max pairwise cosine in the synthetic data is ~0.51) with the same
deterministic construction on both sides.

The LSH near-dup variant carries a FULL oracle: the 8x64 hyperplane matrix
is generated by a pure-integer formula, so DuckDB rebuilds identical planes,
buckets, multiprobe candidates and cosines. The approximate top-k entries
(sim_lsh_topk, sim_ivf_topk) stay rows-only and are recall-gated against the
exact baseline in tests/test_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
    lsh_bucketed_topk,
)
from ..sources import load_table
from .registry import query

_SQL_DOT = "list_sum([a.v[i] * b.v[i] for i in range(1, 65)])"
_SQL_NORM_A = "sqrt(list_sum([a.v[i] * a.v[i] for i in range(1, 65)]))"
_SQL_NORM_B = "sqrt(list_sum([b.v[i] * b.v[i] for i in range(1, 65)]))"


@query(
    "sim_brute_topk",
    # rotated to the extra tier in round 11 (ANN top-k stays graded via
    # sim_ivfadc_topk, whose oracle is the same exact-scoring definition;
    # the brute baseline keeps its identical check in the extra tier)
    extra=True,
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             ROUND({_SQL_DOT} / ({_SQL_NORM_A} * {_SQL_NORM_B}), 6) AS cosine
      FROM q a JOIN e b ON a.vec_id <> b.vec_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def sim_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for query vectors vec_id < 5 — the ANN
    correctness baseline (broadcast nested loop + ranking window)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return brute_force_topk(emb, queries, k=10).select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("int").alias("rank")
    )


@query(
    "sim_near_dup",
    extra=True,  # rotated to the pytest tier: its banded sibling
    # sim_embedding_near_dup_lsh stays graded; this bounded cartesian
    # baseline freed a graded slot for a unique family (the spectral
    # class itself lives extra-tier: q_spectral_partition)
    oracle=f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 150
    ),
    planted AS (
      SELECT vec_id + 1000000 AS vec_id,
             [CASE WHEN i = 1 THEN v[i] * 1.01 ELSE v[i] END for i in range(1, 65)] AS v
      FROM base WHERE vec_id < 20
    ),
    corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND({_SQL_DOT} / ({_SQL_NORM_A} * {_SQL_NORM_B}), 6) AS cosine
      FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.99
    """,
)
def sim_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED ORACLE BASELINE — exact all-pairs near-dup (cosine ≥ 0.99)
    over a deliberately small slice (150 base vectors + 20 planted copies,
    capped by the vec_id < 150 literal). The all-pairs non-equi join is the
    ground-truth construction only; the scale-true near-dup entry is
    ``sim_embedding_near_dup_lsh`` (bucketed, oracle-verified)."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") < 150).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    planted = base.where(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            F.col("v"), lambda x, i: F.when(i == 0, x * 1.01).otherwise(x)
        ).alias("v"),
    )
    corpus = base.unionByName(planted)
    a = corpus.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = corpus.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    from ..operators.similarity import cosine

    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= 0.99)
    )


@query(
    "sim_lsh_topk",
    extra=True,
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    planes AS (
      -- global plane index g = t*4 + p: table t uses the disjoint range
      -- [4t, 4t+4); component formula = operators/similarity.py:_plane_component
      SELECT t.t, p.p,
             [((1103515245 * ((t.t*4 + p.p)*64 + d + 1) + 12345) % 2147483648)
              / 1073741824.0 - 1.0 for d in range(0, 64)] AS pv
      FROM (SELECT unnest(range(0, 8)) AS t) t,
           (SELECT unnest(range(0, 4)) AS p) p
    ),
    cbuck AS (
      SELECT e.vec_id AS id, pl.t,
             CAST(SUM(CASE WHEN list_sum([e.v[i] * pl.pv[i] for i in range(1, 65)]) > 0
                           THEN (1 << pl.p) ELSE 0 END) AS INTEGER) AS bucket
      FROM e, planes pl
      GROUP BY e.vec_id, pl.t
    ),
    qprobes AS (
      SELECT id AS query_id, t,
             unnest(list_prepend(
               bucket,
               [xor(bucket, CAST(1 << p AS INTEGER)) for p in range(0, 4)]
             )) AS pb
      FROM cbuck WHERE id < 5
    ),
    cand AS (
      SELECT DISTINCT q.query_id, c.id AS neighbor_id
      FROM qprobes q JOIN cbuck c ON c.t = q.t AND c.bucket = q.pb
      WHERE c.id <> q.query_id
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             ROUND(list_sum([eq.v[i] * en.v[i] for i in range(1, 65)])
                   / (sqrt(list_sum([eq.v[i] * eq.v[i] for i in range(1, 65)]))
                      * sqrt(list_sum([en.v[i] * en.v[i] for i in range(1, 65)]))),
                   6) AS cosine
      FROM cand c JOIN e eq ON eq.vec_id = c.query_id
                  JOIN e en ON en.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rank FROM scored
    ) WHERE rank <= 10
    """,
)
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table random-hyperplane LSH top-10 (8 tables x 4 planes →
    recall@10 ≥ 0.8, gated in tests/test_similarity.py) — the 100 TB scale
    path: probe L·E[bucket]·(1+P) vectors instead of the whole corpus.

    FULL oracle (round-3): "approximate" means approximate RELATIVE TO
    BRUTE FORCE, not non-deterministic — the planes are pure-integer
    arithmetic, the candidate set is an exact function of the buckets, and
    the ranking reuses the oracled window. DuckDB rebuilds all 8 hash
    tables (disjoint plane ranges), the 1+P multiprobe set, the distinct
    candidates, and the cosines — the last unoracled registered query
    goes hash-green while the recall gate keeps measuring quality vs the
    exact baseline."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return lsh_bucketed_topk(emb, queries, k=10, planes=4, n_tables=8).select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("int").alias("rank")
    )


@query(
    "sim_embedding_near_dup_lsh",
    oracle="""
    WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
    planes AS (
      SELECT p,
             [((1103515245 * (p*64 + d + 1) + 12345) % 2147483648)
              / 1073741824.0 - 1.0 for d in range(0, 64)] AS pv
      FROM (SELECT unnest(range(0, 8)) AS p)
    ),
    bucketed AS (
      SELECT e.id,
             CAST(SUM(CASE WHEN list_sum([e.v[i] * pl.pv[i] for i in range(1, 65)]) > 0
                           THEN (1 << pl.p) ELSE 0 END) AS INTEGER) AS bucket
      FROM e, planes pl
      GROUP BY e.id
    ),
    aprobe AS (
      SELECT id AS id_a,
             unnest(list_prepend(
               bucket,
               [xor(bucket, CAST(1 << p AS INTEGER)) for p in range(0, 8)]
             )) AS pb
      FROM bucketed
    ),
    cand AS (
      SELECT DISTINCT a.id_a, b.id AS id_b
      FROM aprobe a JOIN bucketed b ON a.pb = b.bucket AND a.id_a < b.id
    )
    SELECT * FROM (
      SELECT c.id_a, c.id_b,
             ROUND(list_sum([ea.v[i] * eb.v[i] for i in range(1, 65)])
                   / (sqrt(list_sum([ea.v[i] * ea.v[i] for i in range(1, 65)]))
                      * sqrt(list_sum([eb.v[i] * eb.v[i] for i in range(1, 65)]))),
                   6) AS cosine
      FROM cand c JOIN e ea ON ea.id = c.id_a JOIN e eb ON eb.id = c.id_b
    ) WHERE cosine >= 0.4
    """,
)
def sim_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-pruned embedding near-dup pairs at threshold 0.4 (the natural
    data's top pairs) — the SCALE-TRUE near-dup plan: bucketed multiprobe
    self-join, never quadratic. The oracle rebuilds the identical
    hyperplanes from the same integer-mix formula
    (operators/similarity.py:_plane_component), so bucketing + candidate
    set + cosines are verified exactly, not just row counts."""
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, threshold=0.4)


@query(
    "sim_ivf_topk",
    # rotated to the pytest tier in round 7: the ANN family keeps brute,
    # LSH near-dup, semantic-dedup and PQ graded; this freed the slot for
    # the new spatial-join family (q_geo_radius_join)
    extra=True,
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents AS (
      SELECT vec_id AS cent_id, v AS cv FROM e ORDER BY vec_id LIMIT 16
    ),
    assigned AS (
      SELECT vid, cent_id FROM (
        SELECT e.vec_id AS vid, c.cent_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_sum([e.v[i] * c.cv[i] for i in range(1, 65)]) DESC,
                          c.cent_id
               ) AS rn
        FROM e, cents c
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    probes AS (
      SELECT query_id, cent_id FROM (
        SELECT q.query_id, c.cent_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY list_sum([q.qv[i] * c.cv[i] for i in range(1, 65)]) DESC,
                          c.cent_id
               ) AS rn
        FROM q, cents c
      ) WHERE rn <= 4
    ),
    scored AS (
      SELECT p.query_id, a.vid AS neighbor_id,
             ROUND(list_sum([eq.v[i] * en.v[i] for i in range(1, 65)])
                   / (sqrt(list_sum([eq.v[i] * eq.v[i] for i in range(1, 65)]))
                      * sqrt(list_sum([en.v[i] * en.v[i] for i in range(1, 65)]))),
                   6) AS cosine
      FROM probes p
      JOIN assigned a ON a.cent_id = p.cent_id AND a.vid <> p.query_id
      JOIN e eq ON eq.vec_id = p.query_id
      JOIN e en ON en.vec_id = a.vid
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rank FROM scored
    ) WHERE rank <= 10
    """,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-10: deterministic coarse quantizer,
    n_probe nearest cells per query — the partition-pruned ANN layout.

    FULL oracle (round-3): every stage of the IVF path is deterministic —
    centroids are the 16 lowest-id vectors (operators/similarity.py:
    ivf_index), assignment is argmax dot with lowest-cent-id tie-break
    (``max_by(cent_id, struct(sim, -cent_id))`` ≡ ROW_NUMBER ordered by
    sim DESC, cent_id ASC), probing takes the 4 nearest cells per query,
    ranking reuses the brute-force window — so DuckDB rebuilds the entire
    index + search and the hash must match, same trick as
    sim_embedding_near_dup_lsh's hyperplane rebuild. (Unrounded dot
    products order the argmax on both engines: distinct random vectors
    are never within one ulp, and ties-with-self are broken by cent_id.)"""
    from ..operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return ivf_topk(emb, queries, k=10, n_centroids=16, n_probe=4).select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("int").alias("rank")
    )


@query(
    "sim_brute_topk_np",
    extra=True,
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             ROUND({_SQL_DOT} / ({_SQL_NORM_A} * {_SQL_NORM_B}), 6) AS cosine
      FROM q a JOIN e b ON a.vec_id <> b.vec_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def sim_brute_topk_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched numpy/BLAS cosine top-10 (mapInPandas matmul with
    per-batch local top-k) — same oracle as the JVM form; the two paths
    must agree to the last rounded digit."""
    from ..operators.similarity import brute_force_topk_np

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return brute_force_topk_np(emb, queries, k=10).select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("int").alias("rank")
    )


@query(
    "q_mapinarrow_vector_stats",
    extra=True,
    oracle="""
    SELECT vec_id,
           len(embedding) AS n_dims,
           len(list_filter(embedding, x -> x > 0)) AS n_pos,
           list_position(embedding,
                         list_aggregate(embedding, 'max')) AS argmax_pos,
           ROUND(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 6)
             AS max_val
    FROM embeddings
    """,
)
def q_mapinarrow_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector stats through ``mapInArrow`` (§2.10's lowest-level Arrow
    batch surface — zero-copy numpy over the list buffers, no pandas):
    dimension count, strictly-positive count, 1-based first-argmax and the
    max component. All outputs are exact comparisons/counts on the float32
    payload, so the DuckDB list-function oracle hash-matches; the only
    float (max_val) is rounded JVM-side after the Arrow stage.
    """
    from ..functions.udf_surface import vector_stats_arrow

    emb = load_table(spark, sf_dir, "embeddings")
    stats = vector_stats_arrow(emb)
    return stats.select(
        "vec_id",
        "n_dims",
        "n_pos",
        "argmax_pos",
        F.round("max_val", 6).alias("max_val"),
    )


@query(
    "sim_int8_topk",
    extra=True,
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q8 AS (
      SELECT vec_id,
             list_transform(
               v,
               x -> CAST(ROUND(x * 127.0 / greatest(
                      list_max(list_transform(v, y -> abs(y))), 1e-30)
                    ) AS BIGINT)
             ) AS q
      FROM e
    ),
    qs AS (SELECT vec_id, q FROM q8 WHERE vec_id < 5),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             ROUND(
               CAST(list_sum([a.q[i] * b.q[i] for i in range(1, 65)]) AS DOUBLE)
               / sqrt(CAST(list_sum([a.q[i] * a.q[i] for i in range(1, 65)])
                           * list_sum([b.q[i] * b.q[i] for i in range(1, 65)])
                      AS DOUBLE)),
               6) AS cosine_q8
      FROM qs a JOIN q8 b ON a.vec_id <> b.vec_id
    )
    SELECT query_id, neighbor_id, cosine_q8, CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine_q8 DESC, neighbor_id
      ) AS rank FROM scored
    ) WHERE rank <= 10
    """,
)
def sim_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantized cosine top-10 (operators/similarity.py:
    quantize_int8 / int8_topk) for query vectors vec_id < 5 — the
    memory-bandwidth lever of a production ANN stack, FULLY oracled: the
    per-vector symmetric quantization (round half-away-from-zero, the
    cents() precedent), the integer dot, and the integer norms are exact
    in both engines; the one double op (final division, single sqrt of
    the norm² product) is identical left-to-right. Recall vs the exact
    float baseline is additionally gated in tests/test_similarity.py.

    Scale: int8 vectors are 4x smaller than float32 — 4x more corpus per
    executor, 4x less broadcast/shuffle volume — and the scoring loop is
    pure integer arithmetic. Same broadcast nested-loop + WindowGroupLimit
    physical shape as sim_brute_topk; only the element width changes.
    """
    from ..operators.similarity import int8_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return int8_topk(emb, queries, k=10).select(
        "query_id",
        "neighbor_id",
        "cosine_q8",
        F.col("rank").cast("int").alias("rank"),
    )


@query(
    "sim_semantic_dedup",
    # promoted into the driver-graded window (round 6 late) in
    # text_langid's slot: the strongest new operator family should be
    # certified by the driver itself, not only by the CI twin check.
    oracle="""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    planted AS (
      SELECT vec_id + 1000000 AS vec_id,
             [CASE WHEN i = 1 THEN v[i] * 1.01 ELSE v[i] END
              for i in range(1, 65)] AS v
      FROM base WHERE vec_id < 20
    ),
    corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
    cents AS (
      SELECT vec_id AS cent_id, v AS cv FROM corpus ORDER BY vec_id LIMIT 16
    ),
    assigned AS (
      SELECT vid, cent_id, v FROM (
        SELECT corpus.vec_id AS vid, c.cent_id, corpus.v,
               ROW_NUMBER() OVER (
                 PARTITION BY corpus.vec_id
                 ORDER BY list_sum([corpus.v[i] * c.cv[i]
                                    for i in range(1, 65)]) DESC,
                          c.cent_id
               ) AS rn
        FROM corpus, cents c
      ) WHERE rn = 1
    ),
    dropped AS (
      SELECT DISTINCT b.vid
      FROM assigned a JOIN assigned b
        ON a.cent_id = b.cent_id AND a.vid < b.vid
      WHERE ROUND(list_sum([a.v[i] * b.v[i] for i in range(1, 65)])
                  / (sqrt(list_sum([a.v[i] * a.v[i] for i in range(1, 65)]))
                     * sqrt(list_sum([b.v[i] * b.v[i] for i in range(1, 65)]))),
                  6) >= 0.95
    )
    SELECT s.vid AS vec_id, s.cent_id, d.vid IS NULL AS kept
    FROM assigned s LEFT JOIN dropped d ON s.vid = d.vid
    """,
)
def sim_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup composition (operators/similarity.py:semantic_dedup) over
    the embeddings table plus 20 planted perturbed copies (the
    sim_near_dup plant — natural max pairwise cosine in this data is
    ~0.51, so the copies are exactly the semantic duplicates the operator
    exists to drop). FULLY oracled: deterministic IVF centroids +
    argmax-dot assignment (the sim_ivf_topk rebuild), within-cell pair
    search at cosine ≥ 0.95, min-id representative rule — DuckDB replays
    index, search and the kept/dropped verdict per vector.

    Scale: pair search confined to cells (Σ|cell|², the LSH-band bound);
    the planted copies land in their original's cell because a 1% single-
    dimension perturbation cannot flip an argmax over these centroids —
    and if one ever did, BOTH engines would agree (the rule is replayed,
    not assumed).
    """
    from ..operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    planted = base.where(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x, i: F.when(i == 0, x * 1.01).otherwise(x)
        ).alias("embedding"),
    )
    corpus = base.unionByName(planted)
    return semantic_dedup(corpus, threshold=0.95, n_centroids=16)


@query(
    "sim_knn_classify",
    extra=True,
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
    q AS (SELECT vec_id, v FROM e WHERE vec_id < 30),
    lab AS (SELECT vec_id, v, label FROM e WHERE vec_id >= 30),
    topk AS (
      SELECT query_id, nlabel FROM (
        SELECT a.vec_id AS query_id, b.label AS nlabel,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY ROUND({_SQL_DOT} / ({_SQL_NORM_A} * {_SQL_NORM_B}), 6)
                            DESC,
                          b.vec_id
               ) AS rank
        FROM q a JOIN lab b ON a.vec_id <> b.vec_id
      ) WHERE rank <= 10
    ),
    votes AS (
      SELECT query_id, nlabel, COUNT(*) AS n_votes
      FROM topk GROUP BY query_id, nlabel
    )
    SELECT query_id, CAST(nlabel AS INTEGER) AS pred_label,
           CAST(n_votes AS BIGINT) AS n_votes
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY n_votes DESC, nlabel ASC
      ) AS rn FROM votes
    ) WHERE rn = 1
    """,
)
def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN majority-vote label propagation (operators/similarity.py:
    knn_classify): vectors vec_id < 30 are the "unlabeled" queries, the
    rest the labeled seed; exact cosine top-10 neighbors vote, modal label
    wins with smallest-label tiebreak. Every stage (scores rounded to 6,
    rank tiebreaks, vote tiebreaks) is totally ordered, so the DuckDB
    replay is hash-exact end to end — prediction-level, not just
    count-level.
    """
    from ..operators.similarity import knn_classify

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 30)
    labeled = emb.where(F.col("vec_id") >= 30)
    return knn_classify(labeled, queries, k=10).select(
        "query_id",
        F.col("pred_label").cast("int").alias("pred_label"),
        "n_votes",
    )


@query(
    "sim_label_centroids",
    extra=True,
    oracle="""
    WITH comp AS (
      SELECT label,
             i - 1 AS dim,
             CAST(ROUND(embedding[i]::DOUBLE * 1000000) AS BIGINT) AS x_micro
      FROM embeddings, range(1, 65) AS t(i)
    )
    SELECT label,
           CAST(dim AS INTEGER) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x_micro) AS BIGINT) AS sum_micro,
           CAST(ROUND(CAST(SUM(x_micro) AS DOUBLE) / COUNT(*)) AS BIGINT)
             AS mean_micro
    FROM comp GROUP BY label, dim
    """,
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroid, exact: each float32 component is
    micro-unit snapped (round(x*1e6) — a deterministic integer map on both
    engines), summed in long arithmetic — so the per-(label,
    dim) mean is free of float-summation-order hazards entirely; the one
    double division at the end has identical operands in both engines.
    Emitted as (label, dim) rows rather than re-assembled arrays — the
    relational form every downstream consumer (drift monitor, coarse
    quantizer seed, per-class norm audit) can aggregate further.

    Scale: posexplode multiplies rows x64 BEFORE the shuffle, but the
    partial aggregate collapses them map-side — the exchange carries only
    (n_labels x 64) partial rows per partition. This is the vector-mean
    shape that feeds kmeans/ivf refinement at corpus scale.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("dim", "x"),
    ).select(
        "label",
        "dim",
        F.round(F.col("x") * 1000000.0, 0).cast("long").alias("x_micro"),
    )
    agg = comp.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x_micro").alias("sum_micro"),
    )
    return agg.select(
        "label",
        F.col("dim").cast("int").alias("dim"),
        "n",
        "sum_micro",
        F.round(F.col("sum_micro").cast("double") / F.col("n"), 0)
        .cast("long")
        .alias("mean_micro"),
    )


@query(
    "sim_decontaminate",
    extra=True,
    oracle="""
    WITH train AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    test AS (
      SELECT vec_id + 1000000 AS vec_id,
             [CASE WHEN i = 1 THEN v[i] * 1.01 ELSE v[i] END
              for i in range(1, 65)] AS v
      FROM train WHERE vec_id % 25 = 0
    ),
    cents AS (
      SELECT vec_id AS cent_id, v AS cv FROM train ORDER BY vec_id LIMIT 16
    ),
    t_assigned AS (
      SELECT vid, cent_id, v FROM (
        SELECT train.vec_id AS vid, c.cent_id, train.v,
               ROW_NUMBER() OVER (
                 PARTITION BY train.vec_id
                 ORDER BY list_sum([train.v[i] * c.cv[i]
                                    for i in range(1, 65)]) DESC,
                          c.cent_id
               ) AS rn
        FROM train, cents c
      ) WHERE rn = 1
    ),
    q_assigned AS (
      SELECT vid, cent_id, v FROM (
        SELECT test.vec_id AS vid, c.cent_id, test.v,
               ROW_NUMBER() OVER (
                 PARTITION BY test.vec_id
                 ORDER BY list_sum([test.v[i] * c.cv[i]
                                    for i in range(1, 65)]) DESC,
                          c.cent_id
               ) AS rn
        FROM test, cents c
      ) WHERE rn = 1
    ),
    hit AS (
      SELECT DISTINCT a.vid
      FROM t_assigned a JOIN q_assigned b ON a.cent_id = b.cent_id
      WHERE ROUND(list_sum([a.v[i] * b.v[i] for i in range(1, 65)])
                  / (sqrt(list_sum([a.v[i] * a.v[i] for i in range(1, 65)]))
                     * sqrt(list_sum([b.v[i] * b.v[i] for i in range(1, 65)]))),
                  6) >= 0.95
    )
    SELECT s.vid AS vec_id, s.cent_id, h.vid IS NULL AS kept
    FROM t_assigned s LEFT JOIN hit h ON s.vid = h.vid
    """,
)
def sim_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space train/eval decontamination
    (operators/similarity.py:semantic_decontaminate): the test set is 20
    near-copies of train vectors (1% single-dimension perturbation — a
    benchmark item paraphrased into the crawl), and every train vector
    within cosine 0.95 of ANY test vector is flagged kept=false. IVF
    cells come from the TRAIN side; the test set assigns to the same
    centroids, confining the cross join to per-cell blocks. FULLY
    oracled: DuckDB replays centroid choice, both assignments, the
    cell-confined cross join and the verdict per train vector.

    Scale: O(N_train · |test∩cell|) pair work instead of N_train·N_test;
    the test side is benchmark-sized, so its per-cell slices broadcast;
    cells derive from train size (bounded cells ⇒ linear volume).
    """
    from ..operators.similarity import semantic_decontaminate

    emb = load_table(spark, sf_dir, "embeddings")
    train = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    test = train.where(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x, i: F.when(i == 0, x * 1.01).otherwise(x)
        ).alias("embedding"),
    )
    return semantic_decontaminate(train, test, threshold=0.95, n_centroids=16)


from ..operators.clustering import kmeans_assign_micro, kmeans_oracle_sql  # noqa: E402


@query("sim_kmeans_cells", extra=True, oracle=kmeans_oracle_sql(k=8, iterations=2))
def sim_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means (operators/clustering.py): 2 refinement
    iterations from the 8 lowest-id seeds, micro-unit integer arithmetic
    throughout, final per-vector assignment (vid, cent_id, n_cell). The
    DuckDB oracle unrolls the full iteration chain (c0→a1→c1→a2→c2→fin)
    from the SAME generator module — an ITERATIVE clustering algorithm
    holding a per-row value oracle, completing the trio started by
    dedup_components (label propagation) and q_pagerank_trade (ranks).

    kmeans_refine (similarity.py) stays the float/BLAS production path;
    this is the replayable twin that proves the distributed Lloyd shape
    (broadcast centroids → integer argmax → map-side partial component
    sums) computes exactly what the textbook recurrence says.

    Scale: per iteration the corpus crosses a broadcast k×dim long
    relation and the update exchange carries k·(dim+2) longs per
    partition — corpus rows never shuffle; lineage is checkpoint-
    truncated per iteration, so iteration count only multiplies
    wall-clock, not plan depth.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_assign_micro(emb, k=8, iterations=2, dim=64)


def _int8_shortlist_sql(n: int) -> str:
    """Stage-1 CTE chain: int8 shortlist of size n for query_id < 5 —
    the sim_int8_topk math verbatim, parameterized by depth."""
    return f"""
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q8 AS (
      SELECT vec_id,
             list_transform(
               v,
               x -> CAST(ROUND(x * 127.0 / greatest(
                      list_max(list_transform(v, y -> abs(y))), 1e-30)
                    ) AS BIGINT)
             ) AS q
      FROM e
    ),
    qs AS (SELECT vec_id, q FROM q8 WHERE vec_id < 5),
    s1 AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             ROUND(
               CAST(list_sum([a.q[i] * b.q[i] for i in range(1, 65)]) AS DOUBLE)
               / sqrt(CAST(list_sum([a.q[i] * a.q[i] for i in range(1, 65)])
                           * list_sum([b.q[i] * b.q[i] for i in range(1, 65)])
                      AS DOUBLE)),
               6) AS cosine_q8
      FROM qs a JOIN q8 b ON a.vec_id <> b.vec_id
    ),
    shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY cosine_q8 DESC, neighbor_id
        ) AS r8 FROM s1
      ) WHERE r8 <= {n}
    )"""


@query(
    "sim_rerank_two_stage",
    extra=True,
    oracle=f"""
    WITH {_int8_shortlist_sql(40)},
    exact AS (
      SELECT s.query_id, s.neighbor_id,
             ROUND({_SQL_DOT} / ({_SQL_NORM_A} * {_SQL_NORM_B}), 6) AS cosine
      FROM shortlist s
      JOIN e a ON a.vec_id = s.query_id
      JOIN e b ON b.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rank FROM exact
    ) WHERE rank <= 10
    """,
)
def sim_rerank_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN serving (operators/similarity.py:two_stage_topk):
    int8 shortlist of 40 per query (1/4-bandwidth coarse stage), then an
    exact double-cosine rerank of ONLY the shortlist, top-10. The oracle
    replays both stages — the int8 math verbatim from sim_int8_topk's
    oracle (factored as a parameterized CTE) plus the exact-cosine rerank
    — so the stage seam (which candidates survive, in what order) is
    value-pinned, not just the final ranking.

    Scale: stage 1 reads the compressed corpus once; stage 2 touches
    shortlist x |queries| vectors via an id-equi-join (a partition-pruned
    point-lookup relation at 100 TB), so exact-scoring cost is decoupled
    from corpus size. This is the standard recall-then-precision split
    every production vector store runs.
    """
    from ..operators.similarity import two_stage_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return two_stage_topk(emb, queries, shortlist=40, k=10).select(
        "query_id",
        "neighbor_id",
        "cosine",
        F.col("rank").cast("int").alias("rank"),
    )


@query(
    "q_applyinarrow_label_profile",
    extra=True,
    oracle="""
    SELECT CAST(label AS INTEGER) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CAST(ROUND(embedding[1]::DOUBLE * 1000000) AS BIGINT))
                AS BIGINT) AS sum_dim0_micro
    FROM embeddings
    GROUP BY label
    """,
)
def q_applyinarrow_label_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped ``applyInArrow`` (functions/udf_surface.py:
    label_profile_apply_arrow): per-label count + micro-snapped sum of
    the first embedding component, computed from zero-copy numpy views
    over each group's single Arrow table — completing the Python-interop
    matrix with Spark 4's grouped-Arrow surface, value-oracled like its
    mapInArrow sibling.

    Scale: one shuffle on label; each group crosses the Python boundary
    once as Arrow buffers (no pandas), and the output is one row per
    group. For corpus-sized groups you'd pre-aggregate JVM-side instead
    — this surface is for group-local algorithms that genuinely need
    numpy (per-class covariance, spectral stats), stood in for here by
    an exactly-checkable reduction.
    """
    from ..functions.udf_surface import label_profile_apply_arrow

    emb = load_table(spark, sf_dir, "embeddings")
    return label_profile_apply_arrow(emb)


@query(
    "sim_hard_negatives",
    extra=True,
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings)
    SELECT anchor_id, negative_id, cosine, CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT a.vec_id AS anchor_id, b.vec_id AS negative_id,
             ROUND({_SQL_DOT} / ({_SQL_NORM_A} * {_SQL_NORM_B}), 6) AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY ROUND({_SQL_DOT} / ({_SQL_NORM_A} * {_SQL_NORM_B}), 6)
                          DESC,
                        b.vec_id
             ) AS rank
      FROM e a JOIN e b
        ON a.vec_id <> b.vec_id AND a.label <> b.label
      WHERE a.vec_id < 8
    ) WHERE rank <= 5
    """,
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    (vec_id < 8), the top-5 MOST similar vectors carrying a DIFFERENT
    label — the pairs that actually teach a contrastive objective
    something (easy negatives are free; hard ones need exactly this
    cross-label similarity search). Exact cosine, round-6 scores, id
    tiebreaks — per-pair value oracle.

    Scale: identical plan shape to brute_force_topk (broadcast anchor
    set × corpus, per-partition partial top-k) with the label-inequality
    predicate fused into the join condition, so rejected same-label
    pairs never reach the ranking window; the IVF/int8 shortlist paths
    compose here the same way they do for plain top-k when the corpus
    outgrows the scan.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )
    anchors = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("v").alias("va"),
        F.col("label").alias("la"),
    )
    from ..operators.similarity import cosine

    scored = (
        e.join(
            F.broadcast(anchors),
            (F.col("vec_id") != F.col("anchor_id"))
            & (F.col("label") != F.col("la")),
        )
        .select(
            "anchor_id",
            F.col("vec_id").alias("negative_id"),
            F.round(cosine(F.col("va"), F.col("v")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("negative_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select(
            "anchor_id",
            "negative_id",
            "cosine",
            F.col("rank").cast("int").alias("rank"),
        )
    )


from ..operators.clustering import farthest_point_sample, fps_oracle_sql  # noqa: E402


@query("sim_farthest_point_sample", extra=True, oracle=fps_oracle_sql(k=6))
def sim_farthest_point_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy farthest-point (k-center) diversity sampling
    (operators/clustering.py:farthest_point_sample): 6 rounds from the
    lowest-id seed, each adding the vector with the maximum integer
    min-distance² to the chosen set — the coreset/diverse-subset
    selection that counters random sampling's dense-mode bias. The
    oracle unrolls all 6 greedy rounds (the kmeans/pagerank device
    applied to a SELECTION process: each round's argmax is one CTE),
    so the exact chosen sequence AND each round's separation value are
    hash-pinned.

    Scale: k broadcast-scan rounds (chosen set ≤ k·dim longs), one
    1-row TakeOrdered argmax per round; no corpus-sized window, no
    driver state beyond the k chosen vectors.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return farthest_point_sample(emb, k=6)


@query(
    "sim_pq_topk",
    extra=True,  # rotated out round 10: sim_ivfadc_topk (graded) subsumes the PQ/ADC path (IVF prune + PQ codes + rerank)
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cb AS (SELECT vec_id AS code, v AS cv FROM e ORDER BY vec_id LIMIT 16),
    sub AS (SELECT unnest(range(0, 8)) AS m),
    enc AS (
      SELECT vid, m, code FROM (
        SELECT e.vec_id AS vid, s.m, c.code,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id, s.m ORDER BY
            list_sum([(e.v[s.m*8+i] - c.cv[s.m*8+i])
                      * (e.v[s.m*8+i] - c.cv[s.m*8+i]) for i in range(1, 9)]) ASC,
            c.code ASC) AS rn
        FROM e, sub s, cb c
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    lut AS (
      SELECT q.query_id, s.m, c.code,
        CAST(ROUND(list_sum([q.qv[s.m*8+i] * c.cv[s.m*8+i]
                             for i in range(1, 9)]) * 1000000) AS BIGINT) AS pm
      FROM q, sub s, cb c
    ),
    shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT l.query_id, en.vid AS neighbor_id, SUM(l.pm) AS am
        FROM enc en JOIN lut l ON l.m = en.m AND l.code = en.code
        WHERE en.vid <> l.query_id
        GROUP BY 1, 2
      ) QUALIFY ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY am DESC, neighbor_id) <= 100
    ),
    exact AS (
      SELECT s.query_id, s.neighbor_id,
        ROUND(list_sum([eq.v[i] * en.v[i] for i in range(1, 65)])
              / (sqrt(list_sum([eq.v[i] * eq.v[i] for i in range(1, 65)]))
                 * sqrt(list_sum([en.v[i] * en.v[i] for i in range(1, 65)]))),
              6) AS cosine
      FROM shortlist s
      JOIN e eq ON eq.vec_id = s.query_id
      JOIN e en ON en.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rank FROM exact
    ) WHERE rank <= 10
    """,
)
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.py:pq_index/pq_topk):
    8 subspaces x 16 codes, per-query ADC lookup tables, micro-snapped
    integer ADC sums -> 100-candidate shortlist -> exact cosine rerank ->
    top-10. FULL oracle: the codebook sample, per-subspace L2 argmin
    encoding, snapped LUT partials, shortlist ranking and the rerank are
    all rebuilt in SQL (the sim_ivf_topk device extended to the
    compressed-domain scan), so the complete IVFADC-style serving path is
    hash-pinned, not just recall-gated. Recall@10 vs the exact baseline
    is additionally pytest-gated (tests/test_similarity.py).

    Scale: the ADC scan touches ONLY the 8-codes-per-vector encoded
    relation (32x bandwidth cut) joined to a broadcast LUT
    (|q| * 8 * 16 rows); full float vectors are read again just for the
    |q| * 100 shortlist id-lookups. The (vid, m) encode aggregation is
    the only corpus-wide shuffle, and it shrinks rows before the shuffle
    (partial min_by)."""
    from ..operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return pq_topk(emb, queries, k=10, shortlist=100).select(
        "query_id",
        "neighbor_id",
        "cosine",
        F.col("rank").cast("int").alias("rank"),
    )


def _rrf_oracle() -> str:
    from .text_queries import _bm25_oracle

    ppm = "CAST(FLOOR((2 * 1000000 + (60 + r)) / (2.0 * (60 + r))) AS BIGINT)"
    return f"""
    WITH lex AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r
      FROM ({_bm25_oracle(k=20)})
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    vec AS (
      SELECT neighbor_id AS doc_id, r FROM (
        SELECT b.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 ORDER BY ROUND({_SQL_DOT} / ({_SQL_NORM_A} * {_SQL_NORM_B}), 6)
                            DESC,
                          b.vec_id
               ) AS r
        FROM (SELECT * FROM e WHERE vec_id = 0) a
        JOIN e b ON a.vec_id <> b.vec_id
      ) WHERE r <= 20
    ),
    parts AS (
      SELECT doc_id, {ppm} AS lexical_ppm, CAST(0 AS BIGINT) AS vector_ppm
      FROM lex
      UNION ALL
      SELECT doc_id, CAST(0 AS BIGINT), {ppm} FROM vec
    ),
    fused AS (
      SELECT doc_id,
             CAST(SUM(lexical_ppm) AS BIGINT) AS lexical_ppm,
             CAST(SUM(vector_ppm) AS BIGINT) AS vector_ppm
      FROM parts GROUP BY 1
    )
    SELECT doc_id, lexical_ppm, vector_ppm,
           lexical_ppm + vector_ppm AS rrf_ppm, CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        ORDER BY lexical_ppm + vector_ppm DESC, doc_id
      ) AS rank FROM fused
    ) WHERE rank <= 10
    """


@query("sim_hybrid_rrf", extra=True, oracle=_rrf_oracle())
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical top-20 (text_bm25_topk's operator at
    k=20) fused with exact-cosine vector top-20 for query vector 0 (the
    synthetic tables share the id space, so vec_id keys documents) via
    reciprocal-rank fusion (operators/similarity.py:rrf_fuse) — the
    two-tower search shape every RAG stack runs. Integer-ppm RRF
    contributions make the fusion associative-exact, so the whole
    composition (both retrievers' ranks, the union re-aggregate, the
    fused ranking) hash-pins against SQL.

    Scale: each branch is its own bounded top-k (BM25: broadcast stats +
    TakeOrdered; vector: broadcast query + per-partition WindowGroupLimit);
    the fusion touches only Σ k rows."""
    from ..operators.similarity import rrf_fuse
    from ..operators.textstats import bm25_topk
    from .text_queries import _BM25_TERMS

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, list(_BM25_TERMS), k=20)
    wl = Window.orderBy(F.col("bm25").desc(), "doc_id")
    lexr = lex.withColumn("r", F.row_number().over(wl)).select("doc_id", "r")
    vec = brute_force_topk(emb, emb.where(F.col("vec_id") == 0), k=20)
    vecr = vec.select(
        F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("r")
    )
    fused = rrf_fuse({"lexical": lexr, "vector": vecr}, k=10)
    return fused.select(
        "doc_id",
        "lexical_ppm",
        "vector_ppm",
        "rrf_ppm",
        F.col("rank").cast("int").alias("rank"),
    )


_SQL_DOT16 = "list_sum([a.v[i] * b.v[i] for i in range(1, 17)])"
_SQL_NORM16_A = "sqrt(list_sum([a.v[i] * a.v[i] for i in range(1, 17)]))"
_SQL_NORM16_B = "sqrt(list_sum([b.v[i] * b.v[i] for i in range(1, 17)]))"


@query(
    "sim_matryoshka_overlap",
    extra=True,
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
    full_topk AS (
      SELECT query_id, neighbor_id, rank FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY ROUND({_SQL_DOT} / ({_SQL_NORM_A} * {_SQL_NORM_B}), 6)
                            DESC,
                          b.vec_id
               ) AS rank
        FROM q a JOIN e b ON a.vec_id <> b.vec_id
      ) WHERE rank <= 10
    ),
    trunc_topk AS (
      SELECT query_id, neighbor_id, rank FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY
                   ROUND({_SQL_DOT16} / ({_SQL_NORM16_A} * {_SQL_NORM16_B}), 6)
                     DESC,
                   b.vec_id
               ) AS rank
        FROM q a JOIN e b ON a.vec_id <> b.vec_id
      ) WHERE rank <= 10
    )
    SELECT f.query_id,
           CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_overlap,
           BOOL_OR(f.rank = 1 AND t.rank = 1) AS top1_match
    FROM full_topk f
    LEFT JOIN trunc_topk t
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
    GROUP BY f.query_id
    """,
)
def sim_matryoshka_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka/truncated-dimension retrieval eval: how much of the
    exact 64-dim cosine top-10 survives when queries run on the FIRST 16
    DIMS only (the MRL serving trick — shortlist on a prefix slice at
    1/4 bandwidth, like int8/PQ but along the dimension axis). Per
    query: overlap size of the two top-10 sets and whether the top-1
    agrees. Both branches are the exact brute-force operator (the
    truncated one over ``slice(embedding, 1, 16)``), so the whole eval
    is hash-pinned — the measurement a team runs before enabling
    truncated retrieval in production.

    Scale: two broadcast-query scans + a |q|*10 set join; nothing
    corpus-shaped beyond the scans."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb16 = emb.select(
        "vec_id", F.slice("embedding", 1, 16).alias("embedding")
    )
    q = emb.where(F.col("vec_id") < 5)
    q16 = emb16.where(F.col("vec_id") < 5)
    full = brute_force_topk(emb, q, k=10).select(
        "query_id", "neighbor_id", "rank"
    )
    trunc = brute_force_topk(emb16, q16, k=10).select(
        F.col("query_id").alias("t_query_id"),
        F.col("neighbor_id").alias("t_neighbor_id"),
        F.col("rank").alias("t_rank"),
    )
    # both top-10 relations are |q|*10 rows — broadcast the probe side
    # (without the hint the planner SMJs two post-window relations)
    joined = full.join(
        F.broadcast(trunc),
        (F.col("t_query_id") == F.col("query_id"))
        & (F.col("t_neighbor_id") == F.col("neighbor_id")),
        "left",
    )
    return joined.groupBy("query_id").agg(
        F.count("t_neighbor_id").alias("n_overlap"),
        F.max(
            F.coalesce(
                (F.col("rank") == 1) & (F.col("t_rank") == 1), F.lit(False)
            )
        ).alias("top1_match"),
    )


@query(
    "sim_ivfadc_topk",
    # promoted to the graded window in round 8 (the composed IVF+ADC
    # retrieval path was extra-only; q_hourly_events rotated out)
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents AS (
      SELECT vec_id AS cent_id, v AS cv FROM e ORDER BY vec_id LIMIT 16
    ),
    assigned AS (
      SELECT vid, cent_id FROM (
        SELECT e.vec_id AS vid, c.cent_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_sum([e.v[i] * c.cv[i] for i in range(1, 65)])
                            DESC,
                          c.cent_id
               ) AS rn
        FROM e, cents c
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    probes AS (
      SELECT query_id, cent_id FROM (
        SELECT q.query_id, c.cent_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY list_sum([q.qv[i] * c.cv[i] for i in range(1, 65)])
                            DESC,
                          c.cent_id
               ) AS rn
        FROM q, cents c
      ) WHERE rn <= 4
    ),
    cand AS (
      SELECT p.query_id, a.vid
      FROM probes p JOIN assigned a ON a.cent_id = p.cent_id
      WHERE a.vid <> p.query_id
    ),
    cb AS (SELECT vec_id AS code, v AS cv FROM e ORDER BY vec_id LIMIT 16),
    sub AS (SELECT unnest(range(0, 8)) AS m),
    enc AS (
      SELECT vid, m, code FROM (
        SELECT e.vec_id AS vid, s.m, c.code,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id, s.m ORDER BY
            list_sum([(e.v[s.m*8+i] - c.cv[s.m*8+i])
                      * (e.v[s.m*8+i] - c.cv[s.m*8+i]) for i in range(1, 9)])
              ASC,
            c.code ASC) AS rn
        FROM e, sub s, cb c
      ) WHERE rn = 1
    ),
    lut AS (
      SELECT q.query_id, s.m, c.code,
        CAST(ROUND(list_sum([q.qv[s.m*8+i] * c.cv[s.m*8+i]
                             for i in range(1, 9)]) * 1000000) AS BIGINT) AS pm
      FROM q, sub s, cb c
    ),
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT cd.query_id, cd.vid AS neighbor_id, SUM(l.pm) AS am
        FROM cand cd
        JOIN enc en ON en.vid = cd.vid
        JOIN lut l ON l.query_id = cd.query_id
                  AND l.m = en.m AND l.code = en.code
        GROUP BY 1, 2
      ) QUALIFY ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY am DESC, neighbor_id) <= 50
    ),
    exact AS (
      SELECT s.query_id, s.neighbor_id,
        ROUND(list_sum([eq.v[i] * en.v[i] for i in range(1, 65)])
              / (sqrt(list_sum([eq.v[i] * eq.v[i] for i in range(1, 65)]))
                 * sqrt(list_sum([en.v[i] * en.v[i] for i in range(1, 65)]))),
              6) AS cosine
      FROM short s
      JOIN e eq ON eq.vec_id = s.query_id
      JOIN e en ON en.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rank FROM exact
    ) WHERE rank <= 10
    """,
)
def sim_ivfadc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVFADC (operators/similarity.py:ivfadc_topk — the FAISS
    IVF16,PQ8 serving shape): coarse cells prune to 4-of-16, PQ ADC
    scores only the surviving candidates from 8-byte codes against
    broadcast per-query LUTs, exact cosine reranks the 50-candidate
    shortlist. Every stage (both quantizers, the candidate set, the
    snapped ADC sums, the rerank) replays in the oracle — the composed
    two-level index is hash-pinned, completing the ANN family's scale
    ladder: brute -> LSH -> IVF -> int8 -> PQ -> IVFADC.

    Scale: candidate volume O(|q|·cell·probes), ADC join candidate-
    bounded, rerank |q|·50 point lookups — the only corpus-wide passes
    are the two index builds, both map-side against broadcast
    codebooks."""
    from ..operators.similarity import ivfadc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return ivfadc_topk(emb, queries, k=10, shortlist=50).select(
        "query_id",
        "neighbor_id",
        "cosine",
        F.col("rank").cast("int").alias("rank"),
    )


_PURITY_ORACLE = (
    "WITH asg AS (\n"
    + kmeans_oracle_sql(k=8, iterations=2)
    + """
    ),
    lab AS (
      SELECT a.cent_id, a.n_cell, e.label, CAST(COUNT(*) AS BIGINT) AS n
      FROM asg a JOIN embeddings e ON e.vec_id = a.vid
      GROUP BY a.cent_id, a.n_cell, e.label
    ),
    top AS (
      SELECT cent_id, n_cell, label, n FROM (
        SELECT cent_id, n_cell, label, n, ROW_NUMBER() OVER (
          PARTITION BY cent_id ORDER BY n DESC, label ASC
        ) AS rn FROM lab
      ) WHERE rn = 1
    )
    SELECT cent_id, CAST(n_cell AS BIGINT) AS n_cell,
           CAST(label AS BIGINT) AS top_label, n AS n_top,
           CAST((2 * n * 1000000 + n_cell) // (2 * n_cell) AS BIGINT)
             AS purity_ppm
    FROM top
    """
)


@query("sim_cluster_purity", extra=True, oracle=_PURITY_ORACLE)
def sim_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster purity — the unsupervised-quality eval closing the
    clustering loop: the deterministic Lloyd assignment
    (sim_kmeans_cells' exact integer path) joined to ground-truth
    labels, per-cell majority label (ties -> lowest label) and its share
    of the cell in half-up ppm. High purity means the embedding
    clusters recover label structure — the go/no-go check before using
    cluster ids as pseudo-labels or SemDeDup cells. The oracle wraps
    the SAME unrolled c0->a1->c1->a2->c2->fin SQL chain the assignment
    query uses, then replays the majority vote.

    Scale: assignment inherits kmeans_assign_micro's shape (broadcast
    centroids, corpus never shuffles); the label join is keyed on vid;
    the vote is a k x |labels| relation reduced by a bounded window."""
    emb = load_table(spark, sf_dir, "embeddings")
    asg = kmeans_assign_micro(emb, k=8, iterations=2, dim=64)
    lab = (
        asg.join(
            emb.select(F.col("vec_id").alias("vid"), "label"), "vid"
        )
        .groupBy("cent_id", "n_cell", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("cent_id").orderBy(
        F.col("n").desc(), F.col("label").asc()
    )
    top = lab.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return top.select(
        "cent_id",
        "n_cell",
        F.col("label").cast("long").alias("top_label"),
        F.col("n").alias("n_top"),
        F.call_function(
            "div",
            F.lit(2) * F.col("n") * 1_000_000 + F.col("n_cell"),
            F.lit(2) * F.col("n_cell"),
        ).alias("purity_ppm"),
    )


@query(
    "sim_mips_topk",
    extra=True,
    oracle="""
    WITH xq AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(ROUND(x * 1000000) AS BIGINT)) AS q
      FROM embeddings
    ),
    qs AS (SELECT vec_id, q FROM xq WHERE vec_id < 5),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(range(1, 65),
                           i -> a.q[i] * b.q[i])) AS BIGINT) AS dot_micro2
      FROM qs a JOIN xq b ON a.vec_id <> b.vec_id
    )
    SELECT query_id, neighbor_id, dot_micro2,
           CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY dot_micro2 DESC, neighbor_id
      ) AS rank FROM scored
    ) WHERE rank <= 10
    """,
)
def sim_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product search (MIPS) top-10 — the RECOMMENDER
    ranking semantics, distinct from cosine whenever norms vary (a
    long vector can out-score a better-aligned short one): scores are
    EXACT integer dots over micro-quantized components
    (operators/clustering.quantize_micro — the kmeans/IVF integer
    contract), so ranking carries no float hazard at all; ties break
    on neighbor_id. The cosine path answers "most similar"; this
    answers "highest affinity" — both served from the same quantized
    relation.

    Scale: the 5-query set broadcasts against the corpus scan (the
    brute_topk shape); the integer dot is a codegen HOF fold; ranking
    is the per-query window. The LSH/IVF/PQ ladder upgrades it the
    same way as cosine once the MIPS-to-cosine augmentation
    (Shrivastava & Li's asymmetric transform) normalizes the corpus."""
    from ..operators.clustering import quantize_micro

    emb = load_table(spark, sf_dir, "embeddings")
    xq = quantize_micro(
        emb.select(F.col("vec_id"), "embedding"), "embedding"
    ).select("vec_id", "xq")
    qs = xq.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("xq").alias("qq")
    )
    dot = F.aggregate(
        F.zip_with("qq", "xq", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        F.broadcast(qs)
        .crossJoin(xq)
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dot.alias("dot_micro2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot_micro2").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select(
            "query_id",
            "neighbor_id",
            "dot_micro2",
            F.col("rank").cast("int").alias("rank"),
        )
    )


from .registry import EXTRA_ORACLES as _EO, ORACLES as _O  # noqa: E402

_RECALL_CURVE_ORACLE = (
    # merged lookup: sim_brute_topk moved between tiers in round 11
    "WITH exact AS (\n"
    + {**_O, **_EO}["sim_brute_topk"]
    + "\n),\n"
    "ivf AS (\n" + _EO["sim_ivf_topk"] + "\n),\n"
    + """
    ks AS (SELECT unnest([1, 5, 10]) AS k),
    hits AS (
      SELECT e.query_id, ks.k,
             CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_overlap
      FROM exact e CROSS JOIN ks
      LEFT JOIN ivf i ON i.query_id = e.query_id
        AND i.neighbor_id = e.neighbor_id AND i.rank <= ks.k
      WHERE e.rank <= ks.k
      GROUP BY e.query_id, ks.k
    )
    SELECT query_id, CAST(k AS BIGINT) AS k, n_overlap,
           CAST((2 * n_overlap * 1000000 + k) // (2 * k) AS BIGINT)
             AS recall_ppm
    FROM hits
    """
)


@query("sim_ivf_recall_curve", extra=True, oracle=_RECALL_CURVE_ORACLE)
def sim_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall CURVE — recall@k of the deterministic IVF path against
    exact brute force at k = 1, 5, 10 per query, the serving-quality
    report that turns the pytest recall gates into a driver-checkable
    relation: both rankings are computed once to depth 10 and each k
    evaluates by rank filters (no re-search per k); recall is the exact
    integer |exact∩ivf| / k in half-up ppm. The oracle nests the two
    full index replays (brute + IVF, each already hash-exact on its own
    query) as CTE subqueries and replays the overlap join — so the
    curve is graded end-to-end, not derived from trusted intermediates.

    Scale: two ranked relations of |q| x 10 rows join on (query,
    neighbor) — negligible next to the searches themselves; the curve
    adds no new search cost at any corpus size."""
    from ..operators.similarity import brute_force_topk, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, k=10).select(
        "query_id", "neighbor_id", F.col("rank").alias("e_rank")
    )
    ivf = ivf_topk(emb, queries, k=10, n_centroids=16, n_probe=4).select(
        F.col("query_id").alias("iq"),
        F.col("neighbor_id").alias("inb"),
        F.col("rank").alias("i_rank"),
    )
    ks = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(5), F.lit(10))).alias("k")
    )
    hits = (
        exact.crossJoin(F.broadcast(ks))
        .where(F.col("e_rank") <= F.col("k"))
        .join(
            F.broadcast(ivf),  # |q| x k rows by construction - always tiny
            (F.col("iq") == F.col("query_id"))
            & (F.col("inb") == F.col("neighbor_id"))
            & (F.col("i_rank") <= F.col("k")),
            "left",
        )
        .groupBy("query_id", "k")
        .agg(F.count("inb").alias("n_overlap"))
    )
    return hits.select(
        "query_id",
        F.col("k").cast("long").alias("k"),
        "n_overlap",
        F.call_function(
            "div",
            F.lit(2) * F.col("n_overlap") * 1_000_000 + F.col("k"),
            F.lit(2) * F.col("k"),
        ).alias("recall_ppm"),
    )


from ..operators.clustering import pca_oracle_sql  # noqa: E402


# Promoted to the graded window in round 8 close-out: the spectral
# primitive is a new operator class with no graded representative
# (displaces the bounded-baseline sim_near_dup).
@query("sim_pca_top_component", extra=True, oracle=pca_oracle_sql(iterations=4))  # rotated out r12 (graded r8-r11; vector family keeps sim_semantic_dedup/sim_ivfadc_topk graded)
def sim_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant PCA direction of the embedding corpus by exact-integer
    POWER ITERATION (operators/clustering.py:pca_top_component_micro):
    64 rows (dim, loading_micro), max-|loading| pinned to ±1e6 — the
    spectral primitive behind whitening, spectral hashing, and
    drift-direction diagnostics over embedding stores.

    The corpus is touched ONCE: a mapInArrow kernel reshapes each Arrow
    batch to an int64 matrix and emits a dim²-row exact E^T·E partial
    (integer sums are associative, so the BLAS-shaped partial
    aggregation reproduces the pair-exploded SQL gram bit-for-bit);
    the exchange carries dim² longs per partition, never vectors. Both
    iterations then run on the constant 4096-row gram: shuffle-hash
    matrix-vector joins, 1-row max broadcasts, and the right-shift
    overflow valve (g and the normalization pair shifted by the SAME
    data-derived divisors in both engines) keep every intermediate an
    exact long for ANY corpus size. The DuckDB oracle unrolls
    gram → u1/v1 → u2/v2 verbatim from the same generator module."""
    from ..operators.clustering import pca_top_component_micro

    emb = load_table(spark, sf_dir, "embeddings")
    return pca_top_component_micro(emb, iterations=4)


from ..operators.clustering import pca_cte_sql  # noqa: E402

_PCA_PROJECT_ORACLE = (
    "WITH "
    + pca_cte_sql(iterations=4)
    + """,
    scores AS (
      SELECT e.vec_id, CAST(SUM(e.x * v.v) AS BIGINT) AS proj
      FROM ex e JOIN v4 v ON v.vj = e.i
      GROUP BY e.vec_id
    ),
    hi AS (
      SELECT vec_id, proj, 'high' AS tail FROM scores
      ORDER BY proj DESC, vec_id LIMIT 5
    ),
    lo AS (
      SELECT vec_id, proj, 'low' AS tail FROM scores
      ORDER BY proj ASC, vec_id LIMIT 5
    )
    SELECT vec_id, proj, tail FROM hi
    UNION ALL
    SELECT vec_id, proj, tail FROM lo
    """
)


@query("sim_pca_project", extra=True, oracle=_PCA_PROJECT_ORACLE)
def sim_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA TRANSFORM — the apply half of sim_pca_top_component's fit:
    every vector projected onto the learned dominant direction
    (operators/clustering.py:pca_project_micro, exact integer dot of
    milli components × micro loadings), reporting the 5 most extreme
    documents per tail — the outlier/diversity triage a curation
    pipeline runs along its principal axis. The oracle replays the
    ENTIRE chain — gram, 4 power-iteration rounds, projection, both
    tail top-5s — from the shared generator.

    Scale: fit runs once (corpus pass + constant-size rounds); the
    transform is a broadcast of 64 loading longs onto a narrow
    posexplode, reduced map-side per vector; each tail is a total-order
    LIMIT."""
    from ..operators.clustering import (
        pca_project_micro,
        pca_top_component_micro,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    loadings = pca_top_component_micro(emb, iterations=4)
    scores = pca_project_micro(emb, loadings)
    hi = (
        scores.orderBy(F.col("proj").desc(), "vec_id")
        .limit(5)
        .withColumn("tail", F.lit("high"))
    )
    lo = (
        scores.orderBy(F.col("proj").asc(), "vec_id")
        .limit(5)
        .withColumn("tail", F.lit("low"))
    )
    return hi.unionByName(lo)


def _jl_oracle() -> str:
    from ..operators.similarity import jl_project_exprs

    exprs = jl_project_exprs(64, 16, one_based=True)
    proj_cols = ", ".join(f"{e} AS p{k}" for k, e in enumerate(exprs))
    qcols = ", ".join(f"p{k} AS q{k}" for k in range(16))
    dot = " + ".join(f"q{k} * p{k}" for k in range(16))
    return f"""
    WITH proj AS (SELECT vec_id, {proj_cols} FROM embeddings),
    q AS (SELECT vec_id AS qid, {qcols} FROM proj WHERE vec_id < 20),
    pairs AS (
      SELECT qid, proj.vec_id AS cand_id, ({dot}) AS dot
      FROM q CROSS JOIN proj WHERE proj.vec_id <> qid
    )
    SELECT qid AS q_id, cand_id,
           CAST(ROUND(dot * 1000000) AS BIGINT) AS dot_micro
    FROM pairs
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY qid ORDER BY dot DESC, cand_id) <= 10
    """


@query("sim_jl_topk", extra=True, oracle=_jl_oracle())
def sim_jl_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss retrieval: project 64-dim embeddings to 16
    dims through a deterministic ±1 sign matrix (inlined as literals in
    BOTH engines — operators/similarity.jl_sign_matrix), then top-10 by
    projected dot product. Completes the ANN family's dimensionality-
    REDUCTION corner (LSH: sign buckets, IVF: cells, PQ: codebooks,
    int8: quantization, matryoshka: prefix dims — JL: random signed
    combinations, the classic distance-preserving transform). Fully
    value-adjudicated because the projection is literal text shared with
    the oracle and every double sum is fixed-order.

    Honesty note: on THIS corpus (near-isotropic synthetic embeddings)
    top-k recall after any 4x reduction is noise-bound (~0.1-0.25
    measured at 8-32 dims) because neighbor margins are themselves
    noise — the operator's real contract is the JL lemma (pairwise
    distances preserved within ~sqrt(2/d_out)), which
    tests/test_geo_jl.py gates directly; on clustered real embeddings
    the same plan is what recovers recall.

    Scale: the projection is a map-side expression (8 fused signed sums
    per row — whole-stage codegen, 8x bandwidth cut before any join);
    the scoring stage is the brute-topk shape over the REDUCED vectors
    (broadcast query set), and at fleet scale the projected space is
    what gets IVF-bucketed."""
    from ..operators.similarity import jl_project_exprs

    exprs = jl_project_exprs(64, 16)
    emb = load_table(spark, sf_dir, "embeddings")
    proj = emb.select(
        "vec_id", *[F.expr(e).alias(f"p{k}") for k, e in enumerate(exprs)]
    )
    q = proj.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        *[F.col(f"p{k}").alias(f"q{k}") for k in range(16)],
    )
    pairs = proj.crossJoin(F.broadcast(q)).where(
        F.col("vec_id") != F.col("qid")
    )
    dot = F.col("q0") * F.col("p0")
    for k in range(1, 16):
        dot = dot + F.col(f"q{k}") * F.col(f"p{k}")
    w = Window.partitionBy("qid").orderBy(F.desc("dot"), F.asc("vec_id"))
    return (
        pairs.withColumn("dot", dot)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select(
            F.col("qid").alias("q_id"),
            F.col("vec_id").alias("cand_id"),
            F.round(F.col("dot") * 1000000, 0).cast("long").alias("dot_micro"),
        )
    )


@query(
    "sim_mutual_nn",
    extra=True,
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id < 300
    ),
    nn AS (
      SELECT a.vec_id AS qid, b.vec_id AS nid,
             ROUND({_SQL_DOT} / ({_SQL_NORM_A} * {_SQL_NORM_B}), 6)
               AS cosine
      FROM e a JOIN e b ON a.vec_id <> b.vec_id
      QUALIFY ROW_NUMBER() OVER (
          PARTITION BY a.vec_id ORDER BY cosine DESC, b.vec_id) = 1
    )
    SELECT x.qid AS id_a, x.nid AS id_b, x.cosine
    FROM nn x JOIN nn y ON y.qid = x.nid AND y.nid = x.qid
    WHERE x.qid < x.nid
    """,
)
def sim_mutual_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual nearest neighbors: pairs that are EACH OTHER's cosine
    top-1 — the classic high-precision primitive for entity alignment /
    translation-pair mining / clean semantic-dup confirmation (a
    reciprocity filter on top of any top-k retrieval). Composes the
    brute top-1 with a self-join on the reversed edge; emitted once per
    pair (id_a < id_b).

    Scale: the top-1 stage is whatever ANN path fits (here the bounded
    brute baseline, capped by the vec_id < 300 literal like
    sim_near_dup); the reciprocity check is a (long, long) self-join on
    the k=1 edge relation — |corpus| rows, trivially shuffled. At fleet
    scale the same reciprocity join sits on IVF/LSH top-1 output
    unchanged."""
    from ..operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < 300
    )
    nn = brute_force_topk(emb, emb, k=1).select("query_id", "neighbor_id", "cosine")
    rev = nn.select(
        F.col("query_id").alias("q2"),
        F.col("neighbor_id").alias("n2"),
    )
    return (
        nn.join(
            # shuffle-hash, not sort-merge: the k=1 edge relation is two
            # longs per corpus row — hashing beats sorting both sides
            rev.hint("shuffle_hash"),
            (F.col("q2") == F.col("neighbor_id"))
            & (F.col("n2") == F.col("query_id")),
        )
        .where(F.col("query_id") < F.col("neighbor_id"))
        .select(
            F.col("query_id").alias("id_a"),
            F.col("neighbor_id").alias("id_b"),
            "cosine",
        )
    )


_HBOS_D = 4  # leading dimensions scored
_HBOS_B = 16  # equi-width bins per dimension
_HBOS_K = 50  # anomalies returned


@query(
    "q_hbos_anomaly",
    extra=True,
    oracle=f"""
    WITH dims AS (SELECT range AS dim FROM range(1, {_HBOS_D} + 1)),
    vals AS (
      SELECT e.vec_id, d.dim,
             CAST(e.embedding[CAST(d.dim AS INT)] AS DOUBLE) AS x
      FROM embeddings e CROSS JOIN dims d
    ),
    bounds AS (
      SELECT dim, MIN(x) AS lo, MAX(x) AS hi, CAST(COUNT(*) AS BIGINT) AS n
      FROM vals GROUP BY 1
    ),
    binned AS (
      SELECT v.vec_id, v.dim,
             CASE WHEN b.hi = b.lo THEN CAST(0 AS BIGINT)
                  ELSE LEAST(CAST(FLOOR((v.x - b.lo) * {_HBOS_B}
                       / (b.hi - b.lo)) AS BIGINT), {_HBOS_B - 1})
             END AS bin,
             b.n
      FROM vals v JOIN bounds b ON b.dim = v.dim
    ),
    hist AS (
      SELECT dim, bin, CAST(COUNT(*) AS BIGINT) AS c, ANY_VALUE(n) AS n
      FROM binned GROUP BY 1, 2
    ),
    w AS (
      SELECT dim, bin,
             CAST(ROUND(-ln(c / CAST(n AS DOUBLE)) * 1000000) AS BIGINT)
               AS w_micro
      FROM hist
    ),
    score AS (
      SELECT b.vec_id, CAST(SUM(w.w_micro) AS BIGINT) AS score_micro
      FROM binned b JOIN w ON w.dim = b.dim AND w.bin = b.bin
      GROUP BY 1
    )
    SELECT vec_id, score_micro,
           CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, vec_id)
                AS INT) AS rank
    FROM score
    QUALIFY rank <= {_HBOS_K}
    """,
)
def q_hbos_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBOS anomaly scoring (Goldstein & Dengel 2012) — the MULTIVARIATE
    member of the outlier family (MAD / robust-z are per-column; HBOS
    composes per-dimension histogram densities into one score, the
    deterministic stand-in for isolation forests): equi-width 16-bin
    histograms over the leading 4 embedding dimensions, per-point score
    Σ_d −ln(density of its bin) with each bin weight micro-snapped (the
    DSIR device — ln of a rational, measure-zero boundary; per-point
    sums then integer-exact), top-50 by (score, vec_id). Points in thin
    bins across several dimensions rank first. The
    planted-outlier recall gate lives in tests/test_similarity.py.

    Scale: one dims×corpus projection feeds a bounded (D·B)-key
    histogram groupBy; weights broadcast back onto the same projection;
    per-point sums are one vec_id groupBy and the top-k a TakeOrdered.
    Everything map-side-combining; nothing corpus-quadratic.
    """
    from ..operators.similarity import hbos_topk

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    return hbos_topk(emb, n_dims=_HBOS_D, n_bins=_HBOS_B, k=_HBOS_K)


_MMR_CAND = 20  # relevance shortlist fed to the greedy stage
_MMR_K = 5  # diversified picks returned


def _mmr_oracle() -> str:
    """Unrolled greedy MMR replay: micro-snapped cosines, then K-1
    MATERIALIZED pick levels (each level's argmax references the
    previous selected set — the pagerank unroll discipline)."""
    dot = "list_sum([a.v[i] * b.v[i] for i in range(1, 65)])"
    na = "sqrt(list_sum([a.v[i] * a.v[i] for i in range(1, 65)]))"
    nb = "sqrt(list_sum([b.v[i] * b.v[i] for i in range(1, 65)]))"
    head = f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id < 300
    ),
    rel AS MATERIALIZED (
      SELECT b.vec_id,
             CAST(ROUND(1000000 * {dot} / ({na} * {nb})) AS BIGINT) AS rel
      FROM (SELECT v FROM e WHERE vec_id = 0) a
      JOIN e b ON b.vec_id <> 0
    ),
    cand AS MATERIALIZED (
      SELECT vec_id, rel FROM rel ORDER BY rel DESC, vec_id LIMIT {_MMR_CAND}
    ),
    pw AS MATERIALIZED (
      SELECT a.vec_id AS i, b.vec_id AS j,
             CAST(ROUND(1000000 * {dot} / ({na} * {nb})) AS BIGINT) AS sim
      FROM e a JOIN cand ca ON ca.vec_id = a.vec_id
      JOIN e b ON b.vec_id <> a.vec_id
      JOIN cand cb ON cb.vec_id = b.vec_id
    ),
    s1 AS MATERIALIZED (
      SELECT 1 AS rank, vec_id, rel FROM cand
      ORDER BY rel DESC, vec_id LIMIT 1
    )"""
    lvl = """,
    p{R} AS MATERIALIZED (
      SELECT {R} AS rank, c.vec_id, c.rel FROM cand c
      WHERE c.vec_id NOT IN (SELECT vec_id FROM s{P})
      ORDER BY 7 * c.rel - 3 * (
        SELECT MAX(p.sim) FROM pw p
        WHERE p.i = c.vec_id AND p.j IN (SELECT vec_id FROM s{P})
      ) DESC, c.vec_id LIMIT 1
    ),
    s{R} AS MATERIALIZED (
      SELECT * FROM s{P} UNION ALL SELECT * FROM p{R}
    )"""
    body = "".join(lvl.format(R=r, P=r - 1) for r in range(2, _MMR_K + 1))
    return head + body + f"""
    SELECT CAST(rank AS INT) AS rank, vec_id, rel AS rel_micro
    FROM s{_MMR_K}
    """


# graded since round 11: diversified-retrieval family's representative
@query("sim_mmr_rerank", extra=True, oracle=_mmr_oracle())  # rotated out r12 (graded r11 pass)
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL MARGINAL RELEVANCE diversified retrieval (Carbonell &
    Goldstein 1998) — the rerank RAG retrieval stacks on top of ANN so
    the k passages aren't five paraphrases of one document: shortlist
    the top-20 by relevance to the query vector (vec_id 0), then
    greedily pick 5, each maximizing lambda*rel(d) - (1-lambda)*
    max_{s in S} sim(d, s) with lambda = 0.7 (integers: 7*rel_micro -
    3*maxsim_micro; cosines micro-snapped once — measure-zero boundary,
    all comparisons integer-exact after). Ties break by vec_id, and
    pick 1 is pure relevance (S empty), the textbook initialization.

    Scale: the shortlist is whatever ANN path fits (here the bounded
    brute baseline, vec_id < 300 like sim_mutual_nn); everything after
    — the 20x20 pairwise matrix and 4 greedy rounds — is constant-size
    work on broadcast relations, independent of corpus scale. The
    oracle unrolls the greedy loop as MATERIALIZED pick levels.
    """
    from ..operators.similarity import cosine, _as_double

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < 300
    )
    qv = emb.where(F.col("vec_id") == 0).select(
        _as_double("embedding").alias("qvec")
    )
    rel = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(cosine(_as_double("embedding"), F.col("qvec")) * 1_000_000)
            .cast("long")
            .alias("rel"),
        )
    )
    cand = (
        rel.orderBy(F.desc("rel"), "vec_id")
        .limit(_MMR_CAND)
        .localCheckpoint()  # pairwise matrix + every greedy round read it
    )
    cv = emb.join(F.broadcast(cand.select("vec_id")), "vec_id", "semi").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    a = cv.select(F.col("vec_id").alias("i"), F.col("v").alias("va"))
    b = cv.select(F.col("vec_id").alias("j"), F.col("v").alias("vb"))
    pw = (
        a.crossJoin(b)
        .where(F.col("i") != F.col("j"))
        .select(
            "i",
            "j",
            F.round(cosine(F.col("va"), F.col("vb")) * 1_000_000)
            .cast("long")
            .alias("sim"),
        )
        .localCheckpoint()  # read once per greedy round
    )
    selected = (
        cand.orderBy(F.desc("rel"), "vec_id")
        .limit(1)
        .select(F.lit(1).cast("int").alias("rank"), "vec_id", "rel")
    )
    for r in range(2, _MMR_K + 1):
        sel_ids = selected.select("vec_id")
        rem = cand.join(F.broadcast(sel_ids), "vec_id", "anti")
        div = (
            pw.join(
                F.broadcast(sel_ids.withColumnRenamed("vec_id", "j")), "j", "semi"
            )
            .groupBy("i")
            .agg(F.max("sim").alias("maxsim"))
        )
        pick = (
            rem.join(F.broadcast(div), rem["vec_id"] == F.col("i"))
            .select(
                F.lit(r).cast("int").alias("rank"),
                "vec_id",
                "rel",
                (7 * F.col("rel") - 3 * F.col("maxsim")).alias("score"),
            )
            .orderBy(F.desc("score"), "vec_id")
            .limit(1)
            .drop("score")
        )
        selected = selected.unionByName(pick).localCheckpoint()
    return selected.select("rank", "vec_id", F.col("rel").alias("rel_micro"))


def _facility_oracle(rounds: int = 5, pool: int = 32) -> str:
    """Unrolled replay of the greedy facility-location selection: per
    round a MATERIALIZED gain level over the candidate pool, the
    total-order argmax pick, and the coverage update."""
    dot_cx = "list_sum([c.v[i] * x.v[i] for i in range(1, 65)])"
    dot_px = "list_sum([p.v[i] * x.v[i] for i in range(1, 65)])"
    head = f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id,
             [CAST(ROUND((embedding::DOUBLE[])[i] * 1000) AS BIGINT)
              for i in range(1, 65)] AS v
      FROM embeddings
    ),
    c0 AS MATERIALIZED (SELECT vec_id, v FROM e WHERE vec_id < {pool}),
    s0 AS (SELECT CAST(NULL AS INT) AS round, CAST(NULL AS BIGINT) AS vec_id,
           CAST(NULL AS BIGINT) AS marginal_gain WHERE FALSE),
    cov0 AS MATERIALIZED (SELECT vec_id, CAST(0 AS BIGINT) AS cov FROM e)"""
    rnd = f""",
    g{{R}} AS MATERIALIZED (
      SELECT c.vec_id AS cand,
             CAST(SUM(GREATEST({dot_cx} - cv.cov, 0)) AS BIGINT) AS gain
      FROM c0 c, e x JOIN cov{{P}} cv ON cv.vec_id = x.vec_id
      WHERE c.vec_id NOT IN (SELECT vec_id FROM s{{P}} WHERE vec_id IS NOT NULL)
      GROUP BY 1
    ),
    pick{{R}} AS MATERIALIZED (
      SELECT cand, gain FROM g{{R}} ORDER BY gain DESC, cand LIMIT 1
    ),
    s{{R}} AS MATERIALIZED (
      SELECT * FROM s{{P}}
      UNION ALL
      SELECT CAST({{R}} AS INT), cand, gain FROM pick{{R}}
    ),
    cov{{R}} AS MATERIALIZED (
      SELECT x.vec_id,
             GREATEST(cv.cov, GREATEST({dot_px}, 0)) AS cov
      FROM e x
      JOIN cov{{P}} cv ON cv.vec_id = x.vec_id
      JOIN e p ON p.vec_id = (SELECT cand FROM pick{{R}})
    )"""
    body = "".join(rnd.format(R=r, P=r - 1) for r in range(1, rounds + 1))
    return (
        head
        + body
        + f"\n    SELECT round, vec_id, marginal_gain FROM s{rounds}"
    )


@query("sim_facility_location", oracle=_facility_oracle(5, 32))  # promoted r12: submodular selection, never graded
def sim_facility_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUBMODULAR DATA SELECTION — greedy facility-location maximization,
    the coreset-selection member of the similarity family (dedup removes
    redundancy reactively; this SELECTS the k points that best COVER the
    corpus — the k-center/facility-location objective behind modern
    training-data subset selection). Coverage of x by set S is
    max(0, max_{s in S} <x, s>) over milli-quantized integer embeddings
    (exact integer dot products — the micro-snap device applied to the
    vectors ONCE, so the 5-round greedy recursion composes with no float
    drift); each round admits the candidate with the largest total
    marginal coverage gain (total order: gain DESC, vec_id).

    The candidate pool is the documented vec_id < 32 slice (at scale the
    pool is k-means centroids or a uniform hash sample — the greedy is
    pool x corpus per round, never corpus^2). Submodularity's
    diminishing-returns law (marginal gains non-increasing across
    rounds) is gate-tested in tests/test_eval_metrics.py.

    Scale: per round ONE broadcast nested-loop pass (corpus x 32 integer
    dots, JVM HOFs) + a 32-row argmax + a 1-row broadcast coverage
    update; rounds are O(k). The coverage relation is the only state —
    one long per corpus row, localCheckpointed per round.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 1000).cast("long")
    )
    e = emb.select("vec_id", q.alias("v")).localCheckpoint()
    cands = e.where(F.col("vec_id") < 32).localCheckpoint()

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    # Round-13 optimization (guide §1.2 — don't recompute what a pass
    # already produced): the corpus x pool integer dot matrix is computed
    # ONCE and checkpointed; every greedy round then reads (vec_id, cand,
    # dp) instead of re-running |corpus| x |pool| 64-dim HOF dots per
    # round (5 rounds re-paid the full kernel before). Exact longs either
    # way — the greedy recursion and its oracle replay are unchanged.
    dp = (
        e.crossJoin(
            F.broadcast(
                cands.select(
                    F.col("vec_id").alias("cand"), F.col("v").alias("cv")
                )
            )
        )
        .select("vec_id", "cand", dot(F.col("v"), F.col("cv")).alias("dp"))
        .localCheckpoint()
    )
    cov = e.select("vec_id", F.lit(0).cast("long").alias("cov"))
    picked: list = []
    out = None
    from ..functions.scale import (
        literal_df,
        loop_ckpt_lazy,
        loop_rounds,
        loop_shuffle_partitions,
    )

    # Each greedy round is a |pool|x|corpus|-row aggregate over the dot
    # kernel. Restoring the setting after the loop is safe: every round's
    # state executes inside the block via its collect (the final lazy cov
    # stub is never consumed).
    with loop_shuffle_partitions(spark, dp.count()):
        for r in range(1, loop_rounds(5) + 1):
            pool_dp = dp
            if picked:
                pool_dp = dp.where(
                    ~F.col("cand").isin([int(p) for p in picked])
                )
            gains = (
                pool_dp.join(F.broadcast(cov), "vec_id")
                .select(
                    "cand",
                    F.greatest(F.col("dp") - F.col("cov"), F.lit(0)).alias(
                        "g"
                    ),
                )
                .groupBy("cand")
                .agg(F.sum("g").cast("long").alias("gain"))
            )
            sel = (
                gains.orderBy(F.col("gain").desc(), "cand").limit(1).collect()[0]
            )
            picked.append(sel["cand"])
            # literal_df, not createDataFrame: a Python-RDD-backed row
            # relation re-spawns Python workers on every action that scans
            # the accumulated union (round-13, guide §4)
            row = literal_df(
                spark,
                "round int, vec_id long, marginal_gain long",
                [(r, int(sel["cand"]), int(sel["gain"]))],
            )
            out = row if out is None else out.unionByName(row)
            cov = loop_ckpt_lazy(
                cov.join(
                    # broadcast: both sides are stats-less checkpoint stubs —
                    # without the hint Catalyst SMJ-sorts the id join
                    F.broadcast(
                        dp.where(F.col("cand") == int(sel["cand"])).select(
                            "vec_id", "dp"
                        )
                    ),
                    "vec_id",
                ).select(
                    "vec_id",
                    F.greatest(
                        F.col("cov"), F.greatest(F.col("dp"), F.lit(0))
                    ).alias("cov"),
                )
            )
    return out


# ---------------------------------------------------------------------------
# Local outlier factor (round 12)
# ---------------------------------------------------------------------------

_LOF_K = 5
_LOF_CAP = 256  # bounded probe sample (vec_id < cap); see scale note


def _lof_oracle() -> str:
    return """
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id < {CAP}
    ),
    q8 AS MATERIALIZED (
      SELECT vec_id,
             list_transform(
               v,
               x -> CAST(ROUND(x * 127.0 / greatest(
                      list_max(list_transform(v, y -> abs(y))), 1e-30)
                    ) AS BIGINT)
             ) AS q
      FROM e
    ),
    d AS MATERIALIZED (
      SELECT a.vec_id AS pa, b.vec_id AS pb,
        CAST(list_sum([(a.q[i] - b.q[i]) * (a.q[i] - b.q[i])
                       for i in range(1, 65)]) AS BIGINT) AS d2
      FROM q8 a JOIN q8 b ON a.vec_id <> b.vec_id
    ),
    knn AS MATERIALIZED (
      SELECT pa, pb, d2,
        ROW_NUMBER() OVER (PARTITION BY pa ORDER BY d2, pb) AS rn
      FROM d
    ),
    kd AS MATERIALIZED (
      SELECT pa AS p, d2 AS kdist FROM knn WHERE rn = {K}
    ),
    reach AS (
      SELECT knn.pa, knn.pb, GREATEST(kd.kdist, knn.d2) AS r
      FROM knn JOIN kd ON kd.p = knn.pb
      WHERE knn.rn <= {K}
    ),
    lrd AS MATERIALIZED (
      SELECT pa AS p,
        CAST((2 * CAST({K} AS HUGEINT) * 1000000000000 + SUM(r))
             // (2 * SUM(r)) AS BIGINT) AS lrd_pico
      FROM reach GROUP BY 1
    ),
    lof AS (
      SELECT knn.pa AS vec_id, kd.kdist,
        lp.lrd_pico,
        CAST((2 * SUM(lo.lrd_pico) * 1000 + {K} * lp.lrd_pico)
             // (2 * CAST({K} AS HUGEINT) * lp.lrd_pico) AS BIGINT)
          AS lof_milli
      FROM knn
      JOIN lrd lo ON lo.p = knn.pb
      JOIN lrd lp ON lp.p = knn.pa
      JOIN kd ON kd.p = knn.pa
      WHERE knn.rn <= {K}
      GROUP BY knn.pa, kd.kdist, lp.lrd_pico
    )
    SELECT vec_id, kdist, lrd_pico, lof_milli, CAST(rk AS BIGINT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY lof_milli DESC, vec_id) AS rk
      FROM lof
    ) WHERE rk <= 20
    """.replace("{CAP}", str(_LOF_CAP)).replace("{K}", str(_LOF_K))


@query("q_lof_anomaly", extra=True, oracle=_lof_oracle())
def q_lof_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL OUTLIER FACTOR — the density-RATIO member of the anomaly
    family (q_outlier_zscore and q_mad_outliers are global-distribution
    tests, q_hbos_anomaly is histogram density; LOF compares each
    point's local reachability density against its neighbors', catching
    points that are normal globally but isolated locally). k = {_LOF_K}
    nearest neighbors under the int8-quantized squared-euclidean metric
    (exact integer distances — the quantize_int8 device), reach-dist =
    max(kdist(neighbor), d), lrd snapped to pico, LOF to milli; top 20
    by (lof DESC, id).

    Determinism: every distance, kdist and reach is an exact integer;
    lrd and LOF are half-up snapped ratios of those integers (LOF
    combines the SNAPPED lrds — the combine-after-snap discipline), and
    the kNN/top-k orders carry id tiebreaks.

    Scale: the probe set is capped ({_LOF_CAP} vectors), so the pair
    relation is bounded — at corpus scale LOF runs cell-confined inside
    IVF/LSH buckets exactly like sim_semantic_dedup (density is a local
    notion, so bucket confinement is semantically right, not just a
    performance cap). The top-20 is orderBy+limit, rank after the cut.
    """
    from ..operators.similarity import quantize_int8

    from ..functions.scale import fan_out as _fan

    e = (
        _fan(load_table(spark, sf_dir, "embeddings"))
        .where(F.col("vec_id") < _LOF_CAP)
        .select("vec_id", "embedding")
    )
    q8 = quantize_int8(e, "embedding", "q").select("vec_id", "q").localCheckpoint()
    a, b = q8.alias("a"), q8.alias("b")
    d2 = F.aggregate(
        F.zip_with(
            F.col("a.q"), F.col("b.q"), lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    d = a.join(F.broadcast(b), F.col("a.vec_id") != F.col("b.vec_id")).select(
        F.col("a.vec_id").alias("pa"),
        F.col("b.vec_id").alias("pb"),
        d2.alias("d2"),
    )
    knn = (
        d.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("pa").orderBy("d2", "pb")
            ),
        )
        .where(F.col("rn") <= _LOF_K)
        .localCheckpoint()  # kd, reach, and both lrd joins read it
    )
    kd = knn.where(F.col("rn") == _LOF_K).select(
        F.col("pa").alias("p"), F.col("d2").alias("kdist")
    )
    reach = knn.join(
        F.broadcast(kd.withColumnRenamed("p", "pb")), "pb"
    ).select(
        "pa", "pb", F.greatest(F.col("kdist"), F.col("d2")).alias("r")
    )
    dd = F.call_function
    lrd = reach.groupBy(F.col("pa").alias("p")).agg(
        dd(
            "div",
            2 * F.lit(_LOF_K).cast("long") * F.lit(10**12).cast("long")
            + F.sum("r").cast("long"),
            2 * F.sum("r").cast("long"),
        ).alias("lrd_pico")
    ).localCheckpoint()  # joined twice below (own + neighbor lrd)
    lof = (
        knn.join(
            F.broadcast(
                lrd.select(F.col("p").alias("pb"), F.col("lrd_pico").alias("lo"))
            ),
            "pb",
        )
        .join(
            F.broadcast(
                lrd.select(F.col("p").alias("pa"), F.col("lrd_pico").alias("lp"))
            ),
            "pa",
        )
        .join(F.broadcast(kd.withColumnRenamed("p", "pa")), "pa")
        .groupBy(
            F.col("pa").alias("vec_id"), F.col("kdist"), F.col("lp")
        )
        .agg(
            dd(
                "div",
                2 * F.sum("lo").cast("long") * F.lit(1000).cast("long")
                + F.lit(_LOF_K).cast("long") * F.col("lp"),
                2 * F.lit(_LOF_K).cast("long") * F.col("lp"),
            ).alias("lof_milli")
        )
        .select("vec_id", "kdist", F.col("lp").alias("lrd_pico"), "lof_milli")
    )
    top = lof.orderBy(F.col("lof_milli").desc(), "vec_id").limit(20)
    return top.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.col("lof_milli").desc(), "vec_id"))
        .cast("long"),
    )


from ..operators.clustering import (  # noqa: E402
    kmeans_silhouette_micro,
    silhouette_oracle_sql,
)


@query(
    "sim_silhouette",
    extra=True,
    oracle=silhouette_oracle_sql(k=8, iterations=2),
)
def sim_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-validity index for the deterministic Lloyd clustering —
    the missing EVALUATION member of the clustering family
    (sim_kmeans_cells proves the mechanism, sim_cluster_purity grades
    against ground-truth labels; silhouette is the label-FREE internal
    quality score a pipeline uses to pick k when no labels exist).
    Simplified (centroid-based, O(N·k)) silhouette over SQUARED micro
    distances: a(i) = d²(i, own centroid), b(i) = min other-centroid
    d², s(i) = (b−a)/max(a,b), per-cell n/sum/mean in signed half-up
    ppm (operators/clustering.py:kmeans_silhouette_micro — the variant
    choice and the 2^20 downshift headroom are documented there). The
    DuckDB oracle replays the ENTIRE chain: both Lloyd iterations, the
    final assignment, every per-centroid distance, the shift, both
    signed half-up divisions.

    Scale: one extra broadcast join + ONE groupBy(vid) beyond the
    Lloyd loop itself; the per-vector k-element struct array is
    order-free (array_min over a filter), and the final rollup is k
    rows. Corpus rows cross the wire once.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_silhouette_micro(emb, k=8, iterations=2, dim=64)
