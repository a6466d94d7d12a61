"""Similarity search over embedding columns (array<float>).

Every top-k search here is one filter-and-refine shape (REPOSE, ICDE
2021; the incremental top-k framework, EDBT 2020):

1. **candidates** — which (query, neighbor) pairs get scored at all: the
   whole corpus (brute force, numpy, int8), the query's LSH buckets
   (2^P sign-pattern buckets from P fixed hyperplanes, plus one-bit
   multi-probe), its ``n_probe`` nearest IVF cells (:func:`_ivf_probes`),
   or a PQ asymmetric-distance shortlist over compressed codes
   (:func:`_pq_lut`);
2. **exact rerank** — the double cosine over the survivors; the
   shortlist paths re-fetch only the candidates' float vectors by id
   (:func:`_exact_rerank`);
3. **total-order top-k** — one per-query window, (score DESC, id ASC),
   so ties never make a rank engine-dependent (:func:`_topk`); Spark 4's
   WindowGroupLimit pushes the limit below the window's shuffle.

Brute force is the correctness baseline every approximate path is judged
against. All arithmetic in double (cast once from float32) so results
reproduce in the DuckDB oracle exactly; Python workers run only in the
numpy scorer and kmeans_refine's centroid means.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scale import fan_out

#: Deterministic hyperplanes: plane p, dim d → hash-derived value in [-1, 1].
#: Generated arithmetically (no RNG at runtime) so the oracle can rebuild
#: the same planes from the same formula.
LSH_PLANES = 8
EMB_DIM = 64


def _plane_component(p: int, d: int) -> float:
    # simple deterministic pseudo-random in [-1,1): fractional part of
    # sin-free integer mix, kept engine-portable (pure arithmetic).
    v = (1103515245 * (p * EMB_DIM + d + 1) + 12345) % 2147483648
    return (v / 1073741824.0) - 1.0


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _topk(
    scored: DataFrame, k: int, score: str, tie: str, rank: str = "rank"
) -> DataFrame:
    """The ``k`` best rows per ``query_id`` under the total order
    (``score`` DESC, ``tie`` ASC), numbered 1..k in ``rank`` — the one
    per-query top-k behind every ranked output, probe pick and shortlist
    here. The tie column makes the order total, so ranks and cut-offs
    reproduce in any engine."""
    w = Window.partitionBy("query_id").orderBy(F.col(score).desc(), F.col(tie))
    return scored.withColumn(rank, F.row_number().over(w)).where(F.col(rank) <= k)


def _exact_rerank(
    cand: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Refine stage: re-score ``(query_id, neighbor_id)`` candidates with
    the exact double cosine and keep the top ``k`` per query. Only the
    candidates' float vectors are fetched — an id equi-join against the
    corpus, at scale a bucketed or partition-pruned point lookup of
    |candidates| rows, never a corpus scan. Returns (query_id,
    neighbor_id, cosine, rank)."""
    qv = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qa")
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cb")
    )
    exact = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qa"), F.col("cb")), 6).alias("cosine"),
        )
    )
    return _topk(exact, k, "cosine", "neighbor_id")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of every query against the corpus.

    Returns (query_id, neighbor_id, cosine, rank), self-matches excluded.

    Scale: ``broadcast(queries)`` makes this a map-side nested loop over
    corpus partitions — no corpus shuffle; the window ranks |queries|·k
    rows after a partial per-partition top-k (WindowGroupLimit).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qvec")
    )
    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cvec")
    )
    scored = (
        c.join(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cosine"),
        )
    )
    return _topk(scored, k, "cosine", "neighbor_id")


def _bucket(vec: str, planes: int = LSH_PLANES, first_plane: int = 0) -> Column:
    """LSH bucket id: bit p set iff dot(vec, plane_{first_plane+p}) > 0.

    ``vec`` is a COLUMN NAME (the whole expression is generated as one SQL
    string). ``first_plane`` selects a disjoint plane range, giving
    independent hash tables for multi-table LSH. The plane matrix is built
    from literals only, so ConstantFolding collapses it to ONE literal
    array — the per-row work is two small HOFs. (The unrolled 8x64
    sum-of-products form compiled a 512-node codegen tree: several seconds
    of janino time per distinct query shape, which dominated small
    benchmarks.)

    Why one ``F.expr`` string instead of F.array(F.lit(..))/HOF lambdas:
    plan CONSTRUCTION is py4j-bound — the 8-table form issued ~6.7k py4j
    round-trips and spent 3.9 s building the plan (vs 1.0 s executing it
    at sf0.1). One SQL string per bucket parses JVM-side in milliseconds
    and produces the identical resolved plan. The 'D' suffix forces DOUBLE
    (plain SQL decimals parse as DECIMAL); repr() round-trips doubles
    exactly."""
    return F.expr(_bucket_sql(vec, planes, first_plane))


def _bucket_sql(vec: str, planes: int = LSH_PLANES, first_plane: int = 0) -> str:
    """SQL text of :func:`_bucket` (callers assembling bigger expressions
    splice this directly instead of paying a py4j call per bucket)."""
    planes_sql = "array(%s)" % ",".join(
        "array(%s)"
        % ",".join(
            f"{_plane_component(first_plane + p, d)!r}D" for d in range(EMB_DIM)
        )
        for p in range(planes)
    )
    return (
        f"CAST(aggregate(transform({planes_sql}, (plane, p) ->"
        f" CASE WHEN aggregate(zip_with({vec}, plane, (x, w) -> x * w),"
        f" 0.0D, (acc, v) -> acc + v) > 0"
        f" THEN power(2.0D, p) ELSE 0.0D END),"
        f" 0.0D, (acc, v) -> acc + v) AS INT)"
    )


def _sql_as_double(col: str) -> str:
    """SQL text of :func:`_as_double`."""
    return f"transform({col}, x -> CAST(x AS DOUBLE))"


def _sql_cosine6(a: str, b: str) -> str:
    """SQL text of ``round(cosine(a, b), 6)`` — same left-to-right fold as
    the Column form (dot = zip_with+aggregate, norm = aggregate of v*v)."""
    def _dot(x: str, y: str) -> str:
        return (
            f"aggregate(zip_with({x}, {y}, (x, y) -> x * y),"
            f" 0.0D, (acc, v) -> acc + v)"
        )

    def _norm(x: str) -> str:
        return f"sqrt(aggregate({x}, 0.0D, (acc, v) -> acc + v * v))"

    return f"round({_dot(a, b)} / ({_norm(a)} * {_norm(b)}), 6)"


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: bool = True,
    planes: int = LSH_PLANES,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate cosine top-k: score only corpus vectors sharing a
    query's LSH bucket in ANY of ``n_tables`` independent hash tables
    (disjoint plane ranges), plus — with ``multiprobe`` — the P
    hamming-distance-1 neighbor buckets per table.

    Recall math (random hyperplanes): a pair at angle θ collides in one
    P-plane table with prob (1-θ/π)^P; across L tables the miss rate
    compounds to (1-(1-θ/π)^P)^L — so (P, L) is a recall/cost dial with L
    rescuing the moderate-similarity pairs a single table drops.

    Scale: corpus is bucketed once (narrow, L bucket ids per row) and
    joined on (table, bucket) — per-query cost is L·E[bucket]·(1+P)
    instead of |corpus|. The bucket column can be a disk partition key,
    making each probe a partition-pruned scan.

    Plan shape: the probe join carries ONLY (table, bucket, id) — never the
    vectors — and candidate pairs are deduplicated BEFORE scoring, so the
    cosine runs once per distinct (query, neighbor) pair instead of once
    per (table x probe) collision, and at real scale the bucket-join
    shuffle moves 16-byte rows, not 512-byte embeddings (measured 1.5x
    end-to-end at sf0.1 from these moves plus staged query buckets).
    """
    # NOT persisted: the two consumers (bucketing pass, score-time vector
    # fetch) each re-scan the column-pruned source — at 100 TB re-reading
    # two parquet columns twice beats caching the corpus as doubles, and
    # at bench scale it avoids a materialization job.
    # Whole construction uses the SQL-text fast path (selectExpr /
    # spliced _bucket_sql) — the Column-API form cost ~1.2 s of py4j
    # round-trips per invocation; the resolved plans are identical.
    c = fan_out(corpus).selectExpr(
        f"{id_col} AS neighbor_id", f"{_sql_as_double(vec_col)} AS cvec"
    )
    q = queries.selectExpr(
        f"{id_col} AS query_id", f"{_sql_as_double(vec_col)} AS qvec"
    )
    # one (table, bucket) row per corpus row per table — ids only
    cstructs = ",".join(
        f"named_struct('tbl', {t}, 'bucket',"
        f" {_bucket_sql('cvec', planes, first_plane=t * planes)})"
        for t in range(n_tables)
    )
    cbuckets = c.select(
        F.col("neighbor_id"),
        F.expr(f"explode(array({cstructs}))").alias("tb"),
    ).select("neighbor_id", "tb.tbl", "tb.bucket")
    # Stage each table's base bucket as a NAMED column first: the probe
    # list below references it (1+P) times, and inlining would replicate
    # the whole 4x64-literal plane subtree into every probe — a ~5x larger
    # expression tree whose analysis/codegen dominates small benchmarks.
    qstaged = q.selectExpr(
        "query_id",
        "qvec",
        *[
            f"{_bucket_sql('qvec', planes, first_plane=t * planes)} AS __b{t}"
            for t in range(n_tables)
        ],
    )
    qbuckets = []
    for t in range(n_tables):
        probes = [f"__b{t}"]
        if multiprobe:
            probes += [
                f"CAST(__b{t} ^ {2**p} AS INT)" for p in range(planes)
            ]
        qbuckets += [
            f"named_struct('tbl', {t}, 'bucket', {pb})" for pb in probes
        ]
    qprobes = qstaged.select(
        F.col("query_id"),
        F.expr(f"explode(array({','.join(qbuckets)}))").alias("tb"),
    ).select("query_id", "tb.tbl", "tb.bucket")
    cand = (
        cbuckets.join(F.broadcast(qprobes), ["tbl", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()  # tables/multiprobe surface the same neighbor repeatedly
    )
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .selectExpr(
            "query_id",
            "neighbor_id",
            f"{_sql_cosine6('qvec', 'cvec')} AS cosine",
        )
    )
    return _topk(scored, k, "cosine", "neighbor_id")


def derive_planes(
    n_rows: int, target_bucket_size: int = 16, floor: int = LSH_PLANES
) -> int:
    """Plane count that keeps expected LSH bucket size ≤ target: the
    candidate volume of a bucket self-join is Σ|bucket|² ≈ N²·(1+P)/2^P,
    so P must GROW with the corpus (≈ log2(N / target)) or the join
    reverts to quadratic — the same scale law as semantic_dedup's derived
    cell count, measured by scale_smoke.py both times."""
    import math

    need = max(n_rows, 1) / max(target_bucket_size, 1)
    return max(floor, math.ceil(math.log2(need)) if need > 1 else floor)


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int | None = LSH_PLANES,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥ t).

    Bucketed via the same LSH so the self-join never goes quadratic; at
    threshold ≥ 0.95 near-dups almost always share a bucket (small angle),
    multiprobe covers the boundary cases.

    ``planes=None`` derives the plane count from a corpus count
    (:func:`derive_planes`) so bucket sizes stay bounded as the corpus
    grows — the 100 TB path. The default stays pinned at ``LSH_PLANES``
    because every oracled query replays exactly 8 hyperplanes in SQL;
    recall at high thresholds is preserved under more planes (smaller
    angle ⇒ fewer plane-sign flips), gate-tested on planted pairs.

    ``max_bucket_size`` is the quadratic-hazard guard (the same device as
    :func:`..operators.dedup.minhash_lsh_pairs`): any base bucket whose
    membership exceeds the cap is dropped from BOTH join sides before the
    self-join — a bucket holding a large corpus fraction is a degenerate
    hash cell (near-zero vectors, boilerplate embeddings), and alone costs
    |bucket|² pair materializations. The overflow set is tiny (at most
    N/cap buckets), so both filters are broadcast anti-joins. Candidate
    GENERATION is pruned; surviving pairs' cosines are exact.

    The probe join is asymmetric — the a-side explodes (base + P one-bit
    flips), the b-side keeps only its base bucket — so a pair surfaces at
    most ONCE: bucket_b can equal at most one of a's (1+P) distinct probe
    values, and bit-flips are symmetric (b = flip_p(a) ⟺ a = flip_p(b)).
    No dedup pass exists in the plan at all; each candidate pair is scored
    exactly once, straight off the join output. (An earlier version
    carried a .distinct() here — a full shuffle of vector payloads that
    provably never removed a row.)
    """
    if planes is None:
        planes = derive_planes(df.count())
    c = fan_out(df).select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("vec")
    ).withColumn("bucket", _bucket("vec", planes))
    overflow = None
    if max_bucket_size is not None:
        # THREE consumers of the bucketed relation under the cap (overflow
        # counts, a-side, b-side): checkpoint it once instead of paying the
        # upstream scan+normalize+bucket pass three times — the
        # multi-consumer localCheckpoint convention. The uncapped path
        # keeps the documented lazy two-scan trade above.
        c = c.localCheckpoint()
        overflow = (
            c.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > max_bucket_size)
            .select(F.col("bucket").alias("probe_bucket"))
        )
    probes = F.explode(
        F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(2**p)).cast("int")
                for p in range(planes)
            ],
        )
    ).alias("probe_bucket")
    a = c.select(
        F.col("id").alias("id_a"), F.col("vec").alias("vec_a"), probes
    )
    b = c.select(
        F.col("id").alias("id_b"),
        F.col("vec").alias("vec_b"),
        F.col("bucket").alias("probe_bucket"),
    )
    if overflow is not None:
        a = a.join(F.broadcast(overflow), "probe_bucket", "left_anti")
        b = b.join(F.broadcast(overflow), "probe_bucket", "left_anti")
    return (
        a.join(b, "probe_bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("vec_a"), F.col("vec_b")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def ivf_index(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: (centroids, assignments).

    Centroids are a deterministic corpus sample (lowest ids — a real build
    would run a few Lloyd iterations, same plan shape). Assignment is
    corpus x broadcast(centroids) -> per-vector argmin — linear in
    |corpus|·C with the centroid side map-side only, then a partial-agg
    min; this is the standard distributed IVF build.

    At scale the assignments relation is what you'd write out
    partitioned/bucketed BY cent_id, turning every probe into a
    partition-pruned scan.
    """
    c = fan_out(corpus).select(
        F.col(id_col).alias("vid"), _as_double(vec_col).alias("vec")
    )
    cents = (
        c.orderBy("vid")
        .limit(n_centroids)
        .select(F.col("vid").alias("cent_id"), F.col("vec").alias("cvec"))
    )
    # centroids collapse to ONE row of structs and assignment is a narrow
    # argmax map over the broadcast array (round-13, guide §2.4): the
    # previous join + groupBy(vid) + max_by expanded the corpus C-fold
    # and shuffled it back. array_max over (sim, -cent_id) structs is the
    # same argmax with the same smallest-id tie-break, computed from the
    # same ``dot`` expression — values identical.
    cs1 = cents.agg(F.collect_list(F.struct("cent_id", "cvec")).alias("cs"))
    best = F.array_max(
        F.transform(
            F.col("cs"),
            lambda cc: F.struct(
                dot(F.col("vec"), cc["cvec"]).alias("sim"),
                (-cc["cent_id"]).alias("nid"),
            ),
        )
    )
    assigned = c.crossJoin(F.broadcast(cs1)).select(
        "vid", (-best["nid"]).alias("cent_id"), "vec"
    )
    return cents, assigned


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via IVF: probe only the ``n_probe`` nearest
    centroid cells per query instead of the whole corpus — the classic
    memory-resident ANN layout expressed as two joins.

    Returns (query_id, neighbor_id, cosine, rank).
    """
    cents, assigned = ivf_index(corpus, n_centroids, id_col, vec_col)
    probes = _ivf_probes(queries, cents, n_probe, id_col, vec_col)
    scored = (
        assigned.join(F.broadcast(probes), "cent_id")
        .where(F.col("vid") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            F.round(cosine(F.col("qvec"), F.col("vec")), 6).alias("cosine"),
        )
    )
    return _topk(scored, k, "cosine", "neighbor_id")


def _ivf_probes(
    queries: DataFrame, cents: DataFrame, n_probe: int, id_col: str, vec_col: str
) -> DataFrame:
    """(query_id, qvec, cent_id): each query's ``n_probe`` nearest IVF
    cells by dot product, ties toward the smaller cent_id — the candidate
    filter of :func:`ivf_topk` and :func:`ivfadc_topk`. |queries| x C
    rows against the broadcast centroids; no corpus row is touched."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qvec")
    )
    qdist = q.join(F.broadcast(cents)).select(
        "query_id", "qvec", "cent_id", dot(F.col("qvec"), F.col("cvec")).alias("sim")
    )
    return _topk(qdist, n_probe, "sim", "cent_id", rank="pr").select(
        "query_id", "qvec", "cent_id"
    )


def brute_force_topk_np(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched numpy matmul (mapInPandas).

    The JVM HOF form (:func:`brute_force_topk`) evaluates the dot product
    element-wise per pair; this path stacks each Arrow batch into a
    (batch x dim) float64 matrix and hits BLAS — the right shape when
    dim x |queries| grows. Each batch emits only its LOCAL top-k per query
    (k rows per query per batch), so the final ranking shuffle moves
    k x |queries| x #batches rows, never batch x |queries| scores.

    Query set is collected to the driver and shipped in the UDF closure
    (it must be broadcast-small — same constraint as the JVM form).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    qrows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[id_col] for r in qrows], dtype=np.int64)
    q_mat = np.array([r[vec_col] for r in qrows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            c_mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            c_norm = np.linalg.norm(c_mat, axis=1)
            cos = (c_mat @ q_mat.T) / np.outer(c_norm, q_norm)
            out = []
            for qi, qid in enumerate(q_ids):
                col = cos[:, qi]
                mask = c_ids != qid  # exclude self-match
                ids, vals = c_ids[mask], col[mask]
                if len(ids) == 0:
                    continue
                # Local prune must use the SAME ordering as the global
                # window (round(cosine,6) desc, neighbor_id asc) — pruning
                # on unrounded scores can drop a tie candidate the global
                # rank would have kept. lexsort: last key is primary.
                rvals = np.round(vals, 6)
                top = np.lexsort((ids, -rvals))[:k]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": ids[top],
                            "cosine": rvals[top],
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    scored = fan_out(corpus).select(id_col, vec_col).mapInPandas(
        score, schema="query_id long, neighbor_id long, cosine double"
    )
    return _topk(scored, k, "cosine", "neighbor_id")


def kmeans_refine(
    corpus: DataFrame,
    n_centroids: int = 16,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Lloyd-refined IVF coarse quantizer: start from the deterministic
    sample centroids (:func:`ivf_index`), then alternate
    (1) centroid recompute — grouped ``applyInPandas``: each cell's
        vectors stack into a numpy matrix, mean is one BLAS reduction;
    (2) reassignment — corpus × broadcast(centroids) argmin,
    for ``iterations`` rounds. Returns (centroids, assignments).

    Scale: step 1 shuffles corpus rows once per iteration on cent_id (the
    same key the assignments are already bucketed by after step 2, so AQE
    reuses the partitioning where possible); step 2 is map-side. Iteration
    count is small and fixed — this is the standard distributed k-means
    shape, with state in DataFrames, not on the driver.
    """
    import pandas as pd

    _, assigned = ivf_index(corpus, n_centroids, id_col, vec_col)

    def mean_vec(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        mat = np.array(list(pdf["vec"]), dtype=np.float64)
        return pd.DataFrame(
            {"cent_id": [pdf["cent_id"].iloc[0]], "cvec": [mat.mean(axis=0).tolist()]}
        )

    for _ in range(iterations):
        cents = assigned.groupBy("cent_id").applyInPandas(
            mean_vec, schema="cent_id long, cvec array<double>"
        )
        dist = assigned.select("vid", "vec").join(F.broadcast(cents)).select(
            "vid", "vec", "cent_id", dot(F.col("vec"), F.col("cvec")).alias("sim")
        )
        assigned = dist.groupBy("vid").agg(
            F.max_by("cent_id", F.struct(F.col("sim"), -F.col("cent_id"))).alias(
                "cent_id"
            ),
            F.first("vec").alias("vec"),
        ).localCheckpoint()
    cents = assigned.groupBy("cent_id").applyInPandas(
        mean_vec, schema="cent_id long, cvec array<double>"
    )
    return cents, assigned


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "q8",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: each dimension is
    mapped to ``round(x * 127 / max|x|)`` ∈ [-127, 127] (stored as long —
    the VALUES are int8-range; Spark arrays of TINYINT widen in arithmetic
    anyway and the long keeps the integer dot exactly representable).

    Because cosine is scale-invariant, the per-vector scale cancels out of
    the quantized score — ``qdot / (|qa| * |qb|)`` needs no dequantization
    — so the entire scoring pipeline after this map is INTEGER arithmetic,
    which is what makes the result bit-reproducible across engines (the
    one double op left is the final division).

    Scale: this is the memory/bandwidth lever of a production ANN stack —
    4x smaller vectors than float32 (32x vs the double the exact path
    scores in), so 4x more of the corpus fits in executor memory / page
    cache and every shuffle or broadcast of vectors moves 4x less. The
    quantization itself is a pure narrow map (no shuffle, whole-stage
    codegen'd array HOF).
    """
    v = _as_double(vec_col)
    scale = F.greatest(
        F.aggregate(v, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x))),
        F.lit(1e-30),
    )
    return df.withColumn("__q8_scale", scale).withColumn(
        out_col,
        F.transform(
            _as_double(vec_col),
            lambda x: F.round(x * 127.0 / F.col("__q8_scale"), 0).cast("long"),
        ),
    ).drop("__q8_scale")


def int8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine top-k over int8-quantized vectors — the quantized twin of
    ``brute_force_topk``. Returns (query_id, neighbor_id, cosine_q8, rank).

    The integer dot product and integer squared norms are exact (no
    floating-point summation-order hazard at all — 64 products of values
    ≤127² sum far below 2^63); the single double division at the end is
    identical left-to-right in any engine, so the full result value-hashes
    against a SQL replay of the same math. Same broadcast nested-loop +
    per-partition partial top-k (WindowGroupLimit) physical shape as the
    exact baseline — only the element width changes.
    """
    q = quantize_int8(queries, vec_col, "qv").select(
        F.col(id_col).alias("query_id"), F.col("qv").alias("qa")
    )
    c = quantize_int8(fan_out(corpus), vec_col, "qv").select(
        F.col(id_col).alias("neighbor_id"), F.col("qv").alias("qb")
    )
    zero = F.lit(0).cast("long")
    idot = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: x * y),
        zero,
        lambda acc, v: acc + v,
    )
    inorm2 = lambda col: F.aggregate(  # noqa: E731
        col, zero, lambda acc, v: acc + v * v
    )
    scored = (
        c.join(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                idot.cast("double")
                / F.sqrt((inorm2(F.col("qa")) * inorm2(F.col("qb"))).cast("double")),
                6,
            ).alias("cosine_q8"),
        )
    )
    return _topk(scored, k, "cosine_q8", "neighbor_id")


def ivf_assign_probes(
    corpus: DataFrame,
    cents: DataFrame,
    n_probes: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe IVF assignment: (vid, vec, cent_id, probe) rows with
    ``probe`` in 1..n_probes — each vector's n_probes nearest centroids
    (by dot product; ties toward the smaller cent_id, matching
    ``ivf_index``'s argmax so probe 1 IS the single-probe assignment).

    Scale: the N x C distance relation is never shuffled. Probe p re-fans
    the corpus against the broadcast centroid set with the previously
    chosen cells excluded and takes the argmax over the remainder, so each
    of the P rounds is one broadcast nested-loop pass plus one N-row
    map-side-combined groupBy: O(P·N·C) compute, O(P·N) shuffle bytes —
    the same linearity as the single-probe build, just P passes.
    """
    c = fan_out(corpus).select(
        F.col(id_col).alias("vid"), _as_double(vec_col).alias("vec")
    )
    bc = F.broadcast(cents)
    out: DataFrame | None = None
    chosen: DataFrame | None = None  # (vid, cells: array<long>)
    for p in range(1, n_probes + 1):
        base = c if chosen is None else c.join(chosen, "vid")
        dist = base.join(bc).select(
            "vid",
            "vec",
            *([] if chosen is None else ["cells"]),
            "cent_id",
            dot(F.col("vec"), F.col("cvec")).alias("sim"),
        )
        if chosen is not None:
            dist = dist.where(
                ~F.array_contains(F.col("cells"), F.col("cent_id"))
            )
        pick = dist.groupBy("vid").agg(
            F.max_by(
                "cent_id", F.struct(F.col("sim"), -F.col("cent_id"))
            ).alias("cent_id"),
            F.first("vec").alias("vec"),
        ).withColumn("probe", F.lit(p))
        out = pick if out is None else out.unionByName(pick)
        if p < n_probes:
            chosen = out.groupBy("vid").agg(
                F.collect_list("cent_id").alias("cells")
            )
    return out.select("vid", "vec", "cent_id", "probe")


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cell_size: int = 256,
    n_probes: int = 1,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: IVF-cluster the embedding
    space, then drop every vector that is within ``threshold`` cosine of a
    LOWER-id vector in the SAME cell (the deterministic min-id
    representative rule). Returns (vec_id, cent_id, kept).

    This is the embedding-space complement of MinHash/SimHash text dedup:
    paraphrases and re-encodings that share no n-grams still collapse,
    because closeness is measured in the representation, not the surface
    string.

    ``n_probes`` > 1 enables multi-probe pair search: every vector joins
    the pair search in its ``n_probes`` nearest cells
    (``ivf_assign_probes``), recovering boundary pairs that straddle two
    cells — the documented single-probe recall gap. The OUTPUT partition
    (``cent_id``) and the min-id representative rule are unchanged
    (probe-1 assignment is identical to the single-probe argmax), so more
    probes can only move ``kept`` False-ward, monotonically toward the
    exact all-pairs answer. Pair volume stays bounded: Σ|cell|² over
    cells whose sizes grow by ≤ n_probes×, i.e. O(N · cell · n_probes²)
    worst case. The graded oracle keeps n_probes=1 (deterministic,
    SQL-replayable); the 2-probe path is recall-gated in
    tests/test_similarity.py.

    Scale — the reason for the cluster step: the quadratic pair search is
    confined to cells, Σ|cell|² instead of |corpus|² (the same bound as the
    banded-LSH bucket join in operators/dedup.py), and cells are exactly
    the partitioning you'd persist (assignments bucketed BY cent_id), so
    the self-join co-locates without a shuffle on re-runs. Boundary pairs
    straddling two cells are missed by construction — the documented
    recall trade every production SemDeDup makes (mitigate with more
    Lloyd refinement, kmeans_refine, or multi-probe assignment).

    ``n_centroids`` must GROW with the corpus or the within-cell
    quadratic comes back: fixed cells mean |cell| ∝ N and Σ|cell|² ∝ N².
    The scale_smoke probe measured exactly that (x8/x1 wall ratio 12.9
    at a pinned 16 cells), so when ``n_centroids`` is None it derives as
    ``⌈N / target_cell_size⌉`` — bounded cells make the pair search
    O(N · target_cell_size), linear. Pass an explicit value only for
    fixed-scale replayability (the oracled query does, at sf0.01 size).
    """
    if n_centroids is None:
        # one count scan; amortized by the O(N²/cells) it prevents
        n_rows = corpus.count()
        n_centroids = max(16, -(-n_rows // target_cell_size))
    cents, assigned = ivf_index(corpus, n_centroids, id_col, vec_col)
    # materialize the assignment once (it feeds both self-join sides AND
    # the final projection — without this the whole index subtree is
    # planned three times); at scale this is the step you'd WRITE OUT
    # bucketed by cent_id, making the self-join exchange-free on re-runs
    if n_probes > 1:
        probes = ivf_assign_probes(
            corpus, cents, n_probes, id_col, vec_col
        ).localCheckpoint()
        # probe 1 == the single-probe argmax: reuse it for the output
        # projection so cent_id/kept semantics are identical to n_probes=1
        assigned = probes.where(F.col("probe") == 1).drop("probe")
        pair_src = probes.drop("probe")
    else:
        assigned = assigned.localCheckpoint()
        pair_src = assigned
    a = pair_src.select(
        "cent_id", F.col("vid").alias("id_a"), F.col("vec").alias("va")
    )
    b = pair_src.select(
        "cent_id", F.col("vid").alias("id_b"), F.col("vec").alias("vb")
    )
    dropped = (
        # shuffle-hash, not sort-merge: cells are hash-colocatable and the
        # pair filter needs no sort order (corpus-sized sides ⇒ SMJ's two
        # sorts are pure overhead)
        a.join(b.hint("shuffle_hash"), "cent_id")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            F.round(cosine(F.col("va"), F.col("vb")), 6) >= F.lit(threshold)
        )
        .select(F.col("id_b").alias("vid"))
        .distinct()
    )
    return (
        assigned.join(
            dropped.withColumn("__dropped", F.lit(True)).hint("shuffle_hash"),
            "vid",
            "left",
        )
        .select(
            F.col("vid").alias(id_col),
            "cent_id",
            F.coalesce(~F.col("__dropped"), F.lit(True)).alias("kept"),
        )
    )


def knn_classify(
    labeled: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-nearest-neighbor majority-vote classification: exact cosine top-k
    against the labeled corpus, then the modal neighbor label per query
    (ties broken toward the smallest label — deterministic). Returns
    (query_id, pred_label, n_votes).

    The labeling workhorse of a training-data pipeline: propagate a small
    seed of human labels (quality tiers, topics, license classes) onto an
    unlabeled corpus by representation proximity.

    Scale: inherits brute_force_topk's shape — labeled seed broadcast when
    small (the common case: seeds are thousands, corpus is billions), one
    narrow scan of the unlabeled side, WindowGroupLimit per partition; the
    vote is a |queries|·k-row aggregate. For a large seed, swap the inner
    scorer for ivf_topk/lsh_bucketed_topk — the vote stage is unchanged.
    """
    topk = brute_force_topk(labeled, queries, k, id_col, vec_col)
    labels = labeled.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("nlabel")
    )
    votes = (
        topk.join(labels, "neighbor_id")
        .groupBy("query_id", "nlabel")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        # nulls LAST explicitly: Spark ASC defaults nulls-first, DuckDB
        # nulls-last — a NULL seed label tying on votes would otherwise
        # win here and lose in the oracle
        F.col("n_votes").desc(), F.col("nlabel").asc_nulls_last()
    )
    return (
        votes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "query_id", F.col("nlabel").alias("pred_label"), "n_votes"
        )
    )


from ..functions.selfship import self_ship  # noqa: E402

# Worker-executed closures above must never require this package on the
# executor's PYTHONPATH — ship them by value (see functions/selfship.py).
self_ship(__name__)


def semantic_decontaminate(
    train: DataFrame,
    test: DataFrame,
    threshold: float = 0.95,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cell_size: int = 256,
) -> DataFrame:
    """Embedding-space train/eval decontamination: drop every TRAIN vector
    within ``threshold`` cosine of ANY test vector. Returns
    (vec_id, cent_id, kept) over the train corpus.

    The representation-space complement of textual decontamination
    (operators/textclean.py n-gram overlap): a benchmark item that was
    paraphrased or re-encoded into the training corpus shares no
    n-grams but is still a leak — closeness in the embedding space
    catches it.

    Scale: IVF cells are built from the TRAIN corpus (the big side) and
    the test set is assigned to the SAME centroids, so the cross join is
    confined to per-cell (train × test) blocks — O(N_train · |test-cell|)
    instead of N_train · N_test; the test side is benchmark-sized
    (thousands), so its per-cell slices broadcast. Cell count derives
    from the train size like semantic_dedup (bounded cells ⇒ linear pair
    volume).
    """
    if n_centroids is None:
        n_rows = train.count()
        n_centroids = max(16, -(-n_rows // target_cell_size))
    cents, train_assigned = ivf_index(train, n_centroids, id_col, vec_col)
    train_assigned = train_assigned.localCheckpoint()
    t = fan_out(test).select(
        F.col(id_col).alias("vid"), _as_double(vec_col).alias("vec")
    )
    tdist = t.join(F.broadcast(cents)).select(
        "vid", "vec", "cent_id", dot(F.col("vec"), F.col("cvec")).alias("sim")
    )
    test_assigned = tdist.groupBy("vid").agg(
        F.max_by("cent_id", F.struct(F.col("sim"), -F.col("cent_id"))).alias(
            "cent_id"
        ),
        F.first("vec").alias("vec"),
    )
    a = train_assigned.select(
        "cent_id", F.col("vid").alias("id_a"), F.col("vec").alias("va")
    )
    b = test_assigned.select(
        "cent_id", F.col("vid").alias("id_b"), F.col("vec").alias("vb")
    )
    contaminated = (
        a.join(b.hint("shuffle_hash"), "cent_id")
        .where(F.round(cosine(F.col("va"), F.col("vb")), 6) >= F.lit(threshold))
        .select(F.col("id_a").alias("vid"))
        .distinct()
    )
    return train_assigned.join(
        contaminated.withColumn("__hit", F.lit(True)).hint("shuffle_hash"),
        "vid",
        "left",
    ).select(
        F.col("vid").alias(id_col),
        "cent_id",
        F.coalesce(~F.col("__hit"), F.lit(True)).alias("kept"),
    )


def two_stage_topk(
    corpus: DataFrame,
    queries: DataFrame,
    shortlist: int = 40,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage retrieval: cheap int8 shortlist → exact fp rerank — the
    production ANN serving shape (coarse recall stage over compressed
    vectors, precise ranking stage over the shortlist only).

    Stage 1 (:func:`int8_topk`) scans the full corpus at 1/4 bandwidth
    and keeps ``shortlist`` candidates per query; stage 2 re-fetches ONLY
    those candidates' float vectors (an id-equi-join against the corpus —
    at scale a bucketed/partition-pruned point lookup relation, shortlist
    x |queries| rows, never corpus-sized) and re-scores with the exact
    double cosine. Both stages are fully deterministic (integer stage-1
    scores; round-6 stage-2 scores; id tiebreaks), so the composition
    value-oracles end to end. Returns (query_id, neighbor_id, cosine,
    rank).
    """
    cand = int8_topk(corpus, queries, k=shortlist, id_col=id_col, vec_col=vec_col)
    cand = cand.select("query_id", "neighbor_id")
    return _exact_rerank(cand, queries, corpus, k, id_col, vec_col)


#: Product quantization layout: EMB_DIM is split into PQ_SUBSPACES
#: contiguous blocks of EMB_DIM/PQ_SUBSPACES dims; each block is encoded
#: as one of PQ_CODES codewords -> 8 small codes per vector (vs 64
#: floats), a 32x bandwidth cut for the scan stage.
PQ_SUBSPACES = 8
PQ_CODES = 16


def pq_index(
    corpus: DataFrame,
    n_subspaces: int = PQ_SUBSPACES,
    n_codes: int = PQ_CODES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Product-quantization index: (codebook, encoded corpus).

    The codebook is the ``n_codes`` lowest-id corpus vectors (the same
    deterministic-sample device as :func:`ivf_index` — a production build
    would Lloyd-refine per subspace, same plan shape), kept as FULL
    vectors; subspace ``m`` of code ``c`` is dims ``m*d+1 .. (m+1)*d``.
    Encoding assigns every (vector, subspace) pair the code minimizing
    squared L2 distance over that block (lowest code id on ties):
    corpus x broadcast(subspaces x codebook) -> partial-agg ``min_by`` —
    linear in N * n_subspaces * n_codes, no shuffle wider than the
    (vid, m) aggregation.

    Returns ``(codebook(code, cvec), encoded(vid, m, code))``. At 100 TB
    the encoded relation is 8 small ints per vector — the only thing the
    ADC scan stage ever reads; full vectors are touched again only by the
    shortlist rerank's id-equi point lookups.
    """
    d = EMB_DIM // n_subspaces
    c = fan_out(corpus).select(
        F.col(id_col).alias("vid"), _as_double(vec_col).alias("vec")
    )
    cb = (
        c.orderBy("vid")
        .limit(n_codes)
        .select(F.col("vid").alias("code"), F.col("vec").alias("cvec"))
    )
    sub = corpus.sparkSession.range(n_subspaces).select(
        F.col("id").cast("int").alias("m")
    )
    # squared L2 over block m, summed left-to-right like the oracle's
    # list comprehension; (a-b)*(a-b) not pow() so both engines multiply.
    d2 = F.expr(
        f"aggregate(sequence(1, {d}), 0D, (acc, i) -> acc + "
        f"(element_at(vec, m*{d}+i) - element_at(cvec, m*{d}+i)) * "
        f"(element_at(vec, m*{d}+i) - element_at(cvec, m*{d}+i)))"
    )
    enc = (
        c.join(F.broadcast(sub))
        .join(F.broadcast(cb))
        .select("vid", "m", "code", d2.alias("d2"))
        .groupBy("vid", "m")
        .agg(F.min_by("code", F.struct(F.col("d2"), F.col("code"))).alias("code"))
    )
    return cb, enc


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 100,
    n_subspaces: int = PQ_SUBSPACES,
    n_codes: int = PQ_CODES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via PQ asymmetric distance computation:
    ADC shortlist over 8-code compressed vectors, exact rerank over the
    shortlist only — the classic IVFADC serving shape minus the coarse
    stage (compose with :func:`ivf_index` cells for both).

    Stage 1 builds a per-query lookup table LUT[m, code] = <q_m, c_m>
    (|queries| * n_subspaces * n_codes rows, broadcast), then scores the
    ENCODED corpus with one (m, code) equi-join + sum — never touching
    float vectors. LUT partials are micro-snapped (1e-6) to long before
    the sum so the 8-term addition is associative-exact and the shortlist
    ranking reproduces bit-identically in the SQL oracle. Stage 2
    re-fetches only the ``shortlist`` candidates' float vectors by id and
    re-scores with the exact double cosine (same tail as
    :func:`two_stage_topk`).

    Returns (query_id, neighbor_id, cosine, rank).
    """
    cb, enc = pq_index(corpus, n_subspaces, n_codes, id_col, vec_col)
    lut = _pq_lut(queries, cb, n_subspaces, id_col, vec_col)
    adc = (
        enc.join(F.broadcast(lut), ["m", "code"])
        .where(F.col("vid") != F.col("query_id"))
        .groupBy("query_id", "vid")
        .agg(F.sum("pm").alias("am"))
    )
    cand = _topk(adc, shortlist, "am", "vid", rank="sr").select(
        "query_id", F.col("vid").alias("neighbor_id")
    )
    return _exact_rerank(cand, queries, corpus, k, id_col, vec_col)


def _pq_lut(
    queries: DataFrame, cb: DataFrame, n_subspaces: int, id_col: str, vec_col: str
) -> DataFrame:
    """(query_id, m, code, pm): the per-query ADC lookup table
    LUT[m, code] = <q_m, c_m> over the :func:`pq_index` codebook, each
    partial micro-snapped (1e-6) to a long so the per-candidate sum is
    associative-exact. |queries| * n_subspaces * n_codes rows — small
    enough to broadcast into the encoded corpus."""
    d = EMB_DIM // n_subspaces
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qvec")
    )
    sub = queries.sparkSession.range(n_subspaces).select(
        F.col("id").cast("int").alias("m")
    )
    partial = F.expr(
        f"aggregate(sequence(1, {d}), 0D, (acc, i) -> acc + "
        f"element_at(qvec, m*{d}+i) * element_at(cvec, m*{d}+i))"
    )
    return (
        q.join(F.broadcast(sub))
        .join(F.broadcast(cb))
        .select(
            "query_id",
            "m",
            "code",
            F.round(partial * 1000000.0, 0).cast("long").alias("pm"),
        )
    )


def rrf_fuse(
    ranked: dict[str, DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "r",
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of named ranked candidate lists (the
    standard hybrid-retrieval combiner): each list contributes
    ``1/(c + rank)`` for every id it ranks; ids are scored by the sum.

    Contributions are INTEGER ppm — ``round(1e6 / (c + r))`` via the
    half-up device ``floor((2e6 + d) / (2d))`` with d = c + rank — so the
    fusion is associative-exact and oracle-replayable. The merge is a
    UNION + re-aggregate, never a full-outer join (a full outer of N
    candidate lists cannot broadcast and would SMJ; the union groupBy is
    one exchange over |candidates| rows — see q_daily_backlog for the
    same device on time series).

    Returns (id, <name>_ppm per input list, rrf_ppm, rank) for the top-k
    fused ids; ``<name>_ppm > 0`` doubles as the membership flag.
    """
    names = list(ranked)
    parts = []
    for name, df in ranked.items():
        d = F.lit(c) + F.col(rank_col)
        ppm = F.floor(
            (2 * 1000000 + d) / (2.0 * d.cast("double"))
        ).cast("long")
        cols = [F.col(id_col)]
        for other in names:
            cols.append(
                (ppm if other == name else F.lit(0).cast("long")).alias(
                    f"{other}_ppm"
                )
            )
        parts.append(df.select(*cols))
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    fused = unioned.groupBy(id_col).agg(
        *[F.sum(f"{n}_ppm").alias(f"{n}_ppm") for n in names]
    )
    rrf = fused.withColumn(
        "rrf_ppm",
        sum((F.col(f"{n}_ppm") for n in names[1:]), F.col(f"{names[0]}_ppm")),
    )
    w = Window.orderBy(F.col("rrf_ppm").desc(), F.col(id_col))
    # candidate relation is Σ|lists| · k_list rows — constant-sized, so
    # the global ranking window is safe (the documented exception)
    return rrf.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def ivfadc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 50,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_subspaces: int = PQ_SUBSPACES,
    n_codes: int = PQ_CODES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Full IVFADC retrieval (the FAISS ``IVFx,PQy`` serving shape):
    IVF coarse quantizer prunes the corpus to ``n_probe`` cells per query
    (:func:`ivf_index`), PQ asymmetric-distance scores ONLY the surviving
    candidates from their 8-byte codes (:func:`pq_index` + broadcast
    LUTs, micro-snapped integer sums), and the exact cosine reranks the
    ``shortlist``. Candidate volume is O(|q| * cell * n_probe); the ADC
    join is candidate-bounded (never the corpus x LUT of
    :func:`pq_topk`), and full float vectors are touched only by the
    |q| * shortlist rerank lookups.

    Returns (query_id, neighbor_id, cosine, rank) — deterministic end to
    end, so the whole composed index replays in a SQL oracle.
    """
    cents, assigned = ivf_index(corpus, n_centroids, id_col, vec_col)
    cb, enc = pq_index(corpus, n_subspaces, n_codes, id_col, vec_col)
    probes = _ivf_probes(queries, cents, n_probe, id_col, vec_col).select(
        "query_id", "cent_id"
    )
    cand = (
        assigned.join(F.broadcast(probes), "cent_id")
        .where(F.col("vid") != F.col("query_id"))
        .select("query_id", "vid")
    )
    lut = _pq_lut(queries, cb, n_subspaces, id_col, vec_col)
    # the candidate relation is |q|·cell·n_probe rows — query-bounded, so
    # it broadcasts into the (corpus-sized) encoded relation; for a
    # corpus-sized offline query set swap to a shuffle-hash hint instead
    adc = (
        enc.join(F.broadcast(cand), "vid")
        .join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy("query_id", "vid")
        .agg(F.sum("pm").alias("am"))
    )
    short = _topk(adc, shortlist, "am", "vid", rank="sr").select(
        "query_id", F.col("vid").alias("neighbor_id")
    )
    return _exact_rerank(short, queries, corpus, k, id_col, vec_col)


def jl_sign_matrix(dims_in: int, dims_out: int, salt: str = "jl-v1"):
    """Deterministic ±1 Johnson-Lindenstrauss projection signs: component
    (k, j) is + iff md5(salt:k:j) is even. Computed ONCE at plan-build
    time and inlined as LITERALS into both the Spark expression and the
    DuckDB oracle — cross-engine determinism by construction (the shared-
    verbatim-SQL device of q_zorder_index), no runtime hashing at all."""
    import hashlib

    return [
        [
            1
            if hashlib.md5(f"{salt}:{k}:{j}".encode()).digest()[-1] % 2 == 0
            else -1
            for j in range(dims_in)
        ]
        for k in range(dims_out)
    ]


def jl_project_exprs(
    dims_in: int, dims_out: int, col: str = "embedding", one_based: bool = False
) -> list[str]:
    """SQL expression strings for the ``dims_out`` projected components:
    fixed left-to-right signed sums of the input components, so the
    double arithmetic rounds identically wherever the text is evaluated
    (Spark ``F.expr`` and the DuckDB oracle share the SAME generated
    terms, modulo array indexing base)."""
    signs = jl_sign_matrix(dims_in, dims_out)
    base = 1 if one_based else 0
    exprs = []
    for k in range(dims_out):
        terms = []
        for j in range(dims_in):
            op = "+" if signs[k][j] > 0 else "-"
            terms.append(f"{op} CAST({col}[{j + base}] AS DOUBLE)")
        # leading '+ ' dropped; '- x' becomes '0 - x' handled by keeping
        # an explicit 0 head so the first op is always binary
        exprs.append("(0 " + " ".join(terms) + ")")
    return exprs


def hbos_topk(
    emb: DataFrame, n_dims: int = 4, n_bins: int = 16, k: int = 50
) -> DataFrame:
    """HBOS (histogram-based outlier score) top-k — see
    plans/similarity_queries.q_hbos_anomaly for the full contract:
    per-dimension equi-width histograms over the leading ``n_dims``
    embedding coordinates, per-point Σ −ln(bin density) with
    micro-snapped bin weights, top-``k`` by (score, vec_id).

    Scale: bounded (n_dims·n_bins)-key histogram, broadcast weights,
    one vec_id groupBy, TakeOrdered top-k.
    """
    from pyspark.sql import Window

    spark = emb.sparkSession
    dims = spark.range(1, n_dims + 1).select(F.col("id").alias("dim"))
    vals = emb.crossJoin(F.broadcast(dims)).select(
        "vec_id",
        "dim",
        F.element_at("embedding", F.col("dim").cast("int"))
        .cast("double")
        .alias("x"),
    ).localCheckpoint()  # bounds agg + the binned projection read it
    bounds = vals.groupBy("dim").agg(
        F.min("x").alias("lo"),
        F.max("x").alias("hi"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    binned = vals.join(F.broadcast(bounds), "dim").select(
        "vec_id",
        "dim",
        # round-10 ADVICE: a constant dimension (hi == lo) makes the bin
        # expression 0/0 = NaN, which Spark's least() silently coerces to
        # bin 0 while DuckDB's CAST(FLOOR(NaN) AS BIGINT) errors — guard
        # the divisor in BOTH engines so degenerate input lands every
        # point in bin 0 (density 1, weight 0: the correct HBOS limit).
        F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("long"))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("x") - F.col("lo")) * n_bins
                    / (F.col("hi") - F.col("lo"))
                ).cast("long"),
                F.lit(n_bins - 1).cast("long"),
            )
        )
        .alias("bin"),
        "n",
    ).localCheckpoint()  # histogram agg + the score join read it
    hist = binned.groupBy("dim", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.any_value("n").alias("n"),
    )
    w = hist.select(
        "dim",
        "bin",
        F.round(-F.log(F.col("c") / F.col("n").cast("double")) * 1_000_000)
        .cast("long")
        .alias("w_micro"),
    )
    score = (
        binned.join(F.broadcast(w), ["dim", "bin"])
        .groupBy("vec_id")
        .agg(F.sum("w_micro").cast("long").alias("score_micro"))
    )
    topk = score.orderBy(F.desc("score_micro"), "vec_id").limit(k)
    return topk.select(
        "vec_id",
        "score_micro",
        F.row_number()
        .over(Window.orderBy(F.desc("score_micro"), "vec_id"))
        .cast("int")
        .alias("rank"),
    )
