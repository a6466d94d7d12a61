"""Deduplication operators for large-scale training-data pipelines.

Four families, each chosen for a different scale/recall trade-off:

- **exact**        hash-groupBy on normalized text — one shuffle on a 64-bit
                   key; the 100 TB default first pass.
- **MinHash+LSH**  shingle → k minhashes → b bands → bucket self-join.
                   Candidate generation is linear in corpus size (band
                   buckets), never a cross join.
- **SimHash**      32-bit locality hash + chunk-banding (pigeonhole: ham≤3 ⇒
                   one of 4 byte-chunks equal) → verify with bit_count(xor).
- **n-gram Jaccard** exact shingle-set similarity via explode + shingle-join
                   + group count (pairs meet only through shared shingles —
                   quadratic only within a shingle's posting list).

Everything is built-in column expressions (JVM/codegen; zero Python UDFs),
and every hash derives from md5 (functions.scalar.stable_hash64) so DuckDB
oracles can reproduce values bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import stable_hash_p31, stable_hash_u32, token_array
from ..functions.scale import (
    fan_out,
    loop_ckpt_lazy,
    loop_rounds,
    loop_shuffle_partitions,
    scoped_persist,
)

#: Mersenne prime 2^31-1: (a*h+b) % P stays < 2^62 → safe in bigint.
MINHASH_PRIME = 2147483647
#: 32 hash functions → 8 bands x 4 rows: LSH threshold ≈ (1/8)^(1/4) ≈ 0.59.
MINHASH_BANDS = 8
MINHASH_ROWS = 4
#: Deterministic (a, b) parameters (python random.Random(7), hardcoded so
#: Spark and the DuckDB oracle share them as literals).
MINHASH_PARAMS = (
    (695425565, 2035525362),
    (323946140, 847876999),
    (1397871145, 103694312),
    (155555738, 1763673106),
    (1150797846, 202142728),
    (785310973, 1251527726),
    (124551739, 1953574602),
    (1089709947, 461060838),
    (80521325, 184570285),
    (931247022, 898017869),
    (150013384, 516819858),
    (194804717, 1183364967),
    (911648020, 126938843),
    (1775651416, 1214302567),
    (265862674, 2034632750),
    (479402029, 1354258844),
    (1347402587, 1251976312),
    (2035189461, 132847736),
    (1239319144, 1257440634),
    (851864843, 106492238),
    (2096491879, 474769608),
    (100035545, 1195428767),
    (1843546982, 285990742),
    (621931212, 900094241),
    (309785427, 1161114102),
    (252956897, 1226027820),
    (662459677, 1203143340),
    (1752618008, 1464589642),
    (388106950, 221310449),
    (1248976841, 1226652084),
    (1372056228, 403449954),
    (799717634, 209230569),
)

SIMHASH_MOD = 4294967296  # 32-bit simhash
SIMHASH_CHUNKS = 4        # 4 byte-chunks → guarantees recall at hamming ≤ 3
SIMHASH_MAX_HAMMING = 3


def normalize_text(col: Column | str) -> Column:
    """Canonical dedup normalization: lowercase, trim, collapse whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def shingles(col: Column | str, n: int = 3, *, from_tokens: bool = False) -> Column:
    """Distinct word n-gram shingles of the normalized text (array<string>).

    Documents shorter than ``n`` tokens produce an empty array (they can
    only be exact-deduped, matching common practice).

    ``from_tokens=True`` treats ``col`` as an already-tokenized
    array<string> column — callers that stage the token array once (Catalyst
    does not CSE the tokenizer across sibling expressions) pass the staged
    column instead of re-tokenizing."""
    toks = (F.col(col) if isinstance(col, str) else col) if from_tokens else token_array(col)
    k = F.size(toks) - (n - 1)
    grams = F.when(k >= 1, F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def shingle_hashes(shingle_col: Column) -> Column:
    """array<long> of 31-bit stable shingle hashes (md5-derived →
    reproducible in the DuckDB oracle)."""
    return F.transform(shingle_col, lambda s: stable_hash_p31(s))


# ---- Spark-SQL text builders (plan-construction fast path) -----------------
# Building the minhash/band expression trees via the Column API costs one
# py4j round-trip per node (~4.5k for minhash_lsh_pairs — 1.9 s of driver
# time per query construction, measured). These builders emit the SAME
# expressions as their Column twins below as ONE SQL string each, parsed
# JVM-side; the resolved plans are identical (oracle-verified). The Column
# forms remain for callers composing with other Columns.


def _sql_md5_le_hex(s: str) -> str:
    """SQL twin of functions.scalar._md5_le_hex over expression ``s``
    (little-endian hex of md5 bytes 8..15; runtime subexpression
    elimination dedupes the repeated md5 calls, same as the Column form)."""
    pairs = ",".join(f"substring(md5({s}), {16 + i}, 2)" for i in range(15, 0, -2))
    return f"concat({pairs})"


def _sql_p31(s: str) -> str:
    """SQL twin of stable_hash_p31: (2*hi32 + lo32) % (2^31-1) in longs."""
    le = _sql_md5_le_hex(s)
    hi = f"CAST(conv(substring({le}, 1, 8), 16, 10) AS BIGINT)"
    lo = f"CAST(conv(substring({le}, 9, 8), 16, 10) AS BIGINT)"
    return f"pmod(2 * {hi} + {lo}, CAST({MINHASH_PRIME} AS BIGINT))"


def _sql_u32(s: str) -> str:
    """SQL twin of stable_hash_u32: low 32 bits (last 8 LE hex chars)."""
    return (
        f"CAST(conv(substring({_sql_md5_le_hex(s)}, 9, 8), 16, 10) AS BIGINT)"
    )


def _sql_shingle_hashes(text_col: str, n: int = 3) -> str:
    """SQL twin of shingle_hashes(shingles(text_col, n)): normalized word
    n-grams → per-shingle 31-bit md5 residues."""
    toks = f"filter(split(trim(lower({text_col})), '\\\\s+'), t -> t != '')"
    grams = (
        f"if(size({toks}) - {n - 1} >= 1,"
        f" transform(sequence(1, size({toks}) - {n - 1}),"
        f" i -> concat_ws(' ', slice({toks}, i, {n}))),"
        f" CAST(array() AS array<string>))"
    )
    return f"transform(array_distinct({grams}), s -> {_sql_p31('s')})"


def _sql_minhash_signature(hs_col: str, k: int = len(MINHASH_PARAMS)) -> str:
    """SQL twin of minhash_signature: one fold over the shingle hashes."""
    a_lits = ",".join(f"{a}L" for a, _ in MINHASH_PARAMS[:k])
    b_lits = ",".join(f"{b}L" for _, b in MINHASH_PARAMS[:k])
    return (
        f"aggregate({hs_col}, array_repeat(CAST({MINHASH_PRIME} AS BIGINT), {k}),"
        f" (acc, h) -> zip_with(acc, sequence(0, {k - 1}),"
        f" (m, i) -> least(m,"
        f" (element_at(array({a_lits}), i + 1) * h"
        f" + element_at(array({b_lits}), i + 1)) % CAST({MINHASH_PRIME} AS BIGINT))))"
    )


def minhash_signature(hash_col: Column, k: int = len(MINHASH_PARAMS)) -> Column:
    """array<long> signature: sig[i] = min over shingles of (a_i*h+b_i)%P.

    Empty shingle set → all-P sentinel values (never matches a real doc).
    """

    # (a_i, b_i) as literal arrays: ConstantFolding collapses them to two
    # literals, and the whole signature is ONE fold over the shingle hashes
    # (tiny expression tree — the 32-branch unrolled form cost seconds of
    # codegen compile per query shape).
    a_lits = F.array(*[F.lit(a).cast("long") for a, _ in MINHASH_PARAMS[:k]])
    b_lits = F.array(*[F.lit(b).cast("long") for _, b in MINHASH_PARAMS[:k]])
    init = F.array(*[F.lit(MINHASH_PRIME).cast("long")] * k)
    return F.aggregate(
        hash_col,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda m, i: F.least(
                m,
                (F.element_at(a_lits, i + 1) * h + F.element_at(b_lits, i + 1))
                % F.lit(MINHASH_PRIME),
            ),
        ),
    )


def with_minhash(
    df: DataFrame, text_col: str = "text", n: int = 3, out_col: str = "minhash"
) -> DataFrame:
    """Append the minhash signature column (narrow, shuffle-free).

    The shingle-hash array is materialized in its own projection first:
    `minhash_signature` references it 32 times (one per hash function), and
    inlining would re-run the md5-per-shingle subtree 32x per row — Catalyst
    keeps non-cheap multi-referenced aliases in a separate Project, making
    the expensive hashing a single pass.

    Built via the SQL-text fast path (2 ``expr`` strings instead of ~2k
    py4j calls — see the ``_sql_*`` builders above); plans are identical
    to the Column form and oracle-verified."""
    staged = fan_out(df).withColumn(
        "__sh", F.expr(_sql_shingle_hashes(text_col, n))
    )
    return staged.withColumn(
        out_col, F.expr(_sql_minhash_signature("__sh"))
    ).drop("__sh")


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups on normalized text.

    Returns (text_hash, keeper_id, n_dups). Scale: the only shuffle is the
    groupBy on the 128-bit digest — never on the text bytes themselves;
    partial aggregation collapses per-partition duplicates map-side.
    """
    return (
        fan_out(df).select(
            F.md5(normalize_text(text_col)).alias("text_hash"),
            F.col(id_col),
        )
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def _bands_df(
    df: DataFrame,
    id_col: str,
    sig_col: str = "minhash",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *keep, band_idx, band_hash): hash each r-row slice of the
    signature. ``keep`` rides extra columns through the explode (e.g. the
    signature itself, so a streaming caller can verify candidates without
    a second stream-side pass).

    One SQL string for the whole 8-struct band array (plan-construction
    fast path, see the ``_sql_*`` builders above)."""
    structs = []
    for j in range(MINHASH_BANDS):
        elems = ",".join(
            f"CAST(element_at({sig_col}, {j * MINHASH_ROWS + r + 1}) AS STRING)"
            for r in range(MINHASH_ROWS)
        )
        key = f"concat_ws(',', '{j}', concat_ws(',', {elems}))"
        structs.append(
            f"named_struct('band_idx', {j}, 'band_hash', {_sql_u32(key)})"
        )
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.expr(f"explode(array({','.join(structs)}))").alias("b"),
    ).select(id_col, *keep, "b.band_idx", "b.band_hash")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash LSH.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b and signature-estimated
    jaccard ≥ threshold.

    Scale: the self-join is on (band_idx, band_hash) — only docs sharing a
    band bucket ever meet, so cost is Σ bucket² not corpus². Skewed buckets
    (boilerplate shingles collapsing a band for a large doc fraction) are
    the one quadratic hazard: ``max_bucket_size`` drops any band bucket
    whose membership exceeds the cap BEFORE the self-join (standard
    near-dup practice — a bucket shared by 30% of a 100 TB corpus is
    boilerplate, not duplication, and would alone cost (0.3·N)² pair
    materializations). The cap only prunes candidate GENERATION;
    est_jaccard for surviving pairs is unchanged (computed from full
    signatures). Overflow buckets are found with a map-side-combined
    groupBy — the overflow set is Zipf-tiny, so the filter is a broadcast
    anti-join, never a posting shuffle.
    """
    # Persist the narrow (id, signature) relation: it feeds the band
    # explode AND both sides of the candidate verification join — without
    # it the md5 signature pass runs 3x. At 100 TB this is the relation
    # you'd checkpoint to parquet; signatures are ~260 B/doc.
    sigs = scoped_persist(
        with_minhash(df.select(id_col, text_col), text_col, n).select(
            id_col, "minhash"
        ),
        "minhash_lsh_pairs.sigs",
    )
    bands = _bands_df(sigs, id_col)
    if max_bucket_size is not None:
        overflow = (
            bands.groupBy("band_idx", "band_hash")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .where(F.col("n_docs") > max_bucket_size)
            .select("band_idx", "band_hash")
        )
        bands = bands.join(
            F.broadcast(overflow), ["band_idx", "band_hash"], "left_anti"
        )
    left = bands.select(
        F.col(id_col).alias("id_a"), "band_idx", "band_hash"
    )
    right = bands.select(
        F.col(id_col).alias("id_b"), "band_idx", "band_hash"
    )
    cand = (
        left.join(right, ["band_idx", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("minhash").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("minhash").alias("sig_b"))
    k = len(MINHASH_PARAMS)
    matches = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m
        )
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(matches / F.lit(float(k)), 6).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram-shingle Jaccard pairs ≥ threshold.

    ``max_doc_freq`` (optional) drops shingles whose posting list exceeds
    the cap BEFORE the self-join — the skew valve for boilerplate: one
    header shingle shared by 30% of a 100 TB corpus makes a single posting
    list quadratic ((0.3·N)² join rows) with no dedup signal in it.
    Semantics with the cap: Jaccard over the INFORMATIVE-shingle universe
    — per-doc sizes are recomputed post-cap, so a pair whose similarity
    lives in rare shingles still scores high even when boilerplate is
    stripped. The overflow-shingle set is Zipf-tiny → found by a
    map-side-combined groupBy and removed with a broadcast anti-join (the
    posting relation itself is never shuffled for the cap); the one new
    shuffle is the per-doc size recount window on ``id_col``.

    Pairs materialize only through the shingle-posting join (explode +
    self-join on shingle hash + group count), so complexity follows shared
    shingles, not corpus². The |A∪B| denominator RIDES ALONG the posting
    rows (each side carries its doc's shingle count), so no separate sizes
    relation, no extra joins, and no second pass over text.

    Shuffle budget: per-doc shingle dedup is a narrow ``array_distinct``
    (not a row-level ``.distinct()`` shuffle), and the shingle-ARRAY
    relation is ``persist``-ed before the explode/self-join so the
    expensive tokenize+shingle subtree runs exactly once — the body
    comment documents the two measured optimizer traps (inferred-filter
    duplication through Generate, interpreted lambda hashing without CSE)
    that make persisting the arrays and hashing post-explode ~10× cheaper
    than persisting the exploded posting. A plain ``repartition``
    barrier also fixes the double-compute but forbids AQE from
    broadcasting a small side (measured 2.4x slower at sf0.1); persist
    keeps the strategy choice with AQE. At 100 TB the array relation is
    the one you'd checkpoint to parquet between the shingle pass and the
    join.
    """
    # Persist the STRING-shingle ARRAY relation and explode AFTER the
    # cache boundary, hashing post-explode. Two measured traps dictate
    # this exact shape (sf0.1, 5k docs — prefixes of the 100 TB story):
    #  1. InferFiltersFromGenerate: an explode directly above the shingle
    #     expression infers `size(shingles(...)) > 0` and pushes it to the
    #     scan, re-substituting the WHOLE shingle subtree into a Filter —
    #     the expensive pass runs twice, un-CSE'd (0.3 s → 8.5 s).
    #     Materializing the array relation first leaves the inferred
    #     filter running against cached arrays (free).
    #  2. Hashing inside `transform` lambdas is interpreted with NO
    #     common-subexpression elimination: stable_hash_p31's 8-substring
    #     little-endian fold evaluates md5 16× per shingle (7 s).
    #     Post-explode the same hash is a top-level projection where
    #     runtime CSE collapses it to one md5 per row (~0.1 s).
    # n_sh = |distinct shingle STRINGS| — exactly the oracle's len(hs)
    # (it hashes the distinct-string list without re-distincting).
    tk = fan_out(df).select(F.col(id_col), token_array(text_col).alias("__toks"))
    arrs = scoped_persist(
        tk.select(
            F.col(id_col), shingles("__toks", n, from_tokens=True).alias("__sh")
        ),
        "ngram_jaccard_pairs.shingle_arrays",
    )
    raw = arrs.select(
        F.col(id_col), F.size("__sh").alias("n_sh"), F.explode("__sh").alias("s")
    ).select(F.col(id_col), "n_sh", stable_hash_p31("s").alias("sh"))
    # The posting is persisted TOO (tiny: (long,int,long) per shingle): it
    # feeds BOTH sides of the self-join — and in the capped variant the
    # whole overflow/anti-join/recount pipeline — which would otherwise
    # run twice. Cold cost layers as: arrays materialize once (trap 1
    # above), posting materializes from the array cache (cheap), join
    # reads the posting cache twice.
    if max_doc_freq is None:
        posting = scoped_persist(raw, "ngram_jaccard_pairs.posting")
    else:
        from pyspark.sql import Window

        overflow = (
            raw.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_doc_freq)
            .select("sh")
        )
        kept = raw.drop("n_sh").join(F.broadcast(overflow), "sh", "left_anti")
        posting = scoped_persist(
            kept.withColumn(
                "n_sh", F.count(F.lit(1)).over(Window.partitionBy(id_col))
            ),
            "ngram_jaccard_pairs.posting_capped",
        )
    a = posting.select(
        F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"), "sh"
    )
    b = posting.select(
        F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"), "sh"
    )
    inter = (
        a.join(b, "sh")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
    )
    return (
        inter.select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Prefix-filtered exact Jaccard pairs ≥ threshold (AllPairs/PPJoin
    candidate generation) — the LOSSLESS scale path beside
    :func:`ngram_jaccard_pairs`'s ``max_doc_freq`` valve.

    Prefix-filtering principle (Bayardo et al., WWW'07 "Scaling Up All
    Pairs Similarity Search"): order the shingle universe by global
    document frequency ascending (rarest first, hash tiebreak); under any
    total order, two sets with J(A,B) ≥ t must share a shingle within
    their first ``|x| − ⌈t·|x|⌉ + 1`` elements. So only that PREFIX of
    each posting list is self-joined. Because frequent (boilerplate)
    shingles sort LAST, they almost never land in a prefix: the quadratic
    hot-posting-list blowup the df-cap variant cuts lossily is eliminated
    here with zero false negatives — candidate volume scales with
    rare-shingle co-occurrence, not with boilerplate df².

    ``⌈t·|x|⌉`` is computed in INTEGER arithmetic (t as a fraction via
    ``Fraction.limit_denominator``): float ``ceil(0.8*5)=ceil(4.0000…1)=5``
    would silently shorten prefixes below the completeness bound.

    Verification joins the (small, by design) candidate-pair set BACK to
    the per-doc hash arrays as the BROADCAST side twice — the full
    posting relation is never re-shuffled for verification, and exact
    ``array_intersect`` sizes give the same jaccard as the posting-join
    form (equality property-tested against :func:`ngram_jaccard_pairs`).

    Shuffle inventory at 100 TB: df groupBy on shingle hash (partial-agg
    combined), posting⋈df on hash, one window on ``id_col`` for prefix
    ranking, prefix self-join on hash, candidate distinct — each carries
    (long,long) rows, never text. The array relation is persisted once and
    feeds both the prefix build and verification.
    """
    from fractions import Fraction

    from pyspark.sql import Window

    frac = Fraction(threshold).limit_denominator(1_000_000)
    num, den = frac.numerator, frac.denominator

    tk = fan_out(df).select(F.col(id_col), token_array(text_col).alias("__toks"))
    arrs = scoped_persist(
        tk.select(
            F.col(id_col),
            shingle_hashes(shingles("__toks", n, from_tokens=True)).alias("hs"),
        ),
        "prefix_jaccard_pairs.hash_arrays",
    )
    post = arrs.select(
        F.col(id_col), F.size("hs").alias("n_sh"), F.explode("hs").alias("sh")
    )
    dfreq = post.groupBy("sh").agg(F.count(F.lit(1)).alias("sdf"))
    # integer ceil(num*n_sh/den): prefix_len = n_sh - ceil + 1
    ceil_t = F.expr(f"({num}L * n_sh + {den - 1}L) div {den}L")
    # The prefix relation feeds BOTH sides of the candidate self-join;
    # persist it so the posting⋈df join + ranking window run once, not
    # twice (same measured trap as the ngram posting persist).
    ranked = scoped_persist(
        post.join(dfreq, "sh")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy("sdf", "sh")
            ),
        )
        .where(F.col("rk") <= F.col("n_sh") - ceil_t + 1)
        .select(F.col(id_col), "sh"),
        "prefix_jaccard_pairs.prefix",
    )
    cand = (
        ranked.alias("a")
        .join(ranked.alias("b"), "sh")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    # verification: candidates are broadcast INTO the array relation twice,
    # so the big side (arrs) is scanned, never shuffled.
    a_side = arrs.select(
        F.col(id_col).alias("id_a"),
        F.col("hs").alias("hs_a"),
        F.size("hs").alias("n_a"),
    )
    b_side = arrs.select(
        F.col(id_col).alias("id_b"),
        F.col("hs").alias("hs_b"),
        F.size("hs").alias("n_b"),
    )
    half = a_side.join(F.broadcast(cand), "id_a")
    verified = (
        b_side.join(F.broadcast(half), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("hs_a", "hs_b")).alias("n_common"),
            "n_a",
            "n_b",
        )
    )
    return (
        verified.select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _rehash32(hashes: Column) -> Column:
    """Rehash each 31-bit shingle hash to 32 well-mixed bits ONCE — md5 is
    the expensive part; keep it to 1 per shingle, not 1 per shingle-bit."""
    return F.transform(hashes, lambda h: stable_hash_u32(h.cast("string")))


def _bit_vote(h32: Column, total: Column) -> Column:
    """Majority vote per bit over the rehashed shingle hashes (array HOFs,
    shuffle-free): ONE fold accumulates all 32 bit-counts, then one pass
    assembles the winning bits. (The unrolled 32-filter form compiled a
    huge codegen tree — seconds of janino time per query shape.)

    ``h / 2^b`` is exact in double for h < 2^32, and the long cast
    truncates toward zero = floor for non-negative h, so the per-bit
    extraction is exact integer arithmetic."""
    positions = F.sequence(F.lit(0), F.lit(31))
    counts = F.aggregate(
        h32,
        F.array_repeat(F.lit(0).cast("long"), 32),
        lambda acc, h: F.zip_with(
            acc,
            positions,
            lambda c, b: c + F.pmod((h / F.pow(F.lit(2.0), b)).cast("long"), 2),
        ),
    )
    return (
        F.aggregate(
            F.zip_with(
                counts,
                positions,
                lambda c, b: F.when(
                    c * 2 > total, F.pow(F.lit(2.0), b)
                ).otherwise(F.lit(0.0)),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    ).cast("long")


def simhash(col: Column | str, text_mode: bool = True) -> Column:
    """32-bit SimHash of a document as a single column expression.

    NOTE: as one expression tree the md5 subtree appears once per bit (32x)
    and Catalyst will not CSE through the lambdas — use :func:`with_simhash`
    anywhere performance matters; this form exists for expression-level
    composition and tests."""
    hashes = (
        shingle_hashes(shingles(col, 3)) if text_mode else (F.col(col) if isinstance(col, str) else col)
    )
    return _bit_vote(_rehash32(hashes), F.size(hashes))


def with_simhash(
    df: DataFrame, text_col: str = "text", out_col: str = "simhash"
) -> DataFrame:
    """Append the 32-bit SimHash column, computing the expensive md5 shingle
    hashing exactly once per row: the shingle-hash and rehash arrays are
    materialized in their own projections (multi-referenced non-cheap
    aliases are never inlined by CollapseProject), so the 32 bit-vote
    traversals run over a computed array, not 32 copies of the md5 subtree.
    """
    staged = fan_out(df).withColumn(
        "__sh", shingle_hashes(shingles(text_col, 3))
    ).withColumn("__h32", _rehash32(F.col("__sh")))
    return staged.withColumn(
        out_col, _bit_vote(F.col("__h32"), F.size(F.col("__sh")))
    ).drop("__sh", "__h32")


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = SIMHASH_MAX_HAMMING,
) -> DataFrame:
    """Near-dup pairs with simhash hamming distance ≤ max_hamming.

    Candidate generation by byte-chunk banding (pigeonhole: with 4 chunks
    and ham ≤ 3, at least one chunk is identical) — the self-join key is
    (chunk_idx, chunk_value), never the full corpus cross product.
    """
    sh = scoped_persist(
        with_simhash(df.select(id_col, text_col), text_col, "sh").select(
            id_col, "sh"
        ),
        "simhash_pairs.sh",
    )
    chunks = sh.select(
        id_col,
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("chunk_idx"),
                        F.shiftright("sh", 8 * j).bitwiseAND(F.lit(255)).alias("chunk"),
                    )
                    for j in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("c"),
    ).select(id_col, "sh", "c.chunk_idx", "c.chunk")
    a = chunks.select(
        F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"), "chunk_idx", "chunk"
    )
    b = chunks.select(
        F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"), "chunk_idx", "chunk"
    )
    return (
        a.join(b, ["chunk_idx", "chunk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def duplicate_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a near-duplicate pair list → (doc_id,
    component_id) with component_id = min doc id in the component — the
    grouping step that turns pairwise matches into dedup groups with one
    canonical keeper each.

    Iterative min-label propagation (the dataframe form of large/small-star):
    each round every node adopts the smallest label among itself and its
    neighbors; converges in O(component diameter) rounds. Per round: one
    join + one groupBy — both shuffle on the node id, so the iteration cost
    is rounds x one co-partitioned shuffle, never quadratic.

    ``localCheckpoint`` truncates lineage each round — without it the plan
    doubles per iteration and the job dies on planning time long before
    data size matters (the classic iterative-Spark trap).

    Convergence check rides the iteration relation: each round's
    checkpointed output carries a ``changed`` flag computed inside the
    same join, so detecting a fixed point is ONE narrow aggregate over
    already-materialized partitions — not (as a first version did) a
    second labels⋈new_labels join+shuffle per round, which nearly doubled
    the per-iteration cost (measured 5.8 s → ~3 s at sf0.1).
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .persist()
    )
    # Restoring the setting after the loop is safe: every round's lazy
    # checkpoint is materialized by that round's changed-count collect.
    with loop_shuffle_partitions(pairs.sparkSession, edges.count()):
        labels = _propagate_min_labels(edges, max_iter)
    edges.unpersist()
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component_id")
    )


def _propagate_min_labels(edges: DataFrame, max_iter: int) -> DataFrame:
    """The eager min-label loop of :func:`duplicate_components` (runs under
    its caller's :func:`loop_shuffle_partitions` block)."""
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(loop_rounds(max_iter)):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        # lazy loop checkpoint materialized BY the changed-count aggregate:
        # one job per round instead of two (eager checkpoint + separate
        # count) — the loop_ckpt_counted device (round-13, guide §1.2 —
        # per-round fixed job cost dominates once the label relation is
        # small)
        stepped = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["src"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
                (
                    F.coalesce(F.col("nmin"), F.col("label")) < F.col("label")
                ).alias("changed"),
            )
            .transform(loop_ckpt_lazy)
        )
        changed = stepped.agg(
            F.sum(F.col("changed").cast("int")).alias("n")
        ).collect()[0]["n"]
        labels = stepped.select("node", "label")
        if not changed:
            break
    return labels


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """DIRECTED shingle-containment pairs: C(A→B) = |A∩B| / |A| ≥
    threshold — the asymmetric near-dup relation symmetric Jaccard
    misses: a short document quoted wholesale inside a long one scores
    C≈1 while its Jaccard is tiny. This is the quote / subset /
    excerpt detector of the dedup family (and the redundancy signal for
    "drop the contained doc, keep the superset" policies, composing
    with dedup_canonical's keep-longest rule).

    Same posting-join complexity discipline as ngram_jaccard_pairs
    (explode → hash post-explode → self-join on shingle hash; pair work
    follows SHARED shingles, not corpus²); the directed output simply
    emits both orientations of each intersecting pair and filters each
    against its OWN left-side size. Returns (id_sub, id_super,
    containment) with containment rounded to 6.
    """
    tk = fan_out(df).select(F.col(id_col), token_array(text_col).alias("__toks"))
    arrs = scoped_persist(
        tk.select(
            F.col(id_col), shingles("__toks", n, from_tokens=True).alias("__sh")
        ),
        "containment_pairs.shingle_arrays",
    )
    posting = scoped_persist(
        arrs.select(
            F.col(id_col),
            F.size("__sh").alias("n_sh"),
            F.explode("__sh").alias("s"),
        ).select(F.col(id_col), "n_sh", stable_hash_p31("s").alias("sh")),
        "containment_pairs.posting",
    )
    a = posting.select(
        F.col(id_col).alias("id_sub"), F.col("n_sh").alias("n_a"), "sh"
    )
    b = posting.select(F.col(id_col).alias("id_super"), "sh")
    inter = (
        a.join(b, "sh")
        .where(F.col("id_sub") != F.col("id_super"))
        .groupBy("id_sub", "id_super")
        .agg(F.count(F.lit(1)).alias("n_common"), F.first("n_a").alias("n_a"))
    )
    return (
        inter.select(
            "id_sub",
            "id_super",
            F.round(F.col("n_common") / F.col("n_a"), 6).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )


def incremental_minhash_pairs(
    df: DataFrame,
    new_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental near-dup detection: probe a MinHash band INDEX with only
    the new-batch docs — the daily-ingest dedup shape, where yesterday's
    100 TB corpus is never re-paired, only probed.

    ``new_pred`` marks the incoming batch (e.g. today's partition).
    Candidate generation joins the NEW docs' band rows (the small probe
    side, broadcast) against the full band index on (band_idx,
    band_hash); old-old pairs can never form. In production the index
    side is a materialized bands table appended per ingest (the
    :func:`_bands_df` relation written out bucketed by band_hash), so
    each probe is |batch|·8 lookups against it, independent of corpus
    size; here both sides derive from one signature pass over the same
    relation, which keeps the query oracle-able end to end.

    Returns (id_a, id_b, est_jaccard, n_new) with id_a < id_b,
    signature-estimated jaccard >= threshold, and n_new in {1, 2} — how
    many of the pair arrived in the new batch (1 = new-vs-indexed hit,
    2 = duplicate within the batch).
    """
    base = df.select(id_col, text_col, new_pred.alias("is_new"))
    sigs = scoped_persist(
        with_minhash(base, text_col, n).select(id_col, "minhash", "is_new"),
        "incremental_minhash_pairs.sigs",
    )
    bands = _bands_df(sigs, id_col, keep=("is_new",))
    probe = bands.where(F.col("is_new")).select(
        F.col(id_col).alias("id_p"), "band_idx", "band_hash"
    )
    index = bands.select(F.col(id_col).alias("id_i"), "band_idx", "band_hash")
    cand = (
        index.join(F.broadcast(probe), ["band_idx", "band_hash"])
        .where(F.col("id_p") != F.col("id_i"))
        .select(
            F.least("id_p", "id_i").alias("id_a"),
            F.greatest("id_p", "id_i").alias("id_b"),
        )
        .distinct()
    )
    k = len(MINHASH_PARAMS)
    sa = sigs.select(
        F.col(id_col).alias("id_a"),
        F.col("minhash").alias("sig_a"),
        F.col("is_new").alias("new_a"),
    )
    sb = sigs.select(
        F.col(id_col).alias("id_b"),
        F.col("minhash").alias("sig_b"),
        F.col("is_new").alias("new_b"),
    )
    matches = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(matches / F.lit(float(k)), 6).alias("est_jaccard"),
            (F.col("new_a").cast("int") + F.col("new_b").cast("int"))
            .cast("int")
            .alias("n_new"),
        )
        .where(F.col("est_jaccard") >= threshold)
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 3,
    threshold_ppm: int = 500_000,
) -> DataFrame:
    """SORTED-NEIGHBORHOOD blocking — the classic entity-resolution
    blocking scheme this module didn't yet have (beside the LSH bands,
    posting joins, prefix filter and grid blocks): totally order the
    corpus by a sort key (normalized text here), pair each row with the
    next ``window`` rows in that order, and verify candidates with the
    exact distinct-token Jaccard. Near-duplicates sort adjacently, so
    the candidate count is EXACTLY n*window whatever the data does —
    the hardest cap any blocking scheme offers, bought by the weakness
    the LSH family doesn't have: a difference in the first sort-key
    characters defeats it (multi-pass SNM with rotated keys is the
    classic fix; one pass is this operator's documented contract).

    Returns verified pairs (id_a, id_b, inter, uni, jac_ppm) with
    jac_ppm >= threshold_ppm (half-up integer ppm — token counts are
    small, far inside the device's exactness bounds).

    Scale: the global rank uses the dense-ids device (range exchange +
    local ranks — never a single-partition window); neighbor pairing is
    an EQUALITY join on rank+offset (broadcast offsets); verification
    touches n*window candidate rows.
    """
    from ..functions.scalar import token_array
    from ..operators.ids import assign_dense_ids

    keyed = df.select(
        F.col(id_col).alias("id"),
        normalize_text(text_col).alias("sk"),
        F.array_distinct(token_array(text_col)).alias("toks"),
    )
    ranked = assign_dense_ids(keyed, ["sk", "id"], "rk").localCheckpoint()
    offsets = df.sparkSession.range(1, window + 1).select(
        F.col("id").cast("long").alias("off")
    )
    a = ranked.select(
        F.col("rk").alias("rka"), F.col("id").alias("id_a"),
        F.col("toks").alias("ta"),
    )
    b = ranked.select(
        F.col("rk").alias("rkb"), F.col("id").alias("id_b"),
        F.col("toks").alias("tb"),
    )
    cand = a.crossJoin(F.broadcast(offsets)).join(
        b.hint("shuffle_hash"), F.col("rkb") == F.col("rka") + F.col("off")
    )
    inter = F.size(F.array_intersect("ta", "tb"))
    uni = F.size("ta") + F.size("tb") - inter
    scored = cand.select(
        "id_a",
        "id_b",
        inter.cast("long").alias("inter"),
        uni.cast("long").alias("uni"),
        F.floor((2 * inter * F.lit(1_000_000) + uni) / (2.0 * uni))
        .cast("long")
        .alias("jac_ppm"),
    )
    return scored.where(F.col("jac_ppm") >= threshold_ppm)


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 16,
    boundary_max: str = "03",
) -> DataFrame:
    """Per-document content-defined chunk relation (doc_id, chunk) — the
    extraction half of cdc_chunk_stats, factored out because it is pure
    narrow projections (no shuffle, no checkpoint) and therefore
    composes onto STREAMS unchanged (stream_cdc_chunk_dedup probes each
    arrival's chunks against the persisted chunk store)."""
    w = window
    t = text_col
    # STAGED projections, not one nested expression: ``bnds`` (the
    # md5-per-position scan) is referenced 3x by ``ends`` and ``ends``
    # 3x by the chunk transform — textual nesting would re-inline the
    # boundary scan into every reference (~10-50x the md5 work,
    # measured 227 s -> 8 s at sf0.1). Staging through aliased columns
    # keeps each computed once; CollapseProject leaves multiply-
    # referenced non-cheap expressions staged (SPARK-36718).
    bnds = (
        f"CASE WHEN length({t}) >= {w} THEN "
        f"filter(sequence(CAST({w} AS BIGINT), CAST(length({t}) AS BIGINT)), "
        f"p -> substring(md5(substring({t}, CAST(p - {w - 1} AS INT), {w})), "
        f"1, 2) <= '{boundary_max}') "
        f"ELSE CAST(array() AS array<bigint>) END"
    )
    ends = (
        "CASE WHEN size(bnds) > 0 "
        "AND element_at(bnds, -1) = CAST(length(text) AS BIGINT) "
        "THEN bnds "
        "ELSE concat(bnds, array(CAST(length(text) AS BIGINT))) END"
    )
    chunks = (
        "transform(sequence(1, size(ends)), i -> substring(text, "
        "CAST(IF(i = 1, CAST(0 AS BIGINT), element_at(ends, i - 1)) + 1 "
        "AS INT), CAST(element_at(ends, i) "
        "- IF(i = 1, CAST(0 AS BIGINT), element_at(ends, i - 1)) AS INT)))"
    )
    return (
        df.where(F.length(t) >= 1)
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(t).alias("text"),
            F.expr(bnds).alias("bnds"),
        )
        .select("doc_id", "text", F.expr(ends).alias("ends"))
        .select("doc_id", F.explode(F.expr(chunks)).alias("chunk"))
    )



def cdc_chunk_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 16,
    boundary_max: str = "03",
    min_copies: int = 2,
) -> DataFrame:
    """CONTENT-DEFINED CHUNKING dedup — the storage-layer member of the
    dedup family (beside the document-level exact/MinHash/SimHash tiers):
    split every document at positions the CONTENT chooses, digest the
    chunks, and surface chunk groups shared across the corpus. This is
    what backup/dedup stores (LBFS, Venti, restic) and long-document
    LLM-corpus pipelines use to find shared boilerplate spans that
    document-level hashing can't see: an insertion near the top of a file
    shifts every fixed-size block, but content-defined boundaries
    re-synchronize right after the edit, so all downstream chunks still
    match (pytest gates exactly that resynchronization property).

    Boundary rule: position ``p`` (1-based, ``p >= window``) ends a chunk
    iff the md5 of the trailing ``window``-char gram at ``p`` starts with
    a hex prefix <= ``boundary_max`` ('03' → 4/256 = 1/64 of positions,
    ~64-char expected chunks). A position-local gram hash replaces the
    classic sequential gear/Rabin rolling hash so the rule is a pure
    per-position expression — identical in Spark and the DuckDB oracle,
    embarrassingly parallel, and still content-defined (the plan shape a
    real gear hash would have — one narrow map pass — is unchanged; only
    the per-position constant differs, md5-of-gram vs one gear step).

    Returns one row per duplicated chunk content: (chunk_md5, chunk_len,
    n_copies, n_docs) with ``n_copies >= min_copies``.

    Scale: boundary detection + chunk extraction is ONE shuffle-free
    JVM expression per document (no Python, no explode until the chunk
    relation); the only exchange is the chunk-digest groupBy — the same
    content-addressed shuffle any dedup store performs, keyed on a
    uniform digest so it cannot skew.
    """
    chunked = cdc_chunks(df, text_col, id_col, window, boundary_max)
    return (
        chunked.groupBy(F.md5("chunk").alias("chunk_md5"))
        .agg(
            F.max(F.length("chunk")).cast("long").alias("chunk_len"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .where(F.col("n_copies") >= min_copies)
    )
