"""Deterministic byte-pair-encoding merge learning — the tokenizer-
training primitive of an LLM data pipeline, distributed the way BPE
actually scales: after ONE corpus pass collapses text to the (word,
count) vocabulary, every iteration runs on vocabulary-sized relations
only (the corpus is never rescanned), which is why single-machine BPE
trainers survive on web-scale data and why this shape is the right one
for 100 TB: the corpus pass is a map-side-combining groupBy; the loop
cost is |vocab| per merge.

Determinism contract (what makes the unrolled SQL replay hash-exact):
pair counts are exact longs; the winning merge is the (count DESC,
left ASC, right ASC) total order; merge application is the canonical
LEFT-TO-RIGHT NON-OVERLAPPING fold, implemented as the SAME
fold-over-symbols in both engines (Spark ``F.aggregate``, DuckDB
``list_reduce``) on space-joined symbol strings — symbols never contain
spaces, so token boundaries are unambiguous.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import token_array
from ..functions.scale import loop_shuffle_partitions

#: Pair-key separator (symbols are word characters/concatenations and
#: never contain control characters).
SEP = "\x1f"


def word_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n_w) vocabulary with initial per-character symbol arrays —
    the one corpus-sized pass; everything after is vocabulary-sized."""
    words = docs.select(
        F.explode(token_array(text_col)).alias("word")
    ).groupBy("word").agg(F.count(F.lit(1)).alias("n_w"))
    return vocab_from_counts(words)


def vocab_from_counts(word_counts: DataFrame) -> DataFrame:
    """Seed the BPE vocabulary from a precomputed ``(word, n_w)`` count
    relation — the collapse device for pipelines that ALREADY tokenize
    the corpus for another stage (pipeline_tokenizer_ready's encode
    counts): deriving n_w = sum of the per-doc counts skips a second
    corpus-sized tokenize+explode pass (guide §1.2 — don't compute
    things twice). Values are identical to :func:`word_vocab` by the
    sum-of-partials identity."""
    # split's zero-width lookahead also matches at end-of-string and the
    # default limit=-1 KEEPS the resulting trailing "" — filter it.
    return word_counts.select(
        "word",
        "n_w",
        F.filter(F.split("word", "(?!^)"), lambda c: c != "").alias("syms"),
    )


def _pair_keys(syms) -> F.Column:
    """All ADJACENT symbol pairs of one word as SEP-joined keys (with
    positional multiplicity — BPE counts every position)."""
    n = F.size(syms)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat(
                F.element_at(syms, i), F.lit(SEP), F.element_at(syms, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _apply_merge(syms, pa, pb) -> F.Column:
    """Left-to-right non-overlapping replacement of the adjacent pair
    (pa, pb) by its concatenation, as a fold over the symbol array with
    a space-joined string accumulator. A freshly merged token is never
    re-used as the LEFT side within the same pass because the
    comparison is against the full last token (pa||pb != pa — pb is
    non-empty)."""
    last = lambda acc: F.regexp_extract(acc, "([^ ]+)$", 1)  # noqa: E731
    merged = F.aggregate(
        F.slice(syms, 2, F.greatest(F.size(syms) - 1, F.lit(0))),
        F.element_at(syms, 1),
        lambda acc, x: F.when(
            (last(acc) == pa) & (x == pb),
            F.concat(
                F.regexp_replace(acc, "([^ ]+)$", ""), pa, pb
            ),
        ).otherwise(F.concat(acc, F.lit(" "), x)),
    )
    return F.split(merged, " ")


def bpe_train(
    docs: DataFrame, k: int = 3, text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """Learn the first ``k`` BPE merges; returns ``(merges, vocab)`` —
    one merge row per step (step, lhs, rhs, merged, pair_count) AND the
    post-merge vocabulary (word, n_w, syms), which IS the encode table:
    tokenizing a document under the learned merges is a per-word lookup
    of its final symbol array, never a re-fold over the corpus.

    Scale: the loop never touches the corpus — each iteration is one
    vocabulary-sized pair-count groupBy (map-side combined), a 1-row
    winner (orderBy-limit-1, broadcast back), and a codegen fold over
    the vocabulary's symbol arrays; lineage is checkpoint-truncated per
    merge so k merges plan like one."""
    return _bpe_train_loop(docs.sparkSession, word_vocab(docs, text_col), k)


def bpe_train_from_counts(
    word_counts: DataFrame, k: int = 3
) -> tuple[DataFrame, DataFrame]:
    """:func:`bpe_train` seeded from a precomputed ``(word, n_w)`` count
    relation (see :func:`vocab_from_counts` for when and why)."""
    return _bpe_train_loop(
        word_counts.sparkSession, vocab_from_counts(word_counts), k
    )


def _bpe_train_loop(
    spark, vocab0: DataFrame, k: int
) -> tuple[DataFrame, DataFrame]:
    vocab = vocab0.localCheckpoint()
    # Every loop relation is vocabulary-sized. Restoring the setting after
    # the loop is safe: each is eagerly checkpointed inside the block (top
    # via its checkpoint + isEmpty, vocab via its checkpoint).
    with loop_shuffle_partitions(spark, vocab.count()):
        return _bpe_merge_steps(spark, vocab, k)


def _bpe_merge_steps(
    spark, vocab: DataFrame, k: int
) -> tuple[DataFrame, DataFrame]:
    out = None
    for step in range(1, k + 1):
        counts = (
            vocab.select(
                "n_w", F.explode(_pair_keys(F.col("syms"))).alias("pk")
            )
            .groupBy("pk")
            .agg(F.sum("n_w").alias("pair_count"))
        )
        top = (
            counts.orderBy(F.col("pair_count").desc(), F.col("pk").asc())
            .limit(1)
            .select(
                F.lit(step).alias("step"),
                F.split("pk", SEP)[0].alias("lhs"),
                F.split("pk", SEP)[1].alias("rhs"),
                "pair_count",
            )
            # EAGER: `top` has THREE consumers (isEmpty, the output row,
            # the vocab-update broadcast). The round-13 lazy variant
            # regressed text_bpe_merges 1.35 -> 1.56 s in the driver run
            # (multi-consumer stub re-execution) and was reverted (r14).
            .localCheckpoint()
        )
        # pairs run dry once every word is a single symbol; without this
        # break the crossJoin below would EMPTY the vocabulary (0-row
        # winner x vocab = 0 rows) and poison the encode table. The
        # isEmpty probe reads the 1-row checkpoint, not the corpus.
        if top.isEmpty():
            break
        row = top.select(
            "step",
            "lhs",
            "rhs",
            F.concat("lhs", "rhs").alias("merged"),
            "pair_count",
        )
        out = row if out is None else out.unionByName(row)
        vocab = (
            vocab.crossJoin(
                F.broadcast(
                    top.select(
                        F.col("lhs").alias("pa"), F.col("rhs").alias("pb")
                    )
                )
            )
            .select(
                "word",
                "n_w",
                _apply_merge(
                    F.col("syms"), F.col("pa"), F.col("pb")
                ).alias("syms"),
            )
            .localCheckpoint()
        )
    if out is None:
        # degenerate corpus (every word one symbol): no merges, but the
        # contract stays a typed relation, never None
        out = spark.createDataFrame(
            [],
            "step int, lhs string, rhs string, merged string,"
            " pair_count long",
        )
    return out, vocab


def bpe_learn_merges(
    docs: DataFrame, k: int = 3, text_col: str = "text"
) -> DataFrame:
    """Merge table only — see :func:`bpe_train`."""
    return bpe_train(docs, k, text_col)[0]


def unigram_viterbi(
    docs: DataFrame,
    text_col: str = "text",
    max_piece_len: int = 4,
    max_word_len: int = 8,
    score_scale: int = 1_000_000,
) -> DataFrame:
    """UNIGRAM-LM tokenization (the SentencePiece/Kudo-2018 family's
    second member beside bpe_train): seed a piece vocabulary with every
    character substring (length <= ``max_piece_len``) of the corpus
    words, score pieces by corpus-frequency negative log-probability,
    and VITERBI-segment each word — one hard-EM iteration of the unigram
    tokenizer (the E-step's forward-backward is replaced by its argmax,
    which is exactly SentencePiece's final inference mode).

    Determinism: piece scores are ROUND-snapped micro-NLL longs (ln of a
    rational — boundary hits measure-zero, the Adamic-Adar discipline);
    the DP then runs in INTEGER cost space, so both engines walk the
    same lattice. Viterbi ties break on (cost, start-of-last-piece):
    equal-cost candidates prefer the LONGEST final piece. Each level's
    argmin is a struct-min (``array_min`` over (cost, j, ...) structs);
    (cost, j) already identifies a candidate, so it picks the same row
    as the former ROW_NUMBER OVER (ORDER BY cost, j).

    The DP is unrolled as ``max_word_len`` bounded levels (the corpus
    max is 8 chars; raise the constant for longer-tailed corpora — words
    beyond it are filtered, mirrored by the oracle): level i holds the
    best path ending at character i, reading levels j in [i-4, i) — all
    levels computed IN-ROW over each word's collected segment lattice
    (one selectExpr of lateral aliases; see the lattice-at-once note
    below), never as per-level joins.

    Returns per word: (word, wcount, vit_cost_micro, n_pieces, seg)
    with ``seg`` the '|'-joined Viterbi pieces.

    Scale: the ONLY corpus-scale work is the word-count groupBy; pieces,
    segments and all DP levels live on the distinct-word vocabulary
    (bounded), broadcast-joined — the same sharding story as bpe_train,
    where a 100 TB corpus reduces to its word histogram in one pass.
    """
    from ..functions.scalar import token_array

    words = (
        docs.select(F.explode(token_array(text_col)).alias("word"))
        .where(F.length("word") <= max_word_len)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("wcount"))
        .localCheckpoint()  # pieces, segs, DP base and the final join
    )
    L = max_piece_len
    sub = words.select(
        "word",
        "wcount",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, length(word)), j -> "
                f"transform(sequence(1, least({L}, length(word) - j + 1)), "
                f"l -> substring(word, j, l))))"
            )
        ).alias("piece"),
    )
    pieces = sub.groupBy("piece").agg(
        F.sum("wcount").cast("long").alias("c_init")
    )
    ctot = pieces.agg(F.sum("c_init").cast("long").alias("c_tot"))
    scored = pieces.crossJoin(F.broadcast(ctot)).select(
        "piece",
        F.round(
            -F.log(F.col("c_init") / F.col("c_tot").cast("double"))
            * score_scale
        )
        .cast("long")
        .alias("s_micro"),
    )
    segs = (
        words.select(
            "word",
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(0, length(word) - 1), j -> "
                    f"transform(sequence(j + 1, least(j + {L}, length(word))), "
                    f"i -> struct(j AS j, i AS i, "
                    f"substring(word, j + 1, i - j) AS piece))))"
                )
            ).alias("e"),
        )
        .select("word", "e.j", "e.i", "e.piece")
        .join(F.broadcast(scored), "piece")
    )
    # LATTICE-AT-ONCE DP (round-14, guide §7.3/§2.4 — the q_dtw device):
    # the previous form ran max_word_len per-level rounds, each a
    # segs⋈ball join + per-word window + eager localCheckpoint — ~40
    # driver jobs and max_word_len vocabulary shuffles for an 8-char DP.
    # Instead, each word's segment lattice is collected into ONE array
    # column (one map-side-combined groupBy — the only exchange) and the
    # whole Viterbi recurrence unrolls as lateral column aliases b1..bL
    # inside a single projection. Per level i the candidate set is
    # filter(sa, e.i = i); the prior state is element_at over the earlier
    # aliases; the argmin is array_min over (cost, j, seg, np) structs —
    # lexicographically identical to the old ROW_NUMBER OVER
    # (ORDER BY cost, j) because (cost, j) already uniquely identifies a
    # candidate (piece and prior state are functions of j at fixed
    # (word, i)), so the trailing fields never participate in the
    # comparison. b_i is NULL for i > length(word) (empty filter);
    # the readout CASEs on length(word), which only selects non-NULL
    # levels. Oracle/test equivalence: tests/test_bpe.py's pure-Python
    # Viterbi replay + the text_unigram_tokenize oracle.
    sa = segs.groupBy("word").agg(
        F.collect_list(F.struct("j", "i", "s_micro", "piece")).alias("sa")
    )
    b_prev = lambda i: "array(" + ", ".join(  # noqa: E731
        f"b{j}" for j in range(i)
    ) + ")"
    levels = [
        (
            f"array_min(transform(transform(filter(sa, e -> e.i = {i}), "
            f"e -> struct(element_at({b_prev(i)}, e.j + 1) AS p, e AS e)), "
            f"x -> named_struct("
            f"'cost', x.p.cost + x.e.s_micro, "
            f"'j', x.e.j, "
            f"'seg', concat(x.p.seg, '|', x.e.piece), "
            f"'np', x.p.np + 1))) AS b{i}"
        )
        for i in range(1, max_word_len + 1)
    ]
    readout = "CASE length(word) " + " ".join(
        f"WHEN {i} THEN b{i}" for i in range(1, max_word_len + 1)
    ) + " END AS best"
    return (
        words.join(sa, "word")
        .selectExpr(
            "word",
            "wcount",
            "sa",
            "named_struct('cost', CAST(0 AS BIGINT), 'j', -1, "
            "'seg', '', 'np', 0) AS b0",
            *levels,
            readout,
        )
        .select(
            "word",
            "wcount",
            F.col("best.cost").alias("vit_cost_micro"),
            F.col("best.np").alias("n_pieces"),
            F.expr("substring(best.seg, 2)").alias("seg"),
        )
    )


def wordpiece_train(
    docs: DataFrame, k: int = 3, text_col: str = "text"
) -> DataFrame:
    """Learn the first ``k`` WORDPIECE merges — the likelihood-scored
    sibling of :func:`bpe_train` (Schuster & Nakajima 2012 / BERT's
    trainer): BPE merges the most FREQUENT adjacent pair; WordPiece
    merges the pair maximizing count(ab) / (count(a) * count(b)) — the
    corpus-likelihood gain of fusing the pair — which prefers pairs of
    RARE symbols that almost always co-occur. (Simplification vs BERT,
    documented: no '##' continuation marking — symbols are position-
    blind, exactly as in bpe_train, so the two trainers differ ONLY in
    the scoring rule and their divergence is the interesting output.)

    Determinism: the score is QUANTIZED to an integer before the argmax
    — score_q = (pair_count * 10^12) // (c_lhs * c_rhs) — so the winner
    ordering (score_q DESC, pair key ASC) is a pure-integer total order
    in both engines; 10^12 headroom: pair_count <= corpus tokens (~3e5
    at sf0.1) keeps the numerator < 3e17 << 2^63.

    Scale: identical to bpe_train — the loop never touches the corpus;
    each round is a vocabulary-sized symbol count + pair count, a 1-row
    winner broadcast back, and a codegen fold over symbol arrays.
    """
    vocab = word_vocab(docs, text_col).localCheckpoint()
    out = None
    for step in range(1, k + 1):
        syms_c = (
            vocab.select("n_w", F.explode("syms").alias("sym"))
            .groupBy("sym")
            .agg(F.sum("n_w").cast("long").alias("c"))
            .localCheckpoint()  # joined twice below (lhs and rhs legs)
        )
        pairs = (
            vocab.select(
                "n_w", F.explode(_pair_keys(F.col("syms"))).alias("pk")
            )
            .groupBy("pk")
            .agg(F.sum("n_w").cast("long").alias("pair_count"))
            .select(
                "pk",
                "pair_count",
                F.split("pk", SEP)[0].alias("lhs"),
                F.split("pk", SEP)[1].alias("rhs"),
            )
        )
        scored = (
            pairs.join(
                F.broadcast(
                    syms_c.select(
                        F.col("sym").alias("lhs"), F.col("c").alias("c_lhs")
                    )
                ),
                "lhs",
            )
            .join(
                F.broadcast(
                    syms_c.select(
                        F.col("sym").alias("rhs"), F.col("c").alias("c_rhs")
                    )
                ),
                "rhs",
            )
            .withColumn(
                "score_q",
                F.call_function(
                    "div",
                    F.col("pair_count") * F.lit(10**12).cast("long"),
                    F.col("c_lhs") * F.col("c_rhs"),
                ),
            )
        )
        top = (
            scored.orderBy(F.col("score_q").desc(), F.col("pk").asc())
            .limit(1)
            .select(
                F.lit(step).alias("step"),
                "lhs",
                "rhs",
                "pair_count",
                "c_lhs",
                "c_rhs",
                "score_q",
            )
            .localCheckpoint()
        )
        if top.isEmpty():
            break
        row = top.select(
            "step",
            "lhs",
            "rhs",
            F.concat("lhs", "rhs").alias("merged"),
            "pair_count",
            "c_lhs",
            "c_rhs",
            "score_q",
        )
        out = row if out is None else out.unionByName(row)
        vocab = (
            vocab.crossJoin(
                F.broadcast(
                    top.select(
                        F.col("lhs").alias("pa"), F.col("rhs").alias("pb")
                    )
                )
            )
            .select(
                "word",
                "n_w",
                _apply_merge(F.col("syms"), F.col("pa"), F.col("pb")).alias(
                    "syms"
                ),
            )
            .localCheckpoint()
        )
    if out is None:
        out = docs.sparkSession.createDataFrame(
            [],
            "step int, lhs string, rhs string, merged string,"
            " pair_count long, c_lhs long, c_rhs long, score_q long",
        )
    return out
