"""BPE merge-learning (operators/bpe.py): the left-to-right
non-overlapping fold is the part with classic off-by-one hazards —
property-test it against a straightforward Python reference."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from prefect_flow_arc_alto_to_json_spark.operators.bpe import (
    _apply_merge,
    bpe_learn_merges,
)


def _ref_merge(syms: list[str], a: str, b: str) -> list[str]:
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


SYM = st.sampled_from(["a", "b", "c", "ab", "bc"])


@settings(max_examples=30, deadline=None)
@given(st.lists(SYM, min_size=1, max_size=8), SYM, SYM)
def test_apply_merge_matches_reference(spark, syms, a, b):
    df = spark.createDataFrame([(syms,)], "syms array<string>")
    got = df.select(
        _apply_merge(F.col("syms"), F.lit(a), F.lit(b)).alias("m")
    ).collect()[0]["m"]
    assert got == _ref_merge(syms, a, b), (syms, a, b)


def test_learn_merges_on_tiny_corpus(spark, sf_dir):
    # 'aaab' x3 + 'ab': step1 merges (a,a) [count 2*3+0=6... positions:
    # 'aaab' has (a,a) twice, (a,b) once; 'ab' has (a,b) once].
    docs = spark.createDataFrame(
        [(1, "aaab aaab aaab ab")], "doc_id long, text string"
    )
    rows = {
        r["step"]: (r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        for r in bpe_learn_merges(docs, k=2).collect()
    }
    # vocab: aaab (n=3), ab (n=1). step1: (a,a)=6 beats (a,b)=4.
    assert rows[1] == ("a", "a", "aa", 6)
    # after merge: aaab -> [aa, a, b]; pairs: (aa,a)=3, (a,b)=3+1=4.
    assert rows[2] == ("a", "b", "ab", 4)


def _ref_train(texts: list[str], k: int):
    """Pure-Python BPE reference: same tokenizer, same (count DESC, pair
    key ASC) total order, same left-to-right fold — the independent
    model the distributed trainer must reproduce."""
    from collections import Counter

    from prefect_flow_arc_alto_to_json_spark.operators.bpe import SEP

    words: Counter = Counter()
    for t in texts:
        for w in t.lower().strip().split():
            if w:
                words[w] += 1
    vocab = {w: list(w) for w in words}
    merges = []
    for step in range(1, k + 1):
        pc: Counter = Counter()
        for w, n in words.items():
            syms = vocab[w]
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += n
        if not pc:
            break
        (a, b), cnt = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0] + SEP + kv[0][1])
        )
        merges.append((step, a, b, a + b, cnt))
        for w in vocab:
            vocab[w] = _ref_merge(vocab[w], a, b)
    return merges, vocab


WORD = st.text(alphabet="ab", min_size=1, max_size=4)


@settings(max_examples=15, deadline=None)
@given(st.lists(st.lists(WORD, min_size=1, max_size=6), min_size=1, max_size=3), st.integers(1, 3))
def test_bpe_train_matches_python_model(spark, docs_words, k):
    """End-to-end fuzz: random tiny corpora through the full distributed
    trainer (merges AND the post-merge encode vocabulary) vs the
    reference model — including corpora whose pairs run dry mid-loop
    (all-single-char words), the edge where the winner relation goes
    empty."""
    from prefect_flow_arc_alto_to_json_spark.operators.bpe import bpe_train

    texts = [" ".join(ws) for ws in docs_words]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    m_df, v_df = bpe_train(docs, k=k)
    got_merges = sorted(
        (r["step"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        for r in m_df.collect()
    )
    got_vocab = {r["word"]: list(r["syms"]) for r in v_df.collect()}
    ref_merges, ref_vocab = _ref_train(texts, k)
    assert got_merges == sorted(ref_merges), (texts, k)
    assert got_vocab == ref_vocab, (texts, k)


def test_unigram_viterbi_matches_bruteforce_optimum(spark):
    """Independent pure-Python replay: rebuild piece scores from word
    counts, enumerate EVERY segmentation of every corpus word (len <= 8,
    pieces <= 4 -> at most 2^7 candidates), and check the operator's
    Viterbi cost equals the brute-force minimum, its reported pieces
    concatenate back to the word, and their score sum equals the cost."""
    import math
    from collections import Counter

    from prefect_flow_arc_alto_to_json_spark.operators.bpe import (
        unigram_viterbi,
    )
    from prefect_flow_arc_alto_to_json_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "text"
    )
    rows = {r["word"]: r for r in unigram_viterbi(docs).collect()}

    wc = Counter()
    for (text,) in docs.collect():
        for w in text.lower().split():
            if w and len(w) <= 8:
                wc[w] += 1
    pc = Counter()
    for w, c in wc.items():
        for j in range(len(w)):
            for l in range(1, min(4, len(w) - j) + 1):
                pc[w[j : j + l]] += c
    tot = sum(pc.values())
    s = {p: round(-math.log(c / tot) * 1_000_000) for p, c in pc.items()}

    def brute(w):
        if not w:
            return 0
        return min(
            s[w[:l]] + brute(w[l:]) for l in range(1, min(4, len(w)) + 1)
        )

    assert set(rows) == set(wc)
    for w, r in rows.items():
        assert r["wcount"] == wc[w]
        want = brute(w)
        assert r["vit_cost_micro"] == want, (w, r["vit_cost_micro"], want)
        pieces = r["seg"].split("|")
        assert "".join(pieces) == w
        assert all(1 <= len(p) <= 4 for p in pieces)
        assert sum(s[p] for p in pieces) == want
        assert r["n_pieces"] == len(pieces)


def test_unigram_viterbi_tie_break_on_equal_scores(spark):
    """Tie-heavy corpus: words over disjoint characters, each seen once,
    so every piece has count 1 and the same score, and every segmentation
    with the fewest pieces ties on cost. The operator's struct-min over
    (cost, j, ...) per DP level must then pick the segmentation that a
    brute-force enumeration picks under the same order: least cost, then
    the earliest start of the last piece (the longest final piece), then
    the same rule applied to the prefix before it."""
    import math

    from prefect_flow_arc_alto_to_json_spark.operators.bpe import (
        unigram_viterbi,
    )

    words = ["abcdefg", "hijklm", "nopqr", "stuvwxyz", "0123456", "789"]
    docs = spark.createDataFrame([(" ".join(words),)], "text string")
    rows = {r["word"]: r for r in unigram_viterbi(docs).collect()}

    n_pieces = sum(
        min(4, len(w) - j) for w in words for j in range(len(w))
    )
    score = round(-math.log(1 / n_pieces) * 1_000_000)  # every piece

    def segmentations(w):
        if not w:
            yield []
            return
        for l in range(1, min(4, len(w)) + 1):
            for rest in segmentations(w[l:]):
                yield [w[:l], *rest]

    def tie_key(pieces):
        starts, pos = [], 0
        for p in pieces:
            starts.append(pos)
            pos += len(p)
        return (score * len(pieces), tuple(reversed(starts)))

    assert set(rows) == set(words)
    n_tied = 0
    for w in words:
        segs = list(segmentations(w))
        best = min(segs, key=tie_key)
        n_tied += sum(1 for p in segs if len(p) == len(best)) > 1
        r = rows[w]
        assert r["seg"] == "|".join(best), (w, r["seg"], best)
        assert r["vit_cost_micro"] == score * len(best)
        assert r["n_pieces"] == len(best)
    # the corpus really is tie-heavy: most words have several optima
    assert n_tied >= 4
    assert rows["abcdefg"]["seg"] == "abc|defg"
    assert rows["nopqr"]["seg"] == "n|opqr"


def test_kneser_ney_normalizes_exactly(spark, sf_dir):
    """The KN distribution must sum to EXACTLY 1 over the full vocabulary
    for every left context, in exact Fraction arithmetic: observed pairs
    contribute p_num/p_den; every unseen w2 contributes the back-off
    mass 3*n1r(w1)*n1l(w2) / (4*c1*NB), and sum_w2 n1l(w2) = NB closes
    the telescope. Also pins monotonicity: more-frequent continuations
    never get smaller probability within a context."""
    from fractions import Fraction

    from prefect_flow_arc_alto_to_json_spark.plans import EXTRA_QUERIES

    rows = EXTRA_QUERIES["text_kneser_ney_bigram"](spark, sf_dir).collect()
    nb = rows[0]["nb"]
    n1l_by_w2 = {}
    by_w1 = {}
    for r in rows:
        n1l_by_w2[r["w2"]] = r["n1l"]
        by_w1.setdefault(r["w1"], []).append(r)
    assert sum(n1l_by_w2.values()) == nb  # the telescoping identity
    for w1, group in by_w1.items():
        c1, n1r = group[0]["c1"], group[0]["n1r"]
        seen_mass = sum(Fraction(r["p_num"], r["p_den"]) for r in group)
        seen_n1l = sum(r["n1l"] for r in group)
        unseen_mass = Fraction(3 * n1r * (nb - seen_n1l), 4 * c1 * nb)
        assert seen_mass + unseen_mass == 1, w1
        # monotone in c12 within the context (n1l varies, but the
        # discount term dominates: check only pairs with equal n1l)
        for a in group:
            for b in group:
                if a["n1l"] == b["n1l"] and a["c12"] > b["c12"]:
                    assert Fraction(a["p_num"], a["p_den"]) >= Fraction(
                        b["p_num"], b["p_den"]
                    )


def test_wordpiece_diverges_from_bpe_and_scores_monotone(spark, sf_dir):
    """The likelihood rule must pick a DIFFERENT first merge than BPE's
    frequency rule on this corpus (that divergence is the family's
    point), every winner's score must dominate by construction
    (score_q * c_l * c_r ~ pair_count * 1e12 within quantization), and
    'qu' — the canonical rare-but-inseparable pair — must appear."""
    from prefect_flow_arc_alto_to_json_spark.plans import (
        EXTRA_QUERIES,
        QUERIES,
    )

    wp = {
        r["step"]: r
        for r in EXTRA_QUERIES["text_wordpiece_merges"](spark, sf_dir).collect()
    }
    bpe = {
        r["step"]: r
        for r in QUERIES["text_bpe_merges"](spark, sf_dir).collect()
    }
    assert wp and bpe
    assert wp[1]["merged"] != bpe[1]["merged"]
    assert "qu" in {r["merged"] for r in wp.values()}
    for r in wp.values():
        # quantized-score identity: score_q = floor(cnt*1e12 / (cl*cr))
        assert (
            r["score_q"]
            == r["pair_count"] * 10**12 // (r["c_lhs"] * r["c_rhs"])
        )
        assert 0 < r["pair_count"] <= min(r["c_lhs"], r["c_rhs"])
