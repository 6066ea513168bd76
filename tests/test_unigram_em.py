"""Unigram-LM hard-EM step (round-10 second block).

Covers operators/text.py::greedy_segment_cuts (deterministic
leftmost-longest segmentation via pointer doubling) against a
Python brute-force walk, plus the registered q_vocab_unigram_em
invariants; value-level correctness is the DuckDB oracle
(tools/drivercheck.py — strict-matched at sf0.01)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _words_df(spark, words):
    return spark.createDataFrame([Row(w=w) for w in words], "w string")


def _pieces_df(spark, pieces):
    return spark.createDataFrame(
        [Row(piece=p) for p in pieces], "piece string"
    )


def _greedy_py(w, pieces, lens=(2, 3, 4)):
    """Reference leftmost-longest walk (1-based cut positions)."""
    out, i = [], 0
    while i < len(w):
        for L in sorted(lens, reverse=True):
            if i + L <= len(w) and w[i : i + L] in pieces:
                out.append((i + 1, w[i : i + L], L))
                i += L
                break
        else:
            out.append((i + 1, w[i], 1))
            i += 1
    return out


def _run_op(spark, words, pieces, lens=(2, 3, 4)):
    from fhir2sql_spark.operators.text import greedy_segment_cuts

    got = greedy_segment_cuts(
        _words_df(spark, words), _pieces_df(spark, pieces), lens
    ).collect()
    by_word = {}
    for r in got:
        by_word.setdefault(r["w"], []).append(
            (r["i"], r["piece"], r["plen"])
        )
    return {w: sorted(v) for w, v in by_word.items()}


def test_greedy_cuts_known(spark):
    """Hand-checked: 'abcab' over {ab, bca} = ab | c | ab (leftmost
    beats the bca that a globally-optimal segmenter might pick)."""
    got = _run_op(spark, ["abcab"], ["ab", "bca"])
    assert got == {"abcab": [(1, "ab", 2), (3, "c", 1), (4, "ab", 2)]}


def test_greedy_cuts_longest_wins(spark):
    """At the same position the longer piece wins: 'abcd' over
    {ab, abc} consumes abc, then falls back to d."""
    got = _run_op(spark, ["abcd"], ["ab", "abc"])
    assert got == {"abcd": [(1, "abc", 3), (4, "d", 1)]}


def test_greedy_cuts_edges(spark):
    """1-char word, exact-cover word, and a no-match word."""
    got = _run_op(spark, ["x", "abcd", "zzz"], ["abcd"])
    assert got["x"] == [(1, "x", 1)]
    assert got["abcd"] == [(1, "abcd", 4)]
    assert got["zzz"] == [(1, "z", 1), (2, "z", 1), (3, "z", 1)]


def test_greedy_cuts_property_random(spark):
    """Operator == Python reference walk over random word/vocab sets
    (single hypothesis-free sweep: the operator launches real jobs,
    so one batched comparison keeps the test seconds-sized)."""
    import random

    rng = random.Random(20260816)
    alpha = "abc"
    words = sorted(
        {
            "".join(
                rng.choice(alpha) for _ in range(rng.randint(1, 12))
            )
            for _ in range(40)
        }
    )
    vocab = sorted(
        {
            "".join(rng.choice(alpha) for _ in range(rng.randint(2, 4)))
            for _ in range(25)
        }
    )
    got = _run_op(spark, words, vocab)
    want = {
        w: sorted(_greedy_py(w, set(vocab))) for w in words
    }
    assert got == want


def test_unigram_em_invariants(spark):
    """Registered query at sf0.001: schema, bounds, and the
    em_cnt <= seed_cnt containment (every greedy occurrence is a
    substring occurrence of the same weighted word)."""
    from fhir2sql_spark.registry import QUERIES, load_all

    load_all()
    rows = QUERIES["q_vocab_unigram_em"](spark, SF_SMALL).collect()
    assert 0 < len(rows) <= 30
    assert rows[0].asDict().keys() == {
        "piece",
        "seed_cnt",
        "em_cnt",
        "score_bits",
        "em_share",
    }
    for r in rows:
        assert 2 <= len(r["piece"]) <= 4
        assert 0 < r["em_cnt"] <= r["seed_cnt"]
        assert r["score_bits"] == r["em_cnt"].bit_length()
        assert 0.0 < r["em_share"] <= 1.0
    # descending by em_cnt, piece tie-break
    keys = [(-r["em_cnt"], r["piece"]) for r in rows]
    assert keys == sorted(keys)


def _viterbi_py(w, scored, lens=(2, 3, 4)):
    """Reference DP: best[t] = max(best[t-1],
    max_L best[t-L] + wgt(w[t-L:t]))."""
    best = [0] * (len(w) + 1)
    for t in range(1, len(w) + 1):
        b = best[t - 1]
        for L in lens:
            if t - L >= 0 and w[t - L : t] in scored:
                b = max(b, best[t - L] + scored[w[t - L : t]])
        best[t] = b
    return best[len(w)]


def test_viterbi_known(spark):
    """'abcab' with ab=3, bca=5: greedy takes ab|c|ab = 6; Viterbi
    takes a|bca|b = 5? no — max(6, 5) = 6; add cab=4: a|bca|b=5,
    ab|cab=7 — Viterbi must find 7 while greedy stays at 6."""
    from fhir2sql_spark.operators.text import viterbi_best_bits

    scored = spark.createDataFrame(
        [("ab", 3), ("bca", 5), ("cab", 4)], "piece string, wgt long"
    )
    got = {
        r["w"]: r["vbits"]
        for r in viterbi_best_bits(
            _words_df(spark, ["abcab"]), scored
        ).collect()
    }
    assert got == {"abcab": 7}
    assert _viterbi_py("abcab", {"ab": 3, "bca": 5, "cab": 4}) == 7


def test_viterbi_duplicate_piece_scores_its_max_weight(spark):
    """A piece listed twice scores its higher weight, even when the
    lower one is collected last."""
    from fhir2sql_spark.operators.text import viterbi_best_bits

    scored = spark.createDataFrame(
        [("ab", 5), ("ab", 1)], "piece string, wgt long"
    ).coalesce(1)
    got = viterbi_best_bits(_words_df(spark, ["abab"]), scored).collect()
    assert [(r["w"], r["vbits"]) for r in got] == [("abab", 10)]


def test_viterbi_property_random(spark):
    """Operator == Python DP over random words and weighted vocabs
    (one batched run; integer weights)."""
    import random

    rng = random.Random(1186)
    alpha = "abc"
    words = sorted(
        {
            "".join(
                rng.choice(alpha) for _ in range(rng.randint(1, 12))
            )
            for _ in range(40)
        }
    )
    scored = {
        "".join(rng.choice(alpha) for _ in range(rng.randint(2, 4))): rng.randint(1, 9)
        for _ in range(25)
    }
    from fhir2sql_spark.operators.text import viterbi_best_bits

    sp = spark.createDataFrame(
        list(scored.items()), "piece string, wgt long"
    )
    got = {
        r["w"]: r["vbits"]
        for r in viterbi_best_bits(_words_df(spark, words), sp).collect()
    }
    want = {w: _viterbi_py(w, scored) for w in words}
    assert got == want


def test_unigram_loss_invariants(spark):
    """Registered query at sf0.001: greedy is a feasible segmentation,
    so greedy_bits <= viterbi_bits per language (ratio in (0, 1])."""
    from fhir2sql_spark.registry import QUERIES, load_all

    load_all()
    rows = QUERIES["q_vocab_unigram_loss"](spark, SF_SMALL).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 < r["greedy_bits"] <= r["viterbi_bits"]
        assert 0.0 < r["greedy_opt_ratio"] <= 1.0
        assert r["n_words"] > 0


def test_piece_matches_guard_rejects_out_of_lens_piece(spark):
    """r11 ADVICE guard: a vocabulary piece whose length is outside
    piece_lens can never match (it is never generated as a candidate
    substring) — the operator must fail loudly at execution instead of
    silently never matching it."""
    import pytest

    from fhir2sql_spark.operators.text import piece_matches

    bad = piece_matches(
        _words_df(spark, ["abcde"]),
        _pieces_df(spark, ["ab", "abcde"]),  # len 5 not in (2, 3, 4)
        (2, 3, 4),
    )
    with pytest.raises(Exception, match="piece length outside piece_lens"):
        bad.collect()
    ok = piece_matches(
        _words_df(spark, ["abcde"]), _pieces_df(spark, ["ab", "cde"]), (2, 3, 4)
    )
    assert {(r["i"], r["piece"]) for r in ok.collect()} == {(1, "ab"), (3, "cde")}


def test_word_positions_empty_word_yields_nothing(spark):
    """r11 ADVICE guard: sequence(1, 0) would yield the DESCENDING
    array [1, 0] for an empty word — the defensive filter turns a
    forgotten caller-side filter into an empty result, not garbage."""
    from fhir2sql_spark.operators.text import _word_positions

    rows = _word_positions(_words_df(spark, ["", "ab"])).collect()
    assert {(r["w"], r["i"]) for r in rows} == {("ab", 1), ("ab", 2)}


def test_greedy_cuts_final_join_matches_reference_after_jump_reuse(spark):
    """r11: the final cut join reads the checkpointed jump table
    (filtered j > i) instead of re-deriving step — pin the cut/piece
    parity on a word set with end-sentinel edge cases (single chars,
    whole-word pieces)."""
    from fhir2sql_spark.operators.text import greedy_segment_cuts

    words = ["a", "ab", "abab", "xyzw", "q"]
    pieces = ["ab", "zw", "xy"]
    got = {
        (r["w"], r["i"], r["piece"], r["plen"])
        for r in greedy_segment_cuts(
            _words_df(spark, words), _pieces_df(spark, pieces)
        ).collect()
    }
    want = set()
    for w in words:
        for i, piece, plen in _greedy_py(w, set(pieces)):
            want.add((w, i, piece, plen))
    assert got == want
