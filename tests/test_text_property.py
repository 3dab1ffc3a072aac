"""Differential property tests for the text-analysis expressions.

Independent Python re-implementations are the ground truth; hypothesis
builds adversarial texts (unicode, punctuation runs, stopword salads)
and each example batches many texts through ONE Spark roundtrip —
same harness shape as test_bug_id_property.
"""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from github_etl_spark.functions.text import (
    DE_STOPWORDS,
    EN_STOPWORDS,
    ES_STOPWORDS,
    bpe_ish_piece_count_expr,
    lang_id_expr,
    punct_ratio_expr,
    token_count_expr,
)


def ref_words(text: str) -> list[str]:
    return [w for w in re.split(r"\s+", text.lower()) if w != ""]


def ref_token_count(text: str) -> int:
    return len(ref_words(text))


def ref_piece_count(text: str) -> int:
    return len(re.findall(r"[a-z0-9]+|[^a-z0-9\s]", text.lower()))


def ref_punct_ratio(text: str) -> float:
    n_punct = sum(1 for ch in text if ch in ".!?,;:")
    return n_punct / max(len(text), 1)


def _hits(text: str, stops) -> int:
    return sum(1 for w in ref_words(text) if w in stops)


def ref_lang(text: str) -> str:
    en, es, de = (_hits(text, s) for s in (EN_STOPWORDS, ES_STOPWORDS, DE_STOPWORDS))
    if en >= es and en >= de and en > 0:
        return "en"
    if es >= de and es > 0:
        return "es"
    if de > 0:
        return "de"
    return "und"


_word = st.one_of(
    st.sampled_from(
        list(EN_STOPWORDS) + list(ES_STOPWORDS) + list(DE_STOPWORDS)
        + ["widget", "x9", "...", "!!", "a.b,c", "ümlaut", "naïve", "0", ""]
    ),
    st.text(alphabet="abc .!?,;:\t\n0189é", min_size=0, max_size=8),
)
_text = st.lists(_word, min_size=0, max_size=12).map(" ".join)


@settings(max_examples=10, deadline=None)
@given(st.lists(_text, min_size=1, max_size=60))
def test_text_metrics_match_reference(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    got = {
        r.i: r
        for r in df.select(
            "i",
            token_count_expr(F.col("text")).alias("tokens"),
            bpe_ish_piece_count_expr(F.col("text")).alias("pieces"),
            punct_ratio_expr(F.col("text")).alias("punct"),
            lang_id_expr(F.col("text")).alias("lang"),
        ).collect()
    }
    for i, t in enumerate(texts):
        r = got[i]
        assert r.tokens == ref_token_count(t), (t, r.tokens)
        assert r.pieces == ref_piece_count(t), (t, r.pieces)
        assert abs(r.punct - ref_punct_ratio(t)) < 1e-9, (t, r.punct)
        assert r.lang == ref_lang(t), (t, r.lang)


# ------------------------------------------------------------- winnowing


def ref_winnow(text: str, k: int = 3, w: int = 4) -> list[str]:
    """Ground-truth winnowing: md5-prefix gram hashes, window minima."""
    import hashlib

    toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
    grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    hs = [hashlib.md5(g.encode()).hexdigest()[:16] for g in grams]
    if not hs:
        return []
    if len(hs) < w:
        mins = [min(hs)]
    else:
        mins = [min(hs[i : i + w]) for i in range(len(hs) - w + 1)]
    return sorted(set(mins))


_winnow_text = st.lists(
    st.sampled_from(["the", "cat", "sat", "on", "mat", "dog", "x", "42", "Ü!"]),
    min_size=0,
    max_size=30,
).map(" ".join)


@settings(max_examples=10, deadline=None)
@given(st.lists(_winnow_text, min_size=1, max_size=40))
def test_winnow_matches_reference(spark, texts):
    from github_etl_spark.operators.pipeline import winnow_fingerprints_expr

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    got = {
        r.i: list(r.fps)
        for r in df.select(
            "i", winnow_fingerprints_expr(F.col("text")).alias("fps")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == ref_winnow(t), (t, got[i])


def test_winnow_shared_run_guarantee(spark):
    """Two documents sharing a run of ≥ w+k-1 tokens (6 at k=3, w=4)
    must share at least one fingerprint — winnowing's defining
    property; disjoint documents share none."""
    shared = "alpha beta gamma delta epsilon zeta"
    a = "intro words here " + shared + " tail one"
    b = "completely different prefix " + shared
    c = "nothing in common with either document at all seven eight nine"
    from github_etl_spark.operators.pipeline import winnow_fingerprints_expr

    df = spark.createDataFrame(
        [(0, a), (1, b), (2, c)], "i long, text string"
    )
    fps = {
        r.i: set(r.fps)
        for r in df.select(
            "i", winnow_fingerprints_expr(F.col("text")).alias("fps")
        ).collect()
    }
    assert fps[0] & fps[1], (fps[0], fps[1])
    assert not (fps[0] & fps[2])
    assert not (fps[1] & fps[2])


def test_staged_score_forms_match_expr_forms(spark):
    """quality_score_from / lang_id_from over a LAMBDA-BOUND word array
    (the staging the query paths use to stop predicate pushdown from
    re-inlining the split) must produce columns IDENTICAL to
    quality_score_expr / lang_id_expr, which pass the inline word
    array, over an edge-case corpus. NULL text reaches the bound form
    as a NULL array element, empty and whitespace-only text as an
    empty one."""
    from github_etl_spark.functions.text import (
        lang_id_expr,
        lang_id_from,
        quality_score_expr,
        quality_score_from,
        words_expr,
    )

    rows = [
        (0, ""),                      # empty text
        (1, None),                    # NULL text
        (2, "...!!!,,,;;;:::"),       # punctuation only
        (3, "   \t \n  "),            # whitespace only
        (4, "the and is of to a in"), # pure EN stopwords
        (5, "el la de que y los"),    # pure ES stopwords
        (6, "der die und das ist"),   # pure DE stopwords
        (7, "word " * 250),           # length term saturates
        (8, "Mixed CASE text, with punct; and the usual stops."),
    ]
    df = spark.createDataFrame(rows, "i long, text string")
    staged = df.select(
        "i",
        F.element_at(
            F.transform(
                F.array(words_expr(F.col("text"))),
                lambda ws: F.struct(
                    quality_score_from(F.col("text"), ws).alias("q"),
                    lang_id_from(ws).alias("l"),
                ),
            ),
            F.lit(1),
        ).alias("s"),
    ).select("i", "s.q", "s.l")
    direct = df.select(
        "i",
        quality_score_expr(F.col("text")).alias("q"),
        lang_id_expr(F.col("text")).alias("l"),
    )
    a = sorted(map(tuple, staged.collect()))
    b = sorted(map(tuple, direct.collect()))
    assert a == b
