"""Fuzz-pins for the stub-model fast paths: the batched/packed
implementations the Arrow UDFs run must be bit-identical to the per-row
reference spec functions (stub_predict_lang_one / stub_tokenize_one /
stub_perplexity_one).

These exist because the optimization round changed the stub INTERNALS
(packed-mask LID accumulation, closed-form vectorized perplexity) without
being allowed to change what any query computes."""

from __future__ import annotations

import random

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from ccnet_spark_spark import models


def _fuzz_texts(n: int, seed: int) -> list:
    rng = random.Random(seed)
    allwords = [w for ws in models.VOCAB.values() for w in ws] + [
        "xyz", "qqq", "123", "", "the.", "LE", "山河x",
    ]
    out = []
    for _ in range(n):
        k = rng.randint(0, 40)
        t = " ".join(rng.choice(allwords) for _ in range(k))
        t += rng.choice(["", "\nthe le der el 山河", "\t ", "\n\n"])
        out.append(t)
    out += [None, "", "\n", " ", "the", "the the", "le the", "der le el the 山河"]
    return out


def test_stub_predict_lang_matches_per_row_spec():
    texts = _fuzz_texts(3000, seed=17)
    batch = models.stub_predict_lang(pd.Series(texts, dtype="object"))
    for i, t in enumerate(texts):
        lang, score = models.stub_predict_lang_one(t)
        blang = batch["lang"].iloc[i]
        bscore = batch["score"].iloc[i]
        bscore = None if pd.isna(bscore) else float(bscore)
        assert lang == blang, (t, lang, blang)
        assert score == bscore, (t, score, bscore)


def test_stub_predict_lang_threshold_passthrough():
    texts = ["the quick fox", "xyz xyz xyz xyz"]
    batch = models.stub_predict_lang(pd.Series(texts, dtype="object"), threshold=0.9)
    for i, t in enumerate(texts):
        lang, score = models.stub_predict_lang_one(t, threshold=0.9)
        assert batch["lang"].iloc[i] == lang
        b = batch["score"].iloc[i]
        assert (score is None and pd.isna(b)) or score == float(b)


def _tokenize_batch_vs_spec(texts: list, langs: list) -> None:
    batch = models.stub_tokenize(pd.Series(texts, dtype="object"), pd.Series(langs, dtype="object"))
    assert len(batch) == len(texts)
    for t, lang, got in zip(texts, langs, batch):
        want = models.stub_tokenize_one(t) if lang in models.VOCAB else None
        assert got == want, (t, lang)


def test_stub_tokenize_matches_per_row_spec():
    # combining marks, non-ASCII digits, control chars, NEL/NBSP/
    # ideographic space, dotted capital I, ligature, astral digit, and the
    # piece marker and the batch path's word marker inside words
    alphabet = "aZé\u0301\u0308ß9\u0663\U0001d7d9 \t\n\r\x85\xa0\u3000\x00\x1f\x7f\x9f▁İﬁ中文x"
    rng = random.Random(31)
    texts = ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40))) for _ in range(20000)]
    texts += _fuzz_texts(2000, seed=37) + ["▁abc▁▁def", "\x00ab\x00cd", "ÉCOLE 42", "a" * 10]
    _tokenize_batch_vs_spec(texts, ["fr"] * len(texts))


def test_stub_tokenize_null_text_and_unknown_lang():
    texts = ["Hello World", None, "", "Été", None, "der Hund"]
    langs = ["en", "en", "de", None, None, "xx"]
    _tokenize_batch_vs_spec(texts, langs)
    out = models.stub_tokenize(pd.Series(texts, dtype="object"), pd.Series(langs, dtype="object"))
    assert out.tolist() == ["▁hel lo ▁wor ld", "", "", None, None, None]


@given(st.text(max_size=200))
@settings(max_examples=300, deadline=None)
def test_stub_tokenize_matches_spec_on_any_text(s):
    _tokenize_batch_vs_spec([s], ["zh"])


def test_stub_perplexity_batch_matches_per_row_spec():
    rng = random.Random(23)
    alphabet = "abcdefghijklmnopqrstuvwxyzéàü中文 0189"
    raw = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 300)))
        for _ in range(3000)
    ] + ["", "a", "ab abc abcd abcdefgh"]
    toks = [models.stub_tokenize_one(t) for t in raw]
    batch = models.stub_perplexity_batch(pd.Series(toks, dtype="object"))
    for t, got in zip(toks, batch):
        assert models.stub_perplexity_one(t) == got, repr(t)


def test_stub_perplexity_matches_spec_outside_closed_form():
    """models.perplexity accepts any token string, not just tokenizer
    output: newlines and other whitespace, doubled/leading/trailing
    spaces and 7+-char pieces must still score like the per-row spec."""
    rng = random.Random(29)
    pieces = ["▁ab", "cd", "▁e", "abcdefgh", "▁abcdef", "abcdefghijklmno", "中文字", "x"]
    seps = [" ", " ", " ", "  ", "\n", "\t", "\xa0", "\r\n", " \n "]
    toks = []
    for _ in range(3000):
        k = rng.randint(0, 8)
        t = "".join(rng.choice(pieces) + rng.choice(seps) for _ in range(k))
        toks.append(rng.choice(["", " ", "\n"]) + t.rstrip() + rng.choice(["", " ", "\n"]))
    toks += ["abcdefgh", "▁ab cd\n▁ef", " ", "  ", "\n", "a  b", " a", "a ", "abcdef abcdefg"]
    out = models.stub_perplexity(
        pd.Series(toks, dtype="object"), pd.Series(["en"] * len(toks), dtype="object")
    )
    for t, got in zip(toks, out):
        assert models.stub_perplexity_one(t) == got, repr(t)


def test_stub_perplexity_series_null_semantics():
    toks = pd.Series([models.stub_tokenize_one("hello world"), None, ""], dtype="object")
    langs = pd.Series(["en", "en", "xx"], dtype="object")
    out = models.stub_perplexity(toks, langs)
    assert out.iloc[0] == models.stub_perplexity_one(toks.iloc[0])
    assert pd.isna(out.iloc[1])  # null tokenized -> null
    assert pd.isna(out.iloc[2])  # unknown lang -> null
