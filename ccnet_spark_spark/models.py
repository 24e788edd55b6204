"""Model layer: language-ID, tokenizer, language-model perplexity.

The reference wraps fastText LID (/root/reference/pipe_lid.py:16-40),
SentencePiece (/root/reference/pipe_tokenized.py:24-33) and KenLM
(/root/reference/pipe_perplexity.py:21-36) in row-at-a-time UDFs with a
cachetools per-worker model cache. Here:

- the *interface* is batch-vectorized (pandas Series in/out) so it plugs
  straight into Arrow pandas UDFs,
- real models load lazily once per Python worker via a module-level
  singleton (``_load_once`` over ``_MODEL_CACHE``) and are used when their
  libs/weights exist; ``predict_lang``, ``tokenize`` and ``perplexity``
  are the whole real-or-stub decision, and the UDFs only wrap them,
- deterministic **stub models** implement the same signatures with pure
  arithmetic so correctness gates run with no downloads. The stubs are
  shared verbatim by the engine and the test oracle, and the perplexity
  stub is additionally SQL-expressible so DuckDB can verify the exact
  pipeline math (10^(-Σ log_score / Σ (len+1)),
  /root/reference/pipe_perplexity.py:19-36).
"""

from __future__ import annotations

import os
import re

import numpy as np
import pandas as pd

LID_THRESHOLD = 0.5  # reference default: /root/reference/pipe_line.py:82

# Per-language synthetic vocabularies (also used by synth.py). Distinctive
# per language so stub LID is decidable; fr carries accents (NFD-strip path),
# zh carries CJK + full-width punctuation (unicode-punct path).
VOCAB: dict[str, list[str]] = {
    "en": """the quick brown fox jumps over lazy dog bright morning sun rises
        above green hills while children play near river stones and tall trees
        wave softly under clear blue skies with birds singing ancient songs
        about distant lands where travelers rest beside warm fires""".split(),
    "fr": """le renard brun saute par dessus chien paresseux matin clair été
        soleil se lève sur les collines vertes pendant que des enfants jouent
        près de la rivière aux pierres grises sous un ciel bleu très doux où
        chantent des oiseaux libres élégant café crème fenêtre""".split(),
    "de": """der schnelle braune fuchs springt über den faulen hund helle
        morgensonne steigt über grüne hügel während kinder am fluss spielen
        unter klarem blauen himmel mit vögeln die alte lieder singen schöne
        straße größe übung können müssen wasser fenster bäume""".split(),
    "es": """el zorro marrón salta sobre perro perezoso mañana brillante sol
        se eleva sobre colinas verdes mientras niños juegan cerca del río con
        piedras bajo cielo azul claro donde pájaros cantan canciones antiguas
        sobre tierras lejanas viajeros descansan junto fuego cálido""".split(),
    "zh": """山河 湖海 天空 白云 小孩 在河边 玩耍 太阳 升起 绿色 山丘
        清澈 蓝天 鸟儿 歌唱 古老 歌谣 远方 旅人 温暖 火堆 旁边 休息 春天
        夏天 秋天 冬天 风雨 雷电 花草 树木 清晨 阳光 孩子们 河流 石头
        蔚蓝 天空下 自由 飞翔 关于 遥远 土地 旅行者 篝火""".split(),
}
LANGS = sorted(VOCAB)

_MODEL_CACHE: dict[tuple, object] = {}  # per-Python-worker singleton cache


def round_half_up(x: float, dp: int) -> float:
    """Half-up rounding (what Spark's ROUND and DuckDB's round() do for
    positive values). Python's built-in round() is banker's rounding — using
    it would desync the stub from the SQL oracle at .5 boundaries."""
    import math

    scale = 10**dp
    return math.floor(x * scale + 0.5) / scale


def _norm_tokens(text: str) -> list[str]:
    return text.lower().split()


# ---------------------------------------------------------------- stub LID
_MARKERS: dict[str, frozenset[str]] = {lang: frozenset(w.lower() for w in ws) for lang, ws in VOCAB.items()}

# token -> packed per-language hit-count increment: language i occupies a
# 20-bit field at bit 20*i, so ONE dict lookup + integer add per token
# accumulates all five language counts at once (Python ints are arbitrary
# precision, so a field overflows only past 2^20 marker hits of one
# language in one document — a million-token doc, far beyond any real
# row). Measured 2x over the per-language set-membership loop; the
# per-row spec (stub_predict_lang_one) stays as the fuzz-pin reference.
_TOK_MASKS: dict[str, int] = {}
for _li, _lang in enumerate(LANGS):
    for _t in _MARKERS[_lang]:
        _TOK_MASKS[_t] = _TOK_MASKS.get(_t, 0) + (1 << (20 * _li))


def stub_predict_lang_one(text: str | None, threshold: float = LID_THRESHOLD) -> tuple[str | None, float | None]:
    """Single-row reference implementation of the stub LID contract
    (/root/reference/pipe_lid.py:31-40): newlines stripped, argmax over
    per-language marker-token hit ratio, score rounded to 2dp, score <
    threshold -> both null, alphabetical tie-break. Kept as the spec the
    vectorized batch path is fuzz-pinned against (tests/test_stub_batch_equiv.py)."""
    toks = _norm_tokens((text or "").replace("\n", " "))
    n = max(len(toks), 1)
    best_lang, best_hits = None, 0
    for lang in LANGS:  # alphabetical -> deterministic tie-break
        hits = sum(1 for t in toks if t in _MARKERS[lang])
        if hits > best_hits:
            best_lang, best_hits = lang, hits
    score = round_half_up(best_hits / n, 2)
    if best_lang is None or score < threshold:
        return None, None
    return best_lang, score


def stub_predict_lang(texts: pd.Series, threshold: float = LID_THRESHOLD) -> pd.DataFrame:
    """Deterministic LID over a batch. Per row: one _TOK_MASKS lookup per
    token accumulates all per-language hit counts in a single packed int;
    the unpack loop reproduces stub_predict_lang_one's strictly-greater
    alphabetical argmax and the identical float score math (fuzz-pinned in
    tests/test_stub_batch_equiv.py). A pandas-str vectorized variant was
    measured SLOWER than this loop (many full-series regex passes vs one
    pass per row), so the loop is deliberate."""
    import math

    get = _TOK_MASKS.get
    langs: list[str | None] = []
    scores: list[float | None] = []
    for text in texts:
        toks = (text or "").replace("\n", " ").lower().split()
        n = len(toks) or 1
        total = 0
        for t in toks:
            total += get(t, 0)
        best_lang, best_hits = None, 0
        if total:
            for li, lang in enumerate(LANGS):  # alphabetical tie-break
                h = (total >> (20 * li)) & 0xFFFFF
                if h > best_hits:
                    best_lang, best_hits = lang, h
        score = math.floor(best_hits / n * 100 + 0.5) / 100  # round_half_up(.., 2)
        if best_lang is None or score < threshold:
            langs.append(None)
            scores.append(None)
        else:
            langs.append(best_lang)
            scores.append(score)
    return pd.DataFrame({"lang": langs, "score": pd.array(scores, dtype="float64")})


def stub_lid_sql(input_rel: str, text_col: str, carry_cols: list[str], threshold: float = LID_THRESHOLD) -> str:
    """DuckDB twin of stub_predict_lang, as a subquery over ``input_rel``:
    tokenize (lower, whitespace-split, drop empties), count marker hits per
    language, argmax with alphabetical-first tie-break, round(hits/n, 2)
    score, null both when best hits = 0 or score < threshold. Generated from
    the SAME _MARKERS the stub uses, so engine and oracle cannot diverge."""
    carry = ", ".join(carry_cols)
    toks = (
        f"list_filter(regexp_split_to_array(lower(replace({text_col}, chr(10), ' ')), "
        "'\\s+'), t -> t <> '')"
    )
    hit_cols = []
    for lang in LANGS:
        words = ", ".join("'" + w.replace("'", "''") + "'" for w in sorted(_MARKERS[lang]))
        hit_cols.append(f"len(list_filter(_toks, t -> list_contains([{words}], t))) as h_{lang}")
    inner = (
        f"select {carry}, {text_col}, greatest(len(_toks), 1) as _n, {', '.join(hit_cols)} "
        f"from (select {carry}, {text_col}, {toks} as _toks from {input_rel})"
    )
    maxh = "greatest(" + ", ".join(f"h_{lang}" for lang in LANGS) + ")"
    score = f"round(cast({maxh} as double) / _n, 2)"
    null_when = f"{maxh} = 0 or {score} < {threshold}"
    # first-match-wins in alphabetical order = the stub's `hits > best` loop
    arms = " ".join(f"when h_{lang} = {maxh} then '{lang}'" for lang in LANGS)
    return (
        f"select {carry}, {text_col}, "
        f"case when {null_when} then null {arms} end as lang, "
        f"case when {null_when} then null else {score} end as score "
        f"from ({inner})"
    )


# ----------------------------------------------------------- stub tokenizer
def strip_accents(text: str) -> str:
    """NFD-decompose and drop combining marks (reference N4,
    /root/reference/text_normalizer.py:59-65). Char count is preserved for
    composed input (é -> e), which keeps the SQL perplexity oracle's
    closed-form-over-word-lengths valid."""
    import unicodedata

    return "".join(c for c in unicodedata.normalize("NFD", text) if unicodedata.category(c) != "Mn")


# non-printing minus \t\n: newlines delimit the per-line perplexity loop
# (pipe_perplexity.py:29-33) and must survive tokenization
_NON_PRINT_RE = re.compile(r"[\x00-\x08\x0b-\x1f\x7f-\x9f]")


def stub_tokenize_one(text: str) -> str:
    """SentencePiece stand-in: tokenizer-normalize (lowercase, NFD
    accent-strip, digits->0, drop non-printing — reference N2,
    /root/reference/text_normalizer.py:158-173), then each word becomes
    a '▁'-prefixed head piece plus 3-char continuation pieces.

    Same output contract as /root/reference/pipe_tokenized.py:24-33
    (space-joined piece string). The per-row spec: stub_tokenize, which
    the UDFs call, is pinned to it in tests/test_stub_batch_equiv.py.
    """
    text = strip_accents((text or "").lower())
    text = _NON_PRINT_RE.sub("", re.sub(r"\d", "0", text))
    pieces: list[str] = []
    for word in text.split():
        pieces.append("▁" + word[:3])
        for i in range(3, len(word), 3):
            pieces.append(word[i : i + 3])
    return " ".join(pieces)


_DIGIT_RE = re.compile(r"\d")


class _TokenizerCharMap(dict):
    """str.translate table doing stub_tokenize_one's per-char steps on an
    NFD string in one pass: combining marks (category Mn) and non-printing
    chars are deleted, decimal digits become "0", everything else maps to
    itself. Entries are made on first sight of a code point, not by a
    scan of all 1.1M code points at import (0.3 s per worker process).
    Identity chars are stored too, so a lookup never raises KeyError
    inside translate. Past _CAP entries new code points are still mapped,
    just no longer stored, which bounds the table at a few MB."""

    _CAP = 1 << 16

    def __missing__(self, cp: int):
        import unicodedata

        c = chr(cp)
        if unicodedata.category(c) == "Mn" or _NON_PRINT_RE.match(c):
            out = None
        else:
            out = "0" if _DIGIT_RE.match(c) else cp
        if len(self) < self._CAP:
            self[cp] = out
        return out


_TOKENIZER_CHARS = _TokenizerCharMap()
# "\x00" marks word starts (the char map deletes every "\x00" of the
# text); a piece is an optional marker plus up to 3 chars of one word
_PIECE_RE = re.compile(r"\x00?[^\x00]{1,3}")


def stub_tokenize(texts: pd.Series, langs: pd.Series) -> pd.Series:
    """stub_tokenize_one over a batch; unknown/null lang -> null (mirrors
    the reference's unknown-lang None). Same output as the spec (pinned in
    tests/test_stub_batch_equiv.py), with C-level string ops per row:
    ASCII text skips NFD (it is its own decomposition), one str.translate
    does the mark/digit/non-printing steps, and one regex findall cuts
    the marked words into pieces. ~0.75 s against ~1.5 s for the spec per
    10k bench captions (~640 chars, 59% ASCII) on a 4-core x86 VM."""
    import unicodedata

    out: list[str | None] = []
    for text, lang in zip(texts, langs):
        if lang not in VOCAB:
            out.append(None)
            continue
        text = (text or "").lower()
        if not text.isascii():
            text = unicodedata.normalize("NFD", text)
        words = text.translate(_TOKENIZER_CHARS).split()
        pieces = _PIECE_RE.findall("\x00" + "\x00".join(words))
        out.append(" ".join(pieces).replace("\x00", "▁"))
    return pd.Series(out, dtype="object")


# ------------------------------------------------------------- stub LM / pp
def stub_logscore_piece(piece: str) -> float:
    """Deterministic per-piece log10 'probability'. Depends only on piece
    length so the identical formula is expressible in Spark SQL builtins and
    DuckDB for the oracle gate: -(1 + (len % 7) / 2)."""
    return -(1.0 + (len(piece) % 7) / 2.0)


def stub_perplexity_one(tokenized: str) -> float:
    """Exact reference pp math (/root/reference/pipe_perplexity.py:19-36):
    per line, score = Σ logscore(piece), length = len(line.split()) + 1;
    doc pp = round(10 ** (-Σscore / Σlength), 1)."""
    total_score = 0.0
    total_length = 0
    for line in tokenized.split("\n"):
        pieces = line.split()
        total_score += sum(stub_logscore_piece(p) for p in pieces)
        total_length += len(pieces) + 1
    if total_length == 0:
        return 0.0
    return round_half_up(10.0 ** (-total_score / total_length), 1)


def stub_perplexity_batch(tokenized: pd.Series) -> pd.Series:
    """Vectorized stub_perplexity_one over non-null token strings whose
    pieces are joined by single spaces, with no other whitespace and no
    piece longer than 6 chars — the tokenizer's output (split() consumed
    the newlines; head = marker + 3, continuations <= 3). Then
    len % 7 == len and Σ logscore = -(n_pieces + Σ piece_chars / 2) —
    both derivable from the STRING: n_pieces = spaces + 1 (0 for empty),
    piece_chars = len - spaces. Sums of half-integers are exact in
    float64, so the power/round land on bit-identical values to the
    per-piece loop (fuzz-pinned in tests/test_stub_batch_equiv.py). Other
    strings get wrong values: stub_perplexity routes them to the spec."""
    ln = tokenized.str.len().to_numpy(dtype=np.float64)
    spaces = tokenized.str.count(" ").to_numpy(dtype=np.float64)
    n_pieces = np.where(ln > 0, spaces + 1.0, 0.0)
    piece_chars = ln - spaces
    total_score = -(n_pieces + piece_chars / 2.0)
    total_length = n_pieces + 1.0
    pp = 10.0 ** (-total_score / total_length)
    return pd.Series(np.floor(pp * 10.0 + 0.5) / 10.0, index=tokenized.index, dtype="float64")


# stub_perplexity_batch's precondition as a grammar: pieces of 1-6
# non-whitespace chars joined by single spaces (Python re's \s is
# str.isspace, the whitespace split() splits on). Possessive quantifiers
# keep the match one linear pass: ~9 ms per 1k tokenized captions of
# ~850 chars on a 4-core x86 VM, ~7% of the fused tokenize+perplexity call.
_CLOSED_FORM = re.compile(r"(?:\S{1,6}+(?: \S{1,6}+)*+)?")


def stub_perplexity(tokenized: pd.Series, langs: pd.Series) -> pd.Series:
    known = pd.Series(
        [(lang in VOCAB and tok is not None) for tok, lang in zip(tokenized, langs)],
        index=tokenized.index,
    )
    tok = tokenized.fillna("")
    pp = stub_perplexity_batch(tok)
    off = np.fromiter((_CLOSED_FORM.fullmatch(t) is None for t in tok), dtype=bool, count=len(tok))
    if off.any():
        pp[off] = [stub_perplexity_one(t) for t in tok[off]]
    return pp.where(known, None).astype("float64")


# ------------------------------------------------------------- real models
def _load_once(key: tuple, load):
    """The per-worker model singleton: load() runs once per key, and a
    missing or broken lib/weights is cached as None so callers fall back
    to the stub instead of failing the job (or retrying every batch)."""
    if key not in _MODEL_CACHE:
        try:
            _MODEL_CACHE[key] = load()
        except Exception:
            _MODEL_CACHE[key] = None
    return _MODEL_CACHE[key]


def _lid_model(model_path: str):
    def load():
        import fasttext  # optional dependency: ImportError -> stub

        return fasttext.load_model(model_path)

    return _load_once(("fasttext", model_path), load)


def _sp_model(lang: str, lm_dir: str):
    def load():
        import sentencepiece  # optional dependency: ImportError -> stub

        sp = sentencepiece.SentencePieceProcessor()
        sp.load(os.path.join(lm_dir, f"{lang}.sp.model"))
        return sp

    return _load_once(("sp", lang, lm_dir), load)


def _kenlm_model(lang: str, lm_dir: str):
    def load():
        import kenlm  # optional dependency: ImportError -> stub

        cfg = kenlm.Config()
        cfg.load_method = 2  # lazy mmap — page-cache friendly
        return kenlm.Model(os.path.join(lm_dir, f"{lang}.arpa.bin"), cfg)

    return _load_once(("kenlm", lang, lm_dir), load)


def predict_lang(texts: pd.Series, model_path: str | None = None, threshold: float = LID_THRESHOLD) -> pd.DataFrame:
    """Batch LID. Uses real fastText when model_path exists + lib importable
    (fastText predict() is natively batched over a list), else the stub."""
    model = _lid_model(model_path) if model_path and os.path.exists(model_path) else None
    if model is None:
        return stub_predict_lang(texts, threshold)
    clean = [(t or "").replace("\n", " ") for t in texts]
    labels, probs = model.predict(clean, k=1)
    langs, scores = [], []
    for lab, pr in zip(labels, probs):
        score = round_half_up(float(pr[0]), 2)
        if score < threshold:
            langs.append(None)
            scores.append(None)
        else:
            langs.append(lab[0].replace("__label__", ""))
            scores.append(score)
    return pd.DataFrame({"lang": langs, "score": pd.array(scores, dtype="float64")})


def tokenize(texts: pd.Series, langs: pd.Series, lm_dir: str | None = None) -> pd.Series:
    """Batch tokenize (reference M2, pipe_tokenized.py:24-33): per row, the
    lang's SentencePiece model from lm_dir when it loads, else the stub for
    stub languages, else null. NULL text tokenizes as "" on both paths.
    No lm_dir -> stub_tokenize over the whole batch."""
    if not (lm_dir and os.path.isdir(lm_dir)):
        return stub_tokenize(texts, langs)
    out: list[str | None] = []
    for text, lang in zip(texts, langs):
        sp = _sp_model(lang, lm_dir) if lang else None
        if sp is not None:
            out.append(" ".join(sp.encode_as_pieces(text or "")))
        else:
            out.append(stub_tokenize_one(text) if lang in VOCAB else None)
    return pd.Series(out, dtype="object")


def perplexity(tokenized: pd.Series, langs: pd.Series, lm_dir: str | None = None) -> pd.Series:
    """Batch document perplexity (reference M3, pipe_perplexity.py:21-36):
    per line, score = Σ log10 p(piece), length = len(split) + 1; doc pp =
    round(10^(-Σscore/Σlength), 1). Per row, the lang's KenLM model from lm_dir when it loads, else the stub
    for stub languages, else null; null tokens -> null. No lm_dir ->
    stub_perplexity over the whole batch."""
    if not (lm_dir and os.path.isdir(lm_dir)):
        return stub_perplexity(tokenized, langs)
    out: list[float | None] = []
    # per row, not batched: KenLM scores one line per call anyway
    for tok, lang in zip(tokenized, langs):
        model = _kenlm_model(lang, lm_dir) if lang else None
        if tok is None:
            out.append(None)
        elif model is None:
            out.append(stub_perplexity_one(tok) if lang in VOCAB else None)
        else:
            score, length = 0.0, 0
            for line in tok.split("\n"):
                score += model.score(line)
                length += len(line.split()) + 1
            out.append(round(10.0 ** (-score / length), 1))
    return pd.Series(out, dtype="float64")
