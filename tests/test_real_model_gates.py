"""The real-model code paths (fastText LID, SentencePiece, KenLM) are gated
on libraries absent from this sandbox, so in round 1 every `except Exception`
fallback branch was untested — the plumbing could rot silently. These tests
inject FAKE modules into sys.modules (fixed predictions, call counting) to
prove:

- each loader actually loads + uses the real model when lib + weights exist,
- the per-worker _MODEL_CACHE loads each model exactly once,
- a broken lib/model falls back to the stub instead of failing the job.

The pandas-UDF bodies are invoked directly via `.func` (in-process) — the
gating logic is pure Python, no Spark workers needed.
"""

import ast
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from ccnet_spark_spark import models
from ccnet_spark_spark.operators.perplexity import make_tok_pp_udf
from ccnet_spark_spark.operators.tokenize import make_tokenize_udf
from ccnet_spark_spark.plans.pipeline import ALL_STEPS, Config, Pipeline

PKG = Path(__file__).resolve().parent.parent / "ccnet_spark_spark"


@pytest.fixture(autouse=True)
def clean_cache_and_modules():
    saved = {k: sys.modules.get(k) for k in ("fasttext", "sentencepiece", "kenlm")}
    models._MODEL_CACHE.clear()
    yield
    models._MODEL_CACHE.clear()
    for k, v in saved.items():
        if v is None:
            sys.modules.pop(k, None)
        else:
            sys.modules[k] = v


# ------------------------------------------------------------------ fastText
class _FakeFastTextModel:
    def predict(self, texts, k=1):
        labels = [("__label__fr" if "bonjour" in t else "__label__en",) for t in texts]
        probs = [(0.97,) if "bonjour" in t else (0.12,) for t in texts]
        return labels, probs


class _FakeFastText:
    def __init__(self):
        self.loads = 0

    def load_model(self, path):
        self.loads += 1
        return _FakeFastTextModel()


def test_real_lid_branch_with_fake_fasttext(tmp_path):
    fake = _FakeFastText()
    sys.modules["fasttext"] = fake
    weights = tmp_path / "lid.bin"
    weights.write_bytes(b"fake")

    out = models.predict_lang(
        pd.Series(["bonjour le monde", "low confidence text"]), model_path=str(weights)
    )
    assert list(out["lang"]) == ["fr", None]  # 0.12 < threshold -> null
    assert out["score"][0] == 0.97
    # cache: second batch must NOT reload the model
    models.predict_lang(pd.Series(["bonjour"]), model_path=str(weights))
    assert fake.loads == 1


def test_lid_falls_back_to_stub_when_lib_broken(tmp_path):
    class _Broken:
        def load_model(self, path):
            raise OSError("corrupt model")

    sys.modules["fasttext"] = _Broken()
    weights = tmp_path / "lid.bin"
    weights.write_bytes(b"x")
    out = models.predict_lang(pd.Series(["the quick brown fox jumps over the lazy dog"]), model_path=str(weights))
    assert out["lang"][0] == "en"  # stub LID result, not an exception


# -------------------------------------------------------------- SentencePiece
class _FakeSPProcessor:
    def __init__(self, registry):
        self._registry = registry

    def load(self, path):
        self._registry["loaded_paths"].append(path)

    def encode_as_pieces(self, text):
        return ["<sp>" + w for w in text.split()]


class _FakeSentencePiece:
    def __init__(self):
        self.registry = {"loaded_paths": []}

    def SentencePieceProcessor(self):
        return _FakeSPProcessor(self.registry)


def test_sp_model_branch_with_fake_lib(tmp_path):
    fake = _FakeSentencePiece()
    sys.modules["sentencepiece"] = fake
    lm_dir = str(tmp_path)

    sp = models._sp_model("en", lm_dir)
    assert sp is not None
    assert fake.registry["loaded_paths"] == [f"{lm_dir}/en.sp.model"]
    assert models._sp_model("en", lm_dir) is sp  # cached, not reloaded

    tok_fn = make_tokenize_udf(lm_dir).func
    out = tok_fn(pd.Series(["hello world"]), pd.Series(["en"]))
    assert out[0] == "<sp>hello <sp>world"


class _BrokenSP:
    def SentencePieceProcessor(self):
        raise FileNotFoundError("no weights")


def test_sp_falls_back_to_stub_per_lang(tmp_path):
    # lib importable but load() raises (missing weights for this lang):
    # known-vocab langs fall back to the stub tokenizer, unknown langs -> null
    sys.modules["sentencepiece"] = _BrokenSP()
    tok_fn = make_tokenize_udf(str(tmp_path)).func
    out = tok_fn(pd.Series(["Hello World", "whatever"]), pd.Series(["en", "qq"]))
    assert out[0] == models.stub_tokenize_one("Hello World")
    assert out[1] is None


# --------------------------------------------------------------------- KenLM
class _FakeKenLMModel:
    def __init__(self, registry):
        self._registry = registry

    def score(self, line):
        self._registry["scored"].append(line)
        return -2.0 * max(len(line.split()), 1)


class _FakeKenLM:
    def __init__(self):
        self.registry = {"configs": [], "loads": [], "scored": []}

    def Config(self):
        class _Cfg:
            load_method = None

        cfg = _Cfg()
        self.registry["configs"].append(cfg)
        return cfg

    def Model(self, path, cfg):
        self.registry["loads"].append((path, cfg.load_method))
        return _FakeKenLMModel(self.registry)


def test_kenlm_model_branch_with_fake_lib(tmp_path):
    fake = _FakeKenLM()
    sys.modules["kenlm"] = fake
    lm_dir = str(tmp_path)

    model = models._kenlm_model("en", lm_dir)
    assert model is not None
    # the mmap lesson (reference pipe_perplexity.py:8-18): load_method=2
    assert fake.registry["loads"] == [(f"{lm_dir}/en.arpa.bin", 2)]
    assert models._kenlm_model("en", lm_dir) is model  # cached

    out = models.perplexity(pd.Series(["two words\none"]), pd.Series(["en"]), lm_dir)
    # line1: score=-4, len=3; line2: score=-2, len=2 -> 10^(6/5) = 15.8
    assert out[0] == pytest.approx(15.8, abs=0.05)
    assert fake.registry["scored"] == ["two words", "one"]


class _BrokenKenLM:
    def Config(self):
        raise ImportError("no native lib")


def test_kenlm_falls_back_to_stub_when_weights_missing(tmp_path):
    sys.modules["kenlm"] = _BrokenKenLM()
    tok = models.stub_tokenize_one("some normal words here")
    out = models.perplexity(pd.Series([tok]), pd.Series(["en"]), str(tmp_path))
    assert out[0] == pytest.approx(models.stub_perplexity_one(tok), abs=0.05)


def test_fused_tok_pp_uses_real_models(tmp_path):
    sys.modules["sentencepiece"] = _FakeSentencePiece()
    sys.modules["kenlm"] = _FakeKenLM()
    fn = make_tok_pp_udf(str(tmp_path)).func
    out = fn(pd.Series(["hello world"]), pd.Series(["en"]))
    assert out["tokenized"][0] == "<sp>hello <sp>world"
    # fused path must score the SP pieces: score=-4, length=3 -> 10^(4/3)
    assert out["perplexity"][0] == pytest.approx(10 ** (4 / 3), abs=0.05)


# ------------------------------------------------------- one model layer
def _expected(text, lang, sp_loads, lm_loads):
    """The per-row rules, written out: SentencePiece when it loads, else
    the stub for stub languages, else null; then KenLM when it loads, else
    the stub LM for stub languages, else null."""
    if lang is None:
        return None, None
    if sp_loads:
        tok = " ".join("<sp>" + w for w in (text or "").split())
    elif lang in models.VOCAB:
        tok = models.stub_tokenize_one(text)
    else:
        return None, None
    if lm_loads:
        lines = [line.split() for line in tok.split("\n")]
        score = sum(-2.0 * max(len(ws), 1) for ws in lines)
        return tok, round(10.0 ** (-score / sum(len(ws) + 1 for ws in lines)), 1)
    return tok, (models.stub_perplexity_one(tok) if lang in models.VOCAB else None)


@pytest.mark.parametrize("lm_loads", [True, False], ids=["kenlm", "kenlm_broken"])
@pytest.mark.parametrize("sp_loads", [True, False], ids=["sp", "sp_broken"])
def test_fused_udf_is_tokenize_then_perplexity(tmp_path, sp_loads, lm_loads):
    sys.modules["sentencepiece"] = _FakeSentencePiece() if sp_loads else _BrokenSP()
    sys.modules["kenlm"] = _FakeKenLM() if lm_loads else _BrokenKenLM()
    lm_dir = str(tmp_path)
    cases = [(t, lang) for lang in ("en", "qq", None) for t in ("hello world", "", "two words\none", None)]
    texts = pd.Series([t for t, _ in cases], dtype="object")
    langs = pd.Series([lang for _, lang in cases], dtype="object")

    fused = make_tok_pp_udf(lm_dir).func(texts, langs)
    tok = models.tokenize(texts, langs, lm_dir)
    pp = models.perplexity(tok, langs, lm_dir).astype("float32")
    assert list(fused["tokenized"]) == list(tok)
    np.testing.assert_array_equal(fused["perplexity"].to_numpy(), pp.to_numpy())
    for (text, lang), got_tok, got_pp in zip(cases, tok, pp):
        want_tok, want_pp = _expected(text, lang, sp_loads, lm_loads)
        assert got_tok == want_tok, (text, lang)
        if want_pp is None:
            assert np.isnan(got_pp), (text, lang)
        else:
            assert got_pp == np.float32(want_pp), (text, lang)


def test_null_text_tokenizes_as_empty_with_a_real_model(tmp_path):
    # the stub tokenizes NULL text as ""; a loaded SentencePiece model must
    # too, instead of raising inside encode_as_pieces
    sys.modules["sentencepiece"] = _FakeSentencePiece()
    texts, langs = pd.Series([None, "hi"], dtype="object"), pd.Series(["en", "en"])
    out = make_tokenize_udf(str(tmp_path)).func(texts, langs)
    assert out[0] == models.stub_tokenize(texts, langs)[0] == ""
    assert out[1] == "<sp>hi"


def test_lm_without_sp_is_refused_before_any_plan():
    # the stub/KenLM perplexity scores the "sp" tokens, so "lm" alone could
    # only fail at plan build on the missing column
    with pytest.raises(ValueError, match='"sp"'):
        Pipeline(None, Config(steps=[s for s in ALL_STEPS if s != "sp"]))
    # the trained-LM path scores the text itself
    Pipeline(None, Config(steps=[s for s in ALL_STEPS if s != "sp"], lm_artifact="lm_model"))


def test_only_models_imports_model_libs():
    """The real-or-stub model decision lives in models.py alone: any other
    module importing a model lib is a second copy of it."""
    libs = {"fasttext", "sentencepiece", "kenlm"}
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "models.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and not node.level:
                names = [node.module]
            else:
                continue
            offenders += [f"{path.relative_to(PKG)}:{node.lineno} {n}" for n in names if n.split(".")[0] in libs]
    assert not offenders, offenders
