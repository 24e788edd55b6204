"""Hypothesis property tests over the pure-Python twins — fast (no Spark
session) and aimed where text pipelines actually break: arbitrary unicode
through the normalizer/tokenizer/scrubber, and the algebraic invariants the
operators rely on (idempotence, permutation-invariance, monotone sampling).
The cross-ENGINE agreement of these twins with the Spark expressions is
covered separately (tests/test_fuzz_new_ops.py + the oracle gate); these
pin the SEMANTIC contracts of the shared reference implementations."""

import hashlib
import os as _os
import sys as _sys

_sys.path.insert(
    0, _os.path.join(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), "tools")
)

from hypothesis import given, settings
from hypothesis import strategies as st

from ccnet_spark_spark.functions.hashing import line_hash_py, simhash64
from ccnet_spark_spark.functions.normalize import normalize_for_dedup_py
from ccnet_spark_spark.functions.scrub import scrub_py
from ccnet_spark_spark.models import (
    _CLOSED_FORM,
    stub_perplexity_one,
    stub_tokenize_one,
    strip_accents,
)

text_any = st.text(max_size=300)  # arbitrary unicode incl. surrogate-free astral
tokens = st.lists(st.text(min_size=1, max_size=12), max_size=40)


class TestNormalizerProperties:
    @given(text_any)
    @settings(max_examples=300, deadline=None)
    def test_second_pass_only_trims(self, s):
        # NOT fully idempotent, by reference parity: trim runs before punct
        # removal, so deleting trailing punct can expose a space ('x ,' ->
        # 'x '). A second pass may only strip those end spaces — found by
        # hypothesis, then pinned as the exact contract.
        once = normalize_for_dedup_py(s)
        assert normalize_for_dedup_py(once) == once.strip(" ")

    @given(text_any)
    @settings(max_examples=300, deadline=None)
    def test_total_and_never_longer(self, s):
        out = normalize_for_dedup_py(s)  # must never raise
        assert isinstance(out, str)
        assert len(out) <= len(s)

    @given(text_any)
    @settings(max_examples=200, deadline=None)
    def test_lowercase_first_is_noop(self, s):
        # the normalizer lowercases internally; pre-lowercasing must not
        # change the result. (Full upper/lower round-trips are NOT a valid
        # property: 'ß'.upper() == 'SS' expands — unicode case isn't a
        # bijection.)
        assert normalize_for_dedup_py(s) == normalize_for_dedup_py(s.lower())


class TestModelStubProperties:
    @given(text_any)
    @settings(max_examples=200, deadline=None)
    def test_tokenize_total(self, s):
        out = stub_tokenize_one(s)  # any unicode in, no crash
        assert isinstance(out, str)

    @given(text_any)
    @settings(max_examples=200, deadline=None)
    def test_perplexity_positive_and_total(self, s):
        pp = stub_perplexity_one(stub_tokenize_one(s))
        assert pp > 0

    @given(text_any)
    @settings(max_examples=300, deadline=None)
    def test_tokenize_output_fits_perplexity_closed_form(self, s):
        # the fused tokenize+perplexity crossing scores every row in closed
        # form and never falls back to the per-row stub_perplexity_one
        assert _CLOSED_FORM.fullmatch(stub_tokenize_one(s)) is not None

    @given(text_any)
    @settings(max_examples=200, deadline=None)
    def test_strip_accents_idempotent(self, s):
        once = strip_accents(s)
        assert strip_accents(once) == once


class TestHashProperties:
    @given(tokens)
    @settings(max_examples=200, deadline=None)
    def test_simhash_permutation_invariant(self, toks):
        # per-token bit votes sum commutatively
        assert simhash64(toks) == simhash64(list(reversed(toks)))
        assert 0 <= simhash64(toks) < 2**64 or simhash64(toks) < 0  # int64 domain

    @given(text_any)
    @settings(max_examples=200, deadline=None)
    def test_line_hash_shape(self, s):
        h = line_hash_py(s)
        assert len(h) == 16 and int(h, 16) >= 0


class TestScrubProperties:
    @given(text_any)
    @settings(max_examples=200, deadline=None)
    def test_total_and_idempotent(self, s):
        once = scrub_py(s)
        assert scrub_py(once) == once

    @given(st.emails())
    @settings(max_examples=100, deadline=None)
    def test_any_email_scrubbed(self, email):
        assert email not in scrub_py(f"contact me at {email} today")


class TestSamplingProperties:
    @staticmethod
    def _selected(i: int, rate: int) -> bool:
        # pure-python mirror of operators/sample.hash_sample's predicate
        return hashlib.sha256(str(i).encode()).hexdigest()[:2] < format(rate, "02x")

    @given(st.integers(min_value=0, max_value=2**62), st.integers(1, 254))
    @settings(max_examples=300, deadline=None)
    def test_monotone_in_rate(self, i, rate):
        # selected at rate r => selected at every r' > r (stable slices grow)
        if self._selected(i, rate):
            assert self._selected(i, rate + 1)

    @given(st.integers(1, 255))
    @settings(max_examples=50, deadline=None)
    def test_fraction_tracks_rate(self, rate):
        n = 2000
        got = sum(self._selected(i, rate) for i in range(n)) / n
        assert abs(got - rate / 256) < 0.06


class TestImageMetadataScrub:
    """Header-parser properties: any mix of comments / extra whitespace
    injected between header tokens must (a) decode to the same pixels the
    canonical payload decodes to and (b) scrub back to the exact canonical
    bytes.  Comments are only legal BETWEEN tokens (gaps 0-2): per the
    Netpbm grammar exactly ONE whitespace byte follows the final token, so
    anything after it is raster data — the strategies respect that."""

    @given(
        st.integers(min_value=1, max_value=9),
        st.integers(min_value=1, max_value=9),
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=2),  # gap between tokens
                st.text(
                    alphabet=st.characters(min_codepoint=32, max_codepoint=126, exclude_characters="\n"),
                    max_size=20,
                ),
            ),
            max_size=4,
        ),
        st.lists(st.sampled_from([b" ", b"\t", b"\n", b"  "]), min_size=3, max_size=3),
    )
    @settings(max_examples=60, deadline=None)
    def test_plant_decode_scrub_roundtrip(self, w, h, comments, gap_ws):
        import numpy as np

        from ccnet_spark_spark import codecs

        px = np.arange(w * h * 3, dtype=np.uint32).reshape(h, w, 3).astype(np.uint8)
        for fmt, enc in (("ppm", codecs.encode_ppm), ("qjpg", codecs.encode_qjpg)):
            orig = enc(px)
            want = codecs.decode(orig, fmt)  # qjpg is lossy: compare decoded-to-decoded
            # split the canonical single-line header into its 4 tokens and
            # re-join with comments and fuzzed whitespace in the inner gaps;
            # the final token keeps its single terminating whitespace
            nl = orig.index(b"\n")
            toks = orig[:nl].split()
            gaps = [[ws] for ws in gap_ws] + [[b"\n"]]
            for gi, ctext in comments:
                # a comment needs whitespace (or start-of-gap newline) before
                # it and its own newline ends it; append after the gap's ws
                gaps[gi].append(b"# " + ctext.encode() + b"\n")
            header = b""
            for t, gap in zip(toks, gaps):
                header += t + b"".join(gap)
            tagged = header + orig[nl + 1 :]
            assert (codecs.decode(tagged, fmt) == want).all()
            clean, n = codecs.strip_metadata(tagged, fmt)
            assert clean == orig
            assert n == len(comments)


class TestPayloadValidatorGrammarEquivalence:
    """The engine classifier (operators/multimodal.classify_payload, built
    on codecs.parse_header) and the fixture's INDEPENDENT regex-grammar
    validator (tools/make_fixtures._validate_independent) share only the
    format spec — fuzz arbitrary header mutations and pin that their
    verdicts NEVER diverge (the r5 code-review found the independent side
    implementing a canonical subset; this test makes that class of drift
    impossible to reintroduce silently)."""

    @staticmethod
    def _both(data: bytes, fmt, w, h):
        import make_fixtures as mf

        from ccnet_spark_spark.operators.multimodal import classify_payload

        return classify_payload(data, fmt, w, h), mf._validate_independent(data, fmt, w, h)

    @given(
        st.integers(min_value=0, max_value=7),  # base generated pair
        st.lists(
            st.tuples(
                st.sampled_from(
                    ["truncate", "flip", "insert_comment", "pad_ws", "chop", "grow", "splice"]
                ),
                st.integers(min_value=0, max_value=400),
                st.binary(max_size=6),
            ),
            max_size=3,
        ),
        st.integers(min_value=-2, max_value=2),  # metadata w jitter
        st.sampled_from(["keep", "ppm", "qjpg", "png", None]),
    )
    @settings(max_examples=400, deadline=None)
    def test_verdicts_never_diverge(self, i, mutations, djit, fmt_override):
        from ccnet_spark_spark.synth import gen_pandas

        r = gen_pandas(i, i + 1).iloc[0]
        data = bytes(r.bytes)
        for kind, pos, blob in mutations:
            p = pos % (len(data) + 1) if data else 0
            if kind == "truncate":
                data = data[:p]
            elif kind == "flip" and data:
                q = pos % len(data)
                data = data[:q] + bytes([data[q] ^ 0x41]) + data[q + 1 :]
            elif kind == "insert_comment":
                data = data[:p] + b"# c " + blob.replace(b"\n", b"") + b"\n" + data[p:]
            elif kind == "pad_ws":
                data = data[:p] + b" \t " + data[p:]
            elif kind == "chop":
                data = data[: max(0, len(data) - (pos % 9))]
            elif kind == "grow":
                data = data + blob
            elif kind == "splice":
                # arbitrary bytes ANYWHERE — including inside header tokens
                # (e.g. b'_' inside a digit run: int() underscore grouping
                # was a real engine/independent divergence, r5 review)
                data = data[:p] + blob + data[p:]
        fmt = r.fmt if fmt_override == "keep" else fmt_override
        got_e, got_i = self._both(data, fmt, int(r.w) + djit, int(r.h))
        assert got_e == got_i, (got_e, got_i, fmt, data[:40])
        # and the real-metadata path agrees too
        got_e2, got_i2 = self._both(data, r.fmt, int(r.w), int(r.h))
        assert got_e2 == got_i2, (got_e2, got_i2, data[:40])
