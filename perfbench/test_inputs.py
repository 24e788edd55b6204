"""Unit tests for the caption-sink comparison against its oracle.
Run: python3 -m pytest perfbench -q"""

from __future__ import annotations

import pandas as pd

import inputs


def _rows() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "image_id": ["a", "b", "c"],
            "keep": [True, False, True],
            "drop_reason": [None, "lid_null", None],
            "lang": ["en", None, "de"],
            "bucket": ["head", "None", "tail"],
            "scrubbed_caption": ["x", "y", "z"],
        }
    )


def test_equal_sink_has_no_mismatch():
    assert inputs.caption_mismatches(_rows(), _rows()) == 0


def test_changed_and_missing_rows_count():
    got = _rows()
    got.loc[0, "bucket"] = "middle"
    assert inputs.caption_mismatches(got, _rows()) == 1
    assert inputs.caption_mismatches(_rows().iloc[:2], _rows()) == 1


def test_repeated_image_id_counts_instead_of_raising():
    want = _rows()
    got = pd.concat([want, want.iloc[[1]]], ignore_index=True)
    assert inputs.caption_mismatches(got, want) == 1
