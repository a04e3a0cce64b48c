"""Metric-library parity tests (semantics of ocr_common.py:111-201) and
JSON recovery / sections segmenter tests."""

from __future__ import annotations

import json

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_endpoint_project_spark.extraction_core.json_recover import (
    flatten_leaves,
    leaf_accuracy,
    recover_json,
    recover_json_str,
)
from ocr_endpoint_project_spark.extraction_core.sections import (
    empty_record,
    section_record,
    validate_record,
)
from ocr_endpoint_project_spark.extraction_core.text_metrics import (
    cer,
    edit_distance,
    layout_accuracy,
    normalize_words,
    section_headers,
    wer,
    word_metrics,
)


# -- normalize_words (ocr_common.py:111-115) --------------------------------
def test_normalize_words():
    assert normalize_words("Hello, World!") == ["hello", "world"]
    assert normalize_words("  ") == []
    assert normalize_words(None) == []
    assert normalize_words("a--b..c") == ["a", "b", "c"]
    # \w is unicode: Arabic kept
    assert normalize_words("نص عربي!") == ["نص", "عربي"]
    assert normalize_words("under_score stays") == ["under_score", "stays"]


# -- edit distance (ocr_common.py:118-133) ----------------------------------
def test_edit_distance_known_pairs():
    assert edit_distance("kitten", "sitting") == 3
    assert edit_distance("", "abc") == 3
    assert edit_distance("abc", "") == 3
    assert edit_distance(list("abc"), list("abc")) == 0
    assert edit_distance(["a", "b"], ["b", "a"]) == 2
    assert edit_distance(["x"], ["x", "y", "z"]) == 2


@settings(max_examples=60, deadline=None)
@given(st.text(max_size=20), st.text(max_size=20))
def test_edit_distance_properties(a, b):
    d = edit_distance(a, b)
    assert d == edit_distance(b, a)
    assert abs(len(a) - len(b)) <= d <= max(len(a), len(b))
    assert (d == 0) == (a == b)


# -- Myers bit-parallel vs numpy DP parity (round-8 optimization) -----------
@settings(max_examples=200, deadline=None)
@given(st.text(max_size=200), st.text(max_size=200))
def test_edit_distance_myers_matches_dp(a, b):
    from ocr_endpoint_project_spark.extraction_core.text_metrics import (
        edit_distance_dp,
    )

    assert edit_distance(a, b) == edit_distance_dp(a, b)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.sampled_from(["foo", "bar", "baz", "قطة", ""]), max_size=80),
    st.lists(st.sampled_from(["foo", "bar", "baz", "قطة", ""]), max_size=80),
)
def test_edit_distance_myers_matches_dp_tokens(ta, tb):
    from ocr_endpoint_project_spark.extraction_core.text_metrics import (
        edit_distance_dp,
    )

    assert edit_distance(ta, tb) == edit_distance_dp(ta, tb)


def test_edit_distance_multiword_bitvectors():
    # > 64 symbols exercises the multi-limb big-int path
    from ocr_endpoint_project_spark.extraction_core.text_metrics import (
        edit_distance_dp,
    )

    a = ("abcdef" * 60)[:350]
    b = ("abdcef" * 60)[:333]
    assert edit_distance(a, b) == edit_distance_dp(a, b)


# -- cer / wer (ocr_common.py:136-149) ---------------------------------------
def test_cer_wer():
    assert cer("abc", "abc") == 0.0
    assert cer("", "anything") == 0.0
    assert cer("   ", "x") == 0.0
    assert cer("abcd", "abce") == 25.0
    assert wer("the quick fox", "the quick fox") == 0.0
    assert wer("", "x y") == 0.0
    assert wer("a b c d", "a b c x") == 25.0
    # punctuation-insensitive tokens
    assert wer("Hello, world.", "hello world") == 0.0


# -- layout_accuracy (ocr_common.py:152-170) ---------------------------------
def test_layout_accuracy_header_rules():
    gt = "\n".join(
        [
            "EXPERIENCE",  # ALL CAPS -> header
            "Education",  # Capitalized, no trailing , or . -> header
            "ends with period.",  # lowercase start -> not header
            "Trailing comma,",  # -> not header
            "x" * 61,  # too long -> not header
            "A -- B",  # contains -- -> not header
            "1234 56",  # <2 letters -> not header
            "a) 1 2 3 4 5",  # letter ratio < 40% -> not header
        ]
    )
    assert layout_accuracy(gt, "experience only here") == 50.0  # 1 of 2 found
    assert layout_accuracy(gt, "experience and education") == 100.0
    assert layout_accuracy("no headers here, all lowercase lines.", "x") == 100.0
    assert section_headers(gt) == ["EXPERIENCE", "Education"]


def test_layout_accuracy_dedup_and_cap():
    gt = "\n".join(["HEADER"] * 5 + [f"HEAD{i}X" for i in range(40)])
    headers = section_headers(gt)
    assert headers[0] == "HEADER"
    assert len(headers) == 30  # order-preserving dedup then cap at 30


# -- word_metrics (ocr_common.py:173-201) ------------------------------------
def test_word_metrics_struct():
    m = word_metrics("alpha beta gamma", "alpha gamma delta")
    assert m["total_gt_words"] == 3
    assert m["found"] == 2
    assert m["accuracy_pct"] == (2 / 3) * 100.0
    assert m["missing_words"] == ["beta"]
    assert m["extra_words"] == ["delta"]
    # empty gt special case
    m2 = word_metrics("", "some words some")
    assert m2["accuracy_pct"] == 100.0
    assert m2["cer_pct"] == 0.0
    assert m2["extra_words"] == ["some", "words"]  # order-preserving dedup


def test_metrics_identity_property():
    for txt in ["abc def", "", "Mixed CASE text, punct!"]:
        assert cer(txt, txt) == 0.0
        assert wer(txt, txt) == 0.0
        assert layout_accuracy(txt, txt) == 100.0


# -- JSON recovery (cv_api/resume_schema.py:134-184) --------------------------
def test_recover_json_stages():
    assert recover_json('{"a": 1}') == ({"a": 1}, None)
    d, err = recover_json('prose then ```json\n{"a": 1}\n``` more prose')
    assert d == {"a": 1} and err is None
    d, err = recover_json('leading text {"a": {"b": 2}} trailing')
    assert d == {"a": {"b": 2}} and err is None
    assert recover_json("[1,2]") == (None, "JSON response is not an object")
    assert recover_json("") == (None, "Empty response")
    assert recover_json("no json at all") == (None, "No valid JSON found in response")
    assert recover_json_str(' {"b":2,"a":1} ') == '{"a":1,"b":2}'
    assert recover_json_str("nope") is None


# -- leaf accuracy (pages/llm_parsing_benchmark.py:317-350) -------------------
def test_flatten_and_leaf_accuracy():
    gt = {"a": 1, "b": {"c": [10, 20]}, "d": None}
    flat = dict(flatten_leaves(gt))
    assert flat == {"a": 1, "b.c[0]": 10, "b.c[1]": 20, "d": None}
    pred = {"a": "1", "b": {"c": [10, 99]}, "d": ""}
    # "1"=="1", 10 match, 99 mismatch, None vs "" both normalize to "" -> 3/4
    assert leaf_accuracy(pred, gt) == 75.0
    assert leaf_accuracy({}, {}) == 100.0
    assert leaf_accuracy({"x": True}, {"x": "TRUE "}) == 100.0  # bool/str normalize


# -- sections segmenter (E9 replacement) --------------------------------------
def test_section_record():
    text = "\n".join(
        [
            "NAME: Ada Example",
            "LOCATION: Paris City",
            "ABOUT",
            "Writes distributed pipelines.",
            "For fun.",
            "EXPERIENCE",
            "- Senior Engineer | Acme Corp | 2015 | 2022",
            "SKILLS",
            "- Engineering: spark, arrow, parquet",
            "INTERESTS",
            "- long walks",
        ]
    )
    rec = section_record(text)
    assert rec["name"] == "Ada Example"
    assert rec["location"] == "Paris City"
    assert rec["about"] == "Writes distributed pipelines. For fun."
    assert rec["experiences"][0]["position_title"] == "Senior Engineer"
    assert rec["experiences"][0]["institution_name"] == "Acme Corp"
    assert rec["experiences"][0]["from_date"] == "2015"
    assert rec["skills"] == [{"category": "Engineering", "items": ["spark", "arrow", "parquet"]}]
    assert rec["interests"] == ["long walks"]
    ok, err = validate_record(rec)
    assert ok and err is None
    # record is JSON-serializable and round-trips
    assert json.loads(json.dumps(rec)) == rec


def test_validate_record_failures():
    bad = empty_record()
    del bad["skills"]
    ok, err = validate_record(bad)
    assert not ok and "missing" in err
    bad2 = empty_record()
    bad2["experiences"] = [{"position_title": "x"}]  # missing required keys
    ok2, err2 = validate_record(bad2)
    assert not ok2


def test_hoist_drops_no_rows_and_rejects_reserved_name(spark):
    """``hoist``'s one-element explode keeps rows whose expression is
    NULL, and refuses a column name equal to its ``_hoisted``
    intermediate."""
    import pytest
    from pyspark.sql import functions as F

    from ocr_endpoint_project_spark.functions.text import hoist

    df = spark.createDataFrame([(1, "a b"), (2, None)], "k int, t string")
    rows = sorted(hoist(df, ("k",), toks=F.split("t", " ")).collect())
    assert [r.k for r in rows] == [1, 2]
    assert rows[0].toks == ["a", "b"] and rows[1].toks is None
    with pytest.raises(ValueError, match="reserved"):
        hoist(df.withColumnRenamed("t", "_hoisted"), ("k", "_hoisted"), n=F.col("k"))
    with pytest.raises(ValueError, match="reserved"):
        hoist(df, ("k",), _hoisted=F.col("t"))
