"""Driver emulator dtype gate (tools/check_entry.py): an f32 column
must not match a DOUBLE oracle column."""

from __future__ import annotations

import importlib.util
import os

import pytest

pytest.importorskip("duckdb")


def _check_entry():
    path = os.path.join(
        os.path.dirname(__file__), os.pardir, "tools", "check_entry.py"
    )
    spec = importlib.util.spec_from_file_location("check_entry", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_dtype_families():
    ce = _check_entry()
    assert ce.dtype_family("bigint") == ce.dtype_family("HUGEINT") == "int"
    assert ce.dtype_family("int") == ce.dtype_family("INTEGER")
    assert ce.dtype_family("double") == ce.dtype_family("DOUBLE")
    assert ce.dtype_family("float") != ce.dtype_family("DOUBLE")
    assert ce.dtype_family("string") == ce.dtype_family("VARCHAR")
    assert ce.dtype_family("array<bigint>") == ce.dtype_family("INTEGER[]")
    assert ce.dtype_family("array<float>") != ce.dtype_family("DOUBLE[]")


def test_float_score_column_is_a_mismatch():
    ce = _check_entry()
    duck_cols, duck_types = ["doc_id", "score"], ["BIGINT", "DOUBLE"]
    assert ce.dtype_mismatches(
        [("doc_id", "bigint"), ("score", "float")], duck_cols, duck_types
    ) == [("score", "float", "DOUBLE")]
    assert ce.dtype_mismatches(
        [("doc_id", "bigint"), ("score", "double")], duck_cols, duck_types
    ) == []
