"""Autoselect registry matrix (mirrors reference tests/test_autoselect.py)."""

from __future__ import annotations

import pytest

from ocr_wrapper_spark.operators import autoselect as asel


def test_default_and_explicit_selection(monkeypatch):
    monkeypatch.delenv(asel.ENV_EXTRACTOR, raising=False)
    monkeypatch.delenv(asel.ENV_OVERRIDE, raising=False)
    assert asel.autoselect_extractor() is asel.name2extractor["single"]
    assert asel.autoselect_extractor("dual") is asel.name2extractor["dual"]
    assert asel.autoselect_extractor("consensus") is asel.name2extractor["consensus"]


def test_env_default(monkeypatch):
    monkeypatch.setenv(asel.ENV_EXTRACTOR, "dual")
    assert asel.autoselect_extractor() is asel.name2extractor["dual"]


def test_unknown_raises(monkeypatch):
    monkeypatch.delenv(asel.ENV_OVERRIDE, raising=False)
    with pytest.raises(asel.InvalidExtractorException):
        asel.autoselect_extractor("no_such_engine")


@pytest.mark.parametrize(
    "override, name, expected",
    [
        ("single=dual", "single", "dual"),
        ("single=dual,consensus=single", "consensus", "single"),
        ("alias=consensus", "alias", "consensus"),
        ("", "single", "single"),
    ],
)
def test_override_matrix(monkeypatch, override, name, expected):
    """Reference autoselect override semantics ('a=b,c=d')."""
    monkeypatch.setenv(asel.ENV_OVERRIDE, override)
    assert asel.autoselect_extractor(name) is asel.name2extractor[expected]


def test_bad_override_entries(monkeypatch):
    monkeypatch.setenv(asel.ENV_OVERRIDE, "justaname")
    with pytest.raises(asel.InvalidExtractorException):
        asel.autoselect_extractor("single")
    monkeypatch.setenv(asel.ENV_OVERRIDE, "a=unknown_target")
    with pytest.raises(asel.InvalidExtractorException):
        asel.autoselect_extractor("single")


def test_aux_mode_registered(monkeypatch):
    assert asel.autoselect_extractor("aux") is asel.name2extractor["aux"]
    monkeypatch.setenv(asel.ENV_OVERRIDE, "single=aux")
    assert asel.autoselect_extractor("single") is asel.name2extractor["aux"]
