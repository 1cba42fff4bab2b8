"""Extractor registry + env-var override dispatch (SURVEY.md §2.10 D1).

Mirrors the reference's autoselect semantics (autoselect.py:17-71):

* a name -> extractor mapping (here: one ``with_extraction`` operator
  per extraction mode of kernels/extract_doc.EXTRACTORS instead of
  provider client classes);
* ``EXTRACTOR_OVERRIDE`` env var with the reference's "a=b,c=d" override
  syntax (reference env var OCR_PROVIDER_MAPPING, _parse_override
  :53-62);
* unknown names raise InvalidExtractorException (autoselect.py:30-50).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame

from ..kernels.extract_doc import EXTRACTORS
from .extract import InvalidExtractorException, with_extraction

ENV_EXTRACTOR = "SPARK_GRAFT_EXTRACTOR"
ENV_OVERRIDE = "SPARK_GRAFT_EXTRACTOR_MAPPING"

DEFAULT_EXTRACTOR = "single"


# ``dual`` enriches the primary extraction with the provider ``text`` column
name2extractor: dict[str, Callable[[DataFrame], DataFrame]] = {
    mode: partial(with_extraction, mode=mode, text_col="text" if mode == "dual" else None)
    for mode in EXTRACTORS
}


def _parse_override(override: str) -> dict[str, str]:
    """'a=b,c=d' -> {'a': 'b', 'c': 'd'} (reference autoselect.py:53-62)."""
    out: dict[str, str] = {}
    for pair in override.split(","):
        pair = pair.strip()
        if not pair:
            continue
        if "=" not in pair:
            raise InvalidExtractorException(
                f"Invalid extractor mapping entry {pair!r}; expected 'name=name'"
            )
        src, dst = (p.strip() for p in pair.split("=", 1))
        out[src] = dst
    return out


def _name2extractor_with_override() -> dict[str, Callable[[DataFrame], DataFrame]]:
    """Apply the env override map on top of the registry
    (reference autoselect.py:64-71)."""
    mapping = dict(name2extractor)
    override = os.environ.get(ENV_OVERRIDE)
    if override:
        for src, dst in _parse_override(override).items():
            if dst not in name2extractor:
                raise InvalidExtractorException(
                    f"Extractor mapping target {dst!r} is unknown; valid: {sorted(name2extractor)}"
                )
            mapping[src] = name2extractor[dst]
    return mapping


def autoselect_extractor(name: str | None = None) -> Callable[[DataFrame], DataFrame]:
    """Pick the extraction operator by explicit name or env default
    (reference autoselect_ocr_engine, autoselect.py:30-50)."""
    name = name or os.environ.get(ENV_EXTRACTOR, DEFAULT_EXTRACTOR)
    mapping = _name2extractor_with_override()
    if name not in mapping:
        raise InvalidExtractorException(
            f"Unknown extractor {name!r}; valid: {sorted(mapping)}"
        )
    return mapping[name]
