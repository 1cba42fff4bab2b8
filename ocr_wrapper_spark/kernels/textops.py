"""Text scalar kernels (SURVEY.md §2.7 C6/C7, §2.4 A6)."""

from __future__ import annotations

import re

# Arabic codepoint ranges (reference utils.py:22-36) as a regex char
# class, also the JVM-side F.regexp_like twin: Arabic U+0600-06FF,
# Supplement U+0750-077F, Extended-A U+08A0-08FF, Presentation Forms-A
# U+FB50-FDFF and -B U+FE70-FEFF
ARABIC_REGEX = "[؀-ۿݐ-ݿࢠ-ࣿﭐ-﷿ﹰ-﻿]"

_ARABIC_RE = re.compile(ARABIC_REGEX)
_NONDIGIT_SPLIT = re.compile(r"(\D+)")


def has_arabic_text(s: str) -> bool:
    """Codepoint-range membership test (reference utils.py:22-36)."""
    return bool(_ARABIC_RE.search(s))


def flip_number_blocks(input_string: str) -> str:
    """Reverse the order of digit runs, keep non-digit separators in place
    (reference utils.py:39-59; applied for lang=='ar' without Arabic chars,
    google_ocr.py:123-136)."""
    parts = _NONDIGIT_SPLIT.split(input_string)
    digit_parts = [part for part in parts if part.isdigit()]
    reversed_digits = digit_parts[::-1]
    result = []
    digit_index = 0
    for part in parts:
        if part.isdigit():
            result.append(reversed_digits[digit_index])
            digit_index += 1
        else:
            result.append(part)
    return "".join(result)

