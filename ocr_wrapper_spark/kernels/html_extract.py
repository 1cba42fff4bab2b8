"""HTML main-content extraction via text-density DOM heuristics.

A from-scratch boilerplate stripper in the spirit of the text-density /
link-density family (Boilerpipe, Readability, trafilatura — public
literature; see PAPERS.md). No reference analogue exists: the reference
wraps OCR providers; here the "provider" for Common-Crawl-style pages is
this kernel (BASELINE.json north_star: "HTML boilerplate stripping via
text-density DOM heuristics").

Algorithm (regex tokenizer, no external parser):
1. drop <script>/<style>/<template>/<noscript> subtrees and comments
2. segment the byte stream into text blocks at block-level tag boundaries
3. per block: text length, link-text length, tag count
4. score = content iff len >= MIN_BLOCK_CHARS and link_density <= MAX_LINK_DENSITY
5. main content = the contiguous run of content blocks (gap tolerance 1)
   with the largest total text length
"""

from __future__ import annotations

import html as _html
import re

BLOCK_TAGS = (
    "div|p|nav|header|footer|aside|main|section|article|ul|ol|li|table|tr|td|th|"
    "h1|h2|h3|h4|h5|h6|blockquote|pre|br|hr|form|fieldset"
)

_RE_STRIP = re.compile(
    r"<(script|style|template|noscript)\b[^>]*>.*?</\1\s*>|<!--.*?-->",
    re.IGNORECASE | re.DOTALL,
)
_RE_BLOCK_SPLIT = re.compile(rf"<\s*/?\s*(?:{BLOCK_TAGS})\b[^>]*>", re.IGNORECASE)
_RE_A = re.compile(r"<\s*a\b[^>]*>(.*?)<\s*/\s*a\s*>", re.IGNORECASE | re.DOTALL)
_RE_TAG = re.compile(r"<[^>]+>")

MIN_BLOCK_CHARS = 25
MAX_LINK_DENSITY = 0.33
GAP_TOLERANCE = 1


def _block_stats(segment: str) -> tuple[str, int, int]:
    """Returns (clean_text, n_chars, n_link_chars) for one inter-tag segment.

    Fast paths: after the block-tag split most segments are plain text
    (no '<', no '&'), so the tag/anchor regexes and entity unescape are
    skipped unless their trigger characters appear.
    ``' '.join(s.split())`` is the whitespace normalization (identical
    result to the regex collapse + strip, measurably faster)."""
    if "<" not in segment:
        if "&" in segment:
            segment = _html.unescape(segment)  # before ws-normalize (&nbsp; -> space)
        text = " ".join(segment.split())
        return text, len(text), 0

    link_chars = 0
    for m in _RE_A.finditer(segment):
        inner = _RE_TAG.sub(" ", m.group(1))
        link_chars += len(" ".join(inner.split()))
    no_tags = _RE_TAG.sub(" ", segment)
    if "&" in no_tags:
        no_tags = _html.unescape(no_tags)
    text = " ".join(no_tags.split())
    return text, len(text), link_chars


def analyze_blocks(html_bytes: bytes | str) -> list[tuple[str, int, float, bool, bool]]:
    """Per-block verdict trace of the extractor: every nonzero-text block
    as ``(text, n_chars, link_density, is_content, in_main_run)``.

    ``extract_main_text`` is defined on top of this — the emitted main
    text is exactly the ``is_content and in_main_run`` blocks joined by
    single spaces — so the trace IS the extractor's decision surface,
    not a parallel reimplementation. ``extraction_block_eval`` grades
    these verdicts per host against the page generator's closed-form
    ground truth."""
    if isinstance(html_bytes, (bytes, bytearray)):
        raw = html_bytes.decode("utf-8", errors="replace")
    else:
        raw = html_bytes
    raw = _RE_STRIP.sub(" ", raw)

    blocks: list[tuple[str, int, float]] = []  # (text, n_chars, link_density)
    for segment in _RE_BLOCK_SPLIT.split(raw):
        if not segment or segment.isspace():
            continue
        text, n_chars, link_chars = _block_stats(segment)
        if n_chars == 0:
            continue
        blocks.append((text, n_chars, link_chars / n_chars))

    if not blocks:
        return []

    content = [
        n_chars >= MIN_BLOCK_CHARS and ld <= MAX_LINK_DENSITY
        for (_, n_chars, ld) in blocks
    ]

    # best contiguous run of content blocks, tolerating GAP_TOLERANCE
    # non-content blocks inside a run
    best_score, best_range = 0, (0, 0)
    i = 0
    nb = len(blocks)
    while i < nb:
        if not content[i]:
            i += 1
            continue
        j = i
        score = 0
        gap = 0
        last_content = i
        while j < nb:
            if content[j]:
                score += blocks[j][1]
                gap = 0
                last_content = j
            else:
                gap += 1
                if gap > GAP_TOLERANCE:
                    break
            j += 1
        if score > best_score:
            best_score = score
            best_range = (i, last_content + 1)
        i = last_content + 1

    lo, hi = best_range if best_score > 0 else (0, 0)
    return [
        (text, n_chars, ld, content[k], lo <= k < hi)
        for k, (text, n_chars, ld) in enumerate(blocks)
    ]


def extract_main_text(html_bytes: bytes | str) -> str:
    """Main content of an HTML page as a single-space-joined token string."""
    return " ".join(
        text
        for (text, _, _, is_content, in_main) in analyze_blocks(html_bytes)
        if is_content and in_main
    )


# ---------------------------------------------------------------------------
# semantics-preserving page mutations (extraction_robustness_matrix)
# ---------------------------------------------------------------------------

_RE_TAG_NAME = re.compile(r"<(/?)([a-zA-Z][a-zA-Z0-9]*)")
_RE_P_TEXT = re.compile(r"<p>([^<]*)</p>")


def _mut_tag_case(page: str) -> str:
    """Uppercase every tag name — probes the IGNORECASE contract of all
    four kernel regexes (incl. the case-insensitive backreference in
    _RE_STRIP's </tag> matcher)."""
    return _RE_TAG_NAME.sub(lambda m: "<" + m.group(1) + m.group(2).upper(), page)


def _mut_ws_inject(page: str) -> str:
    """Newline + indent after every tag close — probes the whitespace
    normalization (' '.join(split()) collapse) in _block_stats."""
    return page.replace(">", ">\n  ")


def _mut_comment_noise(page: str) -> str:
    """Tracker-style comments after <body> and every </p> — probes the
    comment strip in _RE_STRIP (comments must vanish BEFORE block
    segmentation, or they would surface as extra text blocks)."""
    return page.replace("<body>", "<body><!-- consent banner -->").replace(
        "</p>", "</p><!-- trk 1 -->"
    )


def _mut_attr_noise(page: str) -> str:
    """Extra attributes on <p> and <li> — probes the [^>]* attribute
    tolerance of _RE_BLOCK_SPLIT (a bare '<p>' matcher would stop
    segmenting and merge paragraphs into one block)."""
    return page.replace("<p>", '<p data-trk="1">').replace("<li>", '<li class="m">')


def _mut_entity_spaces(page: str) -> str:
    """Entity-encode the spaces inside every paragraph — probes the
    html.unescape step (entities must decode BEFORE the whitespace
    normalization, or tokens fuse around '&#32;')."""
    return _RE_P_TEXT.sub(
        lambda m: "<p>" + m.group(1).replace(" ", "&#32;") + "</p>", page
    )


# name -> mutation; each is deterministic and provably extraction-
# preserving on well-formed pages BY the kernel contract it probes, so
# extraction_robustness_matrix's oracle expects 100% byte-identity
# survival. A regression in any of the five probed behaviors flips
# n_survived and fails the driver's value hash.
PAGE_MUTATIONS: dict[str, callable] = {
    "attr_noise": _mut_attr_noise,
    "comment_noise": _mut_comment_noise,
    "entity_spaces": _mut_entity_spaces,
    "tag_case": _mut_tag_case,
    "ws_inject": _mut_ws_inject,
}
