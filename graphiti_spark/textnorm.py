"""Text normalization + trafilatura-style html→text extraction.

The per-row invariant (BASELINE.json input_hint): the text extracted from
``pages.html`` must be byte-identical per url to the reference extracted
text. All kernels here are Arrow-vectorized pandas UDFs (no per-row Python
UDFs in the plan).

Semantics ported from the reference:
  - clean_input: /root/reference/graphiti_core/llm_client/client.py:92-112
    (strip invalid unicode, zero-width chars, control chars except \n\r\t)
  - truncate_at_sentence: /root/reference/graphiti_core/utils/text_utils.py:23-53
    (truncate at last [.!?](\\s|$) boundary before max_chars)
"""

from __future__ import annotations

import html as _htmllib
import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

_ZERO_WIDTH = "​‌‍﻿⁠"
_SENTENCE_BOUNDARY = re.compile(r"[.!?](?:\s|$)")
# Body text sits in <p> blocks; nav/header/footer/script are boilerplate.
_BOILERPLATE = re.compile(
    r"<(nav|header|footer|script|style|aside)\b[^>]*>.*?</\1>",
    re.DOTALL | re.IGNORECASE,
)
_P_BLOCK = re.compile(r"<p\b[^>]*>(.*?)</p>", re.DOTALL | re.IGNORECASE)
_TAG = re.compile(r"<[^>]+>")


# one compiled class: C0 controls except \t\n\r, plus the zero-width set
# (single-pass C-level sub instead of a per-character Python loop — the
# html→text chain's measured hot spot)
_STRIP_CHARS = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f" + _ZERO_WIDTH + "]")


def clean_input(text: str) -> str:
    """Strip invalid unicode / zero-width / control chars (keep \\n\\r\\t)."""
    cleaned = text.encode("utf-8", errors="ignore").decode("utf-8")
    return _STRIP_CHARS.sub("", cleaned)


def truncate_at_sentence(text: str, max_chars: int) -> str:
    """Truncate at the last sentence boundary before max_chars."""
    if not text or len(text) <= max_chars:
        return text
    truncated = text[:max_chars]
    matches = list(_SENTENCE_BOUNDARY.finditer(truncated))
    if matches:
        return text[: matches[-1].end()].rstrip()
    return truncated.rstrip()


def wrap_html(doc_id: int, text: str) -> str:
    """Deterministically wrap extracted text in minimal boilerplate markup
    (FIXTURES.md §1: the synthetic `pages.html` derivation)."""
    return (
        f"<html><head><title>doc {doc_id}</title></head><body>"
        f"<nav>site navigation</nav>"
        f"<p>{_htmllib.escape(text)}</p>"
        f"<footer>crawl footer</footer></body></html>"
    )


def extract_text(html_bytes: bytes | None) -> str | None:
    """Trafilatura-style main-content extraction: drop boilerplate blocks,
    keep <p> body text, unescape entities, strip residual tags + control
    chars. Inverse of wrap_html — byte-identical per url."""
    if html_bytes is None:
        return None
    raw = html_bytes.decode("utf-8", errors="ignore")
    raw = _BOILERPLATE.sub("", raw)
    blocks = _P_BLOCK.findall(raw)
    body = "\n".join(blocks) if blocks else _TAG.sub("", raw)
    return clean_input(_htmllib.unescape(body))


# ---- Arrow-vectorized column kernels ----

@F.pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(lambda b: extract_text(b))


def truncate_at_sentence_col(text: Column, max_chars: int) -> Column:
    """Native-Spark truncate_at_sentence (no UDF).

    Find the LAST [.!?] followed by whitespace-or-end within the first
    max_chars by searching the reversed head for the FIRST reversed
    boundary: either the head ends with punctuation (reversed starts with
    [.!?], cut at full head length) or a whitespace+punct pair at reversed
    position p (punct sits at original position len-p). No boundary → hard
    cut at max_chars. Matches reference text_utils.py:23-53.
    """
    head = F.substring(text, 1, max_chars)
    rev = F.reverse(head)
    ends_with_punct = F.substring(rev, 1, 1).rlike(r"[.!?]")
    p = F.regexp_instr(rev, F.lit(r"\s[.!?]"))
    cut_end = (
        F.when(ends_with_punct, F.length(head))
        .when(p > 0, F.length(head) - p)
        .otherwise(F.lit(None))
    )
    cut = F.when(
        cut_end.isNotNull(), F.rtrim(F.substring(text, 1, cut_end.cast("int")))
    ).otherwise(F.rtrim(head))
    return F.when(F.length(text) <= max_chars, text).otherwise(cut)


# Mojibake repair: the most common UTF-8-bytes-read-as-cp1252 digraph/
# trigraph damage, as a CLOSED ordered literal-replace table (longest
# first — the 3-byte punctuation sequences contain 'â', which is itself
# the cp1252 rendering of 0xE2, so they must repair before any 2-byte
# rule could touch their lead byte). A production build applies the
# general inverse transform (re-encode cp1252 → decode UTF-8) behind a
# validity probe; the closed table keeps the operator engine-reproducible
# (DuckDB has no byte-level re-encode) and covers the dominant web
# corpus damage: curly quotes, dashes, ellipsis, Latin-1 letters, nbsp.
MOJIBAKE_TABLE: list[tuple[str, str]] = [
    ("â€™", "’"),  # â€™ → ’
    ("â€˜", "‘"),  # â€˜ → ‘
    ("â€œ", "“"),  # â€œ → “
    ("â€¦", "…"),  # â€¦ → …
    ("â€“", "–"),  # â€“ → –
    ("â€”", "—"),  # â€” → —
    ("Ã©", "é"),  # Ã© → é
    ("Ã¨", "è"),  # Ã¨ → è
    ("Ã¡", "á"),  # Ã¡ → á
    ("Ã ", "à"),  # Ã  → à
    ("Ã¤", "ä"),  # Ã¤ → ä
    ("Ã£", "ã"),  # Ã£ → ã
    ("Ã­", "í"),  # Ã­ → í
    ("Ã³", "ó"),  # Ã³ → ó
    ("Ã¶", "ö"),  # Ã¶ → ö
    ("Ãº", "ú"),  # Ãº → ú
    ("Ã¼", "ü"),  # Ã¼ → ü
    ("Ã±", "ñ"),  # Ã± → ñ
    ("Ã§", "ç"),  # Ã§ → ç
    ("Â ", " "),  # Â +nbsp → space
    ("Â«", "«"),  # Â« → «
    ("Â»", "»"),  # Â» → »
]


def fix_mojibake_col(text: Column) -> Column:
    """Apply the ordered mojibake table as chained literal replaces —
    pure whole-stage codegen, no shuffle, no Python; runs inside the
    scan stage at 100 TB. Idempotent on already-clean text (no repaired
    output re-matches any table key)."""
    out = text
    for bad, good in MOJIBAKE_TABLE:
        out = F.replace(out, F.lit(bad), F.lit(good))
    return out


# A damaged phrase exercising the table (query fixtures + oracles import
# this one literal so both engines augment identically).
MOJIBAKE_SAMPLE = "itâ€™s â€œokâ€¦ cafÃ© Ã¨re Ã±u â€“ Â«quoteÂ»"


# Homoglyph / confusable folding: Unicode characters that render like
# ASCII but defeat exact dedup, gram matching, and blocklists ("vіаgrа"
# with Cyrillic і/а slips every ASCII filter). A CLOSED 1-char table so
# a single translate() pass — identical semantics in Spark and DuckDB —
# folds Cyrillic/Greek lookalikes and fullwidth forms to ASCII, maps
# the space confusables to a plain space, and DELETES the zero-width
# family (translate drops source chars beyond the replacement string).
_CYRILLIC_FOLD = {
    "а": "a", "е": "e", "о": "o", "р": "p",
    "с": "c", "х": "x", "у": "y", "і": "i",
    "ѕ": "s", "ј": "j",
}
_GREEK_FOLD = {
    "ο": "o", "α": "a", "ε": "e", "ι": "i",
    "κ": "k", "ν": "v",
}
_SPACE_FOLD = {" ": " ", "　": " "}
_ZERO_WIDTH = "​‌‍﻿­"
# fullwidth ！..～ → ASCII !..~ (covers fullwidth letters and digits)
_FULLWIDTH = {chr(0xFF01 + i): chr(0x21 + i) for i in range(94)}

HOMOGLYPH_SRC = "".join(
    list(_CYRILLIC_FOLD) + list(_GREEK_FOLD) + list(_SPACE_FOLD)
    + list(_FULLWIDTH)
) + _ZERO_WIDTH
HOMOGLYPH_DST = "".join(
    list(_CYRILLIC_FOLD.values()) + list(_GREEK_FOLD.values())
    + list(_SPACE_FOLD.values()) + list(_FULLWIDTH.values())
)
# build-time table verification: 1-char non-ASCII keys, unique, ASCII
# values; deletions strictly the unmapped tail
assert len(set(HOMOGLYPH_SRC)) == len(HOMOGLYPH_SRC)
assert all(ord(c) > 0x7F for c in HOMOGLYPH_SRC)
assert all(ord(c) <= 0x7F for c in HOMOGLYPH_DST)
assert len(HOMOGLYPH_SRC) == len(HOMOGLYPH_DST) + len(_ZERO_WIDTH)


def fold_homoglyphs_col(text: Column) -> Column:
    """One translate() pass over the closed confusable table — pure
    codegen, runs inside the scan stage at 100 TB; idempotent (every
    output char is ASCII, never a table key)."""
    return F.translate(text, HOMOGLYPH_SRC, HOMOGLYPH_DST)


# A confusable-laden phrase (Cyrillic е/і/а/о, Greek ν, fullwidth
# ＦＲＥＥ１２３, nbsp, zero-widths) — query fixtures + oracles import
# this one literal so both engines augment identically.
HOMOGLYPH_SAMPLE = (
    "frее vіаgrа nоw νip ＦＲＥＥ１２３ deal"
    " z​ero‌wid‍th﻿­end"
)
