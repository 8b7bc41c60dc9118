"""Vectorized HTML -> text extraction.

Analog of the reference's per-record normalization hot path (xmltodict parse,
read_records.py:84-89, + control-char/entity cleanup ArXivDirect.py:70-80),
rebuilt per BASELINE.json input_hint ("no per-row Python").  The extraction
spec is deterministic and byte-stable:

1. decode UTF-8 (errors=replace)
2. drop <script>/<style> blocks (leftmost-first across both tag kinds)
3. block-level closing tags and <br> become newlines
4. strip remaining tags
5. decode the basic HTML entities
6. collapse horizontal whitespace, trim line edges, collapse blank lines,
   strip the ends

Three implementations execute the SAME ``_RE_STEPS`` table in the same
order so outputs are byte-identical per url (the north_star invariant):

- :func:`_extract_series` — the engine hot path: Arrow compute kernels
  (``replace_substring_regex``, RE2, C++-vectorized — measured ~2x the
  pandas ``.str`` chain, which loops ``pat.sub`` per element under the
  hood), with a pandas fallback for batches containing invalid UTF-8;
- :func:`extract_text_str` — the scalar oracle (Python ``re``);
- :func:`extract_text_sql` — the DuckDB twin (RE2), generated from the
  same table.

Because the engines differ (Python ``re`` vs RE2), every pattern is written
in the *engine-invariant* subset: no ``\\b`` (Python's is Unicode-aware,
RE2's is ASCII — spelled as an explicit ASCII class instead), no bare
``\\s`` (same divergence), no lookarounds (RE2 has none), and trimming uses
an explicit character set rather than Python's Unicode ``str.strip()``.
Identity is property-tested over arbitrary bytes
(tests/test_text_byte_identity.py).
"""

from __future__ import annotations

import re

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

#: explicit trim set — identical under Python str.strip(chars), Arrow
#: utf8_trim and SQL trim (Python's argless strip() would also eat \x1c-\x1f,
#: \x85, \xa0, ... which RE2-side trims cannot express portably)
_TRIM_CHARS = " \t\n\r\f\v"

#: ``<script`` / ``<style`` follower: the engine-invariant spelling of
#: ``\b`` — either the closing tag immediately, or one ASCII-non-word char
#: then a lazy body ("(?:|[^0-9A-Za-z_].*?)")
_TAG_BREAK = "(?:|[^0-9A-Za-z_].*?)"

# (pattern, replacement) applied in order; identical for scalar, Arrow and
# SQL paths.  Patterns use only the Python-re / RE2 common subset.
_RE_PATTERNS: list[tuple[str, str]] = [
    # script/style blocks in ONE leftmost-first pass: the earliest block
    # opener wins, matching browser behavior on interleaved malformed tags
    (
        f"(?is)<(?:script{_TAG_BREAK}</script>|style{_TAG_BREAK}</style>)",
        "",
    ),
    # <br> variants and block-closing tags -> newline, one pass (their
    # replacements cannot create new matches of either alternative)
    (
        "(?i)<br[ \t\n\r\f\v]*/?>"
        "|</(?:p|div|h[1-6]|li|tr|table|ul|ol|section|article|header|footer|blockquote|pre)>",
        "\n",
    ),
    (r"<[^>]*>", ""),
    (r"&nbsp;", " "),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", '"'),
    (r"&#39;", "'"),
    (r"&amp;", "&"),
    (r"[ \t\r\f\v]+", " "),
    # one fused pass for what used to be two (" ?\n ?" -> "\n", then
    # "\n+" -> "\n"): after the pass above, horizontal whitespace is single
    # spaces only, so every maximal {space, \n} run containing a newline
    # collapses to exactly one "\n" under both formulations — one fewer
    # full stream over the batch (each pass materializes a new array)
    (r"(?: ?\n ?)+", "\n"),
]

#: compiled for the scalar path
_RE_STEPS: list[tuple[re.Pattern, str]] = [
    (re.compile(p), r) for p, r in _RE_PATTERNS
]


def extract_text_str(html: bytes | None) -> str | None:
    """Scalar oracle implementation — same pattern chain as the Arrow path."""
    if html is None:
        return None
    s = html.decode("utf-8", errors="replace")
    for pat, repl in _RE_STEPS:
        s = pat.sub(repl, s)
    return s.strip(_TRIM_CHARS)


def _decode_utf8_arrow(arr: pa.Array) -> pa.Array:
    """binary -> utf8 Arrow array; errors=replace via pandas fallback only
    when the batch actually contains invalid UTF-8 (never on the hot path)."""
    try:
        return arr.cast(pa.string())
    except pa.ArrowInvalid:
        s = arr.to_pandas().str.decode("utf-8", errors="replace")
        return pa.Array.from_pandas(s)


def extract_text_arrow(arr: pa.Array) -> pa.Array:
    """Engine hot path, Arrow-in/Arrow-out: the whole chain runs as Arrow
    C++ kernels with NO pandas object materialization — the mapInArrow
    apply path feeds binary arrays straight through (html bytes never
    become Python objects; measured as the dominant python-side cost of
    the extract stage when they did)."""
    s = _decode_utf8_arrow(arr)
    for pat, repl in _RE_PATTERNS:
        s = pc.replace_substring_regex(s, pattern=pat, replacement=repl)
    return pc.utf8_trim(s, characters=_TRIM_CHARS)


def _extract_series(html: pd.Series) -> pd.Series:
    """pandas-Series boundary over :func:`extract_text_arrow` (the pandas
    ``.str.replace`` chain loops Python ``pat.sub`` per element — measured
    2x slower on real batches)."""
    out = extract_text_arrow(pa.Array.from_pandas(html, type=pa.binary())).to_pandas()
    out.index = html.index
    return out


@pandas_udf(T.StringType())
def html_to_text(html: pd.Series) -> pd.Series:
    """Arrow-batched binary->string extraction (the engine hot path)."""
    return _extract_series(html)


def extract_text_sql(expr: str) -> str:
    """ANSI/DuckDB SQL twin of the extraction chain, generated from the SAME
    ``_RE_PATTERNS`` table so the three paths can never drift.

    RE2 interprets the escape sequences (\\t, \\f, ...) inside the pattern
    itself, so patterns pass through as plain SQL string literals; newline
    *replacements* are spelled ``chr(10)`` to stay escape-free.  The final
    ``trim`` strips the same explicit whitespace set as the engine.
    """
    s = expr
    for pat, repl in _RE_PATTERNS:
        p = pat.replace("\t", "\\t").replace("\n", "\\n").replace("\r", "\\r")
        p = p.replace("\f", "\\f").replace("\v", "\\v").replace("'", "''")
        r = "chr(10)" if repl == "\n" else "'" + repl.replace("'", "''") + "'"
        s = f"regexp_replace({s}, '{p}', {r}, 'g')"
    ws = "' ' || chr(9) || chr(10) || chr(13) || chr(12) || chr(11)"
    return f"trim({s}, {ws})"
