"""Text/scalar column functions — all JVM-side built-ins (no Python UDFs in
the hot path; these stay inside whole-stage codegen).

Parity notes (reference file:line):
  - title extraction  -> crawler/text_extractor.go:20,52-62
  - html -> text      -> crawler/text_extractor.go:41-73 (tag-strip policy +
                         whitespace collapse + trim); HTML entity unescape is
                         limited to the common named/numeric entities via a
                         replace chain to stay codegen'd
  - tokenization feeds the inverted index (analyzed `text` fields in the
    reference's ES mapping, textindexer/store/es/es.go:29-41)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Split on any run of non-alphanumerics. Mirrors a standard "simple" analyzer
# (lowercase + letter/digit tokens) — the reference delegates analysis to
# ES/bleve default analyzers.
TOKEN_SPLIT_RE = "[^a-z0-9]+"


def tokenize(col: Column | str) -> Column:
    """String column -> array<string> of lowercase tokens (no empties).

    regexp_extract_all of [a-z0-9]+ rather than split-on-separators + a
    higher-order filter: identical result, but the HOF lambda costs ~5x in
    codegen while extract_all stays a single compiled regex pass."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit("[a-z0-9]+"), F.lit(0))


def normalize_text(col: Column | str) -> Column:
    """Lowercase + collapse whitespace/punct runs to single spaces + trim.

    Used for phrase matching: a phrase query matches iff the normalized
    phrase is a substring of the normalized document.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), TOKEN_SPLIT_RE, " "))


def extract_title(html: Column | str) -> Column:
    """First <title>...</title> payload (case-insensitive), trimmed."""
    c = F.col(html) if isinstance(html, str) else html
    # (?s) so titles spanning newlines still match, like Go's (?s) usage
    return F.trim(F.regexp_extract(c, "(?is)<title[^>]*>(.*?)</title>", 1))


def html_to_text(html: Column | str) -> Column:
    """Strip tags, drop script/style blocks, unescape common entities,
    collapse whitespace.  Pure regexp_replace chain — codegen-friendly."""
    c = F.col(html) if isinstance(html, str) else html
    # script/style/title contents are dropped wholesale (bluemonday
    # StrictPolicy behavior — title text belongs to the title field only,
    # see crawler_integration_test.go's expected content)
    no_scripts = F.regexp_replace(c, "(?is)<(script|style|title)[^>]*>.*?</\\1>", " ")
    no_tags = F.regexp_replace(no_scripts, "(?s)<[^>]*>", " ")
    unescaped = no_tags
    for ent, rep in [
        ("&nbsp;", " "),
        ("&amp;", "&"),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&apos;", "'"),
    ]:
        unescaped = F.replace(unescaped, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(unescaped, "\\s+", " "))
