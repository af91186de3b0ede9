"""Search-result postprocessing: sentence splitting, match-ratio scoring,
summary assembly, term highlighting (SURVEY §2.3 X4-X7, §2.4 Q5).

Parity with the reference frontend:
  - sentence splitter: 3-rune window break after '.'/'!'/'?' when preceded
    by lower/symbol/number/space and followed by punct/space/symbol/number/
    upper (monolith/service/frontend/summarizer.go:143-198);
  - match ratio: whole-word case-insensitive matched-terms / word-count
    (summarizer.go:116-139);
  - summary: keep ratio>0 sentences, best-ratio-first fill of the char
    budget (last sentence trimmed with '...'), then re-sort by document
    position, '...' between non-adjacent sentences, ensure '.' suffix
    (summarizer.go:42-112);
  - highlighter: wrap case-insensitive term occurrences in <em> tags
    (highlighter.go:17-41 — the reference emits a malformed '</em'
    closing tag; fixed to '</em>' here);
  - result assembly: title falls back to URL (frontend.go:405-413).

The per-document logic is one Python function, ``summary_html`` — it is
inherently sequential per document (sentence scanning).  It runs in two
places:
  - ``assemble_results`` (DataFrame API, any number of rows): an
    Arrow-batched pandas UDF, the classic Python-UDF-is-OK case;
  - ``assemble_on_driver`` (one result page, at most ``size`` rows): the
    page is collected once as Arrow, a plain loop computes the columns,
    pyarrow appends them, and the page comes back as a local frame.  The
    engine serves its result page this way, so a search starts no Python
    worker.
"""

from __future__ import annotations

import unicodedata

import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType


def _is_punct(c: str) -> bool:
    return unicodedata.category(c).startswith("P")


def _is_symbol(c: str) -> bool:
    return unicodedata.category(c).startswith("S")


def _is_number(c: str) -> bool:
    return unicodedata.category(c).startswith("N")


def split_sentences(text: str) -> list[str]:
    """Reference scanSentence: break AFTER '.'/'!'/'?' (kept on the left
    sentence) when the 3-char window condition holds; the remainder at EOF
    is the final sentence."""
    out: list[str] = []
    start = 0
    n = len(text)
    p = start + 1
    while p + 1 < n:
        a, b, c = text[p - 1], text[p], text[p + 1]
        cond1 = a.islower() or _is_symbol(a) or _is_number(a) or a.isspace()
        cond2 = b in ".!?"
        cond3 = _is_punct(c) or c.isspace() or _is_symbol(c) or _is_number(c) or c.isupper()
        if cond1 and cond2 and cond3:
            out.append(text[start : p + 1])
            start = p + 1
            p = start + 1
        else:
            p += 1
    if start < n:
        out.append(text[start:])
    return out


def match_ratio(sentence: str, terms: list[str]) -> float:
    """Whole-word case-insensitive matched/total ratio (ScanWords split)."""
    words = sentence.split()
    lowered = [t.lower() for t in terms]
    matched = sum(1 for w in words if w.lower() in lowered)
    return matched / max(len(words), 1)


def summarize(content: str, terms: list[str], max_summary_len: int = 256) -> str:
    """Reference Summary(): best-ratio-first budget fill, position-ordered
    output, '...' between gaps, '.' suffix enforcement."""
    sentences = split_sentences(content or "")
    matched = [
        (pos, s, match_ratio(s, terms))
        for pos, s in enumerate(sentences)
        if match_ratio(s, terms) > 0
    ]
    # descending ratio; stable tie-break by position for determinism (the
    # reference uses an unstable sort — ties are unspecified there)
    matched.sort(key=lambda m: (-m[2], m[0]))

    selected: list[tuple[int, str]] = []
    remaining = max_summary_len
    for pos, s, _ in matched:
        if remaining <= 0:
            break
        if len(s) > remaining:
            s = s[:remaining] + "..."
        remaining -= len(s)
        selected.append((pos, s))
    selected.sort(key=lambda m: m[0])

    buf: list[str] = []
    last_pos = -1
    for pos, s in selected:
        if last_pos != -1 and pos - last_pos != 1:
            buf.append("...")
        last_pos = pos
        buf.append(s)
        if not s.endswith("."):
            buf.append(".")
    return "".join(buf).strip()


def highlight(sentence: str, terms: list[str]) -> str:
    """Wrap each case-insensitive occurrence of each term in <em>...</em>."""
    import re

    out = sentence
    for term in terms:
        if not term:
            continue
        out = re.sub(
            f"(?i){re.escape(term)}", lambda m: f"<em>{m.group(0)}</em>", out
        )
    return out


def highlight_expr(col: Column, terms: list[str]) -> Column:
    """X7 as a pure JVM column expression (whole-stage codegen; the Python
    ``highlight`` above exists for the per-doc summary pipeline).  Terms are
    applied sequentially like the reference's loop (highlighter.go:33-41)."""
    import re

    out = col
    for term in terms:
        if not term:
            continue
        out = F.regexp_replace(out, "(?i)" + re.escape(term), "<em>$0</em>")
    return out


def summary_html(content: str | None, terms: list[str], max_summary_len: int = 256) -> str:
    """One result row's summary cell: the reference summary of ``content``
    with every term highlighted (summarizer.go + highlighter.go)."""
    return highlight(summarize(content or "", terms, max_summary_len), terms)


def _terms_of(expression: str) -> list[str]:
    return [t for t in expression.strip('"').split() if t]


def with_summary(
    df: DataFrame,
    expression: str,
    content_col: str = "content",
    max_summary_len: int = 256,
    out_col: str = "summary",
) -> DataFrame:
    """Adds summary + highlighted-summary columns."""
    from usearch_spark.session import ship_package

    ship_package(df.sparkSession)
    terms = _terms_of(expression)

    @F.pandas_udf("string")
    def summary_udf(content: pd.Series) -> pd.Series:
        from usearch_spark.operators.summarize import summary_html

        return content.map(lambda c: summary_html(c, terms, max_summary_len))

    return df.withColumn(out_col, summary_udf(F.col(content_col)))


def assemble_results(page: DataFrame, expression: str) -> DataFrame:
    """Q5 result assembly: summary+highlight column, title fallback to
    URL."""
    out = with_summary(page, expression)
    return out.withColumn(
        "display_title",
        F.when(
            F.col("title").isNull() | (F.trim(F.col("title")) == ""), F.col("url")
        ).otherwise(F.col("title")),
    )


def assemble_on_driver(page: DataFrame, expression: str) -> DataFrame:
    """:func:`assemble_results` for a bounded page, computed on the driver:
    the same rows and schema, returned as a local frame (a LocalTableScan,
    whose collect starts no Spark job).  The page is collected once with
    ``toArrow`` and stays Arrow, so timestamps keep their instants whatever
    the session and process time zones.  Spark's ``trim`` strips only ' ',
    hence ``strip(" ")``."""
    table = page.toArrow()
    terms = _terms_of(expression)
    summaries = [summary_html(c, terms) for c in table.column("content").to_pylist()]
    titles = [
        u if t is None or t.strip(" ") == "" else t
        for t, u in zip(table.column("title").to_pylist(), table.column("url").to_pylist())
    ]
    table = table.append_column("summary", pa.array(summaries, pa.string())).append_column(
        "display_title", pa.array(titles, pa.string())
    )
    schema = StructType(
        page.schema.fields + [StructField("summary", StringType()), StructField("display_title", StringType())]
    )
    return page.sparkSession.createDataFrame(table, schema)
