"""Summarizer/highlighter goldens from the reference frontend tests
(summarizer_test.go, highlighter_test.go).  The highlighter goldens use the
FIXED closing tag (the reference emits a malformed '</em')."""

from __future__ import annotations

from pyspark.sql import functions as F

from usearch_spark.operators.summarize import (
    assemble_results,
    highlight,
    match_ratio,
    split_sentences,
    summarize,
)

LOREM = """
Sed ut perspiciatis unde omnis iste natus error sit voluptatem accusantium
doloremque laudantium, totam rem aperiam, eaque ipsa quae ab illo inventore
veritatis et quasi architecto beatae vitae dicta sunt explicabo. Nemo enim
ipsam voluptatem quia voluptas KEYWORD1 sit aspernatur aut odit aut fugit, sed quia
consequuntur magni dolores eos qui ratione voluptatem sequi nesciunt. Neque
porro quisquam est, qui dolorem ipsum quia dolor sit amet, consectetur,
adipisci velit, sed quia non numquam eius modi tempora incidunt ut labore et
dolore magnam aliquam quaerat voluptatem. Ut enim ad KEYWORD2 minima veniam, quis
nostrum exercitationem ullam corporis suscipit laboriosam, nisi ut aliquid ex
ea commodi consequatur? Quis autem vel eum iure reprehenderit qui in ea
voluptate velit esse quam nihil molestiae consequatur, vel illum qui dolorem
eum fugiat quo voluptas nulla pariatur?"""


def test_scan_sentence_golden():
    text = "Dot without space.Ending in ! Ending in $foo$.1 number at start or end 1. Question?"
    assert split_sentences(text) == [
        "Dot without space.",
        "Ending in !",
        " Ending in $foo$.",
        "1 number at start or end 1.",
        " Question?",
    ]


def test_summary_golden():
    """Matches the reference CODE's behavior (summarizer.go:42-112): the
    trimmed sentence contributes '...' and the position gap contributes
    another '...' (6 dots).  The reference's own test golden shows 5 dots —
    an output its code cannot produce (that suite is stale; its highlighter
    golden likewise expects '</em>' while highlighter.go emits '</em')."""
    expected = (
        "Nemo enim\n"
        "ipsam voluptatem quia voluptas KEYWORD1 sit aspernatur aut odit aut fugit, sed quia\n"
        "consequuntur magni ...... Ut enim ad KEYWORD2 minima veniam, quis\n"
        "nostrum exercitationem ullam corporis suscipit laboriosam, nisi ut aliquid ex\n"
        "ea commodi consequatur?."
    )
    assert summarize(LOREM, ["KEYWORD1", "KEYWORD2"], 256) == expected


def test_match_ratio():
    assert match_ratio("KEYWORD1 and two words", ["keyword1"]) == 0.25
    assert match_ratio("", ["x"]) == 0.0
    # whole-word only: substrings don't match
    assert match_ratio("KEYWORD1S extra", ["KEYWORD1"]) == 0.0


def test_highlighter_goldens():
    cases = [
        ("Test KEYWORD1", "Test <em>KEYWORD1</em>"),
        ("Data. KEYWORD2 lorem ipsum.KEYWORD1", "Data. <em>KEYWORD2</em> lorem ipsum.<em>KEYWORD1</em>"),
        ("no match", "no match"),
    ]
    for inp, exp in cases:
        assert highlight(inp, ["KEYWORD1", "KEYWORD2"]) == exp
    # case-insensitive match preserves original casing
    assert highlight("keyword1 KeyWord1", ["KEYWORD1"]) == "<em>keyword1</em> <em>KeyWord1</em>"


def test_assemble_results(spark):
    page = spark.createDataFrame(
        [
            ("d1", "http://x/1", "Title One", "Alpha beta gamma. KEYWORD1 is here. Tail."),
            ("d2", "http://x/2", "", "nothing relevant"),
            ("d3", "http://x/3", None, "KEYWORD1 leads."),
        ],
        "link_id string, url string, title string, content string",
    )
    out = {r["link_id"]: r for r in assemble_results(page, "KEYWORD1").collect()}
    assert "<em>KEYWORD1</em>" in out["d1"]["summary"]
    assert out["d2"]["summary"] == ""
    assert out["d2"]["display_title"] == "http://x/2"
    assert out["d3"]["display_title"] == "http://x/3"
    assert out["d1"]["display_title"] == "Title One"


def test_assemble_on_driver_matches_assemble_results(spark):
    """The driver-side assembly and the UDF assembly give the same schema
    and rows, across the title fallbacks (null, empty, spaces-only, a tab,
    which Spark's trim keeps) and a null content."""
    from usearch_spark.operators.summarize import assemble_on_driver

    page = spark.createDataFrame(
        [
            ("d1", "http://x/1", "Title One", "Alpha beta gamma. KEYWORD1 is here. Tail."),
            ("d2", "http://x/2", "", "nothing relevant"),
            ("d3", "http://x/3", None, "KEYWORD1 leads. keyword1 again!"),
            ("d4", "http://x/4", "   ", None),
            ("d5", "http://x/5", "\t", "Some KEYWORD2 and KEYWORD1."),
        ],
        "link_id string, url string, title string, content string",
    )
    expression = "KEYWORD1 KEYWORD2"
    ref = assemble_results(page, expression)
    local = assemble_on_driver(page, expression)
    assert local.schema == ref.schema
    rows = sorted(local.collect())
    assert rows == sorted(ref.collect())
    titles = {r["link_id"]: r["display_title"] for r in rows}
    assert titles == {"d1": "Title One", "d2": "http://x/2", "d3": "http://x/3", "d4": "http://x/4", "d5": "\t"}
