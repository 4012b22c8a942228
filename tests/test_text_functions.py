"""Unit tests for the text column functions (SURVEY.md §2.7 F1-F6),
including the reference's semantic quirks (§7.6)."""

from __future__ import annotations

from pyspark.sql import functions as F

from capstone_etl_spark.functions.text import (
    clean_text,
    clean_text_spaced,
    count_substring,
    page_loc,
    parent_path,
    split_sql,
    tokenize,
    tokenize_sql,
)


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_clean_deletes_newlines_joining_words(spark):
    # parity quirk: byte DELETION concatenates across newlines (main.go:285-297)
    df = spark.createDataFrame([("line1\nline2 ok-x 3.5",)], "t string")
    got = df.select(clean_text("t").alias("v")).collect()[0]["v"]
    assert got == "line1line2 okx 35"


def test_clean_spaced_variant(spark):
    df = spark.createDataFrame([("a\nb c-d",)], "t string")
    got = df.select(clean_text_spaced("t").alias("v")).collect()[0]["v"]
    assert got == "a b c d"


def test_tokenize_drops_empties_and_lowercases(spark):
    df = spark.createDataFrame([("  Foo   BAR  baz!! ",), ("",), ("   ",)], "t string")
    got = [r["v"] for r in df.select(tokenize("t").alias("v")).collect()]
    assert got[0] == ["foo", "bar", "baz"]
    assert got[1] == []
    assert got[2] == []


def test_tokenize_sql_matches_spark_tokenize(spark):
    """The DuckDB fragment every oracle tokenizes with must give the
    Spark tokenizer's tokens; split_sql differs only where the text
    cleans to empty, giving ['']."""
    import duckdb

    edge = ["", "   ", "  A  b ", "line1\nline2", "tab\there", "!!!", "Café 42x"]
    rows = list(enumerate(edge))
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (i INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    duck = con.execute(
        f"SELECT {tokenize_sql()}, {split_sql()} FROM docs ORDER BY i"
    ).fetchall()
    df = spark.createDataFrame(rows, "i int, text string")
    want = [r["v"] for r in df.orderBy("i").select(tokenize("text").alias("v")).collect()]
    assert want == [[], [], ["a", "b"], ["line1line2"], ["tabhere"], [], ["caf", "42x"]]
    assert [toks for toks, _ in duck] == want
    for text, (toks, split) in zip(edge, duck):
        assert split == ([""] if text in ("", "   ", "!!!") else toks)


def test_count_substring_external_links(spark):
    # counts literal 'href="h' hits; relative-href decoys must not count
    html = 'x href="http://a" y href="https://b" z href="/relative" href="h'
    df = spark.createDataFrame([(html,), ("none",), ("",)], "t string")
    got = [r["c"] for r in df.select(count_substring("t", 'href="h').alias("c")).collect()]
    assert got == [3, 0, 0]


def test_page_loc_and_parent_path(spark):
    rows = [
        ("https://en.wikibooks.org/wiki/Top",),
        ("https://en.wikibooks.org/wiki/Top/Mid/Leaf",),
        ("https://other.example.com/x",),
    ]
    df = spark.createDataFrame(rows, "url string")
    out = df.select(
        page_loc("url").alias("loc"),
    ).withColumn("parent", parent_path("loc")).collect()
    assert out[0]["loc"] == "Top" and out[0]["parent"] == ""
    assert out[1]["loc"] == "Top/Mid/Leaf" and out[1]["parent"] == "Top/Mid"
    assert out[2]["loc"] is None  # divergence §7.6.5: NULL, not panic
