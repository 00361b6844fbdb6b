"""HTML→markdown transform tests (SURVEY §2.9 X1)."""

from __future__ import annotations

from analytics_data_platform_spark.functions.html import (
    html_to_markdown,
    html_to_markdown_col,
)


def test_plain_constructs():
    assert html_to_markdown("<p>Beam lost at <b>03:20</b></p>") == "Beam lost at **03:20**"
    assert html_to_markdown("a<br>b") == "a\nb"
    assert (
        html_to_markdown("<ul><li>magnet trip</li><li>rf fault</li></ul>")
        == "* magnet trip\n* rf fault"
    )
    assert html_to_markdown('<a href="http://x/log">entry</a>') == "[entry](http://x/log)"


def test_entities_whitespace_none():
    assert html_to_markdown("T &gt; 5&nbsp;&amp;  stable") == "T > 5\xa0& stable"
    assert html_to_markdown(None) is None
    assert html_to_markdown("no tags at all") == "no tags at all"


def test_udf_over_dataframe(spark):
    df = spark.createDataFrame(
        [(1, "<p>ok <i>fine</i></p>"), (2, None), (3, "x<br/>y")],
        "entry_id int, comment string",
    )
    out = {
        r["entry_id"]: r["md"]
        for r in df.select("entry_id", html_to_markdown_col("comment").alias("md")).collect()
    }
    assert out[1] == "ok *fine*"
    assert out[2] is None
    assert out[3] == "x\ny"
