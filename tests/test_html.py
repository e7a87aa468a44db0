"""HTML → text extraction: the JVM-side column chain
(`html_strip_tags`), its DuckDB mirror (`html_strip_tags_sql`), and
the full-entity Arrow tier refereed by stdlib ``html.unescape``.
"""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from tidb_cdc_spark.functions.html import (
    html_extract_text_udf,
    html_strip_tags,
    html_strip_tags_sql,
)

CASES = [
    # structural: comments, script/style with attributes, tags
    ("<html><!-- x --><body><p>a</p><br/>b</body></html>", "a b"),
    ('<script type="t">var x = "<p>no</p>";</script>yes', "yes"),
    ("<STYLE media=all>p{}</STYLE>text", "text"),
    ("<SCRIPT>a</SCRIPT\t >after", "after"),
    # entities: the basic envelope, &amp; decoded LAST
    ("a &lt;b&gt; &quot;c&quot; &#39;d&#39; e&nbsp;f &amp; g",
     "a <b> \"c\" 'd' e f & g"),
    ("&amp;lt; stays literal", "&lt; stays literal"),
    # whitespace collapse + trim
    ("  a\n\n<b>  b\t</b>c  ", "a b c"),
    # numeric entities are OUTSIDE the codegen envelope: verbatim
    ("&#72;i &#x21;", "&#72;i &#x21;"),
]


class TestColumnChain:
    def test_cases_via_spark(self, spark):
        df = spark.createDataFrame(
            [(i, s) for i, (s, _) in enumerate(CASES)], "i int, s string"
        )
        got = {
            r.i: r.t
            for r in df.select(
                "i", html_strip_tags("s").alias("t")
            ).collect()
        }
        for i, (_, want) in enumerate(CASES):
            assert got[i] == want, (i, got[i])

    def test_sql_mirror_matches_spark_exactly(self, spark):
        """The generated DuckDB chain is the SAME function — every
        case char-identical across engines (the cross-engine oracle
        `corpus_html_extract` stands on)."""
        con = duckdb.connect()
        sql = html_strip_tags_sql("s")
        for s, want in CASES:
            got = con.execute(
                f"SELECT {sql} FROM (SELECT ? AS s)", [s]
            ).fetchone()[0]
            assert got == want, (s, got)

    def test_null_passthrough(self, spark):
        df = spark.createDataFrame([(None,)], "s string")
        assert df.select(html_strip_tags("s").alias("t")).first().t is None

    def test_plan_is_pure_codegen(self, spark):
        """The declared query's plan has NO Python stage of any
        kind — stricter than the registry-wide no-BatchEvalPython
        guard (Arrow stages are allowed there, not here)."""
        from tidb_cdc_spark.queries.crawl import corpus_html_extract

        plan = (
            corpus_html_extract(spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        for stage in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert stage not in plan


class TestFullEntityTier:
    def test_agrees_with_codegen_tier_on_basic_envelope(self, spark):
        basic = [s for s, _ in CASES if "&#" not in s]
        df = spark.createDataFrame([(s,) for s in basic], "s string")
        udf = html_extract_text_udf()
        rows = df.select(
            html_strip_tags("s").alias("a"), udf("s").alias("b")
        ).collect()
        for r in rows:
            assert r.a == r.b

    def test_unescape_referee_full_entities(self, spark):
        """Numeric + exotic named entities resolve in the Arrow
        tier exactly as stdlib html.unescape says (it IS the
        implementation — the test pins the structural strip around
        it and the envelope split vs the codegen tier)."""
        import html as _html

        s = "<p>&#72;&#x49;&excl; &copy; &mdash; &amp;lt;</p>"
        want = " ".join(_html.unescape(s.replace("<p>", " ")
                                       .replace("</p>", " ")).split())
        df = spark.createDataFrame([(s,)], "s string")
        udf = html_extract_text_udf()
        got = df.select(udf("s").alias("t")).first().t
        assert got == want
        # and the codegen tier leaves the exotic forms verbatim
        lit = df.select(html_strip_tags("s").alias("t")).first().t
        assert "&#72;" in lit and "&copy;" in lit and "&lt;" in lit

    def test_null(self, spark):
        df = spark.createDataFrame([(None,)], "s string")
        udf = html_extract_text_udf()
        assert df.select(udf("s").alias("t")).first().t is None
