"""Sitemap parser pins: root routing, both kinds, malformed inputs."""

from conftest import PYTHON_STAGE_NODES
from pyspark.sql import functions as F

from pyiceberg_lakehouse_spark.functions.sitemap import parse_sitemap

_NS = ' xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"'


def _rows(spark, xml: str):
    df = spark.createDataFrame([(xml,)], "x string")
    return df.select(
        F.posexplode(parse_sitemap(F.col("x"))).alias("i", "e")
    ).select("e.*").collect()


def test_urlset_entries(spark):
    xml = (
        f"<urlset{_NS}>"
        "<url><loc>https://a/1</loc><lastmod>2025-01-02</lastmod>"
        "<changefreq>daily</changefreq><priority>0.3</priority></url>"
        "<url><loc>https://a/2</loc></url>"
        "</urlset>"
    )
    rows = _rows(spark, xml)
    assert len(rows) == 2
    assert rows[0].kind == "urlset" and rows[0].loc == "https://a/1"
    assert rows[0].priority == 0.3 and rows[0].changefreq == "daily"
    # optional children are NULL, not errors
    assert rows[1].lastmod is None and rows[1].priority is None


def test_sitemapindex_entries(spark):
    xml = (
        f"<sitemapindex{_NS}>"
        "<sitemap><loc>https://a/s1.xml</loc>"
        "<lastmod>2025-03-04</lastmod></sitemap>"
        "</sitemapindex>"
    )
    rows = _rows(spark, xml)
    assert len(rows) == 1
    assert rows[0].kind == "sitemapindex"
    assert rows[0].loc == "https://a/s1.xml"
    assert rows[0].changefreq is None and rows[0].priority is None


def test_foreign_root_and_malformed_yield_empty(spark):
    for xml in ("<rss><item/></rss>", "not xml at all", ""):
        df = spark.createDataFrame([(xml,)], "x string")
        n = df.select(
            F.size(parse_sitemap(F.col("x"))).alias("n")
        ).collect()[0].n
        assert n in (0, -1), xml  # size(NULL array) is -1 pre-explode


def test_jvm_only_plan(spark):
    """No Python evaluator in the parse: from_xml is a native
    expression, so the plan must not contain any Python eval node."""
    df = spark.createDataFrame([("<urlset><url><loc>x</loc></url></urlset>",)], "x string")
    plan = df.select(parse_sitemap(F.col("x")).alias("e"))._jdf.queryExecution().executedPlan().toString()
    for marker in PYTHON_STAGE_NODES:
        assert marker not in plan
