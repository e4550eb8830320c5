"""URL canonicalization (functions/urls.py): normal forms and the
JVM-only plan contract."""

from __future__ import annotations

import re

import pytest
from conftest import PYTHON_STAGE_NODES
from pyspark.sql import functions as F

from pyiceberg_lakehouse_spark.functions.urls import canonicalize_url


CASES = [
    ("HTTP://WWW.Ex.COM:80/A/b?utm_source=x&b=2&a=1#frag",
     "http://www.ex.com/A/b?a=1&b=2"),
    ("https://Host.io:443/", "https://host.io/"),
    ("https://Host.io:8443/x?z=1", "https://host.io:8443/x?z=1"),
    ("http://a.b", "http://a.b/"),
    ("http://a.b/?fbclid=1&gclid=2&ref=nav&msclkid=3", "http://a.b/"),
    ("http://a.b/p?b=2&a=10&a=1", "http://a.b/p?a=1&a=10&b=2"),
    # path case is preserved; utm params drop wherever they sit
    ("http://a.b/CaseSensitive?x=1&utm_medium=m&y=2",
     "http://a.b/CaseSensitive?x=1&y=2"),
    # a non-default port on http survives
    ("http://a.b:8080/", "http://a.b:8080/"),
]


def test_canonical_forms(spark):
    df = spark.createDataFrame([(u,) for u, _ in CASES], ["url"])
    got = [r[0] for r in df.select(canonicalize_url(F.col("url"))).collect()]
    assert got == [want for _, want in CASES]


def test_plan_is_jvm_only(spark):
    df = spark.createDataFrame([("http://A.b/x?b=1&a=2",)], ["url"])
    plan = df.select(
        canonicalize_url(F.col("url"))
    )._jdf.queryExecution().executedPlan().toString()
    for node in PYTHON_STAGE_NODES:
        assert node not in plan


def test_idempotent(spark):
    df = spark.createDataFrame([(u,) for u, _ in CASES], ["url"])
    once = df.select(canonicalize_url(F.col("url")).alias("c"))
    twice = once.select(canonicalize_url(F.col("c")))
    assert [r[0] for r in twice.collect()] == [w for _, w in CASES]
    assert re  # imported for symmetry with other plan tests
