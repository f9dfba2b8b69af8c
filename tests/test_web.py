"""URL canonicalization semantics: hand-checked cases."""

from __future__ import annotations

from pyspark.sql import functions as F

from georaster_spark.functions.web import canonical_url


def test_canonical_url_hand_checked(spark):
    cases = [
        # scheme + www + host case + default port + trailing slash +
        # tracking params + fragment all stripped
        ("https://WWW.Ex.COM:443/a/5/?utm_source=x&utm_medium=y#f", "ex.com/a/5"),
        ("http://ex.com/a/5", "ex.com/a/5"),
        # query-only URL (no path): host extraction must stop at '?'
        ("https://ex.com?utm_campaign=z", "ex.com"),
        # path case is PRESERVED (paths are case-sensitive)
        ("http://www.EX.com/A/5", "ex.com/A/5"),
        # non-default port is kept
        ("https://ex.com:8080/x", "ex.com:8080/x"),
        # non-tracking params are kept; fbclid/gclid are stripped
        ("https://ex.com/p?id=7&fbclid=abc", "ex.com/p?id=7"),
    ]
    df = spark.createDataFrame(cases, "url string, expected string")
    out = df.select("expected", canonical_url(F.col("url")).alias("got")).collect()
    for r in out:
        assert r.got == r.expected, (r.expected, r.got)
