"""URL canonicalization (operators/urlnorm.py) edge cases."""

from __future__ import annotations

from hainan_big_data_recommend_system_spark.operators.urlnorm import canonical_url


def _canon(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return [
        r["c"] for r in df.select(canonical_url("url").alias("c")).collect()
    ]


def test_canonical_url_rules(spark):
    got = _canon(
        spark,
        [
            "HTTPS://WWW.Example.COM:443/Path/?utm_source=x&b=2&a=1#frag",
            "http://site.org:80/a/b?z=1&utm_campaign=c&y=2",
            "https://www.example.com/Path?a=1&b=2",  # already canonical
            "http://host/",  # root path survives as /
            "http://host",  # empty path -> /
            "ftp://Mixed.Case:80/Z",  # :80 only default for http
            "https://h:8443/x",  # non-default port survives
            "http://h/p?utm_a=1&utm_b=2",  # all params tracking -> none
            "not a url",  # malformed passes through untouched
        ],
    )
    assert got == [
        "https://www.example.com/Path?a=1&b=2",
        "http://site.org/a/b?y=2&z=1",
        "https://www.example.com/Path?a=1&b=2",
        "http://host/",
        "http://host/",
        "ftp://mixed.case:80/Z",
        "https://h:8443/x",
        "http://h/p",
        "not a url",
    ]


def test_canonical_url_collapses_known_equivalents(spark):
    variants = [
        "HTTP://A.B/x?b=2&a=1",
        "http://a.b:80/x?a=1&b=2#z",
        "http://a.b/x/?utm_ref=r&a=1&b=2",
    ]
    assert len(set(_canon(spark, variants))) == 1
