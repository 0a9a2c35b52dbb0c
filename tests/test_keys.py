import hashlib

from pholcus_spark.keys import (
    absolutize,
    canonicalize_url,
    host_of,
    key_bucket,
    reference_md5_key,
    request_key,
)


def test_canonicalize_lowercases_and_sorts_query():
    u = "HTTP://H001.Test:80/p/1?b=2&a=1#frag"
    assert canonicalize_url(u) == "http://h001.test/p/1?a=1&b=2"


def test_canonicalize_keeps_nondefault_port_and_blank_values():
    assert canonicalize_url("http://x.test:8080/?z=&a=1") == (
        "http://x.test:8080/?a=1&z="
    )


def test_canonicalize_empty_path():
    assert canonicalize_url("http://x.test") == "http://x.test/"


def test_host_of():
    assert host_of("https://A.B.test:443/x") == "a.b.test"
    assert host_of("not a url") == ""


def test_absolutize():
    assert absolutize("http://h.test/a/b", "c") == "http://h.test/a/c"
    assert absolutize("http://h.test/a/", "/z") == "http://h.test/z"
    assert absolutize("http://h.test/", "http://other.test/q") == "http://other.test/q"


def test_request_key_includes_rule_and_method():
    # same URL under two rules → two distinct keys (request.go:139-145)
    k1 = request_key("sp", "list", "http://h.test/p/1")
    k2 = request_key("sp", "detail", "http://h.test/p/1")
    k3 = request_key("sp", "list", "http://h.test/p/1", "POST")
    assert len({k1, k2, k3}) == 3
    assert len(k1) == 40  # sha1 hex


def test_request_key_canonicalization_collapses_equivalent_urls():
    k1 = request_key("sp", "list", "http://H.test/p/1?b=2&a=1")
    k2 = request_key("sp", "list", "http://h.test:80/p/1?a=1&b=2#x")
    assert k1 == k2


def test_reference_md5_key_pins_reference_behavior():
    # exact composition of the reference key (request.go:139-145)
    expect = hashlib.md5(b"splisthttp://h.test/p/1GET").hexdigest()
    assert reference_md5_key("sp", "list", "http://h.test/p/1") == expect
    # reference does NOT sort query keys → different keys
    a = reference_md5_key("sp", "list", "http://h.test/?b=2&a=1")
    b = reference_md5_key("sp", "list", "http://h.test/?a=1&b=2")
    assert a != b


def test_key_bucket_range():
    k = request_key("sp", "list", "http://h.test/p/1")
    b = key_bucket(k, 64)
    assert 0 <= b < 64


def test_spark_column_key_matches_python(spark):
    from pyspark.sql import functions as F

    from pholcus_spark.keys import (
        canonicalize_url_udf,
        host_of_udf,
        key_bucket_col,
        request_key_col,
    )

    rows = [
        ("sp", "list", "http://H001.test:80/p/1?b=2&a=1", "get"),
        ("sp", "detail", "https://h002.test/x", "POST"),
        ("other", "list", "http://h003.test/?q=%20x", "GET"),
    ]
    df = spark.createDataFrame(rows, "spider string, rule string, url string, method string")
    out = (
        df.withColumn("canon", canonicalize_url_udf("url"))
        .withColumn("host", host_of_udf("url"))
        .withColumn(
            "key", request_key_col(F.col("spider"), F.col("rule"), F.col("canon"), F.col("method"))
        )
        .withColumn("bucket", key_bucket_col(F.col("key"), F.lit(64)))
        .collect()
    )
    for r in out:
        assert r.canon == canonicalize_url(r.url)
        assert r.host == host_of(r.url)
        assert r.key == request_key(r.spider, r.rule, r.url, r.method)
        assert r.bucket == key_bucket(r.key, 64)


def test_canonical_split_matches_udf_path(spark):
    """canonical_split (seed_urls_df, PaginateRule rows) must emit
    exactly canonicalize_url_safe's result and its host for every URL
    shape, the keys seed() and the oracle compute."""
    from pholcus_spark.engine import canonical_split
    from pholcus_spark.keys import canonicalize_url_safe, host_of

    urls = [
        "http://h.test/p/0",                      # already canonical
        "https://a-b.test/x/y.png",
        "http://h.test/A%20B/UPPER",              # path case kept
        "http://h.test",                          # no path → adds /
        "HTTP://H.Test/p/0",                      # uppercase
        "http://h.test:80/p/0",                   # default port
        "http://h.test:8080/p/0",                 # port kept
        "http://h.test/p?b=2&a=1",                # query sort
        "http://h.test/p#frag",                   # fragment
        "http://user@h.test/p",                   # userinfo
        "http://h.test/a b",                      # space
        "http://h.test/x\x1f",                    # trailing C0 control
        "http://h.test/y\x1c",                    # (str.strip removes it)
        "http://[::1",                            # malformed → NULL
        "http://h.test:80x/",                     # bad port → NULL
    ]
    df = spark.createDataFrame([(u,) for u in urls], "raw string")
    out = {r.raw: (r.curl, r.host) for r in canonical_split(df, "raw").collect()}
    assert len(out) == len(urls)
    for u in urls:
        expect = canonicalize_url_safe(u)
        got_curl, got_host = out[u]
        assert got_curl == expect, (u, got_curl, expect)
        if expect is not None:
            assert got_host == host_of(expect), u


def test_canon_host_fast_path_is_exact():
    """canon_host returns an already-canonical URL and its host without
    parsing it; that shortcut must give exactly the pair
    canonicalize_url_safe + host_of give, for any URL it accepts and
    any it rejects."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pholcus_spark.keys import (
        _CANONICAL_RE, canon_host, canonicalize_url_safe, host_of,
    )

    def parsed(u):
        c = canonicalize_url_safe(u)
        return c, (host_of(c) if c is not None else None)

    cases = [
        "http://h.test/p/0", "https://a-b.test/x/y.png", "http://h.test/",
        "http://h.test//x", "http://h.test/a;b/../c%zz\\~", "http://h.test",
        "HTTP://h.test/p", "http://H.test/p", "http://h.test:80/p",
        "http://u@h.test/p", "http://h.test/p?q=1", "http://h.test/p#f",
        "http://h.test/a b", "http://h.test/a\tb", "http://h.test/x\x1f",
        "http://h.test/x\x7f", "http://h.test/\xe9", " http://h.test/p",
        "http://[::1]/p", "http://[::1", None, "",
    ]
    for u in cases:
        assert canon_host(u) == parsed(u), u
    assert _CANONICAL_RE.fullmatch("http://h.test/p/0")

    chars = st.sampled_from(
        list("aZz09.-_/:@?#%[]\\~!$&'()*+,;= ") + ["\t", "\n", "\x1f", "\x7f", "\xe9"]
    )

    @settings(max_examples=2000, deadline=None)
    @given(
        st.sampled_from(["http://", "https://", "HTTP://", "ftp://", ""]),
        st.text(chars, max_size=30),
    )
    def prop(scheme, rest):
        u = scheme + rest
        assert canon_host(u) == parsed(u), u

    prop()


def test_canonicalize_never_raises_fuzz():
    """Property: canonicalize_url_safe never raises on arbitrary text
    (crawled hrefs are untrusted; the reference drops unparseable URLs,
    common.go:178-196), and is idempotent on its own output."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pholcus_spark.keys import canonicalize_url_safe

    @settings(max_examples=500, deadline=None)
    @given(st.text(max_size=80))
    def prop(s):
        out = canonicalize_url_safe("http://" + s)
        if out is not None:
            again = canonicalize_url_safe(out)
            assert again == out, (s, out, again)
        assert canonicalize_url_safe(s) is None or isinstance(
            canonicalize_url_safe(s), str
        )

    prop()
