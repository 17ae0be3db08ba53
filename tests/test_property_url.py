"""Property-based tests for the URL surface (VERDICT r11 item 8):
hypothesis composes hostile-but-well-formed URLs — userinfo, explicit
ports, IPv4 literals, punycode (IDN) labels, trailing root dots,
%-encoding, empty paths/queries/fragments — and

* ``url_parts`` must agree with Python's ``urllib.parse.urlsplit``
  component-for-component (the independent reference parser);
* ``registrable_domain_col`` must agree with the pure-Python PSL twin
  ``registrable_domain_py`` on the same bundled rules;
* ``url_normalize`` must be IDEMPOTENT (a canonical form is a fixed
  point) and its output re-parse to the lowercased host.

Each hypothesis example is a LIST of URLs evaluated in one Spark job
(the repo's property-test precedent: a job per draw would pay ~1 s per
example for the same coverage).

Documented generator constraints, where the two parsers genuinely
diverge on inputs that are not RFC-valid hostnames: no underscores in
host labels and labels start with a LETTER (java.net.URI enforces RFC
2396 domainlabel/toplabel — a digit-initial top label like "a.0b" makes
try_parse_url yield NULL host — while urllib accepts both), no IPv6
literals (urlsplit strips brackets), and host comparison is
case-insensitive (urlsplit.hostname lowercases, try_parse_url preserves
case; DNS is case-insensitive).
"""

from urllib.parse import urlsplit

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from siuba_spark import SparkTbl
from siuba_spark.corpus.psl import load_default_rules, registrable_domain_py
from siuba_spark.corpus.text import (
    registrable_domain_col, url_normalize, url_parts,
)

label_st = st.one_of(
    st.text("abcdefz0123456789", min_size=1, max_size=8)
    .map(lambda s: "a" + s),               # letter-initial (RFC 2396)
    st.text("abcdefz0123456789", min_size=1, max_size=4)
    .map(lambda s: f"a{s}-{s}b"),          # interior hyphens
    st.text("abcd01", min_size=2, max_size=6)
    .map(lambda s: f"xn--{s}b"),           # punycode / IDN labels
    st.sampled_from(["A", "eX", "WWW", "Com"]),  # mixed case
)

host_st = st.one_of(
    st.lists(label_st, min_size=1, max_size=4).map(".".join),
    st.tuples(st.integers(0, 255), st.integers(0, 255),
              st.integers(0, 255), st.integers(0, 255))
    .map(lambda t: ".".join(map(str, t))),  # IPv4 literal
)

pct_st = st.text("abc019", min_size=0, max_size=4).map(
    lambda s: s + "%2Fx%20y")  # literal %-escapes, kept byte-exact

seg_st = st.one_of(st.text("abc019._-", min_size=1, max_size=6), pct_st)

url_st = st.builds(
    lambda scheme, userinfo, host, root_dot, port, segs, query, frag: (
        scheme + "://"
        + (userinfo + "@" if userinfo else "")
        + host + ("." if root_dot and not host[-1].isdigit() else "")
        + (f":{port}" if port else "")
        + "".join("/" + s for s in segs)
        + ("?" + query if query is not None else "")
        + ("#" + frag if frag is not None else "")),
    scheme=st.sampled_from(["http", "https", "ftp"]),
    userinfo=st.one_of(st.none(), st.sampled_from(
        ["u", "user:pw", "a%40b:x"])),
    host=host_st,
    root_dot=st.booleans(),
    port=st.one_of(st.none(), st.integers(1, 65535)),
    segs=st.lists(seg_st, min_size=0, max_size=3),
    query=st.one_of(st.none(), st.sampled_from(
        ["", "a=1", "b=2&a=1", "k=%2F%20", "bare", "utm_source=x&z=1",
         "a=1&a=0"])),
    frag=st.one_of(st.none(), st.sampled_from(["", "top", "s%202"])),
)


@settings(max_examples=6, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(st.lists(url_st, min_size=20, max_size=40))
def test_url_parts_agrees_with_urllib(spark, urls):
    t = SparkTbl(spark.createDataFrame([(u,) for u in urls], "url string"))
    out = (url_parts(t, "url", parts=("protocol", "host", "path", "query",
                                      "ref", "userinfo"), domain=False)
           .df.toPandas())
    for row in out.itertuples(index=False):
        want = urlsplit(row.url)
        assert row.protocol == want.scheme, row.url
        # urlsplit.hostname lowercases and keeps a trailing root dot
        assert (row.host or "").lower() == (want.hostname or ""), row.url
        assert (row.path or "") == want.path, row.url
        assert (row.query or "") == want.query, row.url
        assert (row.ref or "") == want.fragment, row.url
        ui = (want.username or "") + (
            ":" + want.password if want.password is not None else "")
        assert (row.userinfo or "") == ui, row.url


# suffixes that exercise every rule class in the bundled PSL file, plus
# unknown TLDs that fall to the implicit "*" rule
_RULES = load_default_rules()
suffix_st = st.sampled_from(
    ["com", "org", "zz", "co.uk", "co.il", "com.pl", "co.th", "ck",
     "www.ck", "gov.ck", "kobe.jp", "city.kobe.jp", "co.jp",
     "example", "co", "uk."])

psl_host_st = st.one_of(
    st.tuples(st.lists(label_st, min_size=0, max_size=3), suffix_st)
    .map(lambda t: ".".join(t[0] + [t[1]])),
    host_st,
)


@settings(max_examples=6, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(st.lists(psl_host_st, min_size=20, max_size=50))
def test_registrable_domain_matches_python_psl_twin(spark, hosts):
    t = SparkTbl(spark.createDataFrame([(h,) for h in hosts],
                                       "host string"))
    out = (t.df.withColumn("d", registrable_domain_col(F.col("host")))
           .toPandas())
    for h, d in zip(out.host, out.d):
        assert d == registrable_domain_py(h, _RULES), h


@settings(max_examples=6, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(st.lists(url_st, min_size=15, max_size=30))
def test_url_normalize_idempotent_and_lowercase_host(spark, urls):
    t = SparkTbl(spark.createDataFrame([(u,) for u in urls], "url string"))
    once = url_normalize(t, "url", out="n1")
    twice = url_normalize(once, "n1", out="n2")
    out = (url_parts(twice, "n1", parts=("host",), prefix="p_",
                     domain=False)
           .df.toPandas())
    for row in out.itertuples(index=False):
        assert row.n2 == row.n1, (row.url, row.n1, row.n2)
        if row.n1 is not None:
            assert row.p_host == row.p_host.lower(), row.n1
            assert not row.p_host.endswith("."), row.n1


@settings(max_examples=6, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(st.lists(psl_host_st, min_size=20, max_size=50))
def test_psl_two_stage_lowering_equals_single_expression(spark, hosts):
    """attach_registrable_domain (the hot-path two-stage lowering) and
    registrable_domain_expr (the single expression) are the same
    function of the host — pinned so a future optimization of one
    cannot drift from the other."""
    from siuba_spark.corpus.psl import attach_registrable_domain

    t = SparkTbl(spark.createDataFrame([(h,) for h in hosts],
                                       "host string"))
    df = t.df.withColumn("d1", registrable_domain_col(F.col("host")))
    df = attach_registrable_domain(df, F.col("host"), "d2", _RULES)
    out = df.toPandas()
    for h, d1, d2 in zip(out.host, out.d1, out.d2):
        assert d1 == d2, h


def test_psl_case_cache_serves_each_rule_set_its_own_case(spark, monkeypatch):
    """The compiled-CASE cache must not key on ``id(rules)``: a recycled
    id would serve a stale CASE built for another rule set.  With every
    id() forced equal, two different rule sets still get their own
    domains."""
    from siuba_spark.corpus import psl

    monkeypatch.setattr(psl, "id", lambda _obj: 0, raising=False)
    monkeypatch.setattr(psl, "_CASE_CACHE", {})
    hosts = ["www.shop.co.uk", "a.b.example.com"]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    for text in ("co.uk\n", "example.com\n"):
        rules = psl.parse_psl(text)
        got = psl.attach_registrable_domain(df, F.col("host"), "d", rules)
        assert ({r.host: r.d for r in got.collect()}
                == {h: psl.registrable_domain_py(h, rules) for h in hosts})
