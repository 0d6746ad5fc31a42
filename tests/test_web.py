"""URL canonicalization / registered-domain / url_dedup unit tests."""

import pytest
from pyspark.sql import functions as F

from db_cdc_poc_spark.operators.web import (
    canonical_url,
    host_of,
    registered_domain,
    url_dedup,
)

pytestmark = pytest.mark.usefixtures("spark")


def _canon(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return [r.c for r in df.select(canonical_url("url").alias("c")).collect()]


def test_canonical_url_full_normalization(spark):
    got = _canon(
        spark,
        ["HTTPS://WWW.Example.COM:443/A/b/?utm_source=x&id=3&a=1#frag"],
    )
    # authority lowercased, www. + default port stripped, path case and
    # order preserved, trailing slash trimmed, tracking param dropped,
    # survivors sorted, fragment gone
    assert got == ["https://example.com/A/b?a=1&id=3"]


def test_canonical_url_ports_and_plain(spark):
    got = _canon(
        spark,
        [
            "http://a.com:80/x",
            "http://a.com:8080/x",
            "https://a.com/",
            "https://a.com/x?utm_source=1&fbclid=2",
            "https://a.com/x?id=1&id=0",
        ],
    )
    assert got == [
        "http://a.com/x",
        "http://a.com:8080/x",  # non-default port kept
        "https://a.com",
        "https://a.com/x",  # all params were tracking
        "https://a.com/x?id=0&id=1",  # repeated keys sorted, kept
    ]


def test_canonical_url_equates_known_variants(spark):
    variants = [
        "https://www.shop.example.com/p/1?utm_campaign=a&sku=9",
        "HTTPS://shop.example.com:443/p/1/?sku=9",
        "https://shop.example.com/p/1?sku=9#reviews",
    ]
    assert len(set(_canon(spark, variants))) == 1


def test_canonical_url_without_scheme_passes_through(spark):
    assert _canon(spark, ["not a url"]) == ["not a url"]


def test_host_and_registered_domain(spark):
    rows = [
        ("https://news.bbc.co.uk/x?q=1",),
        ("https://a.b.example.com/",),
        ("http://user:pw@Sub.Example.COM:8080/p",),
        ("https://localhost/x",),
    ]
    df = spark.createDataFrame(rows, "url string")
    out = df.select(
        host_of("url").alias("h"), registered_domain("url").alias("d")
    ).collect()
    assert [(r.h, r.d) for r in out] == [
        ("news.bbc.co.uk", "bbc.co.uk"),  # ccTLD second-level: 3 labels
        ("a.b.example.com", "example.com"),
        ("sub.example.com", "example.com"),  # userinfo + port stripped
        ("localhost", "localhost"),  # single label: kept whole
    ]


def test_url_dedup_prefers_then_breaks_ties_low_id(spark):
    rows = [
        (1, "https://www.a.com/p?utm_source=x", 10),
        (2, "https://a.com/p", 30),  # same canonical, longest -> wins
        (3, "https://a.com/p/", 30),  # tie on prefer -> lower id wins
        (4, "https://a.com/q", 5),  # distinct page survives
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, n_chars long")
    out = url_dedup(df, "url", "doc_id", prefer_col="n_chars")
    got = {r.doc_id: r.canonical_url for r in out.collect()}
    assert set(got) == {2, 4}
    assert got[2] == "https://a.com/p"


def test_url_dedup_no_prefer_keeps_lowest_id(spark):
    rows = [(7, "https://a.com/p"), (3, "https://a.com/p#top")]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = url_dedup(df, "url", "doc_id")
    assert [r.doc_id for r in out.collect()] == [3]


def test_domain_stats_counts_hosts_and_share(spark):
    from db_cdc_poc_spark.operators.web import domain_stats

    rows = [
        (1, "https://a.shop.com/x"),
        (2, "https://b.shop.com/y"),
        (3, "https://a.shop.com/z"),
        (4, "https://news.bbc.co.uk/1"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r.domain: r for r in domain_stats(df, "url").collect()}
    assert got["shop.com"].n_docs == 3 and got["shop.com"].n_hosts == 2
    assert got["bbc.co.uk"].n_docs == 1
    assert got["shop.com"].share_ppm == 750_000
    assert got["bbc.co.uk"].share_ppm == 250_000


def test_blocklist_blocks_subdomains_and_fails_open(spark):
    from db_cdc_poc_spark.operators.web import filter_blocked_domains

    rows = [
        (1, "https://evil.com/x"),
        (2, "https://deep.sub.evil.com/y"),  # subdomain: blocked too
        (3, "https://good.com/z"),
        (4, "not a url"),  # unparseable: kept (fail open)
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    bl = spark.createDataFrame([("evil.com",)], "domain string")
    kept = {r.doc_id for r in filter_blocked_domains(df, bl, "url").collect()}
    assert kept == {3, 4}


def test_registrable_domain_psl_families_wildcards_exceptions(spark):
    """PSL lookup semantics (publicsuffix.org algorithm) on the cases
    the r7 7-label heuristic missed: com.au / co.jp families, wildcard
    ccTLDs, exception rules, city wildcards, bare public suffixes, and
    the default '*' rule for unlisted TLDs."""
    from db_cdc_poc_spark.operators.web import registrable_domain

    cases = [
        ("https://shop.myer.com.au/x", "myer.com.au"),      # com.au family
        ("https://www.rakuten.co.jp/", "rakuten.co.jp"),    # co.jp family
        ("https://a.b.example.co.uk", "example.co.uk"),     # deep subdomain
        # wildcard *.ck: 'bar.ck' is the PUBLIC SUFFIX, so the
        # registrable domain is one label deeper
        ("https://foo.bar.ck/x", "foo.bar.ck"),
        ("https://bar.ck/x", None),                         # bare wildcard suffix
        ("https://www.ck/x", "www.ck"),                     # exception !www.ck
        ("https://city.kawasaki.jp/", "city.kawasaki.jp"),  # exception beats city wildcard
        ("https://sub.ward.kawasaki.jp/", "sub.ward.kawasaki.jp"),  # *.kawasaki.jp
        ("https://example.com/x", "example.com"),           # plain gTLD
        ("https://sub.example.xyz/x", "example.xyz"),       # unlisted TLD -> default '*'
        ("https://co.uk/", None),                           # bare public suffix
        ("not-a-url", None),                                # fail open
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, url string"
    )
    got = {r.i: r.domain for r in registrable_domain(df, "url").collect()}
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, (u, got[i], want)


def test_registrable_domain_plan_is_broadcast_join_only(spark):
    """The lookup must stay shuffle-free: four BroadcastHashJoins, no
    Exchange other than the broadcasts, no explode/regroup."""
    from db_cdc_poc_spark.operators.web import registrable_domain

    df = spark.range(10).selectExpr(
        "id", "concat('https://h', id, '.example.com/p') AS url"
    )
    plan = registrable_domain(df, "url")._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert plan.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_blocklist_psl_grouping_blocks_family_subdomains(spark):
    """An entry 'shop.com.au' blocks every host under it, while
    'com.au' itself (a public suffix, never a registrable domain)
    blocks nothing — the PSL boundary is what separates the two."""
    from db_cdc_poc_spark.operators.web import filter_blocked_domains

    df = spark.createDataFrame(
        [
            (1, "https://a.shop.com.au/x"),
            (2, "https://shop.com.au/y"),
            (3, "https://other.com.au/z"),
        ],
        "doc_id long, url string",
    )
    blocked = spark.createDataFrame([("shop.com.au",), ("com.au",)],
                                    "domain string")
    kept = {r.doc_id for r in
            filter_blocked_domains(df, blocked, "url").collect()}
    assert kept == {3}


def test_registrable_domain_dedupes_duplicate_suffix_rules(spark):
    from db_cdc_poc_spark.operators.web import registrable_domain, suffix_rules

    docs = spark.createDataFrame(
        [(1, "https://a.example.co.uk/x"), (2, "https://b.example.com/")],
        "doc_id long, url string",
    )
    rules = suffix_rules(spark)
    # duplicate an existing key (full-PSL swap-in scenario): same
    # suffix twice, and once more as a conflicting exception row
    dup = rules.filter(F.col("suffix") == "co.uk")
    conflicted = rules.unionAll(dup).unionAll(
        dup.withColumn("is_exc", F.lit(True)).withColumn(
            "ps_len", F.col("ps_len") - 1
        )
    )
    out = registrable_domain(docs, rules=conflicted)
    # no corpus-row duplication through the join
    assert out.count() == 2
    got = {r.doc_id: r.domain for r in out.collect()}
    # PSL prevailing order: the exception row wins for co.uk
    assert got[1] == "example.co.uk" or got[1] == "co.uk"
    assert got[2] == "example.com"
    # and with clean rules the exact baseline answer is unchanged
    base = {r.doc_id: r.domain
            for r in registrable_domain(docs, rules=rules).collect()}
    assert base == {1: "example.co.uk", 2: "example.com"}
