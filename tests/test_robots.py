"""robots.txt parsing + RFC 9309 longest-match filtering
(operators/robots.py): group semantics, wildcard/anchor translation,
precedence, and the pages-never-shuffle plan."""

from __future__ import annotations

from dedupe_algo_spark.operators.robots import (
    parse_robots,
    robots_filter,
    robots_verdicts,
)

ROBOTS = """\
# comment line
User-agent: *
Disallow: /private/
Allow: /private/public/
Disallow: /*.pdf$
Disallow: /tmp

User-agent: evilbot
Disallow: /

User-agent: a
User-agent: b
Disallow: /shared/
"""


def _rules(spark):
    bodies = spark.createDataFrame(
        [("ex.com", ROBOTS), ("open.org", "User-agent: *\nDisallow:\n")],
        "host string, body string",
    )
    return parse_robots(bodies)


def test_parse_groups_and_directives(spark):
    rows = {
        (r.host, r.agent, r.directive, r.path)
        for r in _rules(spark).collect()
    }
    assert ("ex.com", "*", "disallow", "/private/") in rows
    assert ("ex.com", "*", "allow", "/private/public/") in rows
    assert ("ex.com", "evilbot", "disallow", "/") in rows
    # consecutive User-agent lines share one group
    assert ("ex.com", "a", "disallow", "/shared/") in rows
    assert ("ex.com", "b", "disallow", "/shared/") in rows
    # empty Disallow emits an allow-'' GROUP-PRESENCE row (plen 0 —
    # never wins a longest-match contest, so verdicts are unchanged,
    # but the exact-agent fallback window can see the group exists)
    assert {r for r in rows if r[0] == "open.org"} == {
        ("open.org", "*", "allow", "")
    }


def test_verdicts_longest_match_and_wildcards(spark):
    cases = {
        "https://ex.com/": True,  # no match → allow
        "https://ex.com/private/x": False,  # Disallow /private/
        "https://ex.com/private/public/x": True,  # longer Allow wins
        "https://ex.com/doc.pdf": False,  # /*.pdf$ anchored wildcard
        "https://ex.com/doc.pdf.html": True,  # $ anchor: not an end-match
        "https://ex.com/tmpfile": False,  # prefix rule /tmp
        "https://open.org/anything": True,  # empty Disallow host
        "https://unknown.net/x": True,  # host with no robots
    }
    pages = spark.createDataFrame([(u,) for u in cases], "url string")
    got = {
        r.url: r.allowed
        for r in robots_verdicts(pages, _rules(spark)).collect()
    }
    assert got == cases
    # evilbot is fully excluded on ex.com
    kept = robots_filter(pages, _rules(spark), agent="evilbot")
    assert sorted(r.url for r in kept.collect()) == [
        "https://open.org/anything",
        "https://unknown.net/x",
    ]


def test_matched_rule_surface_and_tie_break(spark):
    # equal-length allow/disallow: allow wins (RFC tie-break)
    bodies = spark.createDataFrame(
        [("t.io", "User-agent: *\nDisallow: /a/\nAllow: /b/\n")],
        "host string, body string",
    )
    rules = parse_robots(bodies)
    tie = spark.createDataFrame(
        [("t.io", "*", "disallow", "/x/", 0), ("t.io", "*", "allow", "/x/", 1)],
        "host string, agent string, directive string, path string, ord int",
    )
    pages = spark.createDataFrame([("https://t.io/x/1",)], "url string")
    v = robots_verdicts(pages, tie).collect()[0]
    assert v.allowed and v.matched_rule == "allow /x/"
    v2 = robots_verdicts(
        spark.createDataFrame([("https://t.io/a/z",)], "url string"), rules
    ).collect()[0]
    assert not v2.allowed and v2.matched_rule == "disallow /a/"
    v3 = robots_verdicts(
        spark.createDataFrame([("https://t.io/c",)], "url string"), rules
    ).collect()[0]
    assert v3.allowed and v3.matched_rule is None


def test_plan_pages_never_shuffle(spark, tmp_path):
    from dedupe_algo_spark.plans import exchange_columns, has_broadcast_join

    p = tmp_path / "pages"
    spark.createDataFrame(
        [(f"https://ex.com/p/{i}", f"text {i}") for i in range(50)],
        "url string, text string",
    ).write.parquet(str(p))
    pages = spark.read.parquet(str(p))
    out = robots_verdicts(pages, _rules(spark))
    assert has_broadcast_join(out)
    # the only exchange is the rules-side collect_list: page columns
    # (url, text) never move
    moved = exchange_columns(out)
    assert "url" not in moved and "text" not in moved


def test_like_escape_literals(spark):
    # literal % and _ in robots paths must not act as SQL wildcards
    bodies = spark.createDataFrame(
        [("e.io", "User-agent: *\nDisallow: /100%/\nDisallow: /a_b\n")],
        "host string, body string",
    )
    rules = parse_robots(bodies)
    cases = {
        "https://e.io/100%/x": False,
        "https://e.io/100x/x": True,  # % is literal, not any-string
        "https://e.io/a_b": False,
        "https://e.io/aXb": True,  # _ is literal, not any-char
    }
    pages = spark.createDataFrame([(u,) for u in cases], "url string")
    got = {r.url: r.allowed for r in robots_verdicts(pages, rules).collect()}
    assert got == cases


def test_uppercase_scheme_still_matches_rules(spark):
    bodies = spark.createDataFrame(
        [("ex.com", "User-agent: *\nDisallow: /private/\n")],
        "host string, body string",
    )
    rules = parse_robots(bodies)
    pages = spark.createDataFrame(
        [("HTTPS://ex.com/private/x",)], "url string"
    )
    v = robots_verdicts(pages, rules).collect()[0]
    assert not v.allowed  # an uppercase scheme must not bypass Disallow


def test_star_group_fallback(spark):
    # RFC 9309 §2.2.1: a specific agent with no group of its own falls
    # back to the '*' group; an agent WITH its own group ignores '*'.
    bodies = spark.createDataFrame(
        [
            ("closed.com", "User-agent: *\nDisallow: /\n"),
            (
                "mixed.com",
                "User-agent: *\nDisallow: /\n"
                "User-agent: somebot\nDisallow: /private/\n",
            ),
        ],
        "host string, body string",
    )
    rules = parse_robots(bodies)
    pages = spark.createDataFrame(
        [
            ("https://closed.com/x",),
            ("https://mixed.com/x",),
            ("https://mixed.com/private/x",),
        ],
        "url string",
    )
    got = {
        r.url: r.allowed
        for r in robots_verdicts(pages, rules, agent="somebot").collect()
    }
    assert got == {
        # '*'-only host: Disallow / applies to somebot via fallback
        "https://closed.com/x": False,
        # host with an exact somebot group: '*' is ignored entirely
        "https://mixed.com/x": True,
        "https://mixed.com/private/x": False,
    }


def test_query_only_url_matches_query_rules(spark):
    # a url with a query but no path must not collapse to '/': the
    # query participates in matching ('/?...' normalization).
    bodies = spark.createDataFrame(
        [("q.io", "User-agent: *\nDisallow: /*?*\n")],
        "host string, body string",
    )
    rules = parse_robots(bodies)
    cases = {
        "https://q.io?q=1": False,
        "https://q.io/p?q=1": False,
        "https://q.io/p": True,
        "https://q.io": True,
    }
    pages = spark.createDataFrame([(u,) for u in cases], "url string")
    got = {r.url: r.allowed for r in robots_verdicts(pages, rules).collect()}
    assert got == cases


def test_oversized_body_truncates_at_500kib(spark):
    from dedupe_algo_spark.operators.robots import ROBOTS_MAX_BYTES

    # a rule entirely past the 500 KiB limit is ignored (RFC 9309
    # §2.5); rules before it survive. Same for str and binary bodies.
    pad = "# " + "x" * ROBOTS_MAX_BYTES + "\n"
    body = "User-agent: *\nDisallow: /early/\n" + pad + "Disallow: /late/\n"
    as_str = spark.createDataFrame(
        [("s.io", body)], "host string, body string"
    )
    as_bin = spark.createDataFrame(
        [("b.io", body.encode())], "host string, body binary"
    )
    rows = {
        (r.host, r.path)
        for df in (as_str, as_bin)
        for r in parse_robots(df).collect()
    }
    assert ("s.io", "/early/") in rows and ("b.io", "/early/") in rows
    assert not any(p == "/late/" for _, p in rows)


def test_truncation_drops_the_line_it_cuts(spark):
    """An ``Allow:`` line straddling the 500 KiB cut must not survive as
    its head (``/publ``), which would out-match ``Disallow: /p`` and
    allow urls the intact file disallows; a line that ends exactly at
    the cut is kept. Same for str and binary bodies."""
    from dedupe_algo_spark.operators.robots import ROBOTS_MAX_BYTES

    head = "User-agent: *\nDisallow: /p\n# "
    cut = "Allow: /publ"
    pad = "x" * (ROBOTS_MAX_BYTES - len(head) - 1 - len(cut)) + "\n"
    straddling = head + pad + cut + "ic/docs\n"
    at_cut = head + pad + cut + "\nDisallow: /late/\n"
    assert len((head + pad + cut).encode()) == ROBOTS_MAX_BYTES
    rules = parse_robots(
        spark.createDataFrame(
            [("s.io", straddling), ("e.io", at_cut)], "host string, body string"
        )
    ).unionByName(
        parse_robots(
            spark.createDataFrame(
                [("b.io", straddling.encode())], "host string, body binary"
            )
        )
    )
    got = {(r.host, r.directive, r.path) for r in rules.collect()}
    assert {(h, "disallow", "/p") for h in ("s.io", "b.io", "e.io")} <= got
    assert ("e.io", "allow", "/publ") in got
    assert not any(h != "e.io" and d == "allow" for h, d, _ in got)
    assert not any(p == "/late/" for _, _, p in got)
    pages = spark.createDataFrame(
        [("https://s.io/public/x",), ("https://b.io/public/x",)], "url string"
    )
    assert not any(r.allowed for r in robots_verdicts(pages, rules).collect())


def test_parse_sitemap_urls(spark):
    body = (
        "User-agent: *\nDisallow: /x/\n"
        "Sitemap: https://ex.com/sitemap.xml\n"
        "  sitemap :  https://ex.com/news.xml  # comment\n"
        "Sitemap:\n"  # empty value drops
        "NotASitemap: https://no.example/\n"
    )
    from dedupe_algo_spark.operators.robots import parse_sitemap_urls

    bodies = spark.createDataFrame(
        [("ex.com", body), ("bare.org", "User-agent: *\nDisallow:\n")],
        "host string, body string",
    )
    got = sorted(
        (r.host, r.sitemap_url) for r in parse_sitemap_urls(bodies).collect()
    )
    assert got == [
        ("ex.com", "https://ex.com/news.xml"),
        ("ex.com", "https://ex.com/sitemap.xml"),
    ]


def test_empty_exact_group_suppresses_star_fallback(spark):
    """RFC 9309 §2.2.1: an agent whose OWN group is empty (allow-all,
    'Disallow:' with no value) must use that group exclusively — the
    host's 'User-agent: * / Disallow: /' block does not apply to it.
    The empty Disallow emits an allow-'' presence row, so the
    exact-group window sees the group and drops the '*' rules."""
    from dedupe_algo_spark.operators.robots import parse_robots, robots_verdicts

    bodies = spark.createDataFrame(
        [
            (
                "h1.com",
                "User-agent: somebot\nDisallow:\n\nUser-agent: *\nDisallow: /\n",
            )
        ],
        "host string, body string",
    )
    rules = parse_robots(bodies)
    pages = spark.createDataFrame(
        [("https://h1.com/a",), ("https://h1.com/",)], "url string"
    )
    got = {
        r["url"]: r["allowed"]
        for r in robots_verdicts(pages, rules, agent="somebot").collect()
    }
    assert got == {"https://h1.com/a": True, "https://h1.com/": True}
    # the wildcard agent still sees the '*' group's total Disallow
    star = {
        r["url"]: r["allowed"]
        for r in robots_verdicts(pages, rules, agent="*").collect()
    }
    assert star == {"https://h1.com/a": False, "https://h1.com/": False}
