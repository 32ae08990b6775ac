"""robots.txt parsing and RFC 9309 URL filtering — the crawl-policy
gate a web-scale ingest applies before (or while auditing) a fetch.

Two halves:
- ``parse_robots``: robots.txt bodies → a flat rules table
  ``(host, agent, directive, path, order)`` via one Arrow-batched
  ``mapInPandas`` (the line format is stateful — group membership
  depends on preceding User-agent lines — so this is genuinely
  per-file imperative parsing, the documented exception to
  codegen-first).
- ``robots_verdicts``: pages × rules → per-url allow/deny under the
  RFC 9309 longest-match rule, entirely in JVM codegen: path prefix
  match with ``*``/``$`` wildcard translation to SQL ``LIKE``, the
  most-specific (longest-path) rule wins, Allow wins ties, no match =
  allowed. The rules table is tiny relative to pages (one row per
  directive per host) and broadcasts; pages never shuffle.

Spec: RFC 9309 (Robots Exclusion Protocol). Match length is the raw
path-pattern length (including wildcards), ties prefer Allow; an empty
``Disallow:`` emits no rule (everything allowed); group inheritance
follows §2.2.1: hosts with a group for the exact agent string use ONLY
that group, every other host falls back to its ``*`` group (agent
matching here is exact-string, not the spec's product-token prefix —
the one documented simplification). Bodies are parsed up to the
RFC 9309 §2.5 500 KiB minimum-support limit; bytes beyond it are
ignored, which for a crawl gate is the conservative direction only
when paired with caps on what a hostile host can make us hold — the
truncation also bounds the per-host rules array ``robots_verdicts``
collects.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ROBOTS_RULES_SCHEMA = (
    "host string, agent string, directive string, path string, ord int"
)

# RFC 9309 §2.5: crawlers MUST parse at least 500 KiB and MAY ignore
# the rest. Truncating here bounds both the parse cost and the size of
# the per-host rules array robots_verdicts later collect_list's, so an
# adversarially large robots.txt cannot blow up the broadcast side.
ROBOTS_MAX_BYTES = 500 * 1024


def _truncated(raw: bytes) -> bytes:
    """``raw`` capped at ``ROBOTS_MAX_BYTES``. A line the cap cuts is
    dropped whole: its head alone (``Allow: /publ`` out of
    ``Allow: /public/docs``) would be a broader rule the file never
    had. It is kept only when a line break follows the cut."""
    if len(raw) <= ROBOTS_MAX_BYTES:
        return raw
    head = raw[:ROBOTS_MAX_BYTES]
    if raw[ROBOTS_MAX_BYTES] not in b"\r\n":
        head = head[: max(head.rfind(b"\n"), head.rfind(b"\r")) + 1]
    return head


def parse_robots(
    bodies: DataFrame, host_col: str = "host", body_col: str = "body"
) -> DataFrame:
    """``(host, body)`` robots.txt blobs → flat rules rows. Groups are
    tracked per the spec: consecutive ``User-agent`` lines share the
    following Allow/Disallow block; rules before any agent line are
    ignored; comments (#) and unknown directives are skipped; empty
    Disallow emits nothing. Bodies beyond ``ROBOTS_MAX_BYTES`` are
    truncated at the limit (RFC 9309 §2.5), minus any line it cuts."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for host, body in zip(pdf[host_col], pdf[body_col]):
                if isinstance(body, (bytes, bytearray)):
                    body = _truncated(bytes(body)).decode(
                        "utf-8", errors="replace"
                    )
                elif isinstance(body, str):
                    # cap on the encoded length so str and binary
                    # inputs truncate at the same byte boundary
                    raw = body.encode("utf-8", errors="replace")
                    if len(raw) > ROBOTS_MAX_BYTES:
                        body = _truncated(raw).decode(
                            "utf-8", errors="replace"
                        )
                agents: list[str] = []
                in_group_body = False
                order = 0
                for raw in (body or "").splitlines():
                    line = raw.split("#", 1)[0].strip()
                    if not line or ":" not in line:
                        continue
                    key, _, val = line.partition(":")
                    key, val = key.strip().lower(), val.strip()
                    if key == "user-agent":
                        if in_group_body:
                            agents = []  # a new group starts
                            in_group_body = False
                        agents.append(val.lower())
                    elif key in ("allow", "disallow"):
                        in_group_body = True
                        if not val and key == "disallow":
                            # Empty Disallow = allow-all. Emit it as an
                            # allow-'' row (same shape an empty Allow
                            # already takes): plen 0 loses every
                            # longest-match contest so verdicts are
                            # unchanged, but the row marks GROUP
                            # PRESENCE — without it a 'User-agent:
                            # somebot / Disallow:' group is invisible
                            # and robots_verdicts would wrongly fall
                            # back to the '*' group (RFC 9309 §2.2.1:
                            # the exact group, even an allow-all one,
                            # is used exclusively).
                            key = "allow"
                        for a in agents:
                            rows.append((host, a, key, val, order))
                            order += 1
                    # crawl-delay/unknown: skipped (sitemaps via
                    # parse_sitemap_urls — they are host-scoped, not
                    # group-scoped, so they don't belong in this table)
                yield pd.DataFrame(
                    rows,
                    columns=["host", "agent", "directive", "path", "ord"],
                )
                rows = []

    return bodies.mapInPandas(gen, schema=ROBOTS_RULES_SCHEMA)


def parse_sitemap_urls(
    bodies: DataFrame, host_col: str = "host", body_col: str = "body"
) -> DataFrame:
    """``Sitemap:`` declarations per host — the crawl-seeding output of
    a robots fetch (RFC 9309 §2.3 allows them anywhere in the file,
    outside any agent group, so this is a stateless line extract: pure
    codegen regexp over the body, one explode, no Python). Comments
    strip, values trim, blanks drop."""
    body = (
        F.col(body_col).cast("string")
        if dict(bodies.dtypes)[body_col] == "binary"
        else F.col(body_col)
    )
    lines = F.split(body, "\r?\n")
    maps = F.transform(
        lines,
        lambda ln: F.trim(
            F.regexp_extract(
                F.split(ln, "#", 2)[0], r"(?i)^\s*sitemap\s*:\s*(.*)$", 1
            )
        ),
    )
    return (
        bodies.select(
            F.col(host_col).alias("host"),
            F.explode(F.filter(maps, lambda s: F.length(s) > 0)).alias(
                "sitemap_url"
            ),
        )
    )


def _like_pattern(path: Column) -> Column:
    r"""Translate a robots path pattern to a SQL LIKE pattern:
    escape ``%``/``_``/``\``, map ``*`` → ``%``; a trailing ``$``
    anchors the end (no trailing ``%`` added), otherwise the pattern is
    a prefix (append ``%``)."""
    anchored = path.endswith("$")
    core = F.when(anchored, path.substr(F.lit(1), F.length(path) - 1)).otherwise(
        path
    )
    esc = F.replace(core, F.lit("\\"), F.lit("\\\\"))
    esc = F.replace(esc, F.lit("%"), F.lit("\\%"))
    esc = F.replace(esc, F.lit("_"), F.lit("\\_"))
    esc = F.replace(esc, F.lit("*"), F.lit("%"))
    return F.when(anchored, esc).otherwise(F.concat(esc, F.lit("%")))


def url_path(url: Column) -> Column:
    """Path+query of a url (the part robots rules match against),
    ``/`` when absent — pure regexp. Scheme match is case-insensitive
    like ``host_of``'s: an uppercase-scheme url must not collapse to
    path ``/`` and slip past Disallow rules. The host stops at ``/``
    OR ``?`` so a query-only url (``https://h.com?q=1``) keeps its
    query; a leading-``?`` extract is normalized to ``/?...`` so
    query-targeting rules (``Disallow: /*?*``) still match it."""
    p = F.regexp_extract(
        url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]+([/?].*)?$", 1
    )
    return (
        F.when(F.length(p) == 0, F.lit("/"))
        .when(p.startswith("?"), F.concat(F.lit("/"), p))
        .otherwise(p)
    )


def robots_verdicts(
    pages: DataFrame,
    rules: DataFrame,
    agent: str = "*",
    url_col: str = "url",
    host_of_url: Column | None = None,
) -> DataFrame:
    """Per-url crawl verdict under RFC 9309: rules for ``agent``
    collapse to ONE array row per host (the rules table is tiny — one
    row per directive), broadcast-join pages on host, then the
    longest-match argmax runs inside a higher-order ``aggregate`` over
    the matched subset — pages themselves NEVER shuffle and gain no
    wide node; the only exchange in the plan is the rules-side
    collect_list, a few thousand rows at web scale. Adds
    ``allowed: boolean`` and ``matched_rule: string`` (null when no
    rule matched); no matching rule = allowed, longest path wins,
    Allow wins length ties. Group selection per RFC 9309 §2.2.1: a
    host with a group for ``agent`` uses only that group; hosts
    without one fall back to their ``*`` group (so a
    ``User-agent: *`` / ``Disallow: /`` host denies every agent, not
    just the wildcard one)."""
    from ..functions.urls import host_of
    from pyspark.sql import Window

    host = host_of(F.col(url_col)) if host_of_url is None else host_of_url
    exact = agent.lower()
    cand = rules.where(F.col("agent").isin(exact, "*"))
    if exact != "*":
        # keep '*' rows only for hosts with no exact-agent group; the
        # window shuffles just the tiny rules table (same exchange the
        # groupBy below already pays).
        w = Window.partitionBy("host")
        cand = (
            cand.withColumn(
                "_has_exact",
                F.max((F.col("agent") == exact).cast("int")).over(w),
            )
            .where((F.col("agent") == exact) | (F.col("_has_exact") == 0))
            .drop("_has_exact")
        )
    per_host = (
        cand.select(
            F.col("host").alias("_rhost"),
            F.struct(
                F.col("directive"),
                F.col("path"),
                _like_pattern(F.col("path")).alias("pat"),
                F.length("path").alias("plen"),
            ).alias("_r"),
        )
        .groupBy("_rhost")
        .agg(F.collect_list("_r").alias("_rules"))
    )
    tagged = pages.withColumn("_host", host).withColumn(
        "_path", url_path(F.col(url_col))
    )
    joined = tagged.join(
        F.broadcast(per_host), F.col("_host") == F.col("_rhost"), "left"
    )
    best = joined.withColumn(
        "_best",
        F.expr(
            """
            aggregate(
              filter(coalesce(_rules, array()),
                     r -> _path LIKE r.pat ESCAPE '\\\\'),
              cast(null as struct<directive:string,path:string,
                                  pat:string,plen:int>),
              (acc, r) -> CASE
                WHEN acc IS NULL THEN r
                WHEN r.plen > acc.plen THEN r
                WHEN r.plen = acc.plen AND r.directive = 'allow'
                     AND acc.directive <> 'allow' THEN r
                ELSE acc END)
            """
        ),
    )
    out = best.withColumn(
        "allowed",
        F.col("_best").isNull() | (F.col("_best.directive") == "allow"),
    ).withColumn(
        "matched_rule",
        F.when(
            F.col("_best").isNotNull(),
            F.concat_ws(" ", "_best.directive", "_best.path"),
        ),
    )
    return out.drop("_host", "_path", "_rhost", "_rules", "_best")


def robots_filter(
    pages: DataFrame, rules: DataFrame, agent: str = "*", url_col: str = "url"
) -> DataFrame:
    """Keep only pages whose url the rules allow for ``agent``."""
    return (
        robots_verdicts(pages, rules, agent=agent, url_col=url_col)
        .where(F.col("allowed"))
        .drop("allowed", "matched_rule")
    )
