"""RFC 9309 standards-mode robots evaluation (beyond reference, opt-in).

The crawl plan keeps the reference's quirk-exact predicate
(functions/robots.py, XPathCrawlerThread.java:436-491) because the parity
gate depends on it byte-for-byte. A production crawl needs the standard
instead: per-group Allow/Disallow with '*' / '$' wildcards, longest-match
precedence, Allow winning length ties, and undefined paths allowed.

Spark shape: robots bodies parse DISTRIBUTED in the quirk path's own Arrow
batch (functions/robots.py build_robots_df(with_standard=True) adds a
per-host `std_rules` array, each rule pre-compiled to an anchored regex +
its RFC match length), and the per-URL verdict is a pure JVM expression —
`filter(rules, r -> regexp_like(path, r.pattern))` then an `aggregate`
longest-match fold. No Python touches the frontier.

RFC 9309 semantics implemented:
  - groups = consecutive User-agent lines + following rules; a crawler
    matches a group by exact product token (case-insensitive); ALL matching
    groups merge; the '*' groups apply only when no specific group matched
  - empty Allow/Disallow values are no-ops; comments (#) stripped
  - match target is the percent-decoded-as-is path + optional '?query'
  - precedence: longest rule (octets of the pattern) wins; tie -> Allow
  - no matching rule, or no robots record at all -> allowed
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from .text import bind_once

DEFAULT_AGENT = "cis455crawler"


def rule_to_regex(rule: str) -> str:
    """One Allow/Disallow path pattern -> anchored Java-compatible regex:
    '*' -> '.*', trailing '$' -> end anchor, everything else literal."""
    anchored_end = rule.endswith("$")
    body = rule[:-1] if anchored_end else rule
    parts = [".*" if c == "*" else re.escape(c) for c in body]
    return "^" + "".join(parts) + ("$" if anchored_end else "")


def parse_robots_standard(body: str, agent: str = DEFAULT_AGENT) -> list[tuple]:
    """RFC 9309 group parsing -> [(pattern_regex, rule_len, is_allow)].
    rule_len is the octet length of the original path pattern (the RFC's
    longest-match measure)."""
    agent = agent.lower()
    groups: list[tuple[set, list]] = []  # (agent tokens, [(is_allow, path)])
    cur_agents: set[str] | None = None
    in_agent_run = False
    for raw in body.splitlines():
        line = raw.split("#", 1)[0]
        if ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if not in_agent_run:
                cur_agents = set()
                groups.append((cur_agents, []))
            in_agent_run = True
            cur_agents.add(value.lower())
        elif key in ("allow", "disallow"):
            in_agent_run = False
            if cur_agents is None:
                continue  # rules before any User-agent line: no group
            if value:
                groups[-1][1].append((key == "allow", value))
        else:
            in_agent_run = False  # crawl-delay/sitemap end an agent run too

    specific = [rules for agents, rules in groups if agent in agents]
    chosen = specific if specific else [
        rules for agents, rules in groups if "*" in agents
    ]
    return [
        (rule_to_regex(path), len(path), is_allow)
        for rules in chosen
        for is_allow, path in rules
    ]


def url_path_of(url: Column | str) -> Column:
    """path[?query] — the RFC 9309 match target. The authority ends at the
    first of '/' or '?' (same cut canonicalize_url makes): a URL like
    http://host?a=1 has path '/' but KEEPS its query, so a
    `Disallow: /*?a=1` rule still matches it (ADVICE r3)."""
    u = F.col(url) if isinstance(url, str) else url
    rest = F.substr(
        u, F.length(F.substring_index(u, "://", 1)) + F.lit(4), F.length(u)
    )
    rest = F.when(u.contains("://"), rest).otherwise(u)
    slash, qmark = F.instr(rest, "/"), F.instr(rest, "?")
    p = (
        F.when(
            (slash > 0) & ((qmark == 0) | (slash < qmark)),
            F.substr(rest, slash, F.length(rest)),
        )
        # query with no path slash: path defaults to '/', query retained
        .when(qmark > 0, F.concat(F.lit("/"), F.substr(rest, qmark, F.length(rest))))
        .otherwise(F.lit("/"))
    )
    return p


def allowed_standard(path: Column, rules: Column) -> Column:
    """RFC 9309 verdict as one JVM expression: keep matching rules, fold to
    the longest (Allow wins ties), default allow. NULL rules (host without
    robots after a left join) -> allowed.

    `path` is bound once per row (functions/text.py bind_once) before the
    per-rule filter lambda references it: HOF lambda bodies re-evaluate
    captured expressions PER ELEMENT, and the crawl plan passes the
    url_path_of() substr/instr chain here — unbound, that chain would
    re-run once per robots rule per URL."""

    def _over_path(p: Column) -> Column:
        matched = F.filter(rules, lambda r: F.regexp_like(p, r["pattern"]))
        best = F.aggregate(
            matched,
            F.struct(F.lit(-1).alias("rlen"), F.lit(True).alias("allow")),
            lambda acc, r: F.when(
                (r["rlen"] > acc["rlen"]) | ((r["rlen"] == acc["rlen"]) & r["allow"]),
                F.struct(r["rlen"].alias("rlen"), r["allow"].alias("allow")),
            ).otherwise(acc),
        )
        return best["allow"]

    return F.when(rules.isNull(), F.lit(True)).otherwise(
        bind_once(path, _over_path)
    )
