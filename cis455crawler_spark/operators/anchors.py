"""Anchor-text extraction and anchor postings (beyond reference).

The reference ranks a word higher when it appears in the page's OWN <title>
(+0.3) or <meta> tags (+0.2) (Indexer/src/edu/upenn/cis455/mapreduce/job/
Indexer.java:222-226) but never uses the text OTHER pages use when linking to
a page — the signal production web rankers have treated as the strongest
short-query feature since PageRank-era search, and a standard quality/topic
label column in LLM-corpus pipelines (the web's own human-written summary of
the target page).

Pipeline shape (every shuffle keyed, no all-pairs anywhere):

    pages(url, html) --one Arrow pass--> explode (src_url, href, anchor)
      -> resolve_href (the quirk-exact JVM resolver, functions/urls.py)
      -> tokenize + stopword filter (JVM)
      -> groupBy(target_url, word).count  ->  anchor postings

100-TB notes: the extraction UDF is the same single-Arrow-pass pattern as the
crawl parse (html crosses the JVM/Python boundary once); the aggregation is a
partial+final hash agg on (target_url, word); joining anchor terms into a
serve-path query broadcasts the per-query hit set, never the postings table.
Targets are resolved URLs, so the output joins the page store on its bucketed
url key without a reshuffle of the big side.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions.html import _ANYTAG, _HREF, _WS, _htmllib
from ..functions.text import remove_stopwords, tokenize
from ..functions.urls import resolve_href

# every <a ...> opening tag starts an anchor; its text runs to the NEXT
# anchor boundary — a </a> OR another <a (auto-close: nested/unclosed <a> is
# invalid HTML, and browsers and the reference's JTidy DOM both start a new
# anchor at the second <a, so an unclosed anchor must not swallow its
# successors' text or drop their hrefs)
_A_OPEN = re.compile(rb"<a\b([^>]*)>", re.IGNORECASE)
_A_BOUND = re.compile(rb"</a\s*>|<a\b", re.IGNORECASE)


def extract_anchor_pairs_py(html_bytes: bytes | None) -> list[dict]:
    """[(href, anchor_text)] for every <a href=...> in document order.

    href parsing reuses the crawl kernel's attribute regex
    (functions/html.py `_HREF` — the same quoting variants the reference's
    DOM walk accepts); anchor text is the markup between the opening tag and
    the next anchor boundary, tags stripped, entities unescaped, whitespace
    collapsed — the same normalization extract_text_py applies to page text,
    so anchor tokens and body tokens agree on tokenization downstream.
    Anchors without an href are skipped (they cannot vote for a target)."""
    if html_bytes is None:
        return []
    out: list[dict] = []
    for m in _A_OPEN.finditer(html_bytes):
        hm = _HREF.search(m.group(1))
        if hm is None:
            continue
        href = next(g for g in hm.groups() if g is not None).decode("iso-8859-1")
        b = _A_BOUND.search(html_bytes, m.end())
        inner = html_bytes[m.end() : b.start() if b else len(html_bytes)]
        inner = _ANYTAG.sub(b" ", inner)
        anchor = _WS.sub(" ", _htmllib.unescape(inner.decode("iso-8859-1"))).strip()
        out.append({"href": href, "anchor": anchor})
    return out


ANCHOR_PAIR_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("href", T.StringType()),
            T.StructField("anchor", T.StringType()),
        ]
    )
)


@pandas_udf(ANCHOR_PAIR_TYPE)
def extract_anchor_pairs_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_anchor_pairs_py)


def anchor_pairs(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(src_url, target_url, anchor) — one row per <a> tag whose href
    survives the reference's junk filter, with target_url resolved by the
    quirk-exact resolver (absolute hrefs drop; relative resolve against the
    page URL per XPathCrawlerThread.java:301-321)."""
    exploded = pages.select(
        F.col(url_col).alias("src_url"),
        F.explode(extract_anchor_pairs_udf(F.col(html_col))).alias("a"),
    )
    return exploded.select(
        "src_url",
        resolve_href(F.col("src_url"), F.col("a.href")).alias("target_url"),
        F.col("a.anchor").alias("anchor"),
    ).where(F.col("target_url").isNotNull())


def anchor_postings(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(target_url, word, anchor_tf) — how many in-links mention `word` when
    pointing at target_url. Tokenization and the 25-stopword filter are the
    indexer's own (functions/text.py), so these postings join body postings
    on `word` without re-normalization."""
    pairs = anchor_pairs(pages, url_col=url_col, html_col=html_col)
    words = pairs.select(
        "target_url",
        F.explode(remove_stopwords(tokenize(F.col("anchor")))).alias("word"),
    )
    return words.groupBy("target_url", "word").agg(F.count("*").alias("anchor_tf"))


def anchor_consensus(
    pairs: DataFrame, max_anchors_per_dst: int = 10000
) -> DataFrame:
    """Most-common anchor text per link target — the label the web gives
    a page (feeds ranking and snippet fallback; anchor-text consensus is
    the classic relevance signal the postings above index per-term, here
    collapsed to one canonical label per page).

    (dst, n_anchor_texts, top_anchor, top_count, share). Struct-max picks
    the winner (highest count, tie -> lexicographically larger anchor) —
    the same deterministic rule on every engine, no window over dst. A
    target with more distinct anchor texts than `max_anchors_per_dst` is
    anchor-spammed; its rows are dropped before the rollup (df-cap
    shape)."""
    counts = pairs.groupBy("dst", "anchor").agg(F.count("*").alias("cnt"))
    per_dst = counts.groupBy("dst").agg(
        F.count("*").alias("n_anchor_texts")
    )
    ok = per_dst.filter(F.col("n_anchor_texts") <= max_anchors_per_dst)
    top = (
        counts.join(ok, "dst")
        .groupBy("dst")
        .agg(
            F.first("n_anchor_texts").alias("n_anchor_texts"),
            F.max(F.struct(F.col("cnt"), F.col("anchor"))).alias("_m"),
            F.sum("cnt").alias("_total"),
        )
    )
    return top.select(
        "dst",
        "n_anchor_texts",
        F.col("_m.anchor").alias("top_anchor"),
        F.col("_m.cnt").alias("top_count"),
        F.round(F.col("_m.cnt") / F.col("_total"), 6).alias("share"),
    )
