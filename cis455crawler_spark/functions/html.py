"""HTML column functions — Arrow-batched pandas UDFs for link & text
extraction over the ``html: binary`` column, plus JVM-side title extraction.

These are the ONLY pandas UDFs on the crawl hot path (per the design: no
per-row Python; everything else is built-in Column expressions). Both are
scalar Arrow UDFs: one Python invocation per ~10k-row Arrow batch, vectorized
inside with compiled regexes.

Reference behavior being re-expressed:
  * link extraction collects href of every <link> tag then every <a> tag, in
    document order (XPathCrawlerThread.java:293-353 via JTidy DOM)
  * text extraction is Jsoup's Document.text() — tags stripped, whitespace
    normalized (Extract/src/fetch/FetchDocs.java:200-204)
  * title is the substring between <title> and </title>
    (Extract/src/fetch/FetchDocs.java:98-99)
  * meta extraction is the indexer's LINE-based scan
    (Indexer/src/edu/upenn/cis455/mapreduce/job/Indexer.java:102-140): a line
    containing `<meta` with name="Description"/"description" contributes
    everything after the first `content=` (falling back to `Content=`) on
    that line, lowercased; name="Keywords"/"keywords" likewise with commas
    replaced by spaces. The remainder keeps the trailing `">` junk — the
    reference tokenizes it away later, and so does postings().
"""

from __future__ import annotations

import html as _htmllib
import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# --- pure-python kernels (shared with the corpus generator so the fixture
# --- `text` column is byte-identical with the engine UDF output by build) ---

_TAG_LINK_OR_A = re.compile(rb"<(link|a)\b[^>]*>", re.IGNORECASE | re.DOTALL)
_HREF = re.compile(
    rb"""href\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]+))""", re.IGNORECASE
)
_SCRIPT = re.compile(rb"<script\b.*?</script\s*>", re.IGNORECASE | re.DOTALL)
_STYLE = re.compile(rb"<style\b.*?</style\s*>", re.IGNORECASE | re.DOTALL)
_COMMENT = re.compile(rb"<!--.*?-->", re.DOTALL)
_ANYTAG = re.compile(rb"<[^>]+>")
_WS = re.compile(r"\s+")


def extract_hrefs_py(html_bytes: bytes | None) -> list[str]:
    """All href values of <link> tags (document order) then <a> tags
    (document order) — the reference's two getElementsByTagName passes."""
    if html_bytes is None:
        return []
    links: list[str] = []
    anchors: list[str] = []
    for m in _TAG_LINK_OR_A.finditer(html_bytes):
        hm = _HREF.search(m.group(0))
        if hm is None:
            continue
        val = next(g for g in hm.groups() if g is not None)
        target = links if m.group(1).lower() == b"link" else anchors
        target.append(val.decode("iso-8859-1"))
    return links + anchors


def extract_text_py(html_bytes: bytes | None) -> str | None:
    """Deterministic html→text: drop script/style/comments, strip tags,
    unescape entities, collapse whitespace (Jsoup .text() shape)."""
    if html_bytes is None:
        return None
    b = _SCRIPT.sub(b" ", html_bytes)
    b = _STYLE.sub(b" ", b)
    b = _COMMENT.sub(b" ", b)
    b = _ANYTAG.sub(b" ", b)
    s = _htmllib.unescape(b.decode("iso-8859-1"))
    return _WS.sub(" ", s).strip()


# str.splitlines boundary characters reachable from iso-8859-1 ( /
# need multi-byte encodings and can't appear): these 8 bytes delimit exactly
# the lines the decoded-splitlines scan would see, so meta lines can be cut
# out of the raw bytes without decoding the whole document.
_LINE_BOUND_BYTES = (b"\n", b"\r", b"\x0b", b"\x0c", b"\x1c", b"\x1d", b"\x1e", b"\x85")
_LINE_BOUND_RE = re.compile(rb"[\n\r\x0b\x0c\x1c\x1d\x1e\x85]")
_META_SCAN_MIN_BYTES = 4096  # measured crossover vs decode+splitlines


def _iter_meta_lines(hb: bytes):
    """Yield each distinct line containing ``<meta`` (decoded iso-8859-1,
    document order) without decoding or splitting the rest of the document —
    the full decode+splitlines was the dominant per-page cost of meta
    extraction in the parse kernel. Byte-identical to
    ``[l for l in hb.decode("iso-8859-1").splitlines() if "<meta" in l]``
    (property-tested): iso-8859-1 maps bytes to chars 1:1, so a boundary-free
    byte run IS the splitlines element, and a \\r\\n pair is covered because
    both bytes are boundaries and the backward scan picks the latest one."""
    pos = hb.find(b"<meta")
    lo = 0  # lines are disjoint and ordered: never scan back past the last one
    while pos != -1:
        start = 0
        for b in _LINE_BOUND_BYTES:
            i = hb.rfind(b, lo, pos)
            if i + 1 > start:
                start = i + 1
        start = max(start, lo)
        m = _LINE_BOUND_RE.search(hb, pos)
        end = m.start() if m else len(hb)
        yield hb[start:end].decode("iso-8859-1")
        lo = end
        pos = hb.find(b"<meta", end)


def extract_meta_py(html_bytes: bytes | None) -> str | None:
    """Space-joined meta Description/Keywords content values, lowercased —
    the quirk-exact line scan of Indexer.java:102-140.

    Faithful quirks kept:
      * line-based: only the meta tag's OWN line is inspected; a tag split
        across lines contributes nothing, trailing text on the line does
      * ``split("content=")[1]``: the segment after the FIRST ``content=``
        up to the NEXT occurrence (Java String.split element 1)
      * description and keywords are independent ifs — a line naming both
        appends twice; keywords replaces ',' with ' ' first
      * the raw remainder (quotes, ``">``, trailing attrs) is kept; token
        membership downstream strips it exactly like the reference's
        lemmatize() tokenization does
    """
    if html_bytes is None:
        return None
    # under ~4 KB the one-shot decode+splitlines wins (measured crossover);
    # above it the bytes line-scan avoids materializing every line of a
    # large page just to find the couple containing "<meta"
    if len(html_bytes) < _META_SCAN_MIN_BYTES:
        lines = (l for l in html_bytes.decode("iso-8859-1").splitlines() if "<meta" in l)
    else:
        lines = _iter_meta_lines(html_bytes)
    out: list[str] = []
    for line in lines:

        def remainder(cur: str) -> str | None:
            if "content=" in cur:
                return cur.split("content=")[1]
            if "Content=" in cur:
                return cur.split("Content=")[1]
            return None

        if 'name="Description"' in line or 'name="description"' in line:
            r = remainder(line)
            if r is not None:
                out.append(r.lower())
        if 'name="Keywords"' in line or 'name="keywords"' in line:
            r = remainder(line)
            if r is not None:
                out.append(r.replace(",", " ").lower())
    return " ".join(out)


# --- Arrow-batched UDFs ---


@pandas_udf(
    T.StructType(
        [
            T.StructField("hrefs", T.ArrayType(T.StringType())),
            T.StructField("text", T.StringType()),
            T.StructField("meta", T.StringType()),
        ]
    )
)
def parse_page_udf(html: pd.Series) -> pd.DataFrame:
    """hrefs + text + meta in ONE Arrow pass — the html column (the widest
    column on the crawl path) crosses the JVM/Python boundary once, not
    three times."""
    return pd.DataFrame(
        {
            "hrefs": html.map(extract_hrefs_py),
            "text": html.map(extract_text_py),
            "meta": html.map(extract_meta_py),
        }
    )


@pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_text_py)


# --- JVM-side helpers ---


def title_of(html_str: Column) -> Column:
    """First <title>…</title> payload (FetchDocs.java:98-99)."""
    return F.regexp_extract(html_str, r"(?s)<title>(.*?)</title>", 1)


def html_as_string(html_bin: Column | str) -> Column:
    """binary → string for JVM-side regex ops (fixtures are ASCII/latin-1)."""
    c = F.col(html_bin) if isinstance(html_bin, str) else html_bin
    return c.cast("string")
