"""Soft-404 detection: pages that return HTTP 200 but are really error
pages ("page not found" rendered with a success status).

Crawlers must catch these or the page store fills with millions of
identical error shells and the dedup/index stages waste work on them.
The classic detector (Bar-Yossef, Broder, Kumar, Tomkins — WWW 2004,
"Sic transit gloria telae") probes each host with a known-bogus URL; an
offline corpus can't probe, so this is the standard content-side
heuristic battery used as its first-pass filter:

  title_strong  title matches the unambiguous markers 404 / "not found"
  title_error   title matches any marker incl. the ambiguous "error"
  body_error    body contains an error phrase ("page not found",
                "does not exist", "no longer available")
  body_tiny     extracted text is shorter than `tiny_chars`

verdict: title_strong
         OR (title_error AND (body_error OR body_tiny))
         OR (body_error AND body_tiny)

Each ambiguous signal needs corroboration: "Error Handling in Java"
(weak title, long clean body) is not flagged; a long article that merely
*discusses* 404s in its body is not flagged; an empty-ish page without
error language is not flagged. "404 Not Found" in the title alone IS
decisive — no real page titles itself that.

All pure JVM Column expressions (regexp + length) — whole-stage codegen,
zero Python, trivially partition-parallel at any scale. No counterpart in
the reference crawler (it trusts the status code); extends SURVEY.md §2.11.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TITLE_STRONG_RE = r"(?i)\b(404|not found)\b"
TITLE_ERROR_RE = r"(?i)\b(404|not found|error)\b"
BODY_ERROR_RE = r"(?i)(page not found|does not exist|no longer available)"


def soft404_signals(
    pages: DataFrame,
    title_col: str = "title",
    body_col: str = "text",
    tiny_chars: int = 80,
) -> DataFrame:
    """Append the four signal columns and the soft404 verdict."""
    title_strong = F.coalesce(
        F.col(title_col).rlike(TITLE_STRONG_RE), F.lit(False)
    )
    title_error = F.coalesce(
        F.col(title_col).rlike(TITLE_ERROR_RE), F.lit(False)
    )
    body_error = F.coalesce(
        F.col(body_col).rlike(BODY_ERROR_RE), F.lit(False)
    )
    body_tiny = F.coalesce(
        F.length(body_col) < tiny_chars, F.lit(True)
    )
    return (
        pages.withColumn("title_strong", title_strong)
        .withColumn("title_error", title_error)
        .withColumn("body_error", body_error)
        .withColumn("body_tiny", body_tiny)
        .withColumn(
            "soft404",
            F.col("title_strong")
            | (
                F.col("title_error")
                & (F.col("body_error") | F.col("body_tiny"))
            )
            | (F.col("body_error") & F.col("body_tiny")),
        )
    )
