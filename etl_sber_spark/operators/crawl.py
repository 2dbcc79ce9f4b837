"""Crawl preprocessing: raw (url, html) pages → curate-ready documents.

The composed front-end stage that runs BEFORE operators/curate.py's
text gates: extract visible text, canonicalize the URL, apply domain
lists, and collapse URL-level duplicates (the same page fetched under
tracking-param / www / port / fragment variants). Mirrors the
curate_corpus contract — one row in, one row out, ``drop_reason`` NULL
for keepers and the FIRST rejecting gate otherwise, min-id survivors,
no RNG — so the two stages chain: ``preprocess_crawl(...) →
filter(drop_reason IS NULL) → curate_corpus(...)``.

Gate order is again the cost ladder: projections first (URL parse, text
extraction — zero shuffles), the domain-list equi-join next (distinct
URLs only), the URL-dedup hash-aggregate last, restricted to rows that
survived everything cheaper. At 100 TB the only corpus-wide shuffle is
the final dedup aggregate on the canonical URL — HTML extraction and
URL algebra ride the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.web import (
    domain_match_keys,
    has_noindex,
    html_to_text,
    normalize_url,
)
from .materialize import pin
from .spread import spread

# drop_reason vocabulary, in gate order (first rejecting gate wins)
R_BAD_URL = "bad_url"
R_BLOCKED = "blocked_domain"
R_NOT_ALLOWED = "domain_not_allowed"
R_NOINDEX = "noindex"
R_EMPTY = "empty_text"
R_URL_DUP = "url_dup"


def _domain_flag(
    pages: DataFrame, domains: DataFrame, url_col: str, flag: str
) -> DataFrame:
    """(url, <flag>=true): the annotation form of the shared list-match
    algebra (web.domain_match_keys — one implementation, no drift
    between the gate and this flag)."""
    return domain_match_keys(
        pages, domains, url_col, domains.columns[0]
    ).withColumn(flag, F.lit(True))


def preprocess_crawl(
    df: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
    html_col: str = "html",
    *,
    blocklist: DataFrame | None = None,
    allowlist: DataFrame | None = None,
    min_chars: int = 1,
    respect_noindex: bool = True,
) -> DataFrame:
    """Annotate raw crawl pages with ``url_canon``, extracted ``text``,
    and ``drop_reason``:

    - ``'bad_url'``             URL does not parse as absolute http(s);
    - ``'blocked_domain'``      host matches ``blocklist`` (suffix match);
    - ``'domain_not_allowed'``  ``allowlist`` given and host matches no entry;
    - ``'noindex'``             the page carries a robots/googlebot
      noindex meta directive (``respect_noindex=False`` disables);
    - ``'empty_text'``          extracted text shorter than ``min_chars``;
    - ``'url_dup'``             same ``url_canon`` as a surviving page
      with a smaller id (min-id fetch of each URL survives).

    Both lists may be supplied (blocklist wins — checked first). List
    frames use their first column as the domain.

    A NULL ``html`` (fetch failure) extracts to NULL text and is
    dropped as ``'empty_text'`` — it must never survive, or it would
    out-rank the real fetch of the same URL in min-id dedup.
    """
    reserved = {"url_canon", "text", "drop_reason"} & set(df.columns)
    if reserved:
        raise ValueError(
            f"input columns {sorted(reserved)} collide with "
            "preprocess_crawl's output columns — rename them first"
        )
    annotated = spread(df).select(
        "*",
        normalize_url(F.col(url_col)).alias("url_canon"),
        html_to_text(F.col(html_col)).alias("text"),
    )
    if blocklist is not None:
        annotated = annotated.join(
            _domain_flag(df, blocklist, url_col, "_blocked"), url_col, "left"
        )
    else:
        annotated = annotated.withColumn("_blocked", F.lit(None).cast("boolean"))
    if allowlist is not None:
        annotated = annotated.join(
            _domain_flag(df, allowlist, url_col, "_allowed"), url_col, "left"
        )
    cheap_reason = F.when(F.col("url_canon").isNull(), F.lit(R_BAD_URL)).when(
        F.col("_blocked"), F.lit(R_BLOCKED)
    )
    if allowlist is not None:
        cheap_reason = cheap_reason.when(
            F.col("_allowed").isNull(), F.lit(R_NOT_ALLOWED)
        )
    if respect_noindex:
        cheap_reason = cheap_reason.when(
            has_noindex(F.col(html_col)), F.lit(R_NOINDEX)
        )
    # explicit NULL arm: length(NULL) is NULL and a NULL predicate never
    # fires — without it a NULL-html row would sail through this gate
    cheap_reason = cheap_reason.when(
        F.col("text").isNull() | (F.length("text") < min_chars),
        F.lit(R_EMPTY),
    )
    gated = pin(
        annotated.withColumn("_cheap", cheap_reason).drop(
            "_blocked", *(["_allowed"] if allowlist is not None else [])
        )
    )
    # URL dedup over survivors only: one hash-aggregate on the
    # canonical key, min-id keeper — the exact-dedup idiom
    survivors = gated.filter(F.col("_cheap").isNull())
    keepers = survivors.groupBy("url_canon").agg(
        F.min(F.col(id_col)).alias("_keep_id")
    )
    return (
        gated.join(keepers, "url_canon", "left")
        .withColumn(
            "drop_reason",
            F.coalesce(
                F.col("_cheap"),
                F.when(F.col(id_col) != F.col("_keep_id"), F.lit(R_URL_DUP)),
            ),
        )
        .select(*df.columns, "url_canon", "text", "drop_reason")
    )
