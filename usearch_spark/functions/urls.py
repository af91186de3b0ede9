"""URL functions for the crawl pipeline (SURVEY §2.2 F1/F2/F6, §2.3 X1/X8).

Parity with reference crawler/link_extractor.go + crawler/privnet:
  - href/base extraction regexes mirror link_extractor.go:15-24;
  - resolution follows resolveToAbsoluteURL (:161-181): empty -> drop,
    ``//host/x`` inherits the scheme, everything else resolves relative to
    the (base-href-adjusted) page URL; fragments are stripped (:91);
  - base href gets a trailing slash (checkAndAddTrailingSlash :146-152);
  - keep-filter (shouldRetainURL :120-144): http/https only; same-host
    always kept; foreign hosts dropped when private;
  - non-HTML extension exclusion (link_fetcher.go:19).

Resolution uses urllib.parse.urljoin inside an Arrow-batched pandas UDF —
the one Python hop in the pipeline (RFC 3986 reference resolution is not
expressible in Spark built-ins).  Everything else is JVM-side.
"""

from __future__ import annotations

from urllib.parse import urljoin, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# mirrors link_extractor.go regexes (Java regex dialect)
BASE_HREF_RE = '(?i)<base[^>]*?href\\s*=\\s*"(.*?)\\s*"'
A_TAG_RE = '(?i)<a[^>]*?href\\s*=\\s*"[^"]*"[^>]*>'
HREF_IN_TAG_RE = '(?i)href\\s*=\\s*"\\s*([^"]*?)\\s*"'
NOFOLLOW_RE = '(?i)rel\\s*=\\s*"?nofollow"?'
# link_fetcher.go:19 — binary/static-asset extensions
NON_HTML_EXT_RE = "(?i).*\\.(jpg|jpeg|png|gif|ico|css|js)$"


def extract_base_href(content: Column) -> Column:
    return F.regexp_extract(content, BASE_HREF_RE, 1)


def extract_anchor_tags(content: Column) -> Column:
    """array<string> of full <a ...> tags (the tag is needed to detect
    rel=nofollow, exactly like the reference keeps match[0])."""
    return F.regexp_extract_all(content, F.lit(A_TAG_RE), F.lit(0))


def href_of_tag(tag: Column) -> Column:
    return F.regexp_extract(tag, HREF_IN_TAG_RE, 1)


def is_nofollow_tag(tag: Column) -> Column:
    return tag.rlike(NOFOLLOW_RE)


def is_non_html_url(url: Column) -> Column:
    return url.rlike(NON_HTML_EXT_RE)


def _resolve_batch(page_url: pd.Series, base_href: pd.Series, target: pd.Series) -> pd.Series:
    """Resolve ``target`` against the page URL (adjusted by <base href>);
    returns None for unresolvable/empty targets.  Fragment is stripped."""

    def one(page: str | None, base: str | None, tgt: str | None) -> str | None:
        if not tgt or not page:
            return None
        rel_to = page
        if base:
            b = base if base.endswith("/") else base + "/"
            if b.startswith("//"):
                b = urlsplit(page).scheme + ":" + b
            rel_to = urljoin(page, b)
        if tgt.startswith("//"):
            tgt = urlsplit(rel_to).scheme + ":" + tgt
        try:
            resolved = urljoin(rel_to, tgt)
            parts = urlsplit(resolved)
        except ValueError:
            return None
        return urlunsplit((parts.scheme, parts.netloc, parts.path, parts.query, ""))

    return pd.Series([one(p, b, t) for p, b, t in zip(page_url, base_href, target)])


def resolve_url_udf(page_url, base_href, target):
    """Arrow-batched pandas UDF wrapper (created lazily — pandas_udf needs
    an active session, which module import time can't assume)."""
    return F.pandas_udf(_resolve_batch, StringType())(page_url, base_href, target)


def _hostname(url: str) -> str:
    try:
        return urlsplit(url).hostname or ""
    except ValueError:
        return ""


def _keep_batch_fn(detector):
    """shouldRetainURL (link_extractor.go:120-144): http/https only; same
    host always kept; foreign hosts checked against the private-network
    detector (a drop on resolution failure mirrors link_fetcher.go:66-73
    when the detector's policy says so)."""
    if detector is None:
        # resolve the default ONCE — constructing a detector (11 parsed
        # CIDR blocks) per URL would dominate the keep-filter's hot path
        from usearch_spark.functions.privnet import default_pipeline_detector

        detector = default_pipeline_detector()

    def _keep_batch(src_url: pd.Series, resolved: pd.Series) -> pd.Series:
        def one(src: str | None, url: str | None) -> bool:
            if not url:
                return False
            parts = urlsplit(url)
            if parts.scheme not in ("http", "https"):
                return False
            host = parts.hostname or ""
            if src and _hostname(src) == host:
                return True
            return not detector.is_private(host)

        return pd.Series([one(s, u) for s, u in zip(src_url, resolved)])

    return _keep_batch


def keep_url_udf(src_url, resolved, detector=None):
    from pyspark.sql.types import BooleanType

    return F.pandas_udf(_keep_batch_fn(detector), BooleanType())(src_url, resolved)
