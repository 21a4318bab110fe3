"""RFC-3986 URL canonicalization (north_star: canonicalize → xxhash64 inside
Arrow UDF batches).

The reference's fetch layer only does IRI→URI percent-escaping
(reference spider.py:100-157 ``GetHTML``) and ``[param]`` substitution
(spider.py:109-113); its URL-seen set compares raw strings
(reference etl.py:238-247 ``RepeatFT``). At 10^10-URL scale raw-string
identity leaks duplicates (HOST case, default ports, dot-segments, percent
normalization), so the crawl engine keys everything on this canonical form.

Normalizations (RFC 3986 §6.2.2-6.2.3):
  - scheme + host lowercased
  - default ports stripped (http:80, https:443)
  - dot-segments resolved (``a/../b`` → ``b``)
  - percent-encoding: unreserved chars decoded, hex digits uppercased,
    everything requiring encoding re-encoded canonically
  - empty path → ``/``
  - fragment dropped (never part of the fetch identity)
  - trailing ``?`` with empty query dropped; query keys kept in original
    order (order can be semantic)

Batch-side, ``canonicalize_rows`` is the crawl's one canonicalization step:
it canonicalizes a pandas frame's url column and drops the rows that do not
canonicalize, inside a Python task that already holds the urls (the fetch
task for extracted links, one ``mapInPandas`` for seeds and recrawl/forget
lists), so no stage pays a Python runner just to canonicalize.
Plan-side, ``canonicalize_url_expr`` is a pandas UDF over a Column;
``url_host`` is a pure Column expression so host bucketing stays JVM-side.
"""

from __future__ import annotations

import re
from urllib.parse import quote, unquote, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

_DEFAULT_PORTS = {"http": "80", "https": "443", "ftp": "21"}
# RFC 3986 unreserved + sub-delims we keep literal in paths/queries.
_SAFE_PATH = "/:@!$&'()*+,;=~-._"
_SAFE_QUERY = "/:@!$&'()*+,;=~-._?"


def _remove_dot_segments(path: str) -> str:
    out: list[str] = []
    for seg in path.split("/"):
        if seg == "..":
            if out and out[-1] != "":
                out.pop()
                if not out:
                    out = [""]
        elif seg != ".":
            out.append(seg)
    # preserve leading slash
    s = "/".join(out)
    if path.startswith("/") and not s.startswith("/"):
        s = "/" + s
    return s


def _norm_pct(component: str, safe: str) -> str:
    # decode-then-encode yields the canonical minimal encoding with upper hex
    return quote(unquote(component), safe=safe)


def canonicalize_url(url: str | None) -> str | None:
    if url is None:
        return None
    url = url.strip()
    if not url:
        return None
    try:
        parts = urlsplit(url)
    except ValueError:
        return None
    scheme = (parts.scheme or "http").lower()
    host = (parts.hostname or "").lower()
    if not host:
        return None
    port = parts.port
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme, ""):
        netloc = f"{host}:{port}"
    path = _norm_pct(_remove_dot_segments(parts.path or "/"), _SAFE_PATH) or "/"
    if not path.startswith("/"):
        path = "/" + path
    query = _norm_pct(parts.query, _SAFE_QUERY) if parts.query else ""
    return urlunsplit((scheme, netloc, path, query, ""))


def canonicalize_url_expr(col: Column | str) -> Column:
    # UDF construction is deferred: pandas_udf parses its return type via the
    # active session, which may not exist at import time.
    @pandas_udf("string")
    def _canonicalize_udf(urls: pd.Series) -> pd.Series:
        return urls.map(canonicalize_url)

    return _canonicalize_udf(F.col(col) if isinstance(col, str) else col)


# Conservative "already canonical" shape: http scheme, lowercase dotted
# host, no port/userinfo, a present path made of dot-free unreserved
# segments, no %-escapes, no query/fragment. Every string FULL-matching
# this is a fixed point of canonicalize_url (tests/test_url_canon.py
# fuzzes the equivalence) — canonicalize_rows uses it as a vectorized
# fast path so only irregular URLs pay the per-row slow path.
FAST_CANONICAL_RE = r"http://[a-z0-9-]+(?:\.[a-z0-9-]+)+/(?:[A-Za-z0-9_~-]+/)*[A-Za-z0-9_~-]*"


def canonicalize_rows(pdf: pd.DataFrame, raw: str, out: str) -> pd.DataFrame:
    """``pdf`` with its ``raw`` url column replaced by the canonical ``out``
    column, dropping the rows whose url does not canonicalize. Urls that
    full-match FAST_CANONICAL_RE (nearly every extracted link) are kept
    as they are in one vectorized pass; only the rest pay
    ``canonicalize_url``. The other columns and the row order are kept."""
    s = pdf[raw].astype(object)  # an empty frame's columns are float64
    fast = s.str.fullmatch(FAST_CANONICAL_RE, na=False)
    canon = s.where(fast, s[~fast].map(canonicalize_url))
    return pdf.drop(columns=raw).assign(**{out: canon})[canon.notna()]


_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://(?:[^/@?#]*@)?([^/:?#]+)"


def url_host(col: Column | str) -> Column:
    """Host of an (already canonical) URL — pure expression, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(c, _HOST_RE, 1)


def url_hash(col: Column | str) -> Column:
    """64-bit identity of a canonical URL (Spark builtin xxhash64, JVM-side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(c)


# ---------------------------------------------------------------------------
# spider-layer helpers (reference spider.py), packaged as reusable Column
# functions so crawler templates can declare them — generic over keys, not
# hand-inlined per query


def query_params(col: Column | str) -> Column:
    """Query string of a URL as ``map<string,string>`` (the dict the
    reference's ``PraseURL`` builds from ``urlparse(base).query``,
    spider.py:109-111) — pure Column expressions, no UDF. A URL without a
    '?' yields an empty-ish map (its own path keyed to '')."""
    c = F.col(col) if isinstance(col, str) else col
    return F.str_to_map(
        F.substring_index(c, "?", -1), F.lit("&"), F.lit("=")
    )


_PARAM_RE = re.compile(r"\[([A-Za-z0-9_]+)\]")


def prase_url(base: Column | str, template: str) -> Column:
    """Reference ``HTTPItem.PraseURL`` (spider.py:109-113): substitute every
    ``[param]`` placeholder in ``template`` with that parameter's value from
    the base URL's query string. Generic over the template's keys — they
    are parsed out of the template at plan-build time, so any crawler URL
    template works without per-query hand-wiring. Placeholders whose key is
    absent from the base query stay literal (the reference only replaces
    params it finds). The misspelling is the reference's own API name."""
    params = query_params(base)
    out: Column = F.lit(template)
    for key in dict.fromkeys(_PARAM_RE.findall(template)):
        out = F.replace(
            out,
            F.lit(f"[{key}]"),
            F.coalesce(F.element_at(params, F.lit(key)), F.lit(f"[{key}]")),
        )
    return out


def para2dict(col: Column | str, pair_sep: str = "\n", kv_sep: str = ": ") -> Column:
    """Reference ``Para2Dict`` (spider.py:263-273): a pasted key-value
    paragraph (e.g. browser-copied HTTP headers) as ``map<string,string>``.
    Separators are parameters like the reference's, defaulting to its
    header shape."""
    c = F.col(col) if isinstance(col, str) else col
    return F.str_to_map(c, F.lit(pair_sep), F.lit(kv_sep))
