"""URL canonicalization, SURT, and registered-domain extraction.

Generalizes the reference's URL handling into deterministic,
vectorizable primitives (reference provenance:
``Data Exploration/Common_Crawl_EDA.py:28`` — ``urlparse(x).netloc``;
``Data Modelling/Matching_P1.py:111-123`` — scheme+host canonical
base; ``company_number_scrape.py:38-44`` — ``urljoin`` resolution,
default-``http://`` scheme, ``tldextract`` registered-domain scoping).

The pure-Python functions here are the single source of truth: the
single-threaded oracle crawler (tests) and the distributed Spark UDFs
call the *same* code, which is what makes crawl-order / seen-set
equality provable.

Spark surface: Arrow-batched pandas UDFs only (``input_hint`` forbids
per-row Python UDFs). Simple host extraction stays JVM-side via
``parse_url`` where possible; SURT and public-suffix logic have no
Spark built-in and live here.
"""

from __future__ import annotations

from urllib.parse import urljoin, urlparse

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Minimal embedded public-suffix rules (multi-label suffixes; every
# unlisted TLD is a single-label suffix). Enough for the synthetic
# web + common real domains; extend by appending — logic is
# longest-match, like the PSL algorithm.
MULTI_LABEL_SUFFIXES = {
    "co.uk",
    "org.uk",
    "gov.uk",
    "ac.uk",
    "me.uk",
    "net.uk",
    "com.au",
    "co.jp",
    "co.nz",
    "com.br",
}

DEFAULT_PORTS = {"http": "80", "https": "443"}


def registered_domain(host: str) -> str:
    """Public-suffix-aware registered domain (eTLD+1).

    ``www.blog.acme.co.uk`` -> ``acme.co.uk``; ``sub.acme.com`` ->
    ``acme.com``. Returns '' for empty/IP-like hosts without dots.
    Mirrors ``tldextract.extract(u).registered_domain``
    (reference ``company_number_scrape.py:39``).
    """
    host = (host or "").strip().lower().rstrip(".")
    if not host or "." not in host:
        return ""
    labels = host.split(".")
    # longest matching multi-label suffix, else single-label TLD
    for take in (3, 2):
        if len(labels) > take and ".".join(labels[-take:]) in MULTI_LABEL_SUFFIXES:
            return ".".join(labels[-(take + 1) :])
    if len(labels) >= 2 and ".".join(labels[-2:]) in MULTI_LABEL_SUFFIXES:
        return host if len(labels) == 2 else ".".join(labels[-3:])
    return ".".join(labels[-2:])


def canonicalize(url: str, base: str | None = None) -> str:
    """Resolve + normalize a URL to its canonical absolute form.

    - resolve relative hrefs against ``base`` (reference
      ``urljoin``, ``company_number_scrape.py:38``)
    - default missing scheme to ``http://`` (reference ``:44``)
    - lowercase scheme + host, strip default port, drop fragment,
    - collapse empty path to ``/``, strip trailing slash on non-root,
    - sort query parameters for a stable key.
    """
    u = (url or "").strip()
    if not u:
        return ""
    if base:
        u = urljoin(base, u)
    if "://" not in u:
        u = "http://" + u.lstrip("/")
    p = urlparse(u)
    scheme = (p.scheme or "http").lower()
    host = (p.hostname or "").lower().rstrip(".")
    port = ""
    if p.port is not None and str(p.port) != DEFAULT_PORTS.get(scheme, ""):
        port = f":{p.port}"
    path = p.path or "/"
    if len(path) > 1 and path.endswith("/"):
        path = path.rstrip("/")
    query = ""
    if p.query:
        query = "?" + "&".join(sorted(p.query.split("&")))
    return f"{scheme}://{host}{port}{path}{query}"


def surt(url: str) -> str:
    """Sort-friendly URI Reordering Transform of the canonical URL.

    ``http://www.acme.co.uk/about?b=2&a=1`` ->
    ``uk,co,acme)/about?a=1&b=2``. The leading ``www.`` label is
    dropped (standard SURT behavior) so http/https + www variants of
    one page share a seen-set key. This is the engine's dedup key
    (north rule: SURT-normalize with a vectorized Arrow UDF).
    """
    cu = canonicalize(url)
    if not cu:
        return ""
    p = urlparse(cu)
    host = (p.hostname or "").lower()
    if host.startswith("www."):
        host = host[4:]
    rev = ",".join(reversed(host.split(".")))
    port = f":{p.port}" if p.port else ""
    path = p.path or "/"
    query = f"?{p.query}" if p.query else ""
    return f"{rev}{port}){path}{query}"


def host_of(url: str) -> str:
    u = url if "://" in (url or "") else "http://" + (url or "").lstrip("/")
    return (urlparse(u).hostname or "").lower()


# ---------------------------------------------------------------------------
# Arrow-vectorized Spark UDFs (pandas batch in / batch out)
# ---------------------------------------------------------------------------

@F.pandas_udf(T.StringType())
def surt_udf(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: surt(u) if u is not None else None)


@F.pandas_udf(T.StringType())
def registered_domain_udf(hosts: pd.Series) -> pd.Series:
    return hosts.map(lambda h: registered_domain(h) if h is not None else None)


@F.pandas_udf(T.StringType())
def urljoin_udf(bases: pd.Series, hrefs: pd.Series) -> pd.Series:
    out = []
    for b, h in zip(bases, hrefs):
        out.append(canonicalize(h, base=b) if h is not None else None)
    return pd.Series(out, dtype=object)
