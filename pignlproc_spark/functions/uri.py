"""Title normalization + DBpedia-style URI encoding.

Reference parity: ``pignlproc/evaluation/DBpediaUriEncode.java``
(SURVEY.md §2.1 J11, reconstructed): trim, spaces→underscores, first
character uppercased (ONLY the first — ``initcap`` would be wrong),
percent-encode reserved characters, prefix
``http://<lang>.dbpedia.org/resource/``.

Two implementations with identical semantics:

- :func:`normalize_title` / :func:`uri_encode` — pure Python, used
  inside the extraction pandas UDF and by the synthetic generator.
- :func:`uri_encode_col` — pure Spark built-ins (JVM-side, codegen'd)
  for the hot relational path; the percent-encode tail is a no-op for
  already-normalized titles, so the built-in path stays exact for the
  engine's own outputs.
"""

from __future__ import annotations

import re
from functools import lru_cache
from urllib.parse import quote, unquote

# characters DBpedia keeps un-encoded in resource IRIs (reconstructed
# from the reference's convention; frozen here as our spec)
_SAFE = "/:_()',.&!*;=$@~+-"
_UNDERSCORE_RUN = re.compile(r"_+")


def resource_prefix(lang: str = "en") -> str:
    """The frozen DBpedia resource-IRI prefix — the single source for
    the Python and Column spellings."""
    return f"http://{lang}.dbpedia.org/resource/"


@lru_cache(maxsize=65536)
def normalize_title(raw: str | None) -> str:
    """Wiki link target → canonical title key.

    percent-unescape, strip, whitespace→underscore, collapse
    underscore runs, uppercase first char only. Cached: link targets
    are Zipfian, so per-worker memoization pays for itself.
    """
    if not raw:
        return ""
    t = unquote(raw).strip()
    t = re.sub(r"\s+", "_", t)
    t = _UNDERSCORE_RUN.sub("_", t).strip("_")
    if not t:
        return ""
    return t[0].upper() + t[1:]


@lru_cache(maxsize=65536)
def uri_encode(title: str | None, lang: str = "en") -> str:
    """Normalized title → DBpedia-style resource URI (pure Python)."""
    t = normalize_title(title)
    if not t:
        return ""
    return resource_prefix(lang) + quote(t, safe=_SAFE)


def uri_encode_col(col, lang: str = "en"):
    """Spark-native uri_encode over a *normalized title* column.

    Stays inside whole-stage codegen (no Python) — but it does NOT
    percent-encode, so it is exact ONLY for titles consisting of
    ``[A-Za-z0-9_]`` + ``_SAFE`` characters. The product pipeline does
    not use it for link targets (the fused extraction UDF emits the
    exactly-encoded ``uri`` Python-side); keep this for ASCII-clean
    columns and tests.
    """
    from pyspark.sql import functions as F

    first = F.upper(F.substring(col, 1, 1))
    return F.concat(
        F.lit(resource_prefix(lang)),
        first,
        F.substring(col, 2, 2_000_000),
    )


def title_from_uri_col(col, lang: str = "en"):
    """Inverse of uri_encode_col for engine-produced URIs."""
    from pyspark.sql import functions as F

    return F.regexp_replace(col, "^" + re.escape(resource_prefix(lang)), "")
