"""Title normalization + DBpedia-style URI encoding.

Reference parity: ``pignlproc/evaluation/DBpediaUriEncode.java``
(SURVEY.md §2.1 J11, reconstructed): trim, spaces→underscores, first
character uppercased (ONLY the first — ``initcap`` would be wrong),
percent-encode reserved characters, prefix
``http://<lang>.dbpedia.org/resource/``.

The pure-Python :func:`normalize_title` / :func:`uri_encode` run
inside the extraction pandas UDF and the synthetic generator.
"""

from __future__ import annotations

import re
from functools import lru_cache
from urllib.parse import quote, unquote

# characters DBpedia keeps un-encoded in resource IRIs (reconstructed
# from the reference's convention; frozen here as our spec)
_SAFE = "/:_()',.&!*;=$@~+-"
_UNDERSCORE_RUN = re.compile(r"_+")


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
    return f"http://{lang}.dbpedia.org/resource/" + quote(t, safe=_SAFE)
