"""Surface-form normalization (the variant-normalization analog).

Mehari normalizes variants by trimming the common prefix/suffix of ref/alt
and shifting positions (logic.rs:1957-1986, 1995-2014). The text analog:
lowercase, strip punctuation at token edges, collapse whitespace.
"""

from __future__ import annotations

import re

_WS = re.compile(r"\s+")
_EDGE_PUNCT = re.compile(r"(?:^[^\w]+)|(?:[^\w]+$)")


def normalize_token(tok: str) -> str:
    """Normalize a single token: lowercase + strip edge punctuation."""
    return _EDGE_PUNCT.sub("", tok.lower())


def normalize_surface(surface: str) -> str:
    """Normalize a dictionary surface form / mention string."""
    toks = [normalize_token(t) for t in _WS.split(surface.strip().lower())]
    return " ".join(t for t in toks if t)
