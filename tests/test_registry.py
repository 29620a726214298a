"""The query registry is pinned: the ordered ``queries()`` keys and every
``oracle_sql()`` text hash to one fixed digest.

The oracle entries are the correctness cross-check of every registered
query, and their texts are generated next to the operators they mirror
(e.g. the unrolled PageRank SQL beside the PageRank loop). A refactor of
an operator or of the registry must leave this digest unchanged; a change
that means to alter a key or an oracle text updates it on purpose.
"""

from __future__ import annotations

import hashlib
import json

import __spark_entry__ as E

REGISTRY_SHA256 = "044443dcd22d13cad7bbce42150f55e082b1fcf2880b8fed70fef39fa8a032c6"


def test_registry_digest_pinned():
    payload = json.dumps([list(E.queries()), list(E.oracle_sql().items())])
    assert hashlib.sha256(payload.encode()).hexdigest() == REGISTRY_SHA256
