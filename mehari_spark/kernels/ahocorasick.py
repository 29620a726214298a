"""Token-sequence Aho-Corasick automaton: the reference matcher for tests.

Mehari answers "which transcripts overlap this variant" with a per-contig
interval tree queried per record (provider.rs:101-141, 795-843). Our analog
question is "which dictionary surface forms occur in this turn's text"; the
classic machinery is Aho-Corasick over the token stream, O(tokens + matches)
per turn. The engine itself matches with ``kernels.dictmatch`` over whole
Arrow batches; this per-turn automaton is the independent reference that
tests compare it against (the benchmark's kernel micro-benchmark also
still times it).

Patterns are tuples of lowercase tokens; matches report token position and
length.
"""

from __future__ import annotations

from collections import deque
from typing import Any, Iterable, Sequence


class TokenAhoCorasick:
    """Aho-Corasick over token sequences (alphabet = token strings)."""

    def __init__(self, patterns: Iterable[tuple[tuple[str, ...], Any]]):
        # trie: list of dict token -> state; output: list of (length, payload)
        self._goto: list[dict[str, int]] = [{}]
        self._out: list[list[tuple[int, Any]]] = [[]]
        self._fail: list[int] = [0]
        for toks, payload in patterns:
            if not toks:
                continue
            state = 0
            for tok in toks:
                nxt = self._goto[state].get(tok)
                if nxt is None:
                    self._goto.append({})
                    self._out.append([])
                    self._fail.append(0)
                    nxt = len(self._goto) - 1
                    self._goto[state][tok] = nxt
                state = nxt
            self._out[state].append((len(toks), payload))
        self._build_failure()

    def _build_failure(self) -> None:
        q: deque[int] = deque()
        for s in self._goto[0].values():
            self._fail[s] = 0
            q.append(s)
        while q:
            r = q.popleft()
            for tok, s in self._goto[r].items():
                q.append(s)
                f = self._fail[r]
                while f and tok not in self._goto[f]:
                    f = self._fail[f]
                self._fail[s] = self._goto[f].get(tok, 0)
                if self._fail[s] == s:  # root self-loop guard
                    self._fail[s] = 0
                self._out[s] = self._out[s] + self._out[self._fail[s]]

    def scan(self, tokens: Sequence[str]) -> list[tuple[int, int, Any]]:
        """Return [(start_pos, token_len, payload)] for every match."""
        matches: list[tuple[int, int, Any]] = []
        state = 0
        goto = self._goto
        fail = self._fail
        out = self._out
        for i, tok in enumerate(tokens):
            while state and tok not in goto[state]:
                state = fail[state]
            state = goto[state].get(tok, 0)
            if out[state]:
                for length, payload in out[state]:
                    matches.append((i - length + 1, length, payload))
        return matches
