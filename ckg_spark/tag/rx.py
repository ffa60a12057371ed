"""Hash dictionary tagger — the production engine behind tagging.

Same matching contract as :class:`ckg_spark.tag.aho.AhoCorasick`, the
semantics reference (lowercase, word boundaries, leftmost-longest
non-overlapping, multi-payload fan-out — see that module's docstring for
the reference citations), but driven by CPython's C-speed ``re``
tokenizer and dict lookups instead of a per-character Python loop.
Equivalence with the Aho-Corasick reference is property-tested
(tests/test_tagging.py).
"""

from __future__ import annotations

import re

_RUN_RX = re.compile(r"[^\W_]+|_")  # alnum runs; '_' is its own (non-word) run


class HashTagger:
    """First-word-indexed hash tagger — the production engine.

    Key observation: a valid match whose surface starts with an
    alphanumeric character must begin exactly at the start of an
    alphanumeric run (the word-boundary rule guarantees it). So instead of
    walking every character (Aho-Corasick), tokenize the text into alnum
    runs with one C-speed ``finditer`` and, at each run, look up the run's
    text in a dict of candidate surfaces keyed by their first word — a
    couple of C dict/slice operations per word of text. Candidates are
    tried longest-first; the end boundary re-checks exactly like the AC.

    Surfaces that start with a non-alphanumeric character (cannot align to
    a run start) go through a ``str.find`` fallback scan — rare in any real
    dictionary, exact either way. Equivalence with AhoCorasick.find is
    property-tested.
    """

    def __init__(self, surface_payloads: dict[str, list[tuple]]):
        self.surface_payloads = surface_payloads
        by_first: dict[str, list[tuple[str, int]]] = {}
        odd: list[str] = []
        for s in surface_payloads:
            m = _RUN_RX.match(s)
            if m is not None and m.group() != "_" and m.start() == 0:
                by_first.setdefault(m.group(), []).append((s, len(s)))
            else:
                odd.append(s)
        for lst in by_first.values():
            lst.sort(key=lambda t: -t[1])
        self.by_first = by_first
        self.odd = odd

    def find(self, text: str) -> list[tuple[int, int, str, tuple]]:
        text_lc = text.lower()
        n = len(text_lc)
        isaln = str.isalnum
        cands: list[tuple[int, int, str]] = []
        for m in _RUN_RX.finditer(text_lc):
            w = m.group()
            lst = self.by_first.get(w)
            if lst is None:
                continue
            s = m.start()
            for surface, plen in lst:
                j = s + plen
                if j <= n and text_lc[s:j] == surface:
                    if j >= n or not (isaln(text_lc[j - 1]) and isaln(text_lc[j])):
                        cands.append((s, j, surface))
                        break  # longest valid at this start wins
        if self.odd:
            for surface in self.odd:
                start = 0
                while True:
                    i = text_lc.find(surface, start)
                    if i < 0:
                        break
                    j = i + len(surface)
                    before_ok = i == 0 or not (isaln(text_lc[i - 1]) and isaln(text_lc[i]))
                    after_ok = j >= n or not (isaln(text_lc[j - 1]) and isaln(text_lc[j]))
                    if before_ok and after_ok:
                        cands.append((i, j, surface))
                    start = i + 1
            cands.sort(key=lambda c: (c[0], -(c[1] - c[0])))
        out: list[tuple[int, int, str, tuple]] = []
        last_end = -1
        for s, j, surface in cands:
            if s >= last_end:
                for payload in self.surface_payloads[surface]:
                    out.append((s, j, surface, payload))
                last_end = j
        return out
