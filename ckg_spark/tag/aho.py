"""Pure-Python, pickleable Aho-Corasick automaton for dictionary tagging.

The reference's mention detection consumes pre-tagged textmining files from
the JensenLab tagger (an external C program); its own matching semantics —
the contract this module mirrors — are:

- **lowercase matching**: alias dictionaries are lowercased on build
  (/root/reference src/graphdb_connector/mapping.py:67) and probed with
  lowercased keys (databases/parsers/siderParser.py:32);
- **multi-mapping fan-out**: one surface may map to several canonical ids
  (mapping.py:115-142 returns alias -> set(ids));
- **longest-match-wins** on overlapping candidates (standard dictionary-
  tagger behavior; also what makes "gastric cancer syndrome" not fire
  "gastric cancer");
- **word boundaries**: a match must not sit inside an alphanumeric run.

Dependency-free on purpose (no pyahocorasick), stored as flat lists of
dicts so it pickles compactly for ``sc.broadcast``. The automaton is built
ONCE on the driver from the vocab dimension table and broadcast; executors
deserialize it once per process (scalar-iterator UDF pattern), never per
batch. At UMLS scale (~millions of surfaces) the build is minutes and the
pickle is ~100s of MB — still broadcastable; a marisa-trie/DAWG payload is
the documented upgrade path, the call sites would not change.
"""

from __future__ import annotations

from collections import deque


def _is_word_char(c: str) -> bool:
    return c.isalnum()


class AhoCorasick:
    """children: list[dict[char, int]]; fail: list[int];
    out: list[list[int]] (pattern indices ending at node);
    patterns: list[str]; payloads: list[list[tuple]] per pattern."""

    def __init__(self) -> None:
        self.children: list[dict[str, int]] = [{}]
        self.fail: list[int] = [0]
        self.out: list[list[int]] = [[]]
        self.patterns: list[str] = []
        self.payloads: list[list[tuple]] = []
        self._pat_index: dict[str, int] = {}
        self._built = False

    def add(self, surface_lc: str, payload: tuple) -> None:
        assert not self._built
        existing = self._pat_index.get(surface_lc)
        if existing is not None:
            if payload not in self.payloads[existing]:
                self.payloads[existing].append(payload)
            return
        node = 0
        for ch in surface_lc:
            nxt = self.children[node].get(ch)
            if nxt is None:
                nxt = len(self.children)
                self.children.append({})
                self.fail.append(0)
                self.out.append([])
                self.children[node][ch] = nxt
            node = nxt
        pid = len(self.patterns)
        self.patterns.append(surface_lc)
        self.payloads.append([payload])
        self._pat_index[surface_lc] = pid
        self.out[node].append(pid)

    def build(self) -> None:
        q: deque[int] = deque()
        for child in self.children[0].values():
            self.fail[child] = 0
            q.append(child)
        while q:
            node = q.popleft()
            for ch, child in self.children[node].items():
                f = self.fail[node]
                while f and ch not in self.children[f]:
                    f = self.fail[f]
                cand = self.children[f].get(ch, 0)
                self.fail[child] = cand if cand != child else 0
                self.out[child] = self.out[child] + self.out[self.fail[child]]
                q.append(child)
        self._built = True
        self._pat_index.clear()

    def _raw_matches(self, text_lc: str):
        """All (start, end, pattern_id) with word-boundary validity."""
        node = 0
        n = len(text_lc)
        for i, ch in enumerate(text_lc):
            while node and ch not in self.children[node]:
                node = self.fail[node]
            node = self.children[node].get(ch, 0)
            for pid in self.out[node]:
                plen = len(self.patterns[pid])
                start = i - plen + 1
                before_ok = start == 0 or not (
                    _is_word_char(text_lc[start - 1]) and _is_word_char(text_lc[start])
                )
                after_ok = i + 1 >= n or not (
                    _is_word_char(text_lc[i]) and _is_word_char(text_lc[i + 1])
                )
                if before_ok and after_ok:
                    yield (start, i + 1, pid)

    def find(self, text: str) -> list[tuple[int, int, str, tuple]]:
        """Leftmost-longest non-overlapping matches on lowercased text.

        Returns [(start, end, surface_lc, payload)], one entry per payload
        of the winning pattern (multi-mapping fan-out).
        """
        text_lc = text.lower()
        cands = sorted(self._raw_matches(text_lc), key=lambda m: (m[0], -(m[1] - m[0])))
        picked: list[tuple[int, int, int]] = []
        last_end = -1
        for start, end, pid in cands:
            if start >= last_end:
                picked.append((start, end, pid))
                last_end = end
        return [
            (s, e, self.patterns[pid], payload)
            for s, e, pid in picked
            for payload in self.payloads[pid]
        ]


def build_automaton(alias_rows, engine: str = "hash"):
    """alias_rows: iterable of dicts with keys canonical_id, source, alias
    (+ optionally entity_type resolved by the caller into the payload).

    Payload = (entity_type, canonical_id). Surfaces shorter than 3 chars are
    dropped (noise guard, ≙ the reference's curated dictionaries).

    Engines (identical matches, property-tested equivalent):
    - ``'hash'`` (default, production): first-word-indexed hash tagger
      (ckg_spark.tag.rx.HashTagger) — C-speed tokenization + dict lookups;
    - ``'aho'``: pure-Python Aho-Corasick, the semantics reference.

    Any other ``engine`` raises ``ValueError`` (a typo must not silently
    swap in the slow reference)."""
    if engine not in ("hash", "aho"):
        raise ValueError(f"unknown tagger engine {engine!r}; expected 'hash' or 'aho'")
    surface_payloads: dict[str, list[tuple]] = {}
    for row in alias_rows:
        surface = row["alias"].lower().strip()
        if len(surface) < 3:
            continue
        payload = (row.get("entity_type", ""), row["canonical_id"])
        lst = surface_payloads.setdefault(surface, [])
        if payload not in lst:
            lst.append(payload)
    if engine == "hash":
        from .rx import HashTagger

        return HashTagger(surface_payloads)
    ac = AhoCorasick()
    for surface, payloads in surface_payloads.items():
        for payload in payloads:
            ac.add(surface, payload)
    ac.build()
    return ac
