"""Dictionary / knowledge-base trie with the reference's exact load semantics.

Re-implements (from scratch, in Python) the behavior of the reference's
``Annotation::TrieForKB`` + ``loadKBForMatching`` + ``cleanStopwords``
(/root/reference/src/annotation.h:16-243). The trie is built once on the
driver and **broadcast** to executors — the Spark-native analogue of the
reference's single shared in-memory trie (annotation.h:22).

Faithfully-preserved quirks (each is observable in tagger output):

* Load ordering (annotation.h:235-243): the stopword set is populated only
  AFTER the core dictionary is inserted, so the "surface token is a stopword
  => noLowercases" check at annotation.h:197-204 runs against an EMPTY set in
  the shipped pipeline. We replicate the ordering, not an idealized fix.
* ``noLowercasesForThisKB`` (annotation.h:184,196,214) carries the value from
  the LAST core-dict line into the marking of every full-dict phrase.
* Case variants: every insert adds the raw form and the ALL-UPPER form, plus
  the all-lower form unless ``noLowercases`` (annotation.h:99-138). Full-dict
  marking only sets ``__FILTERED__`` on nodes with no types yet
  (annotation.h:52-97: core-dict types win).
* Stopword cleanup removes the lower / UPPER / First-char-upcased unigram
  paths (annotation.h:220-233) by clearing the node's type set.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .textutil import (
    FILTERED_TYPE,
    ascii_lower,
    ascii_upper,
    capitalize_first,
    split_by,
    strip_ref,
)


class TrieKB:
    """Token-level trie; node 0 is the root (annotation.h:47-50).

    ``version`` counts calls to the mutating methods (``insert``,
    ``mark_filtered``, ``remove``); the tagger's compile cache recompiles
    when it moves. Mutate a trie only through those methods — a direct
    edit of ``children``/``types`` is invisible to the cache. The trie is
    weak-referenceable so its cache entry dies with it.
    """

    __slots__ = ("children", "types", "version", "__weakref__")

    def __init__(self) -> None:
        self.children: list[dict[str, int]] = [{}]
        self.types: list[set[str]] = [set()]
        self.version = 0

    # --- accessors (annotation.h:24-45) ---------------------------------
    def get_child(self, u: int, token: str) -> int:
        if u < 0 or u >= len(self.children):
            return -1
        return self.children[u].get(token, -1)

    def get_types(self, u: int) -> frozenset[str]:
        return frozenset(self.types[u])

    def is_entity(self, u: int) -> bool:
        """Non-empty type set not containing FILTERED (annotation.h:39-41)."""
        if u < 0 or u >= len(self.children):
            return False
        t = self.types[u]
        return len(t) > 0 and FILTERED_TYPE not in t

    def is_filtered(self, u: int) -> bool:
        """Type set == exactly {FILTERED} (annotation.h:43-45)."""
        if u < 0 or u >= len(self.children):
            return False
        t = self.types[u]
        return len(t) == 1 and FILTERED_TYPE in t

    # --- construction (annotation.h:52-149) ------------------------------
    def _descend_insert(self, tokens: list[str]) -> int:
        u = 0
        for tok in tokens:
            nxt = self.children[u].get(tok)
            if nxt is None:
                nxt = len(self.children)
                self.children[u][tok] = nxt
                self.children.append({})
                self.types.append(set())
            u = nxt
        return u

    def insert(
        self,
        tokens: list[str],
        types: list[str],
        no_lowercases: bool,
        must_exactly_same: bool = False,
    ) -> None:
        """Mirrors `TrieForKB::insert` (annotation.h:99-138): raw form always,
        ALL-UPPER unless must_exactly_same, all-lower unless no_lowercases."""
        self.version += 1
        u = self._descend_insert(tokens)
        self.types[u].update(types)
        if not must_exactly_same:
            u = self._descend_insert([ascii_upper(t) for t in tokens])
            self.types[u].update(types)
        if not no_lowercases:
            u = self._descend_insert([ascii_lower(t) for t in tokens])
            self.types[u].update(types)

    def mark_filtered(
        self,
        tokens: list[str],
        no_lowercases: bool,
        must_exactly_same: bool = False,
    ) -> None:
        """Mirrors `markAsFiltered` (annotation.h:52-97): same three forms,
        but FILTERED is only set on nodes that have no types yet."""
        self.version += 1
        for form, enabled in (
            (tokens, True),
            ([ascii_upper(t) for t in tokens], not must_exactly_same),
            ([ascii_lower(t) for t in tokens], not no_lowercases),
        ):
            if not enabled:
                continue
            u = self._descend_insert(form)
            if len(self.types[u]) == 0:
                self.types[u].add(FILTERED_TYPE)

    def remove(self, tokens: list[str]) -> None:
        """Mirrors `remove` (annotation.h:140-149): clear types of the exact
        path; no-op if the path doesn't exist."""
        self.version += 1
        u = 0
        for tok in tokens:
            u = self.children[u].get(tok, -1)
            if u == -1:
                return
        self.types[u].clear()

    def get_type_from_kb(self, tokens: list[str]) -> str:
        """Mirrors `getTypeFromKB` (annotation.h:162-178): comma-joined sorted
        type set of the exact path, '' if absent."""
        u = 0
        for tok in tokens:
            u = self.children[u].get(tok, -1)
            if u == -1:
                return ""
        return ",".join(sorted(self.types[u]))

    def num_nodes(self) -> int:
        return len(self.children)


@dataclass
class DictionarySpec:
    """Raw dictionary content: parsed lines, before trie compilation.

    core: list of (type_field, surface) — type_field may be a comma list,
    mirroring dict_core.txt's two TSV columns (annotation.h:186-191).
    full: list of surface strings (dict_full.txt lines, annotation.h:210-217).
    stopwords: list of words (data/stopwords.txt lines, annotation.h:220-233).
    """

    core: list[tuple[str, str]] = field(default_factory=list)
    full: list[str] = field(default_factory=list)
    stopwords: list[str] = field(default_factory=list)


def build_trie(spec: DictionarySpec) -> TrieKB:
    """Build the KB trie with the reference's `Annotation::initialize`
    semantics (annotation.h:235-243): core insert -> full mark -> stopword
    cleanup, with the stopword set EMPTY during the core pass."""
    trie = TrieKB()
    stopword_set: set[str] = set()  # empty during load — reference ordering

    # loadKBForMatching, core pass (annotation.h:183-208)
    no_lowercases_for_this_kb = False
    for type_field, surface in spec.core:
        entity_types = split_by(type_field, ",")
        if not entity_types:
            raise ValueError(f"core dict line with no types: {type_field!r}")
        surface_tokens = split_by(strip_ref(surface), " ")
        no_lowercases = (
            "PER" in type_field or "ORG" in type_field or "LOC" in type_field
        )
        no_lowercases_for_this_kb = no_lowercases
        if not no_lowercases:
            for tok in surface_tokens:
                if ascii_lower(tok) in stopword_set:
                    no_lowercases = True
                    break
        trie.insert(surface_tokens, entity_types, no_lowercases)

    # full pass (annotation.h:210-217) — uses the LAST core line's flag
    for line in spec.full:
        surface_tokens = split_by(strip_ref(line), " ")
        trie.mark_filtered(surface_tokens, no_lowercases_for_this_kb)

    # cleanStopwords (annotation.h:220-233)
    for line in spec.stopwords:
        token = strip_ref(line)
        if not token:
            continue
        stopword_set.add(ascii_lower(token))
        trie.remove([ascii_lower(token)])
        trie.remove([ascii_upper(token)])
        trie.remove([capitalize_first(token)])

    return trie


def load_spec_from_files(
    core_path: str, full_path: str, stopword_path: str
) -> DictionarySpec:
    """File loader matching the reference's TSV/line formats
    (annotation.h:181-233; README.md:51-63)."""
    spec = DictionarySpec()
    with open(core_path, encoding="utf-8") as f:
        for raw in f:
            line = raw.rstrip("\n\r")
            if not line:
                continue
            cols = split_by(line, "\t")
            if len(cols) != 2:
                raise ValueError(f"bad dict_core line: {raw!r}")
            spec.core.append((cols[0], cols[1]))
    with open(full_path, encoding="utf-8") as f:
        spec.full = [ln.rstrip("\n\r") for ln in f if ln.rstrip("\n\r")]
    with open(stopword_path, encoding="utf-8") as f:
        spec.stopwords = [ln.rstrip("\n\r") for ln in f if ln.rstrip("\n\r")]
    return spec
