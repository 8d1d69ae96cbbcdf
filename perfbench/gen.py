"""Seeded benchmark inputs, generated once and cached on disk.

The benchmark owns its generator instead of calling ``autoner_spark.synth``,
so a later change to the library's synthetic data cannot move a workload.
Every input is a pure function of (workload, seed, GEN_VERSION); bump
GEN_VERSION whenever the generated data changes, which also retires old
cache entries. Generation runs before any clock starts and is never timed.

Two corpus shapes:

* dense: a ~30-word vocabulary and a BC5CDR-sized dictionary (~2.4k core +
  ~6.8k full surfaces). Nearly every turn matches, so the tagger's DP, the
  link persist and the triple explode carry the work, and the trie fits
  tagvec's direct-addressed transition table.
* bigdict: a ~3e4-word Zipfian vocabulary and a 1.3e5-surface dictionary
  (110k core, 20k full). Turns are filler words with a few dictionary
  surfaces inserted, taken from a seeded permutation so that nearly every
  inserted surface is a distinct one.
"""

from __future__ import annotations

import json
import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from autoner_spark.dictionary import DictionarySpec

GEN_VERSION = 1

TRANSCRIPT_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string()),
        pa.field("turn_idx", pa.int32()),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC")),
    ]
)

STOPWORDS = ["the", "a", "of", "and"]
_TYPES = ["Chemical", "Disease", "Operator", "Object", "Metric"]
_PUNCT = [",", ".", "(", ")", "!", "?"]
_DENSE_WORDS = [
    "query", "data", "key", "value", "order", "group", "line", "column",
    "batch", "merge", "sort", "row", "filter", "spark", "table", "customer",
    "agg", "hash", "join", "scan", "window", "stream", "vector", "big",
    "small", "fast", "slow", "shuffle", "plan", "count",
]
_SYLLABLES = [
    "ba", "ce", "di", "fo", "gu", "ha", "ke", "li", "mo", "nu", "pa", "qe",
    "ri", "so", "tu", "va", "we", "xi", "yo", "zu", "bra", "cle", "dri",
    "flo", "gru", "pla", "sti", "tro",
]
_EPOCH_US = 1_735_689_600_000_000  # 2025-01-01T00:00:00Z


@dataclass(frozen=True)
class Shape:
    """Corpus and dictionary sizes of one workload's inputs."""

    kind: str            # "dense" or "bigdict"
    n_turns: int         # turns in the corpus
    n_files: int         # parquet files the corpus is split into
    raw_text: bool = False  # punctuated raw text for the charclass tokenizer


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng(
        [seed, GEN_VERSION, zlib.crc32(stream.encode())])


def _combos(rng, words: list[str], n: int, lengths: tuple[int, ...],
            taken: set[str]) -> list[str]:
    """n distinct space-joined word combinations not already in ``taken``."""
    out: list[str] = []
    words_a = np.asarray(words, dtype=object)
    while len(out) < n:
        m = n - len(out)
        ks = rng.choice(lengths, size=m)
        rows = words_a[rng.integers(0, len(words), size=(m, max(lengths)))]
        for row, k in zip(rows, ks):
            s = " ".join(row[:k])
            if s not in taken:
                taken.add(s)
                out.append(s)
    return out


def _typed_core(rng, surfaces: list[str]) -> list[tuple[str, str]]:
    """Seeded types; one surface in ten carries two, so the triple count
    exercises comma-joined type sets."""
    first = rng.integers(0, len(_TYPES), size=len(surfaces))
    second = (first + 1 + rng.integers(0, len(_TYPES) - 1,
                                       size=len(surfaces))) % len(_TYPES)
    multi = rng.random(len(surfaces)) < 0.1
    return [
        (",".join(sorted({_TYPES[a], _TYPES[b]})) if m else _TYPES[a], s)
        for a, b, m, s in zip(first, second, multi, surfaces)
    ]


def _dense_dict(seed: int) -> DictionarySpec:
    rng = _rng(seed, "dense-dict")
    taken: set[str] = set()
    core = _typed_core(rng, _combos(rng, _DENSE_WORDS, 2400, (2, 3), taken))
    # a few single-word entities and one no-lowercase (ORG) surface keep the
    # case-variant and stopword paths of build_trie in play
    core += [("Operator", "shuffle"), ("Object,Operator", "stream"),
             ("ORG", "Spark Foundation")]
    full = _combos(rng, _DENSE_WORDS, 6800, (2, 3), set(taken))
    return DictionarySpec(core=core, full=full, stopwords=list(STOPWORDS))


def _vocab(seed: int, n: int) -> list[str]:
    rng = _rng(seed, "vocab")
    syl = np.asarray(_SYLLABLES, dtype=object)
    words: set[str] = set()
    while len(words) < n:
        m = n - len(words)
        ks = rng.integers(2, 5, size=m)
        rows = syl[rng.integers(0, len(syl), size=(m, 4))]
        words.update("".join(row[:k]) for row, k in zip(rows, ks))
    return sorted(words)[:n]


def _bigdict_dict(seed: int, vocab: list[str]) -> DictionarySpec:
    rng = _rng(seed, "bigdict-dict")
    taken: set[str] = set()
    core = _typed_core(rng, _combos(rng, vocab, 110_000, (2, 3), taken))
    full = _combos(rng, vocab, 20_000, (2,), taken)
    return DictionarySpec(core=core, full=full, stopwords=list(STOPWORDS))


def _dense_turns(seed: int, spec: DictionarySpec, n: int, raw: bool
                 ) -> list[str]:
    """12-42 fragments per turn: words, core surfaces (some ALL-UPPER) and
    punctuation. ``raw`` attaches punctuation to the previous word and
    doubles some spaces, so only the charclass tokenizer splits it right."""
    rng = _rng(seed, "dense-turns" + ("-raw" if raw else ""))
    surfaces = [s for _, s in spec.core]
    pool = (_DENSE_WORDS + surfaces + [s.upper() for s in surfaces[:300]]
            + _PUNCT)
    w = np.concatenate([
        np.full(len(_DENSE_WORDS), 0.55 / len(_DENSE_WORDS)),
        np.full(len(surfaces), 0.33 / len(surfaces)),
        np.full(300, 0.04 / 300),
        np.full(len(_PUNCT), 0.08 / len(_PUNCT)),
    ])
    pool_a = np.asarray(pool, dtype=object)
    n_frag = rng.integers(12, 43, size=n)
    frags = pool_a[rng.choice(len(pool), size=int(n_frag.sum()), p=w / w.sum())]
    bounds = np.concatenate(([0], np.cumsum(n_frag)))
    turns = [" ".join(frags[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]
    if raw:
        for p in _PUNCT:
            turns = [t.replace(" " + p, p) for t in turns]
        turns = [t.replace(" the ", "  the ") for t in turns]
    return turns


def _bigdict_turns(seed: int, vocab: list[str], spec: DictionarySpec, n: int
                   ) -> list[str]:
    """6-15 Zipfian filler words per turn plus six core surfaces, drawn in
    a seeded permutation so distinct matched surfaces ~= min(6 n, core)."""
    rng = _rng(seed, "bigdict-turns")
    ranks = rng.permutation(len(vocab))
    zipf = 1.0 / (1.0 + ranks) ** 1.1
    vocab_a = np.asarray(vocab, dtype=object)
    n_fill = rng.integers(6, 16, size=n)
    fill = vocab_a[rng.choice(len(vocab), size=int(n_fill.sum()),
                              p=zipf / zipf.sum())]
    order = rng.permutation(len(spec.core))
    surf = [spec.core[order[i % len(order)]][1] for i in range(6 * n)]
    bounds = np.concatenate(([0], np.cumsum(n_fill)))
    turns = []
    for t, (a, b) in enumerate(zip(bounds[:-1], bounds[1:])):
        toks = list(fill[a:b])
        at = sorted(rng.integers(0, len(toks) + 1, size=6), reverse=True)
        for k, pos in enumerate(at):
            toks.insert(pos, surf[6 * t + k])
        turns.append(" ".join(toks))
    return turns


def _table(turns: list[str], first_conv: int, ts0_us: int, step_us: int
           ) -> pa.Table:
    """Transcript rows: 8 turns per conversation, event time starting
    ``ts0_us`` after the epoch and advancing ``step_us`` per turn."""
    n = len(turns)
    i = np.arange(n)
    conv = first_conv + i // 8
    turn_idx = (i % 8).astype(np.int32)
    roles = np.asarray(["user", "assistant", "tool"], dtype=object)[turn_idx % 3]
    return pa.table(
        {
            "conv_id": pa.array([f"conv-{c:07d}" for c in conv], pa.string()),
            "turn_idx": pa.array(turn_idx, pa.int32()),
            "role": pa.array(roles, pa.string()),
            "text": pa.array(turns, pa.string()),
            "tool": pa.array(np.where(roles == "tool", "tool-0", None),
                             pa.string()),
            "ts": pa.array(_EPOCH_US + ts0_us + i.astype(np.int64) * step_us,
                           pa.timestamp("us", tz="UTC")),
        },
        schema=TRANSCRIPT_SCHEMA,
    )


@dataclass(frozen=True)
class Inputs:
    """A generated workload input: the dictionary and the corpus files."""

    spec: DictionarySpec
    files: list[str]
    n_turns: int
    facts: dict


def _load(root: str) -> Inputs:
    with open(os.path.join(root, "inputs.json"), encoding="utf-8") as f:
        meta = json.load(f)
    spec = DictionarySpec(
        core=[tuple(x) for x in meta["core"]], full=meta["full"],
        stopwords=meta["stopwords"],
    )
    files = [os.path.join(root, name) for name in meta["files"]]
    return Inputs(spec=spec, files=files, n_turns=meta["n_turns"],
                  facts=meta["facts"])


def generate(cache_dir: str, workload: str, shape: Shape, seed: int
             ) -> Inputs:
    """Return the workload's inputs, generating them into the cache on the
    first call for this (workload, shape, seed, GEN_VERSION)."""
    key = f"{workload}-{shape.n_turns}x{shape.n_files}-s{seed}-v{GEN_VERSION}"
    root = os.path.join(cache_dir, key)
    if os.path.exists(os.path.join(root, "inputs.json")):
        return _load(root)
    tmp = root + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    if shape.kind == "dense":
        spec = _dense_dict(seed)
        turns = _dense_turns(seed, spec, shape.n_turns, shape.raw_text)
        facts = {"vocab_words": len(_DENSE_WORDS)}
    else:
        vocab = _vocab(seed, 30_000)
        spec = _bigdict_dict(seed, vocab)
        turns = _bigdict_turns(seed, vocab, spec, shape.n_turns)
        facts = {"vocab_words": len(vocab)}
    per_file = -(-len(turns) // shape.n_files)
    names = []
    for k in range(shape.n_files):
        chunk = turns[k * per_file:(k + 1) * per_file]
        if shape.raw_text:
            # streamed files: 20 s of event time per file, so the 1-minute
            # windows close as files arrive and watermarked state stays
            # bounded
            ts0, step = k * 20_000_000, 20_000_000 // max(len(chunk), 1)
        else:
            ts0, step = k * per_file * 1000, 1000
        table = _table(chunk, k * (per_file // 8 + 1), ts0, step)
        name = f"part-{k:04d}.parquet"
        pq.write_table(table, os.path.join(tmp, name), row_group_size=4096)
        names.append(name)
    facts["dictionary_surfaces"] = len(spec.core) + len(spec.full)
    with open(os.path.join(tmp, "inputs.json"), "w", encoding="utf-8") as f:
        json.dump({"core": spec.core, "full": spec.full,
                   "stopwords": spec.stopwords, "files": names,
                   "n_turns": len(turns), "facts": facts}, f)
    os.replace(tmp, root)
    return _load(root)
