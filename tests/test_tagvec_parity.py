"""Vectorized batch tagger (tagvec) vs scalar tag_tokens_compiled.

The batch engine must be output-identical — same spans, same types, same
emission order — on the synthetic corpus (both dictionary profiles), on
adversarial edge inputs, and on random token soup, for entity and filtered
weights. Spark-level parity vs the oracle is covered by
tests/test_tagger_spark.py and tests/test_bc5cdr.py, which now route
through this engine."""

import random

import pyarrow as pa
import pytest

from autoner_spark import synth
from autoner_spark.dictionary import build_trie
from autoner_spark.tagger import TOKENIZERS, compile_trie, tag_tokens_compiled
from autoner_spark.tagvec import compile_vec, tag_record_batch

tokenize = TOKENIZERS["whitespace"]

EDGE_ROWS = [
    {"conv_id": "e", "turn_idx": 0, "text": ""},
    {"conv_id": "e", "turn_idx": 1, "text": None},
    {"conv_id": "e", "turn_idx": 2, "text": "   "},
    {"conv_id": "e", "turn_idx": 3, "text": ", . ( )"},
    {"conv_id": "e", "turn_idx": 4, "text": "hash  join   shuffle"},
    {"conv_id": "e", "turn_idx": 5, "text": "zzz unknown qqq"},
    {"conv_id": "e", "turn_idx": 6, "text": "shuffle"},
    {"conv_id": "e", "turn_idx": 7, "text": "the the the"},
    {"conv_id": "e", "turn_idx": 8,
     "text": "hash join hash join sort merge join the vector"},
]


def scalar_tag(rows, comp, weight):
    out = []
    for r in rows:
        x = r["text"]
        if not x:
            continue
        for b, e, surf, ts in tag_tokens_compiled(tokenize(x), comp, weight):
            out.append((r["conv_id"], r["turn_idx"], b, e, surf, ts))
    return out


def vec_tag(rows, vec, weight):
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([r["conv_id"] for r in rows], pa.string()),
            pa.array([r["turn_idx"] for r in rows], pa.int32()),
            pa.array([r["text"] for r in rows], pa.string()),
        ],
        names=["conv_id", "turn_idx", "text"],
    )
    out = tag_record_batch(batch, vec, weight)
    return list(
        zip(
            out.column(0).to_pylist(),
            out.column(1).to_pylist(),
            out.column(2).to_pylist(),
            out.column(3).to_pylist(),
            out.column(4).to_pylist(),
            out.column(5).to_pylist(),
        )
    )


@pytest.mark.parametrize("spec_fn,kw", [
    (synth.dict_spec, {}),
    (synth.bench_dict_spec, {"min_frags": 12, "rng_frags": 30}),
])
@pytest.mark.parametrize("weight", [1.0, 0.5, 2.0, 0.0])
def test_parity_synth(spec_fn, kw, weight):
    comp = compile_trie(build_trie(spec_fn()))
    vec = compile_vec(comp)
    rows = list(EDGE_ROWS)
    for c in range(120):
        for t in range(synth.turns_for_conv(c)):
            rows.append(synth.turn_row(c, t, **kw))
    assert vec_tag(rows, vec, weight) == scalar_tag(rows, comp, weight)


def test_parity_random_soup():
    comp = compile_trie(build_trie(synth.dict_spec()))
    vec = compile_vec(comp)
    rng = random.Random(7)
    words = [
        "hash", "join", "scan", "the", "zz", ",", ".", "(", "shuffle",
        "table", "big", "small", "sort", "merge", "row", "count", "a",
    ]
    rows = [
        {
            "conv_id": f"r{i}",
            "turn_idx": i,
            "text": " ".join(
                rng.choice(words) for _ in range(rng.randrange(0, 30))
            ),
        }
        for i in range(3000)
    ]
    a = scalar_tag(rows, comp, 1.0)
    b = vec_tag(rows, vec, 1.0)
    assert a == b
    assert a, "stress fixture must produce mentions"


def test_empty_batch():
    vec = compile_vec(compile_trie(build_trie(synth.dict_spec())))
    assert vec_tag([], vec, 1.0) == []


def test_newline_trie_edge_stays_unreachable():
    """A dict surface containing a mid-surface "\\n" token builds a trie
    edge whose intern id is remapped away (vocab["\\n"] = NEWLINE_ID); the
    packed (state, token) key of that edge must NOT alias into the next
    state's key space (r07 review finding: the phantom transition made
    the batch engine emit mentions the scalar/reference tagger never
    produces)."""
    from autoner_spark.dictionary import DictionarySpec

    spec = DictionarySpec(
        core=[("T", "8 9 6"), ("T", "7 \n 6"), ("T", "9 6")],
        full=[], stopwords=[],
    )
    comp = compile_trie(build_trie(spec))
    vec = compile_vec(comp)
    rows = [
        {"conv_id": "p", "turn_idx": 0, "text": "9 8 6"},
        {"conv_id": "p", "turn_idx": 1, "text": "8 9 6"},
        {"conv_id": "p", "turn_idx": 2, "text": "9 6"},
        {"conv_id": "p", "turn_idx": 3, "text": "7 6"},
    ]
    assert vec_tag(rows, vec, 1.0) == scalar_tag(rows, comp, 1.0)


def _deep_spec():
    """Dictionary with >7-token surfaces: exercises depth fields beyond a
    3-bit packing (the BC5CDR regression class) and nested prefixes."""
    from autoner_spark.dictionary import DictionarySpec

    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
             "theta", "iota", "kappa", "lam", "mu"]
    core = [
        ("Long", " ".join(words[:9])),
        ("Long", " ".join(words[:11])),
        ("Mid", " ".join(words[:4])),
        ("Short", "alpha beta"),
        ("Short", "beta gamma"),
    ]
    return DictionarySpec(core=core, full=[" ".join(words[2:10])],
                          stopwords=[])


@pytest.mark.parametrize("force_sparse", [False, True])
def test_parity_deep_surfaces(force_sparse):
    comp = compile_trie(build_trie(_deep_spec()))
    vec = compile_vec(comp)
    if force_sparse:
        # exercise the searchsorted transition path large tries take
        vec = dict(vec, trans_dense=None)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
             "theta", "iota", "kappa", "lam", "mu", "zzz"]
    rng = random.Random(11)
    rows = [
        {"conv_id": f"d{i}", "turn_idx": i,
         "text": " ".join(rng.choice(words)
                          for _ in range(rng.randrange(0, 30)))}
        for i in range(2000)
    ]
    rows.append({"conv_id": "full", "turn_idx": 0,
                 "text": " ".join(words[:11]) + " zzz " + " ".join(words[:9])})
    a = scalar_tag(rows, comp, 1.0)
    b = vec_tag(rows, vec, 1.0)
    assert a == b
    assert any(m[3] - m[2] >= 9 for m in a), "deep surfaces must match"


def test_dp_group_key_overflow_raises_before_allocating():
    """A 2**25-token turn with a 63-token match needs (2**25 + 1) * 64 > 2**31
    DP group keys: _dp_segments must refuse it instead of wrapping the int32
    key, and before it allocates any rows x maxlen table (f alone would be
    256 MiB here)."""
    import tracemalloc

    import numpy as np

    from autoner_spark.tagvec import _dp_segments

    n_tok, depth = 2**25, 63
    one = np.zeros(1, dtype=np.int64)
    tracemalloc.start()
    try:
        with pytest.raises(ValueError, match="int32"):
            _dp_segments(
                counts=np.array([n_tok], dtype=np.int64),
                m_row=one, m_i=one + (n_tok - depth), m_d=one + depth,
                m_kind=np.ones(1, dtype=np.int8), m_ts=one + 1,
                order=one, weight=1.0,
            )
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 1 << 20
