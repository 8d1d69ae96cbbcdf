"""The tagger compiles a trie once and broadcasts it once per SparkContext.

``tag_transcripts`` keeps each trie's compiled forms (and their broadcasts)
in ``tagger.compiled_broadcast``'s cache; these tests pin that a repeated
call neither recompiles nor rebroadcasts, that a trie mutation or a new
SparkContext is noticed, and that the vec route keeps only its array form.
They run on the shared session and never stop it.
"""

import gc
import weakref

import pytest

from autoner_spark import synth, tagger, tagvec
from autoner_spark.dictionary import build_trie
from autoner_spark.lineage import bucketize_transcripts, tag_resumable
from autoner_spark.tagger import compiled_broadcast, tag_transcripts


@pytest.fixture
def calls(monkeypatch):
    """Counts of compile_trie / compile_vec calls, made through the module
    attributes as the cache does."""
    n = {"trie": 0, "vec": 0}

    def counted(module, attr, key):
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            n[key] += 1
            return orig(*args, **kwargs)

        monkeypatch.setattr(module, attr, wrapper)

    counted(tagger, "compile_trie", "trie")
    counted(tagvec, "compile_vec", "vec")
    return n


@pytest.fixture
def broadcasts(spark, monkeypatch):
    """Every value broadcast on the shared SparkContext during the test."""
    sc = spark.sparkContext
    seen = []
    orig = sc.broadcast

    def wrapper(value):
        seen.append(value)
        return orig(value)

    monkeypatch.setattr(sc, "broadcast", wrapper)
    return seen


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_vec_route_compiles_once(spark, calls, broadcasts):
    trie = build_trie(synth.dict_spec())
    t = synth.synth_transcripts(spark, 10, partitions=3)
    first = rows(tag_transcripts(t, trie))
    second = rows(tag_transcripts(t, trie))
    assert first and first == second
    assert calls == {"trie": 1, "vec": 1}
    assert len(broadcasts) == 1
    # the vec route keeps only the array form, not the nested dicts
    assert set(tagger._COMPILED[trie].values) == {"vec"}


def test_insert_after_a_call_is_tagged_next_call(spark, calls):
    trie = build_trie(synth.dict_spec())
    t = spark.createDataFrame(
        [("c", 0, "the zorblax engine")],
        "conv_id string, turn_idx int, text string",
    )
    assert rows(tag_transcripts(t, trie)) == []
    trie.insert(["zorblax"], ["Gadget"], no_lowercases=False)
    assert rows(tag_transcripts(t, trie)) == [
        ("c", 0, 1, 2, "zorblax", "Gadget")
    ]
    assert calls == {"trie": 2, "vec": 2}


def test_scalar_routes_share_one_broadcast(spark, calls, broadcasts):
    """charclass (mapInArrow) and passthrough (mapInPandas) both run on the
    nested-dict form: one compile, one broadcast for both and for repeats."""
    trie = build_trie(synth.dict_spec())
    t = synth.synth_transcripts(spark, 10, partitions=3)
    ts = t.withColumn("ts", t.turn_idx * 10)
    raw1 = rows(tag_transcripts(t, trie, tokenizer="charclass"))
    passed = rows(tag_transcripts(ts, trie, passthrough=("ts",)))
    raw2 = rows(tag_transcripts(t, trie, tokenizer="charclass"))
    assert raw1 and raw1 == raw2
    assert passed and all(r[6] == r[1] * 10 for r in passed)
    assert calls == {"trie": 1, "vec": 0}
    assert len(broadcasts) == 1
    # a later vec call reuses the kept nested dicts
    tag_transcripts(t, trie)
    assert calls == {"trie": 1, "vec": 1}


def test_tag_resumable_compiles_once(spark, tmp_path, calls, broadcasts):
    out = str(tmp_path / "run")
    trie = build_trie(synth.dict_spec())
    transcripts = synth.synth_transcripts(spark, 25, partitions=4)
    bucketize_transcripts(transcripts, out, 4)
    assert tag_resumable(spark, trie, out, 4).count() > 0
    assert calls == {"trie": 1, "vec": 1}
    assert len(broadcasts) == 1


class FakeContext:
    """Stands in for a SparkContext: ``_jsc`` is None once stopped."""

    def __init__(self):
        self._jsc = object()
        self.values = []

    def broadcast(self, value):
        self.values.append(value)
        return object()


def test_stale_context_gets_a_fresh_broadcast(calls):
    trie = build_trie(synth.dict_spec())
    old, new = FakeContext(), FakeContext()
    bc = compiled_broadcast(old, trie, "vec")
    assert compiled_broadcast(old, trie, "vec") is bc
    # a replaced context: rebroadcast the kept form, no recompile
    bc_new = compiled_broadcast(new, trie, "vec")
    assert bc_new is not bc
    assert new.values == old.values
    # a stopped context never hands out its broadcast again
    new._jsc = None
    assert compiled_broadcast(new, trie, "vec") is not bc_new
    assert len(new.values) == 2
    assert calls == {"trie": 1, "vec": 1}


def test_cache_record_dies_with_its_trie(calls):
    trie = build_trie(synth.dict_spec())
    compiled_broadcast(FakeContext(), trie, "scalar")
    assert trie in tagger._COMPILED
    before = len(tagger._COMPILED)
    ref = weakref.ref(trie)
    del trie
    gc.collect()
    # the cache holds no strong reference: the trie and its record are gone
    assert ref() is None
    assert len(tagger._COMPILED) < before
