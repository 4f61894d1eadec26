"""search_many (batched multi-query execution) must return, for every
query in the batch, exactly the oracle's top-k: bit-equal float32 scores
and the same docs in the engine's (score desc, segment asc, docid asc)
order. Every test runs on each of the three kernel shapes of
Searcher._score."""

import contextlib

import numpy as np
import pytest

from lucene_7_x_9_x_spark import oracle
from lucene_7_x_9_x_spark.plans.query import (BooleanQuery,
                                              MatchAllDocsQuery, Occur,
                                              PhraseQuery, TermQuery)
from tests.test_search import _random_corpus

KERNEL_SHAPES = ["broadcast", "hot", "cogroup"]


@contextlib.contextmanager
def shaped_searcher(index, shape: str):
    """A Searcher on one kernel shape: cold broadcast-norms (every test
    index is under the 64 MB norms gate), hot (cache_index=True; its
    persists are released on exit), or cogroup (the fallback for norms too
    big to broadcast, forced by clearing the gate on the instance)."""
    from lucene_7_x_9_x_spark.searcher import Searcher
    s = Searcher(index, cache_index=shape == "hot")
    if shape == "cogroup":
        s._small_norms = False
    try:
        yield s
    finally:
        if shape == "hot":
            s._post_src.unpersist()
            s._terms_src.unpersist()


@pytest.fixture(scope="module")
def many_index(spark, tmp_path_factory):
    """(index, oracle over the docs in engine order, [(segment, docid)]
    of each oracle docid, two tail terms absent from some segment)."""
    from lucene_7_x_9_x_spark.index import build_index
    rng = np.random.RandomState(21)
    pdf = _random_corpus(rng, n_docs=500)
    out = str(tmp_path_factory.mktemp("many"))
    idx = build_index(spark, spark.createDataFrame(pdf), out,
                      id_cols=["id"], text_col="content", num_segments=3)
    dm = (idx.docmap().select("segment", "docid", "id").toPandas()
          .sort_values(["segment", "docid"]).reset_index(drop=True))
    ordered = dm.merge(pdf, on="id")
    eng = oracle.OracleEngine(*oracle.index_corpus(ordered,
                                                   text_col="content"))
    segs: dict = {}
    for seg, text in zip(ordered.segment, ordered.content):
        for t in set(text.split()):
            segs.setdefault(t, set()).add(seg)
    # two tail terms confined to the same segments, which are not all of
    # them: a batch of only these leaves a complement for the norms kernel
    n_seg = dm.segment.nunique()
    by_cover: dict = {}
    for t in sorted(segs):
        if t.startswith("t") and len(segs[t]) < n_seg:
            by_cover.setdefault(frozenset(segs[t]), []).append(t)
    rare = next(ts[:2] for ts in by_cover.values() if len(ts) >= 2)
    return (idx, eng, list(zip(dm.segment.tolist(), dm.docid.tolist())),
            rare)


@pytest.fixture(params=KERNEL_SHAPES)
def searcher(request, many_index):
    with shaped_searcher(many_index[0], request.param) as s:
        yield s


def _assert_oracle_topk(got, batch, many_index, k):
    _, eng, addr, _ = many_index
    for qid, q in batch.items():
        want = eng.search(q, k)
        g = got[got.qid == qid].sort_values("rank")
        assert g["rank"].tolist() == list(range(1, len(g) + 1)), qid
        assert list(zip(g.segment, g.docid)) == \
            [addr[d] for d in want.docid], qid
        assert np.array_equal(g.score.to_numpy(np.float32).view(np.uint32),
                              want.score.to_numpy(np.float32)
                              .view(np.uint32)), qid


def test_search_many_matches_oracle(searcher, many_index):
    batch = {
        "q_term": TermQuery("h0"),
        "q_disj": BooleanQuery([(Occur.SHOULD, TermQuery("h1")),
                                (Occur.SHOULD, TermQuery("h2", boost=2.0))]),
        "q_conj": BooleanQuery([(Occur.MUST, TermQuery("h0")),
                                (Occur.MUST, TermQuery("h3"))]),
        "q_not": BooleanQuery([(Occur.SHOULD, TermQuery("h4")),
                               (Occur.MUST_NOT, TermQuery("h0"))]),
        "q_phrase": PhraseQuery(["h0", "h1"]),
        "q_absent": TermQuery("nonexistent_zzz"),
    }
    got = searcher.search_many(batch, k=5).toPandas()
    _assert_oracle_topk(got, batch, many_index, 5)


def test_search_many_all_absent(searcher):
    got = searcher.search_many({"a": TermQuery("zzz1"),
                                "b": TermQuery("zzz2")}, k=5)
    assert got.count() == 0


def test_search_many_with_matchall(searcher, many_index):
    """A MatchAll-containing query in a batch must hit docs in EVERY
    segment, including segments holding none of the batch's terms — and an
    all-absent-terms batch with a MatchAll must still return its docs."""
    batch = {
        "q_all": MatchAllDocsQuery(),
        "q_term": TermQuery("h0"),
        "q_boolall": BooleanQuery([(Occur.MUST, MatchAllDocsQuery()),
                                   (Occur.MUST_NOT, TermQuery("h0"))]),
    }
    got = searcher.search_many(batch, k=7).toPandas()
    _assert_oracle_topk(got, batch, many_index, 7)
    # batch whose only term is absent + a MatchAll: still k docs
    got2 = searcher.search_many({"m": MatchAllDocsQuery(),
                                 "z": TermQuery("zzz_absent")},
                                k=4).toPandas()
    assert len(got2[got2.qid == "m"]) == 4
    assert len(got2[got2.qid == "z"]) == 0


def test_search_many_mixed_matchall_and_terms(searcher, many_index):
    """A MatchAll mixed into a scoring disjunction, batched with term
    queries whose terms are absent from some segment: the MatchAll query
    must still rank every doc (1 + its term clause where the term occurs,
    1 elsewhere), the uncovered segments coming from the norms-only
    kernel."""
    rare = many_index[3]
    batch = {
        "q_mixed": BooleanQuery([(Occur.SHOULD, MatchAllDocsQuery()),
                                 (Occur.SHOULD, TermQuery(rare[0]))]),
        "q_rare": TermQuery(rare[0]),
        "q_rare2": BooleanQuery([(Occur.SHOULD, TermQuery(rare[1])),
                                 (Occur.SHOULD, TermQuery(rare[0]))]),
    }
    got = searcher.search_many(batch, k=500).toPandas()
    assert len(got[got.qid == "q_mixed"]) == 500
    _assert_oracle_topk(got, batch, many_index, 500)
