"""Mixed MatchAll + term queries must cover EVERY segment — including
segments that hold none of the query's terms (regression: the segnorms
semi-join used to drop them). Checked against the in-memory oracle on each
kernel shape of Searcher._score (cold broadcast-norms, hot cache_index,
cogroup), for search, count and rescore."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_7_x_9_x_spark import oracle
from lucene_7_x_9_x_spark.index import build_index
from lucene_7_x_9_x_spark.searcher import Searcher
from lucene_7_x_9_x_spark.plans.query import (BooleanQuery, BoostQuery,
                                              ConstantScoreQuery,
                                              MatchAllDocsQuery, Occur,
                                              TermQuery)
from tests.test_search_many import KERNEL_SHAPES, shaped_searcher

F32 = np.float32


@pytest.fixture(scope="module")
def skewed_index(spark, tmp_path_factory):
    # 'zonly' lives in exactly one of 4 segments; 'common' everywhere
    tmp = tmp_path_factory.mktemp("ma")
    rows = [(i, ("zonly common x" if i < 5 else "common other y"))
            for i in range(40)]
    docs = (spark.createDataFrame(rows, "doc_id long, text string")
            .repartitionByRange(4, "doc_id"))
    idx = build_index(spark, docs, str(tmp / "i"), id_cols=["doc_id"],
                      text_col="text", segment_by="input")
    texts = [t for _, t in rows]
    eng = oracle.OracleEngine(*oracle.index_token_lists(
        [t.split() for t in texts]))
    return idx, eng


MIXED = BooleanQuery([(Occur.SHOULD, MatchAllDocsQuery()),
                      (Occur.SHOULD, TermQuery("zonly"))])


@pytest.mark.parametrize("shape", KERNEL_SHAPES)
def test_mixed_matchall_covers_all_segments(skewed_index, shape):
    idx, eng = skewed_index
    with shaped_searcher(idx, shape) as s:
        assert s.count(MIXED) == 40
        got = s.search(MIXED, 40).toPandas()
    want = eng.search(MIXED, 40)
    # docid == doc_id here (range-partitioned by doc_id, 10 per segment)
    assert sorted(got.doc_id.tolist()) == sorted(range(40))
    by_id = dict(zip(got.doc_id.tolist(),
                     got.score.to_numpy(np.float32).tolist()))
    for r in range(40):
        assert F32(by_id[r]) == want.score[want.docid == r].iloc[0]


def test_matchall_filter_clause_covers_all_segments(skewed_index):
    idx, eng = skewed_index
    s = Searcher(idx)
    q = BooleanQuery([(Occur.MUST, TermQuery("common")),
                      (Occur.SHOULD, BoostQuery(ConstantScoreQuery(
                          MatchAllDocsQuery()), 3.0))])
    assert s.count(q) == 40
    got = s.search(q, 40).toPandas()
    want = eng.search(q, 40)
    by_id = dict(zip(got.doc_id.tolist(),
                     got.score.to_numpy(np.float32).tolist()))
    for r in range(40):
        assert F32(by_id[r]) == want.score[want.docid == r].iloc[0]


@pytest.mark.parametrize("shape", KERNEL_SHAPES)
def test_rescore_with_matchall_second_query(skewed_index, shape):
    idx, eng = skewed_index
    with shaped_searcher(idx, shape) as s:
        first = s.search(TermQuery("common"), 40)
        out = s.rescore(first, MIXED, weight=2.0, k=40).toPandas()
    assert len(out) == 40  # nothing dropped
    # every first-pass doc gains 2 * (matchall 1.0 + zonly contribution)
    m1 = eng.matches(TermQuery("common"))
    m2 = eng.matches(MIXED)
    want = {}
    for d, sc in zip(m1.docids.tolist(), m1.scores):
        add = m2.scores[list(m2.docids).index(d)]
        want[d] = F32(np.float64(sc) + np.float64(F32(2.0) * add))
    # join rescored scores back through segment/docid == doc_id layout
    dm = idx.docmap().select("docid", "segment", "doc_id").toPandas()
    seg_doc_to_id = {(r.segment, r.docid): r.doc_id
                     for r in dm.itertuples()}
    for r in out.itertuples():
        did = seg_doc_to_id[(r.segment, r.docid)]
        assert F32(r.score) == want[did], did


@pytest.mark.parametrize("shape", KERNEL_SHAPES)
def test_rescore_keeps_base_score_in_uncovered_segments(skewed_index, shape):
    # query2's terms live in ONE segment; first-pass docs in the other
    # segments must keep their base score (query2 adds 0 there) — the
    # QueryRescorer contract, not just the MatchAll case
    idx, eng = skewed_index
    with shaped_searcher(idx, shape) as s:
        first = s.search(TermQuery("common"), 40)
        out = s.rescore(first, TermQuery("zonly"), weight=2.0,
                        k=40).toPandas()
    assert len(out) == 40  # nothing dropped
    m1 = eng.matches(TermQuery("common"))
    m2 = eng.matches(TermQuery("zonly"))
    add = dict(zip(m2.docids.tolist(), m2.scores))
    want = {d: F32(np.float64(sc)
                   + np.float64(F32(2.0) * add.get(d, F32(0.0))))
            for d, sc in zip(m1.docids.tolist(), m1.scores)}
    dm = idx.docmap().select("docid", "segment", "doc_id").toPandas()
    seg_doc_to_id = {(r.segment, r.docid): r.doc_id
                     for r in dm.itertuples()}
    for r in out.itertuples():
        did = seg_doc_to_id[(r.segment, r.docid)]
        assert F32(r.score) == want[did], did
