"""Searcher.search's final reduce (_top_docs): the driver-side TopDocs
merge, the stored-id point read of the k hits (docmap_lookup, with the
Spark docmap fallback) and the driver-built local result frame
(TopDocs.java:75,106; IndexSearcher.java:410-416)."""

import json
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.types import (FloatType, IntegerType, LongType,
                               StringType, StructField, StructType)

from lucene_7_x_9_x_spark.index import IndexSnapshot, build_index
from lucene_7_x_9_x_spark.plans.query import (BooleanQuery, Occur,
                                              PhraseQuery, TermQuery)
from tests.test_search import _oracle_in_engine_order, _random_corpus

SCHEMA_NO_IDS = StructType([
    StructField("rank", IntegerType(), False),
    StructField("segment", IntegerType(), True),
    StructField("docid", LongType(), True),
    StructField("score", FloatType(), True)])
SCHEMA_IDS = StructType(SCHEMA_NO_IDS.fields
                        + [StructField("id", StringType(), True)])

QUERIES = [
    TermQuery("h0"),
    BooleanQuery([(Occur.SHOULD, TermQuery("h1")),
                  (Occur.SHOULD, TermQuery("h2", boost=2.0)),
                  (Occur.SHOULD, TermQuery("t0005"))]),
    BooleanQuery([(Occur.MUST, TermQuery("h0")),
                  (Occur.MUST, TermQuery("h1"))]),
    PhraseQuery(["h0", "h1"]),
]


def _build(spark, pdf, out, n_seg):
    return build_index(spark, spark.createDataFrame(pdf), out,
                       id_cols=["id"], text_col="content",
                       num_segments=n_seg)


def _oracle_top(eng, ordered, q, k, live=None):
    """The oracle's top-k rows (segment, docid, id, score) over the live
    docs, ties by engine order. ordered: every docmap row (tombstoned
    docs still count in the stats) in engine order."""
    m = eng.matches(q)
    d, s = m.docids, m.scores.astype(np.float32)
    if live is not None:
        keep = live[d]
        d, s = d[keep], s[keep]
    top = np.lexsort((d, -s.astype(np.float64)))[:k]
    rows = ordered.iloc[d[top]]
    return pd.DataFrame({"segment": rows.segment.to_numpy(),
                         "docid": rows.docid.to_numpy(),
                         "id": rows.id.to_numpy(), "score": s[top]})


def _assert_same(got: pd.DataFrame, want: pd.DataFrame, with_ids=True):
    assert got["rank"].tolist() == list(range(1, len(want) + 1))
    assert np.array_equal(got.score.to_numpy(np.float32).view(np.uint32),
                          want.score.to_numpy(np.float32).view(np.uint32))
    assert got.segment.tolist() == want.segment.tolist()
    assert got.docid.tolist() == want.docid.tolist()
    if with_ids:
        assert got.id.tolist() == want.id.tolist()


@pytest.fixture(scope="module")
def attach_index(spark, tmp_path_factory):
    pdf = _random_corpus(np.random.RandomState(23), n_docs=400)
    idx = _build(spark, pdf, str(tmp_path_factory.mktemp("aidx")), 3)
    eng, ordered = _oracle_in_engine_order(pdf, idx)
    return idx, eng, ordered


@pytest.mark.parametrize("with_ids", [True, False])
def test_search_matches_oracle(spark, attach_index, with_ids):
    from lucene_7_x_9_x_spark.searcher import Searcher
    idx, eng, ordered = attach_index
    s = Searcher(idx)
    for q in QUERIES:
        for k in (1, 10, 25):
            res = s.search(q, k, with_ids=with_ids)
            assert res.schema == (SCHEMA_IDS if with_ids
                                  else SCHEMA_NO_IDS)
            got = res.toPandas()
            assert got.score.dtype == np.float32
            _assert_same(got, _oracle_top(eng, ordered, q, k), with_ids)


def test_all_absent_terms_empty_with_exact_schema(spark, attach_index):
    from lucene_7_x_9_x_spark.searcher import Searcher
    idx, _, _ = attach_index
    s = Searcher(idx)
    q = BooleanQuery([(Occur.SHOULD, TermQuery("nosuchterm_a")),
                      (Occur.SHOULD, TermQuery("nosuchterm_b"))])
    for with_ids, schema in ((True, SCHEMA_IDS), (False, SCHEMA_NO_IDS)):
        res = s.search(q, 10, with_ids=with_ids)
        assert res.schema == schema
        assert res.collect() == []


def test_search_after_pages_match_oracle(spark, attach_index):
    from lucene_7_x_9_x_spark.searcher import Searcher
    idx, eng, ordered = attach_index
    s = Searcher(idx)
    q = QUERIES[1]
    want = _oracle_top(eng, ordered, q, 30)
    after, pages = None, []
    for _ in range(3):
        page = s.search(q, 10, after=after).toPandas()
        assert page["rank"].tolist() == list(range(1, 11))
        pages.append(page)
        last = page.iloc[-1]
        after = (float(last.score), int(last.segment), int(last.docid))
    got = pd.concat(pages, ignore_index=True)
    got["rank"] = np.arange(1, len(got) + 1)
    _assert_same(got, want)


def test_multi_batch_snapshot_with_deletes(spark, tmp_path):
    """Appended batch + tombstones: the point read spans the union of the
    batches' docmap datasets, and deleted docs never surface."""
    from lucene_7_x_9_x_spark.operators.deletes import delete_by_ids
    from lucene_7_x_9_x_spark.searcher import Searcher
    from lucene_7_x_9_x_spark.streaming.incremental import (append_batch,
                                                            finalize)
    rng = np.random.RandomState(5)
    base = _random_corpus(rng, n_docs=300)
    extra = _random_corpus(rng, n_docs=150)
    extra["id"] = [f"e{i:06d}" for i in range(len(extra))]
    out = str(tmp_path / "mb")
    _build(spark, base, out, 2)
    victims = base.id.iloc[::7].tolist()
    delete_by_ids(spark, out, spark.createDataFrame(
        [(v,) for v in victims], "id string"))
    append_batch(spark, spark.createDataFrame(extra), out,
                 segments_in_batch=2)
    idx = finalize(spark, out)
    assert len(idx.manifest["batches"]) == 2
    eng, ordered = _oracle_in_engine_order(pd.concat([base, extra]), idx)
    live = ~ordered.id.isin(victims).to_numpy()
    s = Searcher(idx)
    for q in QUERIES:
        got = s.search(q, 20).toPandas()
        _assert_same(got, _oracle_top(eng, ordered, q, 20, live))
    # the pyarrow point read itself (not its fallback) serves both batches
    pick = ordered.iloc[[0, len(ordered) - 1]]
    tbl = idx.docmap_lookup(pick.segment.tolist(), pick.docid.tolist(),
                            ["id"]).to_pandas()
    assert sorted(tbl.id) == sorted(pick.id)


def test_id_overlay_takes_spark_fallback(spark, tmp_path, monkeypatch):
    """A docvalues overlay on an id column is applied by docmap() only,
    so the point read refuses it and the attach falls back to the
    pushed-down docmap scan, returning the overlaid ids.
    update_doc_values refuses structural columns, so the overlay entry is
    written the way it would appear in the manifest."""
    from lucene_7_x_9_x_spark.searcher import Searcher
    pdf = _random_corpus(np.random.RandomState(31), n_docs=200)
    out = str(tmp_path / "ov")
    idx = _build(spark, pdf, out, 2)
    q = QUERIES[0]
    before = Searcher(idx).search(q, 10).toPandas()
    top = before.iloc[:4]
    spark.createDataFrame(pd.DataFrame({
        "segment": top.segment.astype("int32"),
        "docid": top.docid.astype("int64"),
        "value": ["ov_" + i for i in top.id]})).write.parquet(
            os.path.join(out, "dv_updates", "dv_ids"))
    with open(os.path.join(out, "manifest.json")) as f:
        m = json.load(f)
    m["dv_updates"] = [{"path": "dv_updates/dv_ids", "field": "id",
                        "gen": 1}]
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(m, f)
    snap = IndexSnapshot(spark, out)
    with pytest.raises(ValueError):
        snap.docmap_lookup(top.segment.tolist(), top.docid.tolist(), ["id"])
    got = Searcher(snap).search(q, 10).toPandas()
    want = before.copy()
    want.loc[:3, "id"] = ["ov_" + i for i in top.id]
    _assert_same(got, want)

    # an index directory the driver cannot read takes the same fallback
    def unreadable(*a, **kw):
        raise OSError("no driver-side access")
    monkeypatch.setattr(IndexSnapshot, "docmap_lookup", unreadable)
    _assert_same(Searcher(IndexSnapshot(spark, out)).search(q, 10)
                 .toPandas(), want)


def _jobs(spark, group, fn):
    """Number of Spark jobs fn() launches (job group + drained listener
    bus, so no job start is still in flight when counting)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_plan_guard_result_is_local(spark, attach_index):
    """search() runs no more jobs than its scoring collect alone, and the
    returned frame is local: collecting it launches none."""
    from pyspark.sql import functions as F
    from lucene_7_x_9_x_spark.searcher import Searcher
    idx, _, _ = attach_index
    s = Searcher(idx)
    q = QUERIES[1]
    s.search(q, 10).collect()  # warm: snapshot schemas, stats cache
    n_search, res = _jobs(spark, "attach_search", lambda: s.search(q, 10))
    n_collect, rows = _jobs(spark, "attach_collect", res.collect)
    n_score, _ = _jobs(spark, "attach_score", lambda: (
        s._score({"q": q}, 10).orderBy(F.desc("score"), "segment",
                                       "docid").limit(10).collect()))
    assert len(rows) == 10
    assert n_collect == 0
    assert 0 < n_search <= n_score
