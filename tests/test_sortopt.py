"""Stats-pruned sort-field top-k (NumericComparator competitive-iterator
role — demos NumericDocValuesTopNOptimization2.java / TestEarlyTerminal
.java), SortField.setMissingValue semantics (MissingValueTest.java), and
Weight#count metadata fast paths (TestCount.java). Semantics checked
against pandas replicas; the pruning cutoff's safety and the fact that it
actually prunes are asserted directly on row-group stats.
"""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lucene_7_x_9_x_spark.index import IndexSnapshot, build_index
from lucene_7_x_9_x_spark.operators import sortopt
from lucene_7_x_9_x_spark.operators.deletes import delete_by_ids
from lucene_7_x_9_x_spark.plans import query as Q
from lucene_7_x_9_x_spark.searcher import Searcher
from tests.test_search import _random_corpus


# ---------------------------------------------------------------------------
# prune_threshold math
# ---------------------------------------------------------------------------

def test_prune_threshold_ascending():
    # groups: [0..9]x10, [5..20]x10, [18..30]x10 — k=12 needs the two
    # smallest maxes (10+10 >= 12) -> c0 = 20
    stats = [(0, 9, 10), (5, 20, 10), (18, 30, 10)]
    assert sortopt.prune_threshold(stats, 12, ascending=True) == 20
    assert sortopt.prune_threshold(stats, 10, ascending=True) == 9
    assert sortopt.prune_threshold(stats, 30, ascending=True) == 30
    assert sortopt.prune_threshold(stats, 31, ascending=True) is None
    assert sortopt.prune_threshold(None, 5, ascending=True) is None


def test_prune_threshold_descending():
    stats = [(0, 9, 10), (5, 20, 10), (18, 30, 10)]
    assert sortopt.prune_threshold(stats, 10, ascending=False) == 18
    assert sortopt.prune_threshold(stats, 12, ascending=False) == 5


def test_prune_threshold_random_safety():
    # the cutoff always keeps >= k values on the competitive side and
    # always contains the true top-k, for random group layouts
    rng = np.random.RandomState(7)
    for _ in range(50):
        groups, vals = [], []
        for _ in range(rng.randint(1, 8)):
            n = rng.randint(1, 40)
            g = rng.randint(0, 1000, size=n)
            groups.append((int(g.min()), int(g.max()), n))
            vals.append(g)
        allv = np.sort(np.concatenate(vals))
        for k in (1, 5, len(allv)):
            if k > len(allv):
                continue
            c0 = sortopt.prune_threshold(groups, k, ascending=True)
            assert c0 is not None
            assert (allv <= c0).sum() >= k
            assert allv[k - 1] <= c0  # true top-k all pass the filter
            c1 = sortopt.prune_threshold(groups, k, ascending=False)
            assert (allv >= c1).sum() >= k
            assert allv[-k] >= c1


# ---------------------------------------------------------------------------
# end-to-end over a multi-row-group parquet: pruning prunes, result exact
# ---------------------------------------------------------------------------

def test_pruned_topk_parquet(spark, tmp_path):
    rng = np.random.RandomState(11)
    n = 4000
    pdf = pd.DataFrame({"id": np.arange(n),
                        "v": rng.randint(0, 100000, size=n)})
    path = str(tmp_path / "t.parquet")
    # many small files -> many row groups with distinct stats; sort by v
    # within ranges so group min/max actually differ
    (spark.createDataFrame(pdf).repartitionByRange(16, F.col("v"))
     .write.parquet(path))
    stats = sortopt.rowgroup_value_stats([path], "v")
    assert stats is not None and len(stats) >= 8
    c0 = sortopt.prune_threshold(stats, 10, ascending=True)
    # pruning is real: the cutoff excludes most groups
    assert c0 < pdf.v.max()
    assert sum(nr for mn, _, nr in stats if mn > c0) > n // 2
    df = spark.read.parquet(path)
    limited, order = sortopt.pruned_topk(
        df, "v", 10, ascending=True, cutoff=c0, tiebreak=(F.col("id"),))
    got = [(r["id"], r["v"]) for r in limited.collect()]
    want = list(pdf.sort_values(["v", "id"]).head(10)[["id", "v"]]
                .itertuples(index=False, name=None))
    assert got == want


def test_pruned_topk_missing_value(spark, tmp_path):
    # nulls sort as the missing substitute; competitive only when the
    # substitute passes the cutoff
    rows = [(i, None if i % 5 == 0 else (i * 37) % 1000)
            for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v long")
    for missing, cutoff in [(3, None), (3, 50), (2000, 50), (None, None)]:
        limited, order = sortopt.pruned_topk(
            df, "v", 10, ascending=True, missing=missing, cutoff=cutoff,
            tiebreak=(F.col("id"),))
        got = [(r["id"], r["v"]) for r in limited.collect()]
        pdf = pd.DataFrame(rows, columns=["id", "v"])
        if missing is None:
            pdf = pdf[pdf.v.notna()]
            key = pdf.v
        else:
            key = pdf.v.fillna(missing)
        want = list(pdf.assign(k=key).sort_values(["k", "id"]).head(10)
                    [["id", "v"]].itertuples(index=False, name=None))
        want = [(i, None if pd.isna(v) else v) for i, v in want]
        assert got == want, (missing, cutoff)


# ---------------------------------------------------------------------------
# Searcher.sorted_by_docvalues
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def so_index(spark, tmp_path_factory):
    rng = np.random.RandomState(31)
    pdf = _random_corpus(rng, n_docs=300)
    out = str(tmp_path_factory.mktemp("so") / "i")
    build_index(spark, spark.createDataFrame(pdf), out,
                id_cols=["id"], text_col="content", num_segments=4)
    return Searcher(IndexSnapshot(spark, out)), pdf


def _expected_by_dl(s, k, ascending):
    dm = s.index.docmap().select("segment", "docid", "id", "dl").toPandas()
    return list(dm.sort_values(["dl", "segment", "docid"],
                               ascending=[ascending, True, True])
                .head(k)[["id", "dl"]].itertuples(index=False, name=None))


def test_sorted_by_docvalues_matches_full_sort(spark, so_index):
    s, _ = so_index
    for asc in (True, False):
        got = [(r["id"], r["dl"]) for r in
               s.sorted_by_docvalues("dl", k=10, ascending=asc).collect()]
        assert got == _expected_by_dl(s, 10, asc)


def test_sorted_by_docvalues_prunes(spark, so_index):
    s, _ = so_index
    paths = [os.path.join(s.index.root, d, "kind=docmap")
             for d in s.index.manifest["batches"]]
    stats = sortopt.rowgroup_value_stats(paths, "dl")
    c0 = sortopt.prune_threshold(stats, 10, ascending=True)
    assert c0 is not None  # the fast path is live for this index


def test_sorted_by_docvalues_with_deletes(spark, so_index, tmp_path):
    import shutil
    s, pdf = so_index
    out = str(tmp_path / "i2")
    shutil.copytree(s.index.root, out)
    victims = [(r["id"],) for r in
               s.sorted_by_docvalues("dl", k=3).collect()]
    delete_by_ids(spark, out, spark.createDataFrame(victims, "id string"))
    s2 = Searcher(IndexSnapshot(spark, out))
    got = [r["id"] for r in s2.sorted_by_docvalues("dl", k=5).collect()]
    dm = (s.index.docmap().select("segment", "docid", "id", "dl")
          .toPandas())
    dm = dm[~dm.id.isin([v[0] for v in victims])]
    want = list(dm.sort_values(["dl", "segment", "docid"]).head(5).id)
    assert got == want


def test_sorted_by_docvalues_external_missing(spark, so_index):
    s, pdf = so_index
    ids = pdf.id.str[1:].astype(int)
    rows = [(i, None if n % 7 == 0 else int(n * 13) % 400)
            for i, n in zip(pdf.id, ids)]
    dv = spark.createDataFrame(rows, "id string, sv long")
    got = [(r["id"], r["sv"]) for r in
           s.sorted_by_docvalues("sv", k=10, missing=3,
                                 docvalues=dv).collect()]
    dm = (s.index.docmap().select("segment", "docid", "id").toPandas()
          .merge(pd.DataFrame(rows, columns=["id", "sv"]), on="id"))
    want = list(dm.assign(k=dm.sv.fillna(3))
                .sort_values(["k", "segment", "docid"]).head(10)
                [["id", "sv"]].itertuples(index=False, name=None))
    want = [(i, None if pd.isna(v) else v) for i, v in want]
    assert got == want


# ---------------------------------------------------------------------------
# Weight#count fast paths
# ---------------------------------------------------------------------------

def test_count_fast_paths(spark, so_index, monkeypatch):
    s, pdf = so_index
    term = "h3"
    slow_term = s.matches(Q.TermQuery(term)).count()
    slow_all = s.matches(Q.MatchAllDocsQuery()).count()

    def boom(*a, **k):
        raise AssertionError("fast path should not run the kernel")
    monkeypatch.setattr(s, "_score", boom)
    assert s.count(Q.TermQuery(term)) == slow_term
    assert s.count(Q.MatchAllDocsQuery()) == slow_all == len(pdf)
    assert s.count(Q.BoostQuery(Q.TermQuery(term), 2.0)) == slow_term
    assert s.count(Q.ConstantScoreQuery(Q.MatchAllDocsQuery())) == slow_all
    assert s.count(Q.TermQuery("zzz_not_a_term")) == 0
    assert s.count(Q.MatchNoDocsQuery()) == 0


def test_count_falls_back_with_deletes(spark, so_index, tmp_path):
    import shutil
    s, pdf = so_index
    out = str(tmp_path / "i3")
    shutil.copytree(s.index.root, out)
    victim = pdf.id.iloc[0]
    delete_by_ids(spark, out, spark.createDataFrame([(victim,)], "id string"))
    s2 = Searcher(IndexSnapshot(spark, out))
    assert s2._count_fast(Q.MatchAllDocsQuery()) is None
    assert s2.count(Q.MatchAllDocsQuery()) == len(pdf) - 1


def test_string_stats_refused(spark, tmp_path):
    # BYTE_ARRAY stats may be length-truncated in footers -> no cutoff;
    # the sort must still work un-pruned (TermOrdValComparator role)
    df = spark.createDataFrame(
        [(i, f"s{i % 13:03d}") for i in range(100)], "id long, sk string")
    path = str(tmp_path / "s.parquet")
    df.write.parquet(path)
    assert sortopt.rowgroup_value_stats([path], "sk") is None
    limited, _ = sortopt.pruned_topk(
        spark.read.parquet(path), "sk", 5, ascending=True,
        tiebreak=(F.col("id"),))
    got = [(r["id"], r["sk"]) for r in limited.collect()]
    assert got == [(0, "s000"), (13, "s000"), (26, "s000"),
                   (39, "s000"), (52, "s000")]
