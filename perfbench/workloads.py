"""The benchmark's workloads: seeded inputs, the measured operation, the
correctness gate and the per-layer summary of each.

A workload object is driven by run.py in this order: ``prepare()``,
``setup()`` a few times (timed), ``op(i)`` in a closed
loop for the run's measured seconds, ``finish()``, then ``check()``
outside every timed region, and ``layers()`` in traced runs.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd

import __spark_entry__ as entry
from lucene_7_x_9_x_spark import oracle
from lucene_7_x_9_x_spark import searcher as searcher_mod
from lucene_7_x_9_x_spark.index import IndexSnapshot, build_index
from lucene_7_x_9_x_spark.operators.deletes import delete_by_ids
from lucene_7_x_9_x_spark.operators.merge import merge_index
from lucene_7_x_9_x_spark.plans import parser
from lucene_7_x_9_x_spark.plans.query import (BooleanQuery, Occur,
                                              PhraseQuery, TermQuery)
from lucene_7_x_9_x_spark.searcher import Searcher
from lucene_7_x_9_x_spark.streaming.incremental import append_batch, finalize
from scripts.check_entry import value_hash

import tracing

K = 10

# The 30-word vocabulary of the sf0.1 documents table: every term is in
# most documents, so postings are tiny and the per-query floor dominates.
SF_VOCAB = ("spark window merge table column vector stream value data small "
            "join filter big group hash customer sort order slow line part "
            "fast row the agg key query a scan batch").split()

QUERY_KINDS = ("disj", "conj", "phrase", "sloppy", "parsed")
PARSED_TEMPLATES = ("{0} AND {1} OR {2}", "+{0} {1} {2}",
                    '"{0} {1}"~1 {2}', "{0} OR {1}^2")


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def sf_corpus(seed: int, n: int = 5000) -> pd.DataFrame:
    """sf0.1-shaped documents: 10-100 words drawn uniformly from SF_VOCAB."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(10, 101, n)
    words = np.array(SF_VOCAB, dtype=object)[
        rng.integers(0, len(SF_VOCAB), int(lens.sum()))]
    texts = [" ".join(w) for w in np.split(words, np.cumsum(lens)[:-1])]
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64),
                         "text": texts})


def query_specs(seed: int, vocab: list, n: int) -> list[tuple]:
    """A seeded query stream. Kinds cycle in a fixed order so every seed
    has the same mix; every third round of the cycle repeats an earlier
    query of the same kind, as real query logs repeat."""
    rng = np.random.default_rng(seed + 7919)
    seen: dict[str, list] = {k: [] for k in QUERY_KINDS}
    out = []
    for i in range(n):
        kind = QUERY_KINDS[i % len(QUERY_KINDS)]
        if (i // len(QUERY_KINDS)) % 3 == 2:
            prev = seen[kind]
            out.append(prev[int(rng.integers(len(prev)))])
            continue
        n_terms = {"disj": int(rng.integers(2, 5)), "conj":
                   int(rng.integers(2, 4))}.get(kind, 2 if kind != "parsed"
                                                else 3)
        terms = tuple(str(t) for t in rng.choice(vocab, n_terms,
                                                 replace=False))
        tmpl = (PARSED_TEMPLATES[int(rng.integers(len(PARSED_TEMPLATES)))]
                if kind == "parsed" else "")
        spec = (kind, terms, tmpl)
        seen[kind].append(spec)
        out.append(spec)
    return out


def make_query(spec: tuple):
    kind, terms, tmpl = spec
    if kind == "disj":
        return BooleanQuery([(Occur.SHOULD, TermQuery(t)) for t in terms])
    if kind == "conj":
        return BooleanQuery([(Occur.MUST, TermQuery(t)) for t in terms])
    if kind == "phrase":
        return PhraseQuery(list(terms))
    if kind == "sloppy":
        return PhraseQuery(list(terms), slop=2)
    return parser.parse(tmpl.format(*terms))


def topk_mismatch(rows: list, ids: np.ndarray, scores: np.ndarray,
                  k: int = K) -> str | None:
    """Compare an engine top-k (rows with doc_id, score) with every
    matching (id, score) of the oracle. Scores must be bit-equal float32
    in rank order; ids must be equal up to ties in score, so the k-th
    score's tie group may be any subset of the oracle's."""
    order = np.argsort(-scores.astype(np.float64), kind="stable")
    want = scores[order][:k].astype(np.float32)
    got_ids = [int(r["doc_id"]) for r in rows]
    got = np.array([r["score"] for r in rows], dtype=np.float32)
    if len(got) != len(want):
        return f"{len(got)} hits, oracle {len(want)}"
    if not np.array_equal(got.view(np.uint32), want.view(np.uint32)):
        return f"scores {got.tolist()} != oracle {want.tolist()}"
    if len(set(got_ids)) != len(got_ids):
        return "duplicate ids"
    for s in np.unique(got):
        gids = {i for i, g in zip(got_ids, got) if g == s}
        oids = set(ids[scores.astype(np.float32) == s].tolist())
        if not gids <= oids:
            return f"ids {sorted(gids - oids)} do not score {s}"
    return None


class _Workload:
    """Shared plumbing: index builds, queries, tracing hooks and the
    query-path and build layer summaries."""

    def __init__(self, spark, seed: int, work: str, tracer: tracing.Tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.n_part = spark.sparkContext.defaultParallelism
        self.build_phases: list[dict] = []
        self.build_docs_per_s: list[float] = []

    def prepare(self):
        """Untimed work before the set-ups."""

    def finish(self, traced: bool):
        """Untimed work after the measured loop."""

    def install_tracing(self):
        t = self.tracer
        t.wrap(parser, "parse", "plans.parse")
        t.wrap(searcher_mod, "rewrite_query", "plans.rewrite")
        t.wrap(IndexSnapshot, "term_stats_lookup", "index.term_stats_lookup",
               count=lambda _self, keys: len(keys))
        t.wrap(IndexSnapshot, "impacts_lookup", "index.impacts_lookup",
               count=lambda _self, keys: len(keys))
        t.wrap(Searcher, "_global_stats", "searcher.stats_keys",
               count=lambda _self, terms: len(terms))
        t.wrap(Searcher, "_impacts_for", "searcher.impacts_keys",
               count=lambda _self, keys: len(keys))
        t.wrap(Searcher, "search", "searcher.plan")

    def _build(self, pdf: pd.DataFrame, out: str, **kw) -> IndexSnapshot:
        t0 = time.perf_counter()
        df = self.spark.createDataFrame(pdf)
        if kw.pop("by_range", False):
            df = df.repartitionByRange(self.n_part, "doc_id")
        idx = build_index(self.spark, df, out, id_cols=["doc_id"],
                          text_col="text", **kw)
        self.build_docs_per_s.append(len(pdf) / (time.perf_counter() - t0))
        self.build_phases.append(idx.manifest.get("phase_secs", {}))
        return idx

    def _search(self, s: Searcher, q) -> list:
        df = s.search(q, K)
        with self.tracer.span("searcher.collect"):
            return df.collect()

    def query_layers(self, ops) -> dict:
        t, n = self.tracer, max(len(ops), 1)
        req = t.counts("searcher.stats_keys", ops) + t.counts(
            "searcher.impacts_keys", ops)
        seeks = t.counts("index.term_stats_lookup", ops) + t.counts(
            "index.impacts_lookup", ops)
        return {
            "plans.parse_s": sum(t.durations("plans.parse", ops)) / n,
            "plans.rewrite_s": sum(t.durations("plans.rewrite", ops)) / n,
            "index.term_stats_lookups":
                len(t.durations("index.term_stats_lookup", ops)) / n,
            "index.term_stats_lookup_s":
                sum(t.durations("index.term_stats_lookup", ops)) / n,
            "index.impacts_lookups":
                len(t.durations("index.impacts_lookup", ops)) / n,
            "index.impacts_lookup_s":
                sum(t.durations("index.impacts_lookup", ops)) / n,
            "index.stats_keys_requested": req / n,
            "index.stats_cache_hit_ratio": (1 - seeks / req) if req else 0.0,
            "searcher.plan_s": sum(t.durations("searcher.plan", ops)) / n,
            "searcher.plan_self_s": t.self_time("searcher.plan", ops) / n,
            "searcher.collect_s":
                sum(t.durations("searcher.collect", ops)) / n,
        }

    def build_layers(self) -> dict:
        ph = {k: statistics.median([p.get(f, 0.0) for p in self.build_phases])
              for k, f in (("invert_write_s", "invert_write_b0"),
                           ("finalize_terms_s", "finalize_terms"),
                           ("finalize_stats_s", "finalize_stats"),
                           ("finalize_segnorms_s", "finalize_segnorms"))}
        out = {f"build.{k}": v for k, v in ph.items()}
        out["build.docs_per_s"] = statistics.median(self.build_docs_per_s)
        return out


class ColdQuery(_Workload):
    """Single top-10 queries against a scan-per-query Searcher over a
    5k-doc sf0.1-shaped index."""

    def __init__(self, *a):
        super().__init__(*a)
        self.docs = sf_corpus(self.seed)
        self.specs = query_specs(self.seed, SF_VOCAB, 4000)
        self.results: dict[int, tuple] = {}
        self.n_setup = 0

    def setup(self):
        """Build the index, open a Searcher and answer a first query."""
        out = os.path.join(self.work, f"idx{self.n_setup}")
        if self.n_setup:
            shutil.rmtree(os.path.join(self.work,
                                       f"idx{self.n_setup - 1}"))
        self.n_setup += 1
        # range-partitioned input segments: engine tie order == doc_id
        self.idx = self._build(self.docs, out, by_range=True,
                               segment_by="input")
        self.searcher = Searcher(self.idx)
        self._search(self.searcher, make_query(self.specs[-1]))

    def op(self, i: int) -> int:
        spec = self.specs[i % len(self.specs)]
        self.results[i] = (spec, self._search(self.searcher,
                                               make_query(spec)))
        return 1

    def check(self) -> tuple[int, int, set, list]:
        """(extra ops attempted, extra ops failed, measured ops whose
        output is wrong, notes)."""
        eng = oracle.OracleEngine(*oracle.index_corpus(self.docs, "text"))
        memo: dict[tuple, tuple] = {}
        bad, notes = set(), []
        for i, (spec, rows) in self.results.items():
            if spec not in memo:
                m = eng.matches(make_query(spec))
                memo[spec] = (self.docs["doc_id"].to_numpy()[m.docids],
                              m.scores)
            err = topk_mismatch(rows, *memo[spec])
            if err:
                bad.add(i)
                notes.append(f"op {i} {spec}: {err}")
        return 0, 0, bad, notes

    def named_metrics(self, lat, items, loop_s) -> dict:
        tail, pct, n = tracing.tail(lat)
        return {"query_p50_s": statistics.median(lat),
                "query_tail_s": {"value": tail, "percentile": pct,
                                 "samples": n},
                "queries_per_s": items / loop_s}

    def index_bytes_per_input_byte(self) -> float:
        return (_dir_bytes(self.idx.root)
                / int(self.docs["text"].str.len().sum()))

    def layers(self, ops) -> dict:
        out = self.query_layers(ops)
        out.update(self.build_layers())
        out["index.segments"] = self.idx.manifest["num_segments"]
        out["index.bytes_per_input_byte"] = self.index_bytes_per_input_byte()
        return out


PIPELINE_OPS = (("exact_dup", "dedup_exact"),
                ("minhash_lsh", "dedup_minhash_lsh"),
                ("simhash", "dedup_simhash"),
                ("decontam", "decontaminate"),
                ("dup_spans", "dup_spans"),
                ("term_vectors", "term_vectors"),
                ("quality", "quality"),
                ("lang_id", "lang_id"))


class UpdatePipeline(_Workload):
    """Ingest cycles over a live sf0.1-shaped index: each incoming batch
    passes the text pipeline ops, then replaces/append its documents
    (delete_by_ids + append_batch + finalize), and a fresh Searcher
    answers a short query stream on the new snapshot."""

    N_BASE = 3000
    BATCH = 800
    MAX_CYCLES = 12
    QUERIES_PER_CYCLE = 2

    def __init__(self, *a):
        super().__init__(*a)
        # the gate entries' own calls and projections, so each output lines
        # up with its oracle_sql() query
        self.ops = {k: entry.queries()[name] for k, name in PIPELINE_OPS}
        self.cycles: list[dict] = []
        self.merge_info: dict = {}

    def _inputs(self):
        """Base docs and MAX_CYCLES sf0.1-shaped batches. Half of each
        batch replaces live ids with new content; one doc in twenty is an
        exact or one-word-edited copy so the dedup ops find pairs."""
        size = self.BATCH
        texts = sf_corpus(self.seed + 1, self.N_BASE
                          + self.MAX_CYCLES * size)["text"].tolist()
        rng = np.random.default_rng(self.seed + 104729)
        self.base = pd.DataFrame({
            "doc_id": np.arange(self.N_BASE, dtype=np.int64),
            "text": texts[:self.N_BASE]})
        next_id = self.N_BASE
        self.batches = []
        for c in range(self.MAX_CYCLES):
            lo = self.N_BASE + c * size
            bt = texts[lo:lo + size]
            half = size // 2
            reuse = rng.choice(next_id, half, replace=False)
            ids = np.concatenate([reuse, np.arange(
                next_id, next_id + size - half)]).astype(np.int64)
            next_id += size - half
            for j in rng.choice(size, size // 20, replace=False):
                words = bt[int(rng.integers(size))].split()
                if j % 3:
                    words[int(rng.integers(len(words)))] = "edited"
                bt[j] = " ".join(words)
            d = os.path.join(self.work, "batches", f"b{c}")
            os.makedirs(d)
            pd.DataFrame({"doc_id": ids, "text": bt}).to_parquet(
                os.path.join(d, "documents.parquet"))
            self.batches.append(d)
        self.specs = [s for s in query_specs(
            self.seed, SF_VOCAB, 5 * (self.MAX_CYCLES + 1)
            * self.QUERIES_PER_CYCLE) if s[0] != "parsed"]

    def prepare(self):
        """Inputs and the base index the cycles update (not set-up: an
        ingest service starts against an index that already exists)."""
        self._inputs()
        self.dir = os.path.join(self.work, "idx")
        self._build(self.base, self.dir, num_segments=self.n_part)
        # index order of every document version, and the live version of
        # each id — the oracle indexes all versions (stats count deleted
        # docs until a merge purges them) and filters to live ones
        self.versions = self.base.copy()
        self.live = {int(i): v for v, i in enumerate(self.base["doc_id"])}
        self.next_batch = 0

    def setup(self):
        """Open the index and answer a first query."""
        self._search(Searcher(IndexSnapshot(self.spark, self.dir)),
                     make_query(self.specs[0]))

    def _cycle(self) -> dict:
        sp, tr = self.spark, self.tracer
        c = self.next_batch
        self.next_batch += 1
        src = self.batches[c]
        t0 = time.perf_counter()
        persisted0 = tracing.persisted_rdds(sp.sparkContext)
        outs = {}
        for key, fn in self.ops.items():
            c0 = tracing.cpu_total() if tr.enabled else 0.0
            with tr.span(f"pipeline.{key}") as rec:
                outs[key] = fn(sp, src).toPandas()
            if rec is not None:
                rec["cpu"] = tracing.cpu_total() - c0
        pipeline_s = time.perf_counter() - t0
        leaked = tracing.persisted_rdds(sp.sparkContext) - persisted0
        batch = sp.read.parquet(os.path.join(src, "documents.parquet"))
        bpdf = pd.read_parquet(os.path.join(src, "documents.parquet"))
        reused = bpdf[bpdf["doc_id"].isin(list(self.live))]
        with tr.span("deletes.delete"):
            tomb = delete_by_ids(sp, self.dir,
                                 sp.createDataFrame(reused[["doc_id"]]))
        before = _dir_bytes(self.dir)
        with tr.span("incremental.append"):
            append_batch(sp, batch, self.dir)
        written = _dir_bytes(self.dir) - before
        with tr.span("incremental.finalize"):
            snap = finalize(sp, self.dir)
        s = Searcher(snap)
        rows, query_s, refresh = [], [], None
        for j in range(self.QUERIES_PER_CYCLE):
            spec = self.specs[(c * self.QUERIES_PER_CYCLE + j)
                              % len(self.specs)]
            tq = time.perf_counter()
            rows.append((spec, self._search(s, make_query(spec))))
            query_s.append(time.perf_counter() - tq)
            if refresh is None:  # the new snapshot answered its first query
                refresh = time.perf_counter() - t0 - pipeline_s
        start = len(self.versions)
        self.versions = pd.concat([self.versions, bpdf], ignore_index=True)
        for off, i in enumerate(bpdf["doc_id"]):
            self.live[int(i)] = start + off
        return {"batch": c, "docs": len(bpdf), "outs": outs, "rows": rows,
                "tomb": tomb,
                "refresh_s": refresh, "query_s": query_s,
                "pipeline_s": pipeline_s, "leaked": leaked,
                "written": written,
                "text_bytes": int(bpdf["text"].str.len().sum()),
                "n_versions": len(self.versions),
                "live": set(self.live.values()),
                "snap": snap}

    def op(self, i: int) -> int:
        cyc = self._cycle()
        cyc["op"] = i
        self.cycles.append(cyc)
        return cyc["docs"]

    def finish(self, traced: bool):
        """One merge_index of the final snapshot, in traced runs only: it
        feeds the merge.* layer metrics and no end-to-end metric."""
        if not traced:
            return
        last = self._last()
        out = os.path.join(self.work, "merged")
        with self.tracer.span("merge.merge"):
            t0 = time.perf_counter()
            merged = merge_index(self.spark, last["snap"], out,
                                 target_segments=self.n_part)
            self.merge_info["merge_s"] = time.perf_counter() - t0
        self.merge_info["bytes_rewritten"] = _dir_bytes(out)
        s = Searcher(merged)
        self.merge_info["rows"] = [(spec, self._search(s, make_query(spec)))
                                   for spec, _ in last["rows"]]
        self.merge_info["of"] = last

    def check(self) -> tuple[int, int, set, list]:
        """Pipeline outputs against oracle_sql() through DuckDB, queries
        against OracleEngine; the merge is checked as an extra op."""
        import duckdb
        sqls = entry.oracle_sql()
        bad, notes = set(), []
        con = duckdb.connect()
        for cyc in self.cycles:
            op = cyc["op"]
            con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                        "read_parquet('" + os.path.join(
                            self.batches[cyc["batch"]], "documents.parquet")
                        + "')")
            for key, name in PIPELINE_OPS:
                want = con.execute(sqls[name]).df()
                got = cyc["outs"][key]
                if (len(got) != len(want)
                        or sorted(got.columns) != sorted(want.columns)
                        or value_hash(got) != value_hash(want)):
                    bad.add(op)
                    notes.append(f"cycle {op} {key}: {len(got)} rows, "
                                 f"oracle {len(want)}")
            err = self._check_queries(cyc, cyc["rows"])
            if err:
                bad.add(op)
                notes.append(f"cycle {op} queries: {err}")
        con.close()
        extra_bad = 0
        if self.merge_info:
            err = self._check_queries(self.merge_info["of"],
                                      self.merge_info["rows"])
            if err:
                extra_bad += 1
                notes.append(f"merged index queries: {err}")
        return int(bool(self.merge_info)), extra_bad, bad, notes

    def _check_queries(self, cyc, rows) -> str | None:
        docs = self.versions.iloc[:cyc["n_versions"]]
        eng = oracle.OracleEngine(*oracle.index_corpus(docs, "text"))
        live = np.zeros(len(docs), dtype=bool)
        live[list(cyc["live"])] = True
        ids = docs["doc_id"].to_numpy()
        for spec, got in rows:
            m = eng.matches(make_query(spec))
            keep = live[m.docids]
            err = topk_mismatch(got, ids[m.docids][keep], m.scores[keep])
            if err:
                return f"{spec}: {err}"
        return None

    def _last(self) -> dict:
        return self.cycles[-1]

    def named_metrics(self, lat, items, loop_s) -> dict:
        cyc = self.cycles
        if not cyc:
            return {}
        q = [x for c in cyc for x in c["query_s"]]
        tail, pct, n = tracing.tail(q) if q else (0.0, 0.0, 0)
        return {
            "refresh_s": statistics.median([c["refresh_s"] for c in cyc]),
            "ingest_docs_per_s": items / loop_s,
            "pipeline_docs_per_s":
                self.BATCH / statistics.median([c["pipeline_s"] for c in cyc]),
            "query_p50_s": statistics.median(q) if q else 0.0,
            "query_tail_s": {"value": tail, "percentile": pct,
                             "samples": n},
            "queries_per_s": len(q) / loop_s,
            "merge_s": self.merge_info.get("merge_s"),
        }

    def index_bytes_per_input_byte(self) -> float:
        return (_dir_bytes(self._last()["snap"].root)
                / int(self.versions["text"].str.len().sum()))

    def layers(self, ops) -> dict:
        t, n = self.tracer, max(len(ops), 1)
        cyc = [c for c in self.cycles if c["op"] in ops]
        out = self.query_layers(ops)
        out.update(self.build_layers())
        for key, _name in PIPELINE_OPS:
            spans = [s for s in t.spans if s["name"] == f"pipeline.{key}"
                     and s["op"] in ops]
            out[f"pipeline.{key}_s"] = sum(
                s["end"] - s["start"] for s in spans) / n
            out[f"pipeline.{key}_cpu_s"] = sum(
                s.get("cpu", 0.0) for s in spans) / n
        snap = self._last()["snap"]
        out.update({
            "deletes.delete_s": sum(t.durations("deletes.delete", ops)) / n,
            "deletes.tombstones": sum(c["tomb"] for c in cyc) / n,
            "incremental.append_s":
                sum(t.durations("incremental.append", ops)) / n,
            "incremental.finalize_s":
                sum(t.durations("incremental.finalize", ops)) / n,
            "incremental.bytes_written_per_input_byte":
                sum(c["written"] for c in cyc) / max(
                    sum(c["text_bytes"] for c in cyc), 1),
            "index.segments": snap.manifest["num_segments"],
            "index.bytes_per_input_byte": self.index_bytes_per_input_byte(),
            "merge.merge_s": self.merge_info.get("merge_s", 0.0),
            "merge.bytes_rewritten": self.merge_info.get("bytes_rewritten",
                                                         0),
            "pipeline.persisted_rdds_leaked": sum(c["leaked"] for c in cyc)
            / n,
        })
        return out


WORKLOADS = {"cold_query_sf01": ColdQuery,
             "update_pipeline_sf01": UpdatePipeline}
