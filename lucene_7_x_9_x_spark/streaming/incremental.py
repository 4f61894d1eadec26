"""Incremental index maintenance — the NRT-reader / openIfChanged analogue
(SURVEY.md §2.9): new corpus files become new segments appended under a new
snapshot; readers only ever see complete manifests (two-phase commit,
solr-8.4.0/lucene/core/src/java/org/apache/lucene/index/IndexWriter.java:3408).

Structured Streaming drives discovery: ``readStream`` over the corpus
directory with ``availableNow`` + ``foreachBatch`` appends each micro-batch
as a segment batch, then finalize() refreshes global terms/stats — the
Spark-idiomatic form of Lucene's flush-new-segment + commit.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.analysis import AnalyzerConfig
from ..index import (MANIFEST, IndexSnapshot, _atomic_write_json,
                     _dir_bytes, locked_writer)
from ..operators.build import (combine_segment_rows, combined_schema_ddl,
                               invert_segment)


@locked_writer("index_dir")
def append_batch(spark: SparkSession, corpus_batch: DataFrame,
                 index_dir: str, *, segments_in_batch: int | None = None
                 ) -> None:
    """Append one corpus micro-batch as new segments (no re-finalize)."""
    idx = IndexSnapshot(spark, index_dir)
    if idx.manifest.get("index_sort"):
        # sorted-index appends would need the sort column plumbed through
        # the docmap union; one-shot rebuilds keep the sort invariant
        raise ValueError("incremental append into a sort_by index is not "
                         "supported; rebuild with build_index(sort_by=...)")
    cfg = idx.analyzer
    id_cols = idx.id_cols
    id_fields = idx.id_fields
    text_col = idx.manifest["text_col"]
    extra_fields = [tuple(x) for x in idx.manifest.get("extra_fields", [])]
    seg_base = idx.manifest["num_segments"]
    with_positions = idx.manifest["with_positions"]
    with_offsets = idx.manifest.get("with_offsets", False)
    n_seg = segments_in_batch or max(
        spark.sparkContext.defaultParallelism // 4, 1)

    xf_cols = [F.col(src).alias(f"__f{i}__")
               for i, (_, src) in enumerate(extra_fields)]
    xf_inv = [(name, f"__f{i}__")
              for i, (name, _) in enumerate(extra_fields)]
    seg_col = (F.pmod(F.xxhash64(*[F.col(c) for c in id_cols]),
                      F.lit(n_seg)).cast("int") + F.lit(seg_base))
    prepared = corpus_batch.select(
        *id_cols, F.col(text_col).alias("__text__"), *xf_cols,
        F.sha2(F.col(text_col), 256).alias("content_sha256"),
        seg_col.alias("segment"))

    combined_ddl = combined_schema_ddl(id_fields)

    def build_combined(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        seg = int(key[0])
        postings, docmap = invert_segment(
            pdf, segment=seg, id_cols=id_cols, text_col="__text__",
            cfg=cfg, with_positions=with_positions, extra_fields=xf_inv,
            with_offsets=with_offsets)
        return combine_segment_rows(postings, docmap, id_fields,
                                    [n for n, _ in xf_inv])

    batch_name = f"batch_inc_{len(idx.manifest['batches'])}"
    out = (prepared.groupBy("segment")
           .applyInPandas(build_combined, schema=combined_ddl))
    (out.repartition("segment")
     .sortWithinPartitions("segment", "field", "term")
     .write.mode("overwrite").partitionBy("kind")
     .parquet(os.path.join(index_dir, batch_name)))

    m = dict(idx.manifest)
    m["batches"] = m["batches"] + [batch_name]
    m["num_segments"] = seg_base + n_seg
    m["run_id"] = uuid.uuid4().hex[:12]
    m.setdefault("checkpoints", []).append({
        "stage": "append", "batch": batch_name, "status": "done",
        "bytes_compressed": _dir_bytes(os.path.join(index_dir, batch_name))})
    _atomic_write_json(os.path.join(index_dir, MANIFEST), m)


@locked_writer("index_dir")
def finalize(spark: SparkSession, index_dir: str) -> IndexSnapshot:
    """Recompute global terms/stats after appends (snapshot refresh)."""
    idx = IndexSnapshot(spark, index_dir)
    extra_fields = [tuple(x) for x in idx.manifest.get("extra_fields", [])]
    post = idx.postings()
    terms = (post.groupBy("field", "term")
             .agg(F.sum("doc_freq").alias("doc_freq"),
                  F.sum("total_term_freq").alias("total_term_freq")))
    tmp_terms = os.path.join(index_dir, "terms_new")
    terms.repartitionByRange(max(idx.manifest["num_segments"] // 4, 1),
                             "field", "term") \
        .sortWithinPartitions("field", "term") \
        .write.mode("overwrite").parquet(tmp_terms)
    dm = idx.docmap()
    xf_counts = [
        F.sum(F.when(F.col("extra_norms")[i] != 0, 1).otherwise(0))
        .alias(f"dc_{i}") for i in range(len(extra_fields))]
    srow = dm.agg(F.count("*").alias("max_doc"),
                  F.sum(F.when(F.col("dl") > 0, 1).otherwise(0))
                  .alias("doc_count"),
                  F.sum("dl").alias("sum_ttf"), *xf_counts).collect()[0]
    default_terms = (terms.where(F.col("field").isNull()) if extra_fields
                     else terms)
    tstats = default_terms.agg(F.sum("doc_freq").alias("sdf"),
                               F.count("*").alias("n")).collect()[0]
    xf_sum_ttf = {}
    if extra_fields:
        for r in (terms.where(F.col("field").isNotNull()).groupBy("field")
                  .agg(F.sum("total_term_freq").alias("sttf")).collect()):
            xf_sum_ttf[r["field"]] = int(r["sttf"] or 0)
    import shutil
    final_terms = os.path.join(index_dir, "terms")
    shutil.rmtree(final_terms, ignore_errors=True)
    os.replace(tmp_terms, final_terms)
    # build/append passes emit kind=segnorms rows; compact/merge-produced
    # batches do not — fall back to the docmap shuffle only then
    sn_dirs = [os.path.join(index_dir, d, "kind=segnorms")
               for d in idx.manifest["batches"]]
    if all(os.path.exists(d) for d in sn_dirs):
        (spark.read.parquet(*sn_dirs)
         .select("segment", "field",
                 F.col("docid").cast("long").alias("max_doc"),
                 F.col("pos_data").alias("norms"))
         .coalesce(1)
         .write.mode("overwrite").parquet(
             os.path.join(index_dir, "segnorms")))
    else:
        from ..index import write_segnorms
        write_segnorms(dm, os.path.join(index_dir, "segnorms"),
                       extra_field_names=[n for n, _ in extra_fields])
    m = dict(idx.manifest)
    m["stats"] = {"max_doc": srow["max_doc"],
                  "doc_count": int(srow["doc_count"] or 0),
                  "sum_total_term_freq": int(srow["sum_ttf"] or 0),
                  "sum_doc_freq": int(tstats["sdf"] or 0),
                  "n_terms": tstats["n"],
                  "per_field": {
                      name: {"doc_count": int(srow[f"dc_{i}"] or 0),
                             "sum_total_term_freq": xf_sum_ttf.get(name, 0)}
                      for i, (name, _) in enumerate(extra_fields)}}
    _atomic_write_json(os.path.join(index_dir, MANIFEST), m)
    return IndexSnapshot(spark, index_dir)


def run_incremental(spark: SparkSession, corpus_glob: str, index_dir: str,
                    corpus_schema: str, checkpoint_dir: str) -> IndexSnapshot:
    """availableNow Structured Streaming pass: index all not-yet-processed
    corpus files, then refresh the snapshot. Re-running after new files
    arrive indexes only the new ones (stream checkpoint = Lucene's
    segments_N generation tracking)."""
    stream = (spark.readStream.schema(corpus_schema)
              .parquet(corpus_glob))

    def handle(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        append_batch(spark, batch_df, index_dir)

    q = (stream.writeStream.foreachBatch(handle)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return finalize(spark, index_dir)
