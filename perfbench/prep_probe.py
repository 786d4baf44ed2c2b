"""Training-data preparation, measured once per traced catalog run.

A generated raw corpus (planted exact and near duplicates, junk,
low-quality fragments, mixed languages) goes through prepare_training_data
-> write_training_shards into a fresh directory from a cleared cache; the
shards and manifest are read back with pyarrow and checked. Then the dedup
operators the pipeline composes are called and forced one by one.

This is not a timed workload: one preparation job costs ~10 s warm and
~25 s cold on 4 cores even at 2,000 documents, so a run could time one or
two repetitions at most, never a steady median. It gives the pipelines
layer and the parquet sink their per-layer figures.
"""

from __future__ import annotations

import os

import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen
import oracles

N_SHARDS = 8


def _files(path: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]


def read_back(path: str) -> tuple[list[dict], list[dict]]:
    data = ds.dataset(os.path.join(path, "data"), format="parquet", partitioning="hive")
    survivors = data.to_table(columns=["doc_id", "text", "split", "shard"]).to_pylist()
    manifest = pq.read_table(os.path.join(path, "manifest")).to_pylist()
    return survivors, manifest


def run_probe(b) -> dict[str, float]:
    from vectordb_bioinsight_spark.pipelines.training_data import prepare_training_data
    from vectordb_bioinsight_spark.sources.readers import load_table
    from vectordb_bioinsight_spark.sources.writers import write_training_shards

    tr = b.tracer
    corpus = gen.raw_corpus(b.seed, b.size["prep_docs"])
    data_dir = os.path.join(b.work, "prep")
    in_bytes = gen.write_raw_corpus(corpus, os.path.join(data_dir, "raw.parquet"))
    raw = load_table(b.spark, data_dir, "raw")
    out_path = os.path.join(b.work, "prep_out")

    def prep() -> None:
        with tr.span("pipelines.prepare_training_data"):
            out = prepare_training_data(raw)
            out = out.persist()
            out.count()
        tr.count("prep_persisted_left", b.persisted_rdds() - 1)
        with tr.span("sources.write_training_shards"):
            write_training_shards(out, out_path, "doc_id", "text", N_SHARDS)

    b.clear_cache()
    b.job_group("prep")
    b.attempt(prep)
    _, _, tasks = b.job_counts("prep")
    files = _files(out_path)
    written = sum(os.path.getsize(f) for f in files)
    if os.path.isdir(out_path):
        survivors, manifest = read_back(out_path)
        b.check(oracles.check_prep(survivors, manifest, corpus))
    metrics = {
        "sources.write_training_shards_s": tr.median("sources.write_training_shards"),
        "sources.bytes_written": float(written),
        "sources.files_written": float(len(files)),
        "sources.shard_bytes_per_input_byte": written / in_bytes,
        "pipelines.prepare_training_data_s": tr.median("pipelines.prepare_training_data"),
        "pipelines.tasks": float(tasks),
        "pipelines.persisted_rdds_left": tr.counts.get("prep_persisted_left", 0.0),
    }
    metrics.update(dedup_probes(b, raw))
    return metrics


def dedup_probes(b, raw) -> dict[str, float]:
    """The dedup operators prepare_training_data composes, each called on
    the English documents and forced on its own, plus the share of LSH
    candidate pairs that the Jaccard check confirms."""
    from pyspark.sql import functions as F

    from vectordb_bioinsight_spark.operators.dedup import (
        dedup_clusters,
        lsh_candidate_pairs,
        minhash_signatures,
        minhash_signatures_wide,
        near_dedup_pipeline,
    )

    tr = b.tracer
    b.clear_cache()
    en = raw.filter(F.col("lang") == "en").select("doc_id", "text")
    with tr.span("operators.minhash_signatures"):
        minhash_signatures(en, "doc_id", "text").write.format("noop").mode("overwrite").save()
    with tr.span("operators.near_dedup_pipeline"):
        pairs = near_dedup_pipeline(en, "doc_id", "text").persist()
        confirmed = pairs.count()
    with tr.span("operators.dedup_clusters"):
        dedup_clusters(pairs, "doc1", "doc2").write.format("noop").mode("overwrite").save()
    reps = en.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    cands = lsh_candidate_pairs(minhash_signatures_wide(reps, "doc_id", "text"), "doc_id").count()
    b.clear_cache()
    return {
        "operators.minhash_signatures_s": tr.median("operators.minhash_signatures"),
        "operators.near_dedup_pipeline_s": tr.median("operators.near_dedup_pipeline"),
        "operators.dedup_clusters_s": tr.median("operators.dedup_clusters"),
        "operators.lsh_confirmed_per_candidate": confirmed / cands if cands else 0.0,
    }
