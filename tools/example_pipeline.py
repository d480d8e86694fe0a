"""End-to-end training-data curation pipeline over the testdata tables.

Composes the repo's cleaning + dedup + spatial operators the way a
100 TB ingest run would (each stage is the scale-shaped operator, not
a toy):

  documents: PII scrub -> boilerplate strip -> quality/langid filter
             -> exact dedup -> minhash-LSH near-dup pairs
             -> connected components -> canonical-doc selection
             -> benchmark decontamination -> train/val/test hash split

(The image lane — fused reproject -> PIP -> tile rollup over the
image table — is exercised by bench.py and tools/example_job.py.)

Usage:  python tools/example_pipeline.py [sf_dir] [out.json]
Prints one JSON summary line; exits nonzero on any invariant breach.
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from proj_spark.operators.components import dedup_groups
    from proj_spark.operators.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
        minhash_signatures,
        shingle,
        tokenize,
    )
    from proj_spark.operators.text import (
        boilerplate_lines,
        contamination,
        language_id,
        ngram_set,
        quality_score,
        scrub_pii,
        strip_boilerplate,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n0 = docs.count()

    # 1. PII scrub (narrow, pure expressions)
    docs = scrub_pii(docs).drop("text").withColumnRenamed("text_scrubbed", "text")

    # 2. boilerplate strip (dictionary is tiny + broadcast)
    boiler = boilerplate_lines(docs, min_docs=3)
    docs = strip_boilerplate(docs, boiler).drop("text").withColumnRenamed(
        "text_clean", "text"
    )

    # 3. quality + language gate
    q = quality_score(docs).select("doc_id", "quality")
    lang = language_id(docs).select("doc_id", "pred_lang")
    docs = (
        docs.join(q, "doc_id")
        .join(lang, "doc_id")
        .where((F.col("quality") >= 0.3) & (F.col("pred_lang") != "unknown"))
    )
    n_quality = docs.count()

    # 4. exact dedup (keep each text's canonical id), then near-dup
    # groups -> keep canonical docs only
    canon = exact_dedup(docs, text="text", id_col="doc_id")
    docs = docs.join(
        canon.select(F.col("canonical_id").alias("doc_id")), "doc_id"
    )
    sigs = minhash_signatures(
        shingle(tokenize(docs), w=3), id_col="doc_id", deterministic=False
    )
    pairs = minhash_lsh_pairs(sigs)
    grouped = dedup_groups(docs, pairs, id_col="doc_id")
    docs = grouped.where(F.col("is_canonical")).drop("group_id", "is_canonical")
    n_dedup = docs.count()

    # 5. decontamination vs a benchmark set (docs 0-4 stand in)
    bench = ngram_set(
        spark.read.parquet(f"{sf_dir}/documents.parquet").where(F.col("doc_id") < 5),
        w=13,
    )
    cont = contamination(docs, bench, w=13)
    docs = docs.join(cont, "doc_id").where(F.col("n_contaminated") == 0)
    n_final = docs.count()

    # 6. deterministic train/val/test assignment (never rand())
    from proj_spark.operators.split import hash_split

    splits = {
        r.split: r.n
        for r in hash_split(docs)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }

    summary = {
        "docs_in": n0,
        "after_quality_gate": n_quality,
        "after_dedup": n_dedup,
        "after_decontamination": n_final,
        "splits": splits,
    }
    assert n0 >= n_quality >= n_dedup >= n_final >= 0
    assert sum(splits.values()) == n_final
    return summary


def main() -> None:
    from proj_spark.session import build_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = build_session(
        "proj-spark-curation-pipeline",
        cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")),
        shuffle_partitions=8,
    )
    try:
        summary = run(spark, sf_dir)
    finally:
        spark.stop()
    line = json.dumps(summary)
    print(line)
    if len(sys.argv) > 2:
        with open(sys.argv[2], "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
