"""Corpus-prep pipeline lifecycle: the LLM-side twin of the retail
orchestrator (``orchestrator.py``).

Stages (every one is the oracle-verified building block from
``plans/llm.py`` — this module only composes and materializes):

1. **prep** — quality gate → exact-dup drop → LSH near-dup drop
   (``corpus_prep_pipeline``: the scale-safe composition).
2. **split** — deterministic content-hash 80/10/10 train/val/test
   (``corpus_split_train_val_test`` semantics, joined on doc_id).
3. **sink** — one parquet write partitioned by ``(split, lang)``: the
   layout a training job wants, since data loaders read one split and
   usually filter by language — both prune to whole directories. Corpus
   metrics (docs, token sum, mean quality) ride the write's ``observe()``,
   zero extra passes.

The write is the ONLY action: prep/split stay lazy until the sink job, so
the whole pipeline is one distributed pass over the corpus plus the dedup
family's bounded shuffles. At 100 TB you point ``input_dir`` at the raw
document lake and raise nothing but cluster size.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from ..functions import hashing
from ..plans.llm import corpus_prep_pipeline
from ..sinks import write_parquet


@dataclass
class CorpusConfig:
    input_dir: str  # sf_dir-shaped: contains documents.parquet
    output_dir: str
    train_pct: int = 80
    val_pct: int = 10  # test = 100 - train - val


def run_corpus_pipeline(spark: SparkSession, cfg: CorpusConfig) -> dict:
    """Run prep → split → partitioned sink; returns observed corpus stats."""
    t0 = time.perf_counter()
    kept = corpus_prep_pipeline(spark, cfg.input_dir)

    docs = spark.read.parquet(f"{cfg.input_dir}/documents.parquet")
    bucket = (hashing.poly_hash(F.col("text")) % 100).alias("bucket")
    split = (
        F.when(F.col("bucket") < cfg.train_pct, "train")
        .when(F.col("bucket") < cfg.train_pct + cfg.val_pct, "val")
        .otherwise("test")
        .alias("split")
    )
    assignment = docs.select("doc_id", "text", bucket).select(
        "doc_id", "text", split
    )

    out = kept.join(assignment, "doc_id").select(
        "doc_id", "lang", "split", "n_tokens", "quality_score", "text"
    )

    obs = Observation("corpus_prep")
    out = out.observe(
        obs,
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_tokens").alias("tokens"),
        F.round(F.avg("quality_score"), 6).alias("mean_quality"),
        # observed metrics forbid DISTINCT aggregates (they must be
        # mergeable across tasks) — the HLL sketch is the mergeable form
        F.approx_count_distinct("lang").alias("languages"),
    )
    write_parquet(out, cfg.output_dir, partition_by=["split", "lang"])
    stats = dict(obs.get)
    stats["elapsed_s"] = round(time.perf_counter() - t0, 3)
    return stats
