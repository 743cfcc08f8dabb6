"""Corpus-prep pipeline lifecycle: the LLM-side twin of the retail
orchestrator (``orchestrator.py``).

Stages (every one is the oracle-verified building block from
``plans/llm.py`` — this module only composes and materializes):

1. **prep** — quality gate → exact-dup drop → LSH near-dup drop
   (``corpus_prep``: the scale-safe composition).
2. **split** — deterministic content-hash 80/10/10 train/val/test
   (``split_of``, the ``corpus_split_train_val_test`` rule) over the
   bucket the prep scoring scan already computed.
3. **sink** — one parquet write partitioned by ``(split, lang)``: the
   layout a training job wants, since data loaders read one split and
   usually filter by language — both prune to whole directories. Corpus
   metrics (docs, token sum, mean quality) ride the write's ``observe()``,
   zero extra passes.

The documents are read once and that frame feeds every stage. The write
is the ONLY action: prep/split stay lazy until the sink job, so the run is
one scoring scan of the corpus (``text`` rides it to the sink through the
exact-dup exchange) plus the cached shingle-index build and the dedup
family's bounded shuffles. At 100 TB you point ``input_dir`` at the raw
document lake and raise nothing but cluster size.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from ..plans.llm import corpus_prep, split_of
from ..sinks import write_parquet
from ..sources import read_table


@dataclass
class CorpusConfig:
    input_dir: str  # sf_dir-shaped: contains documents.parquet
    output_dir: str


def run_corpus_pipeline(spark: SparkSession, cfg: CorpusConfig) -> dict:
    """Run prep → split → partitioned sink; returns observed corpus stats."""
    t0 = time.perf_counter()
    kept = corpus_prep(read_table(spark, cfg.input_dir, "documents"))
    out = kept.select(
        "doc_id",
        "lang",
        split_of(F.col("bucket")).alias("split"),
        "n_tokens",
        "quality_score",
        "text",
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
