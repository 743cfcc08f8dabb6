from .corpus import CorpusConfig, run_corpus_pipeline
from .orchestrator import PipelineConfig, run_pipeline

__all__ = [
    "CorpusConfig",
    "run_corpus_pipeline",
    "PipelineConfig",
    "run_pipeline",
]
