"""Composed end-to-end pipelines built from the certified operators."""

from .curation import curate_corpus, curation_stats
from .corpus_card import corpus_report
from .segment_health import segment_health_report

__all__ = [
    "corpus_report",
    "curate_corpus",
    "curation_stats",
    "segment_health_report",
]
