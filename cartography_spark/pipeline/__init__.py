from cartography_spark.pipeline.analysis import AnalysisJob, exposure_propagation, set_prop
from cartography_spark.pipeline.flagship import page_triples
from cartography_spark.pipeline.linking import (
    candidate_pairs,
    link_entities,
    link_entities_incremental,
)
from cartography_spark.pipeline.sync import Sync, load, load_matchlink

__all__ = [
    "Sync", "load", "load_matchlink",
    "AnalysisJob", "exposure_propagation", "set_prop",
    "page_triples",
    "candidate_pairs", "link_entities", "link_entities_incremental",
]
