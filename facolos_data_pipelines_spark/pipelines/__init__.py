from .registry import due_sources, mark_extracted, seed_data_sources
from .curation import CurationResult, curate_corpus
from .runner import EndpointSpec, run_incremental_cycle

__all__ = [
    "CurationResult",
    "curate_corpus",
    "EndpointSpec",
    "run_incremental_cycle",
    "seed_data_sources",
    "due_sources",
    "mark_extracted",
]
