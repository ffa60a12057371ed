from .normalize import normalize_surface, with_normalized
from .lsh import lsh_candidate_pairs
from .cc import connected_components
from .canonicalize import build_canonical_map, merge_pairs

__all__ = [
    "normalize_surface",
    "with_normalized",
    "lsh_candidate_pairs",
    "connected_components",
    "build_canonical_map",
    "merge_pairs",
]
