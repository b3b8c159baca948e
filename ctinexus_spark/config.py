"""Pipeline configuration.

Replaces the reference's hydra/omegaconf config tree
(reference: ctinexus/config/config.yaml:1-39, app.py:69-73) with a
plain frozen dataclass that ships to executors via closure capture —
no external config framework needed for `spark-submit --py-files`.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class PipelineConfig:
    # EA merge threshold (reference config.yaml:14 `similarity_threshold: 0.6`)
    similarity_threshold: float = 0.6
    # kNN demonstration retrieval (reference config.yaml:26-30: shot 3, asc)
    shot: int = 3
    demo_permutation: str = "asc"  # "asc" reverses the ranked top-k
    # EA cluster mode: "star" replicates the reference's overlapping
    # star-sets (graph_constructor.py:394-436); "cc" uses connected
    # components over the >=threshold similarity graph (north_star).
    ea_cluster_mode: str = "star"
    # Deterministic stub model knobs (no-network build).
    embedding_dim: int = 64
    # Relation label the stub link-predictor emits.
    lp_relation: str = "related-to"
    # Salting fan-out for hot-domain skew on heavy groupBys.
    skew_salt_buckets: int = 32
    # Arrow batch sizing for pandas UDFs.
    arrow_batch_rows: int = 10_000
    # Cap applied by merge_extraction_candidates / build_cti_focus_text.
    merge_max_chars: int = 16_000
    focus_max_chars: int = 10_000
    # Lexicon-based stub extraction (term -> entity class). Empty map
    # means "CTI mode": IOC regex extraction drives the stub.
    lexicon: dict[str, str] = field(default_factory=dict)
    # --- LSH geometry (dedup/similarity scale paths) ---
    # Sign-LSH planes for single-band vector buckets: 2^planes buckets,
    # in-bucket pair count ~ n²/2^planes at uniform spread. 8 fits
    # ~10⁶ vectors; raise toward 20+ at 10⁹-10¹².
    lsh_planes: int = 8
    # Banded (OR-amplified) vector LSH for near-dup candidate recall:
    # collide w.p. 1-(1-p^band_planes)^bands, p = 1-θ/π.
    vector_lsh_bands: int = 4
    vector_lsh_band_planes: int = 8
    # MinHash signature size and rows-per-band for text LSH.
    minhash_seeds: int = 8
    minhash_band_size: int = 2
    # Degenerate-bucket guard: buckets above this size are dropped from
    # candidate generation (they contribute n²/2 pairs and no signal).
    lsh_max_bucket: int = 1000


DEFAULT_CONFIG = PipelineConfig()
