"""Facade for the LLM-data-pipeline operator family, split in r18 into five
themed modules (VERDICT r17 task #5 — operators/llm.py had grown to 6,350
lines / ~60 operators, 3.7x the next-largest operator file):

- llm_dedup   — text dedup: exact, MinHash/LSH, SimHash, n-gram, clusters,
                pipeline, embedding near-dup, source Jaccard matrix
- llm_ann     — similarity search: cosine top-k, LSH/IVF/PQ/IVF-PQ + their
                verified twins (each IVF/PQ/IVF-PQ key and its twin share
                one pipeline), recall eval, distributed Lloyd's k-means
- llm_cluster — clustering + corpus quality: SemDeDup, hard negatives,
                random projection, text stats, fuzzy pairs, keep-best,
                substring dedup, quantization, containment
- llm_media   — multimodal decode + perceptual dedup (dHash, audio
                fingerprint, video frames/thumbnails)
- llm_eval    — retrieval/embedding evaluation: kNN, LSH sweep, Matryoshka,
                PCA, linear probe, NDCG/MRR/MAP

A mechanical move with zero behavior change: statements kept verbatim in
their original order within each module. This facade re-exports every name
so existing imports (`from ...operators.llm import X`) keep working; the
registry merges the five split modules directly, so nothing here
double-registers.
"""

from __future__ import annotations

from parquet_to_clickhouse_schema_spark.operators import (
    llm_ann,
    llm_cluster,
    llm_dedup,
    llm_eval,
    llm_media,
)
from parquet_to_clickhouse_schema_spark.operators.llm_dedup import *  # noqa: F401,F403
from parquet_to_clickhouse_schema_spark.operators.llm_ann import *  # noqa: F401,F403
from parquet_to_clickhouse_schema_spark.operators.llm_cluster import *  # noqa: F401,F403
from parquet_to_clickhouse_schema_spark.operators.llm_media import *  # noqa: F401,F403
from parquet_to_clickhouse_schema_spark.operators.llm_eval import *  # noqa: F401,F403

# Underscore-prefixed names star-import skips but tests/scripts import:
from parquet_to_clickhouse_schema_spark.operators.llm_ann import (  # noqa: F401
    _IVF_GRID_SQL,
    _as_double_vec,
    _md5_unit_grid,
    _train_coarse_centroids,
)
from parquet_to_clickhouse_schema_spark.operators.llm_media import (  # noqa: F401
    _ascii96_payload,
    _loud_hash,
)

# Merged registries for callers that introspect llm.QUERIES/ORACLES.
# registry._MODULES lists the five split modules, NOT this facade — these
# dicts are a read-only view, never registered (the per-module registries
# above are the live ones).
QUERIES = {
    **llm_dedup.QUERIES,
    **llm_ann.QUERIES,
    **llm_cluster.QUERIES,
    **llm_media.QUERIES,
    **llm_eval.QUERIES,
}
ORACLES = {
    **llm_dedup.ORACLES,
    **llm_ann.ORACLES,
    **llm_cluster.ORACLES,
    **llm_media.ORACLES,
    **llm_eval.ORACLES,
}
