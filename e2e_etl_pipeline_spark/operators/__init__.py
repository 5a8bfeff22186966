"""Composite operators for the LLM-data-pipeline surface (north star,
/root/repo/BASELINE.json:6): deduplication, similarity search, multimodal
column plumbing. Each is a composition of DataFrame primitives designed so
the expensive step is a key-partitioned shuffle, never a cross product.
"""

from e2e_etl_pipeline_spark.operators.dedup import (  # noqa: F401
    simhash_fingerprints,
    set_jaccard_pairs,
)
from e2e_etl_pipeline_spark.operators.similarity import (  # noqa: F401
    brute_force_topk,
    lsh_bucketed_topk,
)
from e2e_etl_pipeline_spark.operators.multimodal import (  # noqa: F401
    attach_fake_media,
    extract_media_features,
)
from e2e_etl_pipeline_spark.operators.ranks import (  # noqa: F401
    distributed_ntile,
    distributed_rank,
)
