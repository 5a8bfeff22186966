"""Sources & sinks: raw-zone partitioned storage, latest-partition pruning,
and the driver-side acquisition adapter (the engine-side generalization of
reference operators A1-A8)."""

from e2e_etl_pipeline_spark.sources.raw_zone import (  # noqa: F401
    read_latest,
    write_raw,
)
from e2e_etl_pipeline_spark.sources.acquire import fetched_documents  # noqa: F401
