"""Column-expression builders — the engine's scalar function library.

Everything here returns pyspark Column trees (no UDFs), so whole-stage
codegen applies end-to-end (SURVEY.md §4.2: "keep it UDF-free precisely so
codegen applies").
"""

from e2e_etl_pipeline_spark.functions.text import (  # noqa: F401
    clean_position,
    clean_text,
)
from e2e_etl_pipeline_spark.functions.salary import (  # noqa: F401
    parse_salary,
)
from e2e_etl_pipeline_spark.functions.vectors import (  # noqa: F401
    cosine_similarity,
    dot,
    l2_norm,
)
from e2e_etl_pipeline_spark.functions.textstats import (  # noqa: F401
    bpe_ish_tokens,
    quality_score,
    stopword_ratio,
    whitespace_tokens,
    word_fingerprint,
)
