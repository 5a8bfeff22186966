"""Query modules. Importing this package populates the registry.

Module map (SURVEY.md §2 Part B):
  relational   — B.1 scans, B.2 projection/filter, B.6 sort/limit/set-ops
  joins        — B.3 join surface
  aggregates   — B.4 aggregation surface
  windows      — B.5 window functions
  scalars      — B.7 scalar function families incl. the salary-parse composite
  llm          — B.8 dedup / similarity / text-analysis / multimodal
  streaming_q  — B.9 structured-streaming semantics (batch-equivalent oracles)
  pipeline_q   — A1-A8 pipeline parity (sources/sinks/partition pruning)
  udf_surface  — B.10 UDF / pandas-UDF / applyInPandas surface
  temporal     — beyond-plan temporal/incremental ops (as-of join, gap fill,
                 hypertable rollup, MERGE upsert, top-k join-agg, histogram)
  prep         — dataset prep/profiling (unpivot, SCD2, stratified hash
                 sample, column profile, int8 embedding quantization,
                 stream-stream join)
  corpus       — corpus statistics (vocabulary build, unigram-LM document
                 scoring, language-balanced sampling)
  graph        — iterative graph dataflow (PageRank, BFS — loop and
                 recursive-CTE styles, triangle count)
  ml           — vector-ML steps (k-means assignment/update, per-label
                 centroids, embedding stats)
  tpch         — TPC-H composite analytics suite adapted to the testdata
                 schema (Q3-Q22 shapes: selective multi-join reporting,
                 EXISTS/NOT EXISTS, ratio-of-sums, group-by-having)
"""

# Registration order == the order the external driver verifies keys under
# its ~50-key budget. Rounds 1 and 2 each covered exactly the first 50
# registered keys (disjoint windows thanks to the round-2 module rotation).
# From round 3 on, ordering is pinned at KEY granularity by _order_r{N}
# (generated from every CORRECTNESS_r*.json): unresolved fails lead, then
# never-driver-verified oracle-checked keys, then any key added after the
# list was generated, then driver-green keys, then rows-only keys dead last
# (the driver can only record `no_oracle` for them). Module import order
# below no longer affects driver ordering.
#
# To rotate the budget: run
#   PYTHONPATH=. python tools/gen_order.py r<N> [keys to verify first...]
# point the import below at the new _order_r<N>, and delete the old one.
from e2e_etl_pipeline_spark.queries import (  # noqa: F401
    relational,
    scalars,
    windows,
    streaming_q,
    udf_surface,
    pipeline_q,
    temporal,
    prep,
    corpus,
    graph,
    ml,
    tpch,
    extras,
    aggregates,
    joins,
    llm,
    curation,
)
from e2e_etl_pipeline_spark import registry as _registry
from e2e_etl_pipeline_spark.queries import _order_r14 as _order


def _reorder() -> None:
    """Rebuild the registry dicts in the generated driver-verification
    order (whichever _order_r{N} module is imported above as _order)."""
    known_first = [k for k in _order.FIRST if k in _registry.QUERIES]
    known_last = [k for k in _order.LAST if k in _registry.QUERIES]
    listed = set(known_first) | set(known_last)
    new_oracle = [
        k for k in _registry.QUERIES if k not in listed and k in _registry.ORACLES
    ]
    new_rows_only = [
        k for k in _registry.QUERIES if k not in listed and k not in _registry.ORACLES
    ]
    order = known_first + new_oracle + known_last + new_rows_only
    assert len(order) == len(_registry.QUERIES)
    reordered = {k: _registry.QUERIES[k] for k in order}
    _registry.QUERIES.clear()
    _registry.QUERIES.update(reordered)


_reorder()
