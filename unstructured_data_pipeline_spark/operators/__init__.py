from unstructured_data_pipeline_spark.operators.dml import (
    upsert,
    anti_insert,
    delete_where,
    ParquetTable,
)
from unstructured_data_pipeline_spark.operators.history import (
    class_summary,
    documents_latest,
    field_flatten,
    HistoryFilters,
)
from unstructured_data_pipeline_spark.operators.pivot import dynamic_pivot
from unstructured_data_pipeline_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    simhash,
)
from unstructured_data_pipeline_spark.operators.similarity import (
    cosine_topk,
    lsh_bucketed_topk,
)
from unstructured_data_pipeline_spark.operators.relational import (
    asof_join,
    latest_per_key,
)

__all__ = [
    "upsert",
    "anti_insert",
    "delete_where",
    "ParquetTable",
    "class_summary",
    "documents_latest",
    "field_flatten",
    "HistoryFilters",
    "dynamic_pivot",
    "exact_dedup",
    "lsh_candidate_pairs",
    "simhash",
    "cosine_topk",
    "lsh_bucketed_topk",
    "asof_join",
    "latest_per_key",
]
