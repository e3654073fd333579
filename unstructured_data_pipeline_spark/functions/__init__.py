from unstructured_data_pipeline_spark.functions.variant import (
    canonical_json,
    variantify,
    stringify_display,
)
from unstructured_data_pipeline_spark.functions.prompts import (
    normalize_prompt_schema,
    DEFAULT_FALLBACK_QUESTION,
)
from unstructured_data_pipeline_spark.functions.scalars import (
    stage_from_file_url,
    is_nullish,
)

__all__ = [
    "canonical_json",
    "variantify",
    "stringify_display",
    "normalize_prompt_schema",
    "DEFAULT_FALLBACK_QUESTION",
    "stage_from_file_url",
    "is_nullish",
]
