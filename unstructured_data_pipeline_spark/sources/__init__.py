from unstructured_data_pipeline_spark.sources.tables import load_fixture_tables
from unstructured_data_pipeline_spark.sources.binary_docs import read_binary_documents, directory_listing

__all__ = [
    "load_fixture_tables",
    "read_binary_documents",
    "directory_listing",
]
