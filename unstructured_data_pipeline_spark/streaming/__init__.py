from unstructured_data_pipeline_spark.streaming.intake import start_intake_stream

__all__ = ["start_intake_stream"]
