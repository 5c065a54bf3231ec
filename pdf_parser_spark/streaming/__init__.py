from pdf_parser_spark.streaming.job import stream_extract

__all__ = ["stream_extract"]
