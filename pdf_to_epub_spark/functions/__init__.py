from .udfs import decode_html_udf

__all__ = ["decode_html_udf"]
