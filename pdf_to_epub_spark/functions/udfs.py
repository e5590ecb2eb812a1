# NB: no `from __future__ import annotations` here — PySpark infers pandas-UDF
# eval types from *resolved* signature annotations, so they must stay real.
"""Arrow-batched scalar pandas UDFs (the only Python that touches row data)."""

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType


@pandas_udf(StringType())
def decode_html_udf(html: pd.Series) -> pd.Series:
    """html binary → raw text.  Analog of the reference's RTF byte decode
    (`/root/reference/text-processing/legacy/Step1_ocr_cleanup_v7.py:89-104`)."""
    from pdf_to_epub_spark.sources.synth import decode_html

    return html.map(lambda b: decode_html(b) if b is not None else "")
