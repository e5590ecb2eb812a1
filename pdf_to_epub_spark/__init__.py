"""pdf_to_epub_spark — a PySpark-native document-extraction engine.

A from-scratch, Spark-first re-expression of the reference document
pipeline (ThienDuc-code/PDF-to-Epub): OCR-style text cleanup, reading-order
reconstruction, boilerplate stripping, chapter structuring and document
assembly as set-oriented DataFrame queries over Common-Crawl-style page
tables, plus the training-data operators (dedup, similarity search, text
analysis) such a corpus pipeline needs at 10^12-document scale.
"""

__version__ = "0.1.0"

from . import _pyworker

# In a Spark Python worker: stop each task re-reading unchanged zip-import
# directories (see _pyworker); elsewhere a no-op.
_pyworker.install()
