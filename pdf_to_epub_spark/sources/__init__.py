from .synth import decode_html, make_document_text, make_documents, wrap_html
from .tables import load_table, sf_dir

__all__ = [
    "decode_html",
    "load_table",
    "make_document_text",
    "make_documents",
    "sf_dir",
    "wrap_html",
]
