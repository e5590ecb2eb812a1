from .synth import decode_html, make_document_text, make_documents, wrap_html

__all__ = [
    "decode_html",
    "make_document_text",
    "make_documents",
    "wrap_html",
]
