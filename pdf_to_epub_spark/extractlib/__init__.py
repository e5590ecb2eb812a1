"""Pure-Python transform core (no Spark imports here).

Stage functions are byte-parity reimplementations of the reference
pipeline's text passes; see each module's docstring for file:line citations
into ``/root/reference/``.
"""

from .blocks import Block, chapter_struct, reassemble, segment_blocks
from .cleanup import run_stage1
from .formatting import DEFAULT_MONEY_TERMS, run_stage2
from .pipeline import ExtractResult, extract_document, transform_text
from .structure import run_stage3

__all__ = [
    "Block",
    "DEFAULT_MONEY_TERMS",
    "ExtractResult",
    "chapter_struct",
    "extract_document",
    "reassemble",
    "run_stage1",
    "run_stage2",
    "run_stage3",
    "segment_blocks",
    "transform_text",
]
