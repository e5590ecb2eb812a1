"""End-to-end per-document transform: stage 1 → 2 → 3 → blocks.

This is the pure-Python core the Spark operators wrap.  Regex objects are
compiled once at module import (once per executor), so per-document cost is
match/replace work only.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .blocks import Block, segment_blocks
from .cleanup import run_stage1
from .formatting import DEFAULT_MONEY_TERMS, run_stage2
from .structure import run_stage3


@dataclass
class ExtractResult:
    text: str
    blocks: list[Block]
    counters: dict[str, int]
    status: str = "ok"
    error: str | None = None


def _flatten_counters(prefix: str, log: dict, out: dict[str, int]) -> None:
    """Flatten nested reference-style log dicts into int-only counters
    (example lists are dropped — they go to a samples column, not metrics)."""
    for key, value in log.items():
        if type(value) is not int:  # nearly every value is a plain int
            if isinstance(value, dict):
                _flatten_counters(f"{prefix}.{key}", value, out)
                continue
            if not isinstance(value, int):
                continue  # strings / lists (examples) are intentionally skipped
            if isinstance(value, bool):
                value = int(value)
        out[f"{prefix}.{key}"] = value


def transform_text(
    text: str,
    money_terms: frozenset[str] | set[str] = DEFAULT_MONEY_TERMS,
) -> tuple[str, dict[str, int]]:
    """Run stages 1-3 in reference order; return (stage3_text, counters)."""
    counters: dict[str, int] = {}
    log1: dict = {}
    log2: dict = {}
    log3: dict = {}
    text = run_stage1(text, log1)
    text = run_stage2(text, log2, money_terms)
    text = run_stage3(text, log3)
    _flatten_counters("step1", log1, counters)
    _flatten_counters("step2", log2, counters)
    _flatten_counters("step3", log3, counters)
    return text, counters


def extract_document(
    text: str,
    money_terms: frozenset[str] | set[str] = DEFAULT_MONEY_TERMS,
    max_doc_chars: int = 50_000_000,
) -> ExtractResult:
    """Transform one document and segment it into blocks.

    Error isolation mirrors the reference's per-shard ``continue``
    (`/root/reference/ocr-processing/merge_one_book.py:78-80`): a failing or
    oversized document is quarantined with a status, never kills the task.
    """
    if text is None:
        return ExtractResult("", [], {}, status="error", error="null text")
    if len(text) > max_doc_chars:
        return ExtractResult(
            "", [], {"quarantined_chars": len(text)},
            status="quarantined", error=f"doc exceeds {max_doc_chars} chars",
        )
    try:
        stage3, counters = transform_text(text, money_terms)
        blocks = segment_blocks(stage3)
        counters["blocks_emitted"] = len(blocks)
        return ExtractResult(stage3, blocks, counters)
    except Exception as exc:  # noqa: BLE001 — quarantine, don't kill the task
        return ExtractResult("", [], {}, status="error", error=repr(exc)[:500])
