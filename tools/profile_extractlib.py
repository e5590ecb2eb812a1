"""Per-stage and per-pass cost profile of the pure-Python extraction core.

    PYTHONPATH=. python3 tools/profile_extractlib.py [--docs 1600] [--seed 1] [--repeat 3]

Builds a seeded ``sources/synth.py`` corpus (``make_documents``, the same
generator the benchmark's ``ocr_books`` workload draws from) plus the
reference-goldened inputs (``tests/golden/*/input.txt`` and
``perfbench/golden_inputs``), then prints:

* ms/doc of stage 1, stage 2, stage 3 and ``segment_blocks``;
* ms/doc of every stage-2 pass, in pipeline order, with the share of docs
  whose text that pass changed.

Each timing is the best of ``--repeat`` sweeps over the corpus.  No Spark is
needed, so a change to one pass can be sized on its own before it is run
through the benchmark.  The chained passes are checked against
``run_stage2`` on every doc, so the pass list below cannot drift silently
from the stage driver.
"""

from __future__ import annotations

import argparse
import pathlib
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pdf_to_epub_spark.extractlib import formatting as f  # noqa: E402
from pdf_to_epub_spark.extractlib import (  # noqa: E402
    DEFAULT_MONEY_TERMS,
    run_stage1,
    run_stage2,
    run_stage3,
    segment_blocks,
)

STAGE2_PASSES = (
    f.bare_mojibake_prepass,
    f.sweep_mojibake_and_artifacts,
    f.reflow_soft_breaks,
    f.break_dialogue_paragraphs,
    f.merge_residual_newlines,
    f.collapse_midsentence_breaks,
    f.resolve_lone_quote_lines,
    f.close_prev_and_drop_stray_quote,
    f.hoist_stray_quote_to_prev_line,
    f.split_adjacent_quote_pairs,
    f.collapse_spaced_quote_pairs,
    f.straighten_doubled_singles,
    f.drop_superscripts,
    f.strip_footnote_digits,
    f.mend_quote_apostrophe_artifacts,
    f.normalize_comma_quote_gap,
    f.drop_quote_islands,
    f.split_speaker_turns,
    f.tidy_intraline_spaces,
    f.collapse_adjacent_dquotes,
)


def load_corpus(n_docs: int, seed: int) -> list[str]:
    from pdf_to_epub_spark.sources.synth import make_documents

    docs = [row["text"] for row in make_documents(n_docs, seed)]
    docs += [
        p.read_text(encoding="utf-8")
        for p in sorted((ROOT / "tests" / "golden").glob("*/input.txt"))
    ]
    golden = sorted((ROOT / "perfbench" / "golden_inputs").glob("*.parquet"))
    if golden:
        import pyarrow.parquet as pq

        for p in golden:
            docs += pq.read_table(p, columns=["text"])["text"].to_pylist()
    return docs


def stage_costs(docs: list[str]) -> list[float]:
    """Seconds spent in stage 1, 2, 3 and segmentation over ``docs``."""
    cost = [0.0, 0.0, 0.0, 0.0]
    clock = time.perf_counter
    for text in docs:
        t0 = clock()
        s1 = run_stage1(text, {})
        t1 = clock()
        s2 = run_stage2(s1, {}, DEFAULT_MONEY_TERMS)
        t2 = clock()
        s3 = run_stage3(s2, {})
        t3 = clock()
        segment_blocks(s3)
        t4 = clock()
        cost[0] += t1 - t0
        cost[1] += t2 - t1
        cost[2] += t3 - t2
        cost[3] += t4 - t3
    return cost


def pass_costs(stage1_out: list[str]) -> tuple[list[float], list[int]]:
    """Seconds per stage-2 pass and the number of docs each pass changed."""
    cost = [0.0] * len(STAGE2_PASSES)
    changed = [0] * len(STAGE2_PASSES)
    clock = time.perf_counter
    for text in stage1_out:
        counters: dict = {}
        for i, fn in enumerate(STAGE2_PASSES):
            t0 = clock()
            if fn is f.strip_footnote_digits:
                out = fn(text, counters, DEFAULT_MONEY_TERMS)
            else:
                out = fn(text, counters)
            cost[i] += clock() - t0
            if out != text:
                changed[i] += 1
            text = out
    return cost, changed


def check_pass_list(stage1_out: list[str]) -> None:
    for text in stage1_out:
        chained: dict = {}
        out = text
        for fn in STAGE2_PASSES:
            out = fn(out, chained)
        driver: dict = {}
        if out != run_stage2(text, driver) or chained != driver:
            sys.exit("STAGE2_PASSES no longer matches run_stage2; update the list")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--docs", type=int, default=1600, help="synth docs (default 1600)")
    ap.add_argument("--seed", type=int, default=1, help="synth seed (default 1)")
    ap.add_argument("--repeat", type=int, default=3, help="sweeps; best one is kept")
    args = ap.parse_args()

    docs = load_corpus(args.docs, args.seed)
    n = len(docs)
    stage1_out = [run_stage1(t, {}) for t in docs]
    check_pass_list(stage1_out)

    stages = [min(c) for c in zip(*(stage_costs(docs) for _ in range(args.repeat)))]
    runs = [pass_costs(stage1_out) for _ in range(args.repeat)]
    passes = [min(c) for c in zip(*(r[0] for r in runs))]
    changed = runs[0][1]

    chars = sum(map(len, docs))
    print(f"corpus: {n} docs, {chars / n:,.0f} chars/doc (synth seed {args.seed} + goldens)")
    print(f"{'stage':<34}{'ms/doc':>9}{'share':>8}")
    total = sum(stages)
    for name, s in zip(("stage1", "stage2", "stage3", "segment_blocks"), stages):
        print(f"{name:<34}{s / n * 1e3:>9.3f}{s / total:>8.1%}")
    print(f"{'total':<34}{total / n * 1e3:>9.3f}")
    print()
    print(f"{'stage-2 pass':<34}{'ms/doc':>9}{'changed':>9}")
    for fn, s, c in zip(STAGE2_PASSES, passes, changed):
        print(f"{fn.__name__:<34}{s / n * 1e3:>9.3f}{c / n:>9.1%}")
    print(f"{'sum of passes':<34}{sum(passes) / n * 1e3:>9.3f}")


if __name__ == "__main__":
    main()
