"""The benchmark's three workloads, driven through the program's public API.

Each workload has a timed *unit* (one pass, one ingest, one recrawl batch),
a warm-up, an output check, and a traced variant that times each layer call
separately by forcing its output (``localCheckpoint(eager=True)`` or a noop
write) inside a span.
"""

from __future__ import annotations

import pathlib
import shutil
import time
from functools import partial

import pyarrow.parquet as pq

import oracle
from spans import Tracer

COMMITTED_COLS = ("url", "doc_hash", "status", "text", "n_chars", "n_blocks")
GOLDEN = pathlib.Path("tests/golden/extraction_golden.parquet")  # in the checkout


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _ckpt(df):
    return df.localCheckpoint(eager=True)


def _read(spark, path: pathlib.Path):
    return spark.read.parquet(str(path))


def _input_mb(path: pathlib.Path) -> float:
    return sum(p.stat().st_size for p in path.rglob("*.parquet")) / 1e6


def _texts(path: pathlib.Path, urls) -> dict[str, str]:
    """Input text of ``urls`` read back from a parquet input."""
    wanted = set(urls)
    tbl = pq.read_table(path, columns=["url", "text"])
    return {u: t for u, t in zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()) if u in wanted}


def _payload_size(path: pathlib.Path, col: str) -> int:
    """Characters (string column) or bytes (binary column) of an input."""
    import pyarrow.compute as pc

    arr = pq.read_table(path, columns=[col])[col]
    fn = pc.utf8_length if arr.type == "string" else pc.binary_length
    return pc.sum(fn(arr)).as_py()


def _extract_document():
    from pdf_to_epub_spark.extractlib import extract_document

    return extract_document


def _scan(spark, tracer: Tracer, path: pathlib.Path) -> None:
    df = _read(spark, path)  # schema inference stays outside the span
    with tracer.span("sources.scan", input_mb=_input_mb(path)):
        _noop(df)


class OcrBooks:
    """Bulk OCR-text extraction plus chapter assembly to a noop sink."""

    name = "ocr_books"
    unit_name = "pass"

    def __init__(self, inputs: pathlib.Path, out: pathlib.Path, truth: dict):
        self.inputs = inputs / self.name
        self.pages = self.inputs / "pages"
        self.truth = truth[self.name]
        self.units = 0

    @staticmethod
    def assembled(spark, path: pathlib.Path):
        from pdf_to_epub_spark.operators import assemble_documents, blocks_table, extract_documents

        return assemble_documents(blocks_table(extract_documents(_read(spark, path))))

    @staticmethod
    def extract(spark, path: pathlib.Path):
        from pdf_to_epub_spark.operators import extract_documents

        return extract_documents(_read(spark, path))

    def warmup(self, spark, i: int) -> None:
        _noop(self.assembled(spark, self.inputs / "warmup"))

    def unit(self, spark) -> int:
        _noop(self.assembled(spark, self.pages))
        self.units += 1
        return self.truth["n_docs"]

    def check(self, spark) -> oracle.Report:
        """One more pass, collected to the driver and checked."""
        rows = (
            self.assembled(spark, self.pages)
            .select("url", "assembled_text", "blocks")
            .toArrow()
            .to_pylist()
        )
        tbl = pq.read_table(GOLDEN, columns=["corpus_key", "url", "text_sha"])
        golden = {
            (k, u): h
            for k, u, h in zip(*(tbl[c].to_pylist() for c in ("corpus_key", "url", "text_sha")))
        }
        golden_sha = {}
        for url in self.truth["golden"]:
            key, doc = url.split("/")[-2:]
            golden_sha[url] = golden[(key, "doc://" + doc.removeprefix("doc-"))]
        expected = set(pq.read_table(self.pages, columns=["url"])["url"].to_pylist())
        return oracle.check_assembled(
            rows, expected, golden_sha, _texts(self.pages, self.truth["sample"]),
            _extract_document(),
        )

    def traced(self, spark, tracer: Tracer) -> dict:
        from pdf_to_epub_spark.operators import assemble_documents, blocks_table, extract_documents

        _scan(spark, tracer, self.pages)
        size = _payload_size(self.pages, "text")
        df = _read(spark, self.pages)
        with tracer.span("operators.extract", payload=size, mode="ocr"):
            ex = _ckpt(extract_documents(df))
        with tracer.span("operators.assemble"):
            _noop(assemble_documents(blocks_table(ex)))
        ex.unpersist()
        return {}


class HtmlIngest:
    """``pipeline.ingest(html_mode=True)`` over boilerplate pages with
    planted duplicates and PII; each ingest's corpus is written to parquet."""

    name = "html_ingest"
    unit_name = "ingest"

    def __init__(self, inputs: pathlib.Path, out: pathlib.Path, truth: dict):
        self.inputs = inputs / self.name
        self.pages = self.inputs / "pages"
        self.out = out / self.name
        self.truth = truth[self.name]
        self.units = 0

    def _ingest(self, spark, path: pathlib.Path):
        from pdf_to_epub_spark.pipeline import ingest

        return ingest(_read(spark, path), html_mode=True).corpus

    def warmup(self, spark, i: int) -> None:
        _noop(self._ingest(spark, self.inputs / "warmup"))

    def unit(self, spark) -> int:
        self._ingest(spark, self.pages).write.mode("overwrite").parquet(
            str(self.out / f"corpus-{self.units:03d}")
        )
        self.units += 1
        return self.truth["n_docs"]

    def check(self, spark) -> oracle.Report:
        """Every ingest's corpus, then one more extraction pass."""
        from pdf_to_epub_spark.operators import (
            assemble_documents,
            blocks_table,
            extract_html_documents,
        )

        report = oracle.Report()
        for k in range(self.units):
            rows = pq.read_table(self.out / f"corpus-{k:03d}").to_pylist()
            report.merge(oracle.check_ingest(rows, self.truth), f"ingest {k}")
        rows = (
            assemble_documents(blocks_table(extract_html_documents(_read(spark, self.pages))))
            .select("url", "assembled_text")
            .toArrow()
            .to_pylist()
        )
        report.merge(oracle.check_html_extract(rows, self.truth["pages"]), "extract")
        return report

    def traced(self, spark, tracer: Tracer) -> dict:
        """The stages of ``ingest(html_mode=True)`` with its default
        parameters, one span each."""
        from pdf_to_epub_spark.operators import (
            assemble_documents,
            blocks_table,
            drop_exact_duplicates,
            drop_near_duplicates,
            extract_html_documents,
            hash_split,
            minhash_candidate_pairs,
            quality_gate,
            scrub_pii,
        )
        from pyspark.sql import functions as F

        _scan(spark, tracer, self.pages)
        size = _payload_size(self.pages, "html")
        df = _read(spark, self.pages)
        with tracer.span("operators.extract", payload=size, mode="html"):
            ex = _ckpt(extract_html_documents(df))
        with tracer.span("operators.assemble"):
            docs = _ckpt(
                assemble_documents(blocks_table(ex)).select(
                    "url", F.col("assembled_text").alias("text")
                )
            )
        with tracer.span("operators.textstats.quality_gate"):
            kept = _ckpt(
                quality_gate(
                    docs, id_col="url", min_words=50,
                    max_dup_line_char_ratio=0.3, max_top_bigram_char_ratio=0.3,
                )
                .where(F.col("keep_all"))
                .select("url", "text")
            )
        with tracer.span("operators.textstats.scrub_pii"):
            scrubbed = _ckpt(
                scrub_pii(kept).select(
                    "url", F.col("clean_text").alias("text"), "n_email", "n_ip", "n_phone"
                )
            )
        with tracer.span("operators.dedup.exact"):
            exact = _ckpt(drop_exact_duplicates(scrubbed, text_col="text", id_col="url"))
        with tracer.span("operators.dedup.near"):
            deduped = _ckpt(
                drop_near_duplicates(
                    exact, text_col="text", id_col="url", k=5, jaccard_threshold=0.7
                )
            )
        with tracer.span("operators.sampling.hash_split"):
            _noop(hash_split(deduped, None, id_col="url"))
        # outside any layer span: the verified pairs behind the near-dup drop
        pairs = {
            (r["id_a"], r["id_b"])
            for r in minhash_candidate_pairs(exact, "text", "url", 5, 64, 16, 0.7)
            .select("id_a", "id_b")
            .collect()
        }
        planted = [tuple(p) for p in self.truth["near_pairs"]]
        for df in (ex, docs, kept, scrubbed, exact, deduped):
            df.unpersist()
        return {
            "operators.dedup.verified_pairs": float(len(pairs)),
            "operators.dedup.planted_recall": (
                sum(p in pairs for p in planted) / len(planted) if planted else 1.0
            ),
        }


class RecrawlPublish:
    """Closed loop of recrawl batches: resume, extract, commit, lineage,
    assemble and EPUB export, one batch after the previous one commits."""

    name = "recrawl_publish"
    unit_name = "batch"

    def __init__(self, inputs: pathlib.Path, out: pathlib.Path, truth: dict):
        self.inputs = inputs / self.name
        self.out = out / self.name
        self.truth = truth[self.name]
        self.committed = self.out / "committed"
        self.lineage = self.out / "lineage"
        self.epubs = self.out / "epub"
        self.units = 0
        self._fresh_committed(self.committed)

    def _fresh_committed(self, path: pathlib.Path) -> None:
        if path.exists():
            shutil.rmtree(path)
        shutil.copytree(self.inputs / "committed0", path)

    def batch(self, k: int) -> pathlib.Path:
        return self.inputs / "batches" / f"batch-{k:04d}"

    @staticmethod
    def publish(spark, batch: pathlib.Path, committed, lineage, epubs, run_id: str) -> None:
        from pdf_to_epub_spark.export import export_partition
        from pdf_to_epub_spark.operators import (
            assemble_documents,
            blocks_table,
            extract_documents,
            partition_metrics,
            resume_run,
        )
        from pyspark.sql import functions as F

        pending = resume_run(_read(spark, batch), str(committed), payload_col="html")
        extracted = extract_documents(pending).localCheckpoint(eager=False)
        extracted.where(F.col("status") == "ok").select(*COMMITTED_COLS).write.mode(
            "append"
        ).parquet(str(committed))
        partition_metrics(extracted, run_id, "extract").write.mode("append").parquet(
            str(lineage)
        )
        assemble_documents(blocks_table(extracted)).select("url", "blocks").foreachPartition(
            partial(export_partition, out_dir=str(epubs))
        )

    def warmup(self, spark, i: int) -> None:
        warm = self.out / f"warmup-{i}"
        self._fresh_committed(warm / "committed")
        self.publish(
            spark, self.inputs / "warmup", warm / "committed",
            warm / "lineage", warm / "epub", f"warmup-{i}",
        )

    def unit(self, spark) -> int | None:
        """The next batch; None when the generated batches are used up."""
        k = self.units
        if k >= len(self.truth["batches"]):
            return None
        self.publish(spark, self.batch(k), self.committed, self.lineage, self.epubs, f"batch-{k}")
        self.units += 1
        b = self.truth["batches"][k]
        return len(b["new"]) + len(b["repeats"])

    def check(self, spark) -> oracle.Report:
        """Everything the batches run so far committed."""
        committed = pq.read_table(
            self.committed, columns=["url", "status", "text"]
        ).to_pylist()
        lineage = (
            pq.read_table(self.lineage, columns=["url_count"]).to_pylist()
            if self.lineage.exists() else []
        )
        sample = {}
        for k in range(min(self.units, 2)):
            sample |= _texts(self.batch(k), self.truth["sample"])
        return oracle.check_recrawl(
            committed, lineage, self.epubs, self.truth, self.units, sample,
            _extract_document(),
        )

    def traced(self, spark, tracer: Tracer) -> dict:
        """The next batch with one span per layer call; it commits like an
        untraced one."""
        from pdf_to_epub_spark.export import epub_bytes, export_partition
        from pdf_to_epub_spark.operators import (
            assemble_documents,
            blocks_table,
            extract_documents,
            partition_metrics,
            resume_run,
        )
        from pyspark.sql import functions as F

        k = self.units
        batch = self.batch(k)
        _scan(spark, tracer, batch)
        df = _read(spark, batch)
        n_in = df.count()
        with tracer.span("operators.resume"):
            pending = _ckpt(resume_run(df, str(self.committed), payload_col="html"))
        n_pending, size = pending.agg(F.count("*"), F.sum(F.length("text"))).first()
        with tracer.span("operators.extract", payload=size, mode="ocr"):
            ex = _ckpt(extract_documents(pending))
        with tracer.span("sink.parquet_write"):
            ex.where(F.col("status") == "ok").select(*COMMITTED_COLS).write.mode(
                "append"
            ).parquet(str(self.committed))
        with tracer.span("operators.metrics.partition_metrics"):
            partition_metrics(ex, f"batch-{k}", "extract").write.mode("append").parquet(
                str(self.lineage)
            )
        with tracer.span("operators.assemble"):
            asm = _ckpt(assemble_documents(blocks_table(ex)).select("url", "blocks"))
        before = _dir_bytes(self.epubs)
        with tracer.span("export.write", n_docs=n_pending):
            asm.foreachPartition(partial(export_partition, out_dir=str(self.epubs)))
        written_mb = (_dir_bytes(self.epubs) - before) / 1e6
        # per-document EPUB packaging cost, timed on the driver
        sample = [
            [b.asDict() for b in r["blocks"]] for r in asm.limit(64).collect()
        ]
        t = time.perf_counter()
        for blocks in sample:
            epub_bytes(blocks)
        epub_ms = (time.perf_counter() - t) / max(len(sample), 1) * 1e3
        for df in (pending, ex, asm):
            df.unpersist()
        self.units += 1
        return {
            "operators.resume.skip_ratio": 1 - n_pending / max(n_in, 1),
            "export.epub_ms_per_doc": epub_ms,
            "export.mb_written": written_mb,
        }


def _dir_bytes(path: pathlib.Path) -> int:
    return sum(p.stat().st_size for p in path.glob("*")) if path.is_dir() else 0


WORKLOADS = {w.name: w for w in (OcrBooks, HtmlIngest, RecrawlPublish)}
