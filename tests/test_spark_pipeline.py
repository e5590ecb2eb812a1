"""End-to-end Spark pipeline: documents table → extract → blocks → assembly.

The correctness oracle is the (reference-parity-tested) pure-Python
transform: per url, the Spark-assembled text must equal ``transform_text``
of the raw input byte-for-byte — the `north_rule` invariant, distributed.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_to_epub_spark.extractlib import transform_text
from pdf_to_epub_spark.operators import (
    assemble_documents,
    blocks_table,
    corpus_counters,
    decode_binary_pages,
    extract_documents,
    partition_metrics,
    pending_documents,
    status_summary,
    with_doc_hash,
)
from pdf_to_epub_spark.sources.synth import make_documents

N_DOCS = 40
PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(make_documents(N_DOCS, seed=99)).cache()


@pytest.fixture(scope="module")
def extracted(docs_df):
    return extract_documents(docs_df, salt_partitions=8).cache()


def test_extract_statuses(extracted):
    rows = {r["status"]: r["docs"] for r in status_summary(extracted).collect()}
    assert rows == {"ok": N_DOCS}


def test_extract_matches_pure_python(docs_df, extracted):
    raw = {r["url"]: r["text"] for r in docs_df.select("url", "text").collect()}
    got = {r["url"]: r["text"] for r in extracted.select("url", "text").collect()}
    assert set(got) == set(raw)
    for url, raw_text in raw.items():
        expected, _ = transform_text(raw_text)
        assert got[url] == expected, f"stage-3 mismatch for {url}"


def test_workers_keep_unchanged_zip_directories(spark, extracted):
    """Importing the package in a Python worker wraps
    ``zipimporter.invalidate_caches`` there, and only there: a task of a
    reused worker reads no unchanged zip directory again."""
    import zipimport

    from pdf_to_epub_spark import _pyworker

    extracted.count()

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        from pdf_to_epub_spark import _pyworker

        # In a worker's first task the wrapper is installed only after
        # setup_spark_files ran, so this call records the identities.
        importlib.invalidate_caches()
        reads = []
        stdlib_read = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or stdlib_read(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stdlib_read
        for _ in batches:
            pass
        wrapped = zipimport.zipimporter.invalidate_caches is _pyworker._invalidate_caches
        zip_importers = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        yield pa.RecordBatch.from_pydict(
            {
                "wrapped": [wrapped],
                "zip_importers": [zip_importers],
                "reads": [len(reads)],
            }
        )

    rows = (
        spark.range(0, 8, numPartitions=4)
        .mapInArrow(probe, "wrapped boolean, zip_importers long, reads long")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert r["wrapped"], r
        assert r["zip_importers"] > 0, r  # pyspark.zip at least
        assert r["reads"] == 0, r
    assert zipimport.zipimporter.invalidate_caches is _pyworker._stdlib_invalidate_caches
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def _by_url(df) -> dict:
    return {r["url"]: r.asDict(recursive=True) for r in df.collect()}


def test_blocks_and_assembly_roundtrip(spark, docs_df):
    """Both input forms of ``assemble_documents`` build the same documents:
    the extracted rows (one narrow projection) and the per-row block table
    (nested by a groupBy on url).  An empty-text doc (status ok, zero
    blocks) and an oversized one (status quarantined) are dropped by both."""
    raw = {r["url"]: r["text"] for r in docs_df.select("url", "text").collect()}
    max_chars = max(len(t) for t in raw.values())
    edge = spark.createDataFrame(
        [("u://empty", None, None, "", "en"),
         ("u://oversized", None, None, "x" * (max_chars + 1), "en")],
        PAGES_SCHEMA,
    )
    extracted = extract_documents(
        docs_df.unionByName(edge), max_doc_chars=max_chars
    ).localCheckpoint()
    statuses = {
        r["url"]: (r["status"], r["n_blocks"])
        for r in extracted.where(F.col("url").startswith("u://")).collect()
    }
    assert statuses == {"u://empty": ("ok", 0), "u://oversized": ("quarantined", 0)}

    narrow = assemble_documents(extracted)
    plan = narrow._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Generate" not in plan, plan
    rows = _by_url(narrow)
    assert rows == _by_url(assemble_documents(blocks_table(extracted)))
    assert set(rows) == set(raw)
    for url, r in rows.items():
        expected, _ = transform_text(raw[url])
        assert r["assembled_text"] == expected
        assert all(t.startswith("CHAPTER ") for t in r["toc"])
        assert r["n_chapters"] == len(r["toc"])
        ids = [b["block_id"] for b in r["blocks"]]
        assert ids == sorted(ids) == list(range(len(ids))) == list(range(r["n_blocks"]))


def test_duplicate_capture_assembles_two_documents(spark):
    """Two captures of one url are two documents, each the transform of
    its own capture, never one document interleaving both."""
    captures = [r["text"] for r in make_documents(2, seed=31)]
    pages = spark.createDataFrame(
        [("doc://same", None, None, t, "en") for t in captures], PAGES_SCHEMA
    )
    got = sorted(
        r["assembled_text"]
        for r in assemble_documents(extract_documents(pages)).collect()
    )
    assert got == sorted(transform_text(t)[0] for t in captures)


def test_block_spans_monotone(extracted):
    blocks = blocks_table(extracted)
    bad = blocks.where(
        (F.col("span_start") >= F.col("span_end"))
        | (F.col("span_start") < 0)
    ).count()
    assert bad == 0


def test_binary_decode_path(spark, docs_df):
    decoded = decode_binary_pages(docs_df.drop("text"))
    pairs = (
        decoded.select("url", "text")
        .join(docs_df.select("url", docs_df["text"].alias("orig")), "url")
        .collect()
    )
    assert len(pairs) == N_DOCS
    for r in pairs:
        assert r["text"] == r["orig"]


def test_resume_anti_join(spark, docs_df):
    """The pending rows are exactly the batch rows whose hash is not in the
    done set (a Python set difference), for every edge of the probe: a null
    payload stays pending, null and duplicated done hashes change nothing,
    two batch rows with one payload share their fate."""
    import hashlib

    base = [r.asDict() for r in docs_df.collect()]
    batch = base + [
        dict(base[0], url="dup://0"),  # same payload as a committed row
        dict(base[20], url="dup://20"),  # same payload as a pending row
        dict(base[1], url="null://0", html=None),
    ]
    digest = [hashlib.sha256(r["html"]).hexdigest() for r in base]
    hashed = with_doc_hash(spark.createDataFrame(batch, PAGES_SCHEMA))
    cases = {
        "first 15": digest[:15],
        "nulls and repeats": digest[:15] + [None, None] + digest[:5] * 3,
        "empty": [],
        "superset": digest + ["0" * 64, None] + digest[30:],
    }
    for name, done_hashes in cases.items():
        done = spark.createDataFrame([(h,) for h in done_hashes], "doc_hash string")
        got = sorted(r["url"] for r in pending_documents(hashed, done).collect())
        committed = set(done_hashes) - {None}
        want = sorted(
            r["url"]
            for r in batch
            if r["html"] is None
            or hashlib.sha256(r["html"]).hexdigest() not in committed
        )
        assert got == want, name
    assert "null://0" in got  # a null hash never matches, even a full index


def _plan_paths(node, up=()):
    """(node, path) for every node of a physical plan, where path holds an
    (ancestor, child index) pair per level; adaptive-plan wrappers and
    query stages are looked through."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        yield from _plan_paths(node.executedPlan(), up)
        return
    if name.endswith("QueryStage"):
        yield from _plan_paths(node.plan(), up)
        return
    yield node, up
    children = node.children()
    for i in range(children.size()):
        yield from _plan_paths(children.apply(i), (*up, (node, i)))


def test_resume_probe_streams_the_committed_scan(spark, docs_df, tmp_path):
    """Over a small batch the planner builds on the batch hashes: the
    committed scan is the streamed (left) side of a broadcast LeftSemi
    join, under no aggregate and no broadcast of its own."""
    from pdf_to_epub_spark.operators import resume_run

    batch, committed = tmp_path / "batch", tmp_path / "committed"
    docs_df.write.parquet(str(batch))
    done = with_doc_hash(docs_df).orderBy("url").select("doc_hash").limit(15)
    done.union(done).write.parquet(str(committed))  # a committed hash may repeat

    pending = resume_run(spark.read.parquet(str(batch)), str(committed))
    assert len(pending.collect()) == N_DOCS - 15
    plan = pending._jdf.queryExecution().executedPlan()  # noqa: SLF001
    (path,) = [
        up
        for node, up in _plan_paths(plan)
        if node.getClass().getSimpleName() == "FileSourceScanExec"
        and node.relation().location().rootPaths().apply(0).getName() == "committed"
    ]
    names = [n.nodeName() for n, _ in path]
    assert "HashAggregate" not in names
    k = max(i for i, n in enumerate(names) if "Join" in n)
    join, side = path[k]
    assert names[k] == "BroadcastHashJoin"
    assert join.joinType().toString() == "LeftSemi"
    assert join.buildSide().toString() == "BuildRight" and side == 0
    assert "BroadcastExchange" not in names[k:]


def test_doc_hash_is_sha256_of_stored_bytes(spark):
    """A string payload hashes as its UTF-8 bytes, the same as the binary
    form of the payload, so hashes recorded over either column agree."""
    import hashlib

    from pdf_to_epub_spark.operators import doc_hash_column

    texts = ["plain ascii", "“curly” — café\u00a0naïve", ""]
    df = spark.createDataFrame(
        [(t, t.encode("utf-8")) for t in texts], "s string, b binary"
    )
    got = df.select(
        doc_hash_column("s").alias("hs"), doc_hash_column("b").alias("hb")
    ).collect()
    want = [hashlib.sha256(t.encode("utf-8")).hexdigest() for t in texts]
    assert [r["hs"] for r in got] == want
    assert [r["hb"] for r in got] == want


def test_metrics_tables(extracted):
    m = partition_metrics(extracted, run_id="t", stage="extract")
    rows = m.collect()
    assert sum(r["url_count"] for r in rows) == N_DOCS
    assert all(r["run_id"] == "t" and r["stage"] == "extract" for r in rows)
    roll = {r["counter"]: r["total"] for r in corpus_counters(extracted).collect()}
    assert roll.get("blocks_emitted", 0) > 0
    assert "step2.reflow.single_newlines_joined" in roll


def test_partition_metrics_edge_partitions(spark):
    """One aggregation per partition: an error-only partition reports
    ``{"_none": 0}``; a partition mixing ok docs with empty-map (error)
    docs keeps its real keys, adds ``_none`` and counts distinct urls; the
    per-key sums over all partitions equal `corpus_counters`."""
    from collections import Counter

    texts = [r["text"] for r in make_documents(9, seed=7)]
    rows = (
        [(f"err://{i}", None) for i in range(3)]
        + [(f"mix://{i}", texts[i]) for i in range(4)]
        + [(f"mix://e{i}", None) for i in range(2)]
        + [(f"ok://{i}", texts[4 + i]) for i in range(5)]
        + [("ok://0", texts[4])]  # a second capture of one url
    )
    df = spark.createDataFrame(rows, "url string, text string").select(
        "url", F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit("en").alias("lang"), "text",
    )
    group = F.regexp_extract("url", r"^(\w+)://", 1)
    extracted = extract_documents(df).repartition(8, group).cache()
    placed = extracted.select(
        group.alias("g"), F.spark_partition_id().alias("pid")
    ).distinct().collect()
    assert len({r["g"] for r in placed}) == len({r["pid"] for r in placed}) == 3
    pid = {r["g"]: r["pid"] for r in placed}

    docs = extracted.select("url", "counters").collect()
    by_group = {}
    for r in docs:
        by_group.setdefault(r["url"].split("://")[0], []).append(r)
    want = {}
    for g, rs in by_group.items():
        total = Counter()
        for r in rs:
            total.update(r["counters"] or {"_none": 0})
        want[pid[g]] = (len({r["url"] for r in rs}), dict(total))

    got = {
        r["partition_id"]: (r["url_count"], dict(r["counters"]))
        for r in partition_metrics(extracted, "t", "extract").collect()
    }
    assert got == want
    assert got[pid["err"]] == (3, {"_none": 0})
    mix_count, mix = got[pid["mix"]]
    assert mix_count == 6 and mix["_none"] == 0 and "blocks_emitted" in mix
    ok_count, ok = got[pid["ok"]]
    assert ok_count == 5 and "_none" not in ok

    summed = Counter()
    for _, counters in got.values():
        summed.update({k: v for k, v in counters.items() if k != "_none"})
    roll = {r["counter"]: r["total"] for r in corpus_counters(extracted).collect()}
    assert dict(summed) == roll


def test_resume_run_snapshot_states(spark, docs_df, tmp_path):
    """A missing path or an empty directory means nothing is committed; an
    unreadable snapshot raises instead of recommitting every document."""
    from pdf_to_epub_spark.operators import resume_run

    assert resume_run(docs_df, str(tmp_path / "missing")).count() == N_DOCS
    (tmp_path / "empty").mkdir()
    assert resume_run(docs_df, str(tmp_path / "empty")).count() == N_DOCS

    corrupt = tmp_path / "corrupt"
    with_doc_hash(docs_df).select("doc_hash").coalesce(1).write.parquet(str(corrupt))
    (part,) = corrupt.glob("part-*.parquet")
    part.write_bytes(b"not a parquet footer")
    (corrupt / f".{part.name}.crc").unlink()  # so the footer read is what fails
    with pytest.raises(Exception, match="CANNOT_READ_FILE_FOOTER"):
        resume_run(docs_df, str(corrupt)).count()


def test_quarantine_on_error(spark):
    import datetime

    rows = [
        {"url": "u://bad", "warc_ts": datetime.datetime(2025, 1, 1), "lang": "en",
         "html": b"x", "text": None},
        {"url": "u://ok", "warc_ts": datetime.datetime(2025, 1, 1), "lang": "en",
         "html": b"y", "text": "CHAPTER I\n\nFINE TEXT here.\n"},
    ]
    df = spark.createDataFrame(rows, schema="url string, warc_ts timestamp, lang string, html binary, text string")
    out = extract_documents(df)
    by_status = {r["url"]: r["status"] for r in out.collect()}
    assert by_status == {"u://bad": "error", "u://ok": "ok"}


def test_bucketed_layout_extraction_is_shuffle_free(spark, tmp_path):
    """The deployment path (Iceberg bucket(N, url) input layout, emulated
    by `write_parquet(bucket_by_url=True)`) must run extraction with NO
    shuffle exchange: scan partitions flow straight into the Arrow stage.
    The salted fallback (`salt_partitions=N`) is the one that pays a
    repartition — pinned here so the bench's two entries keep meaning."""
    from pdf_to_epub_spark.operators.bucketing import plan_has_exchange
    from pdf_to_epub_spark.sources.synth import write_parquet

    path = tmp_path / "bucketed_corpus"
    write_parquet(str(path), 40, seed=17, n_files=4, bucket_by_url=True)
    docs = spark.read.parquet(str(path))

    assert not plan_has_exchange(extract_documents(docs, salt_partitions=None))
    assert plan_has_exchange(extract_documents(docs, salt_partitions=8))


def test_extraction_modes_share_one_narrow_stage(spark, docs_df):
    """Every extraction mode is the scan feeding one MapInArrow, with no
    Exchange when unsalted.  OCR mode over pages that carry ``html``
    hashes the page JVM-side: only the (string) text crosses into Python,
    while the HTML and PDF modes ship the binary page.  ``url, warc_ts,
    lang, doc_hash`` pass through unchanged, nulls included, under a
    non-UTC session time zone."""
    import datetime

    from pdf_to_epub_spark.operators import (
        extract_html_documents,
        extract_pdf_documents,
    )

    modes = {
        extract_documents: "string",
        extract_html_documents: "binary",
        extract_pdf_documents: "binary",
    }
    edge = spark.createDataFrame(
        [
            ("doc://no-ts", None, b"<p>no time</p>", "no time", "en"),
            ("doc://no-lang", datetime.datetime(1969, 7, 20, 20, 17),
             b"<p>no lang</p>", "no lang", None),
            ("doc://no-payload", datetime.datetime(2025, 1, 1), None, None, "fr"),
        ],
        PAGES_SCHEMA,
    )
    pages = docs_df.unionByName(edge)
    cols = ["url", "warc_ts", "lang", "doc_hash"]
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        want = {r.url: r for r in with_doc_hash(pages).select(cols).collect()}
        for extract in modes:
            got = {r.url: r for r in extract(pages).select(cols).collect()}
            assert got == want, extract.__name__
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    for extract, payload_type in modes.items():
        plan = extract(docs_df)._jdf.queryExecution().executedPlan()  # noqa: SLF001
        nodes = [n for n, _ in _plan_paths(plan)]
        assert not [n for n in nodes if "Exchange" in n.nodeName()], plan.toString()
        (stage,) = [n for n in nodes if n.nodeName().endswith("MapInArrow")]
        out = stage.child().output()
        inputs = [out.apply(i).name() for i in range(out.size())]
        assert inputs == ["url", "warc_ts", "lang", "doc_hash", "payload"], inputs
        assert out.apply(4).dataType().typeName() == payload_type
