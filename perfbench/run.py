"""The extraction benchmark: one command per workload run.

    python3 perfbench/run.py --workload ocr_books --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  It generates the seeded inputs
(``gen.py``, in a child process), starts the program's Spark session on
``local[<cores>]``, sets up twice (a cold JVM start, then a restart),
runs the workload's unit of work in a closed loop for ``--seconds``, checks
every output against the oracle, and prints one line per metric followed
by a JSON result line.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs one
untraced and one traced unit, the side probes for layers the workload does
not run, a local[1] vs local[N] scaling probe and the driver-side extractlib
timings, and reports the per-layer metrics (task metrics come from the
Spark event log).  Everything is written under ``perfbench/.work``; the
per-run directory is removed at exit, the span dumps are kept in
``perfbench/.work/traces``.

Exit status: 0 when every output checks out, 1 on an oracle mismatch (the
result line is still printed), 2 when the program is not in the current
directory or the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import procstat  # noqa: E402
from spans import TaskStats, Tracer, read_event_logs  # noqa: E402

DRIVER_MEM = "3g"  # session.py defaults to 24g, more than a 15 GiB machine has
SETUP_SAMPLES = 2
STAGE_SAMPLE = 300  # docs timed stage by stage on the driver
HTML_SAMPLE = 200  # pages timed through extract_html_document


class Bench:
    def __init__(self, args, root: pathlib.Path):
        self.args = args
        self.root = root
        self.cores = len(os.sched_getaffinity(0))
        self.run_dir = root / "perfbench" / ".work" / f"run-{os.getpid()}"
        self.inputs = self.run_dir / "inputs"
        self.out = self.run_dir / "out"
        self.eventlog = self.run_dir / "eventlog"
        self.spark = None
        self.gateway_proc = None

    # -- environment and session -------------------------------------------------

    def prepare(self) -> dict:
        for d in (self.inputs, self.out, self.eventlog, self.run_dir / "tmp"):
            d.mkdir(parents=True, exist_ok=True)
        # inherited by gen.py, the JVM and the Python workers
        os.environ.update(
            PYTHONPATH=os.pathsep.join(
                p for p in (str(self.root), os.environ.get("PYTHONPATH")) if p
            ),
            SPARK_GRAFT_CPUS=str(self.cores),
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            SPARK_LOCAL_DIRS=str(self.run_dir / "local"),
            PYSPARK_PYTHON=sys.executable,
            TMPDIR=str(self.run_dir / "tmp"),
            # every JVM, the spark-submit launcher included: no hsperfdata
            # files and no temporary files outside the checkout
            JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={self.run_dir / 'tmp'}",
        )
        sys.path.insert(0, str(self.root))
        subprocess.run(
            [
                sys.executable, str(HERE / "gen.py"),
                "--workload", self.args.workload, "--seed", str(self.args.seed),
                "--out", str(self.inputs), "--trace", str(self.args.trace),
            ],
            check=True,
            stdout=subprocess.DEVNULL,
        )
        return json.loads((self.inputs / "truth.json").read_text())

    def conf(self) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            # a fixed, pre-touched heap: see NOTES.md on peak_rss_mb
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": str(self.run_dir / "warehouse"),
        }
        if self.args.trace:
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.eventlog.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        return conf

    def start(self, master: str | None = None) -> float:
        """(Re)start the session; returns the seconds ``get_spark`` took."""
        from pdf_to_epub_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t = time.perf_counter()
        self.spark = get_spark(master=master, extra_conf=self.conf())
        took = time.perf_counter() - t
        sc = self.spark.sparkContext
        sc.setLogLevel("FATAL")
        if self.gateway_proc is None:  # the JVM outlives session restarts
            self.gateway_proc = sc._gateway.proc
        return took

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait for every child process."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self.gateway_proc is not None:
            self.gateway_proc.stdin.close()
            try:
                self.gateway_proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.gateway_proc.kill()
                self.gateway_proc.wait()
        deadline = time.monotonic() + 30
        while (kids := procstat.descendants(os.getpid())) and time.monotonic() < deadline:
            time.sleep(0.2)
        for pid in kids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        for pid in kids:
            try:
                os.waitpid(pid, 0)
            except ChildProcessError:  # not our direct child: init reaps it
                pass

    def setup(self, wl) -> list[tuple[float, float]]:
        """``SETUP_SAMPLES`` set-ups, each get_spark plus one warm-up unit;
        returns (start_s, warmup_s) per set-up, the first cold."""
        out = []
        for i in range(SETUP_SAMPLES):
            start_s = self.start()
            t = time.perf_counter()
            wl.warmup(self.spark, i)
            out.append((start_s, time.perf_counter() - t))
        return out

    # -- runs ----------------------------------------------------------------------

    def measure(self, wl) -> dict:
        """Units back to back for ``--seconds`` (at least one); each unit's
        throughput, latency, CPU per document and memory peak."""
        sampler = procstat.TreeSampler()
        units: list[dict] = []
        sampler.start()
        try:
            t_start = time.perf_counter()
            while time.perf_counter() - t_start < self.args.seconds or not units:
                cpu0 = sampler.cpu_seconds()
                sampler.take_peak()
                t = time.perf_counter()
                n = wl.unit(self.spark)
                if n is None:
                    break
                dt = time.perf_counter() - t
                units.append(
                    {
                        "docs": n,
                        "latency": dt,
                        "cpu_per_doc": (sampler.cpu_seconds() - cpu0) / n,
                        "peak": sampler.take_peak(),
                    }
                )
        finally:
            sampler.stop()

        def med(key):
            return statistics.median(u[key] for u in units)

        return {
            "latencies": [u["latency"] for u in units],
            "units": len(units),
            "docs_per_s": statistics.median(u["docs"] / u["latency"] for u in units),
            "commit_s_p50": med("latency"),
            "cpu_s_per_kdoc": med("cpu_per_doc") * 1000,
            "peak_rss_mb": med("peak") / 1e6,
        }

    def run_untraced(self, wl) -> tuple[dict, object]:
        setups = self.setup(wl)
        log(f"set-ups {[round(a + b, 2) for a, b in setups]} s")
        m = self.measure(wl)
        log(f"measured {m['units']} units: {[round(x, 2) for x in m['latencies']]} s")
        report = wl.check(self.spark)
        log("checked")
        unit = wl.unit_name
        metrics = {
            "docs_per_s": (m["docs_per_s"], "docs/s", f"median of {m['units']} {unit} units"),
            "cpu_s_per_kdoc": (m["cpu_s_per_kdoc"], "s", f"median of {m['units']} {unit} units"),
            "commit_s_p50": (m["commit_s_p50"], "s", f"median of {m['units']} {unit} latencies"),
            "peak_rss_mb": (m["peak_rss_mb"], "MB",
                            f"median of {m['units']} {unit} peaks, driver JVM + Python workers"),
            "setup_s": (statistics.median(a + b for a, b in setups), "s",
                        f"median of {len(setups)} set-ups, first cold"),
        }
        return metrics, report

    def run_traced(self, wl, side: list) -> tuple[dict, object]:
        setups = self.setup(wl)
        tracer = Tracer(self.spark.sparkContext)
        t = time.perf_counter()
        wl.unit(self.spark)
        untraced_s = time.perf_counter() - t
        with tracer.span("run", workload=wl.name) as run_span:
            direct = wl.traced(self.spark, tracer)
        for probe in side:
            with tracer.span("probe", workload=probe.name):
                for k, v in probe.traced(self.spark, tracer).items():
                    direct.setdefault(k, v)
        report = wl.check(self.spark)
        scaling = self.scaling_probe()
        self.shutdown()
        driver = self.extractlib_timings(wl, side)
        stats = read_event_logs(self.eventlog)
        tracer.dump(self.root / "perfbench" / ".work" / "traces"
                    / f"{wl.name}-s{self.args.seed}.json", stats)
        metrics = layer_metrics(tracer, stats, self.cores, driver, run_span)
        metrics |= {k: (v, UNITS[k]) for k, v in direct.items()}
        metrics |= {
            "session.start_s": (setups[0][0], "s"),
            "session.warmup_s": (setups[0][1], "s"),
            "operators.extract.scaling_eff_1to4": (scaling, "ratio"),
            "trace.overhead_s": (run_span.seconds - untraced_s, "s"),
        }
        return {k: (v, u, "") for k, (v, u) in metrics.items()}, report

    def scaling_probe(self) -> float:
        """OCR extraction of the 1000-doc sample (four scan tasks) at
        local[cores] and at local[1]: t1 / (cores * tN)."""
        from workloads import OcrBooks

        sample = self.inputs / "extractlib_sample"

        def timed(path) -> float:
            t = time.perf_counter()
            OcrBooks.extract(self.spark, path).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t

        timed(sample)
        t_n = timed(sample)
        self.start(master="local[1]")
        timed(next(sample.glob("*.parquet")))  # spawn and warm the one worker
        t_1 = timed(sample)
        return t_1 / (self.cores * t_n)

    def extractlib_timings(self, wl, side: list) -> dict:
        """Per-document costs of the pure-Python core, on the driver."""
        import pyarrow.parquet as pq

        from pdf_to_epub_spark.extractlib import (
            DEFAULT_MONEY_TERMS, extract_document, run_stage1, run_stage2,
            run_stage3, segment_blocks,
        )
        from pdf_to_epub_spark.extractlib.htmlblocks import extract_html_document

        texts = pq.read_table(self.inputs / "extractlib_sample", columns=["text"])["text"].to_pylist()
        for text in texts[:10]:  # warm caches and lazy compiles
            extract_document(text)
        stage = [0.0, 0.0, 0.0, 0.0]
        for text in texts[:STAGE_SAMPLE]:
            t0 = time.perf_counter()
            s1 = run_stage1(text, {})
            t1 = time.perf_counter()
            s2 = run_stage2(s1, {}, DEFAULT_MONEY_TERMS)
            t2 = time.perf_counter()
            s3 = run_stage3(s2, {})
            t3 = time.perf_counter()
            segment_blocks(s3)
            t4 = time.perf_counter()
            for i, dt in enumerate((t1 - t0, t2 - t1, t3 - t2, t4 - t3)):
                stage[i] += dt
        doc_ms = []
        for text in texts:
            t = time.perf_counter()
            extract_document(text)
            doc_ms.append((time.perf_counter() - t) * 1e3)
        html_dir = next(w for w in [wl, *side] if w.name == "html_ingest").pages
        pages = pq.read_table(html_dir, columns=["html"])["html"].to_pylist()[:HTML_SAMPLE]
        extract_html_document(pages[0])
        t = time.perf_counter()
        for p in pages:
            extract_html_document(p)
        html_ms = (time.perf_counter() - t) * 1e3
        n = min(STAGE_SAMPLE, len(texts))
        pct = statistics.quantiles(doc_ms, n=100)
        return {
            "extractlib.stage1_ms_per_doc": stage[0] / n * 1e3,
            "extractlib.stage2_ms_per_doc": stage[1] / n * 1e3,
            "extractlib.stage3_ms_per_doc": stage[2] / n * 1e3,
            "extractlib.segment_ms_per_doc": stage[3] / n * 1e3,
            "extractlib.doc_ms_p50": pct[49],
            "extractlib.doc_ms_p99": pct[98],
            "extractlib.html_ms_per_doc": html_ms / len(pages),
            # per payload character / byte: the overhead_share estimate
            "ocr": sum(doc_ms) / sum(len(t) for t in texts),
            "html": html_ms / sum(len(p) for p in pages),
        }


def log(msg: str) -> None:
    print(f"run.py: {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


UNITS = {
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.planted_recall": "ratio",
    "operators.resume.skip_ratio": "ratio",
    "export.epub_ms_per_doc": "ms",
    "export.mb_written": "MB",
}


def layer_metrics(tracer: Tracer, stats: dict, cores: int, driver: dict, run_span) -> dict:
    """Per-layer metrics from the first span of each layer (the workload's
    own run comes before the side probes) and its jobs' task metrics."""
    def first(name):
        return tracer.find(name)[0]

    def tasks(*spans) -> TaskStats:
        total = TaskStats()
        for s in spans:
            total.add(stats.get(s.span_id, TaskStats()))
        return total

    out: dict[str, tuple[float, str]] = {}

    def put(name, value, unit):
        out[name] = (float(value), unit)

    for name, metric in (
        ("sources.scan", "sources.scan_s"),
        ("operators.extract", "operators.extract.stage_s"),
        ("operators.assemble", "operators.assemble.s"),
        ("operators.textstats.quality_gate", "operators.textstats.quality_gate_s"),
        ("operators.textstats.scrub_pii", "operators.textstats.scrub_pii_s"),
        ("operators.sampling.hash_split", "operators.sampling.hash_split_s"),
        ("operators.dedup.exact", "operators.dedup.exact_s"),
        ("operators.dedup.near", "operators.dedup.near_s"),
        ("operators.resume", "operators.resume.s"),
        ("operators.metrics.partition_metrics", "operators.metrics.partition_metrics_s"),
        ("sink.parquet_write", "sink.parquet_write_s"),
        ("export.write", "export.write_s"),
    ):
        put(metric, first(name).seconds, "s")

    scan = first("sources.scan")
    put("sources.scan_tasks", tasks(scan).tasks, "count")
    put("sources.input_mb", scan.attrs["input_mb"], "MB")

    ex = first("operators.extract")
    ex_tasks = tasks(ex)
    task_s = sum(ex_tasks.task_s)
    put("operators.extract.task_skew", ex_tasks.skew, "ratio")
    put("operators.extract.core_idle_share", 1 - task_s / (ex.seconds * cores), "ratio")
    put("operators.extract.overhead_share",
        1 - ex.attrs["payload"] * driver[ex.attrs["mode"]] / 1e3 / max(task_s, 1e-9), "ratio")
    put("operators.assemble.shuffle_mb", tasks(first("operators.assemble")).shuffle_write_b / 1e6, "MB")
    dedup = tasks(first("operators.dedup.exact"), first("operators.dedup.near"))
    put("operators.dedup.shuffle_mb", dedup.shuffle_write_b / 1e6, "MB")
    put("operators.dedup.spill_mb", dedup.spill_b / 1e6, "MB")

    inside = _descendants(tracer, run_span)
    run = tasks(*inside)
    put("spark.tasks", run.tasks, "count")
    put("spark.task_s", sum(run.task_s), "s")
    put("spark.gc_s", run.gc_s, "s")
    put("spark.shuffle_mb", (run.shuffle_write_b + run.shuffle_read_b) / 1e6, "MB")
    put("spark.spill_mb", run.spill_b / 1e6, "MB")
    for k, v in driver.items():
        if k.startswith("extractlib."):
            put(k, v, "ms")
    return out


def _descendants(tracer: Tracer, root) -> list:
    ids = {root.span_id}
    found = [root]
    for s in tracer.spans:  # spans are recorded parent before child
        if s.parent in ids:
            ids.add(s.span_id)
            found.append(s)
    return found


def main(argv: list[str] | None = None) -> int:
    from workloads import GOLDEN, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args(argv)

    root = pathlib.Path.cwd()
    if not (root / "pdf_to_epub_spark" / "__init__.py").is_file() or not (root / GOLDEN).is_file():
        print("run.py: no pdf_to_epub_spark checkout in the current directory", file=sys.stderr)
        return 2

    bench = Bench(args, root)
    t0 = time.perf_counter()
    try:
        truth = bench.prepare()
        log(f"inputs generated in {time.perf_counter() - t0:.1f} s")
        wl = WORKLOADS[args.workload](bench.inputs, bench.out, truth)
        if args.trace:
            side = [
                WORKLOADS[name](bench.inputs, bench.out, truth)
                for name in ("html_ingest", "recrawl_publish")
                if name != args.workload
            ]
            metrics, report = bench.run_traced(wl, side)
        else:
            metrics, report = bench.run_untraced(wl)
    except Exception:  # noqa: BLE001 — report any failure as a failed run
        traceback.print_exc()
        bench.shutdown()
        shutil.rmtree(bench.run_dir, ignore_errors=True)
        return 2
    bench.shutdown()
    shutil.rmtree(bench.run_dir, ignore_errors=True)
    log(f"finished in {time.perf_counter() - t0:.1f} s")

    for name, (value, unit, note) in metrics.items():
        print(f"{args.workload}  {name} = {value:.6g} {unit}" + (f"  ({note})" if note else ""))
    print(f"{args.workload}  error_rate = {report.error_rate:.6g} "
          f"({report.failed} of {report.attempted} docs)")
    for what, reason in list(report.failures.items())[:20]:
        print(f"  FAIL {what}: {reason}")
    result = {
        "correct": report.failed == 0,
        "attempted": report.attempted,
        "failed": report.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if report.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
