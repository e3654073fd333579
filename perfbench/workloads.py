"""The benchmark workloads, ``ingest`` and ``intake``.

Both are closed loops with one client: the next call into the package is
issued only after the previous one returned.  A run

1. sets up: starts Spark, ships the package to the Python workers,
   bootstraps one fresh warehouse and runs ``WARM_OPS`` untimed warm-up
   operations in it (the first starts the Python workers);
2. runs timed operations (ingest rounds or intake micro-batches, each
   followed by ``REFRESHES`` History refreshes) until ``seconds`` have
   passed, and at least ``MIN_OPS`` of them;
3. checks every output against the mirror, outside the timed window.

Every operation and every refresh records its wall time and the CPU time
(user + system) that the whole process tree spent in it: this process,
the driver JVM and the Python workers.

In a traced run every second operation runs with the tracer on; the others
give the untraced reference for ``trace.overhead_ratio``.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import inputs
import mirror
from pyspark.sql import functions as F

from unstructured_data_pipeline_spark.ai.udfs import make_udfs
from unstructured_data_pipeline_spark.catalog import bootstrap_warehouse
from unstructured_data_pipeline_spark.operators.dml import ParquetTable
from unstructured_data_pipeline_spark.operators.history import (
    HistoryFilters,
    class_summary,
    documents_latest,
    field_flatten,
)
from unstructured_data_pipeline_spark.pipelines.batch import (
    persist_pipeline_outputs,
    run_document_pipeline,
)
from unstructured_data_pipeline_spark.sources.binary_docs import read_binary_documents
from unstructured_data_pipeline_spark.streaming import intake as intake_mod

WARM_OPS = 1
MIN_OPS = 3
INGEST_DOCS = 128
INGEST_WARM_DOCS = 32
INTAKE_BATCH = 32
INTAKE_WARM_BATCH = 16
# History refreshes after each timed operation: the one right after the
# commit and a repeat, two samples of the refresh per (costlier) operation
REFRESHES = 2
FLATTEN_FILTERS = HistoryFilters(
    classes=list(mirror.FLATTEN_CLASSES), file_contains=mirror.FLATTEN_FILE_CONTAINS
)


class Bench:
    """One benchmark run: the session, the tracer and the tally of checks."""

    def __init__(self, spark, work: str, seed: int, tracer, traced: bool, t_process: float):
        self.t_process = t_process
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tr = tracer
        self.traced = traced
        self.attempted = 0
        self.failed = 0
        self.envelopes = 0
        self.problems: list[str] = []

    def log(self, msg: str) -> None:
        print(f"# {time.perf_counter() - self.t_process:6.1f} s: {msg}", file=sys.stderr)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def tally(self, n: int, bad: int, problems: list[str] = ()) -> None:
        self.attempted += n
        self.failed += bad
        self.problems.extend(problems[: max(0, 20 - len(self.problems))])


def refresh(b: Bench, tables) -> tuple[float, dict]:
    """The History tab's three queries over the live tables."""
    t0 = time.perf_counter()
    eav = tables["documents_extracted_fields"].read()
    processed = tables["documents_processed"].read()
    with b.tr.span("history.class_summary"):
        cs = class_summary(eav).collect()
    with b.tr.span("history.documents_latest"):
        dl = documents_latest(eav, processed=processed).collect()
    with b.tr.span("history.field_flatten"):
        ff = field_flatten(eav, FLATTEN_FILTERS).collect()
    seconds = time.perf_counter() - t0
    rows = {"class_summary": cs, "documents_latest": dl, "field_flatten": ff}
    return seconds, {k: [r.asDict() for r in v] for k, v in rows.items()}


def dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files
    )


def data_files(tables) -> int:
    return sum(
        f.endswith(".parquet")
        for t in tables.values()
        for _, _, files in os.walk(t.data_dir())
        for f in files
    )


def timed_loop(b: Bench, seconds: float, op) -> list[dict]:
    """Run ``op(i)`` back to back for ``seconds`` (and MIN_OPS times at least).
    An operation that raises counts as failed."""
    ops: list[dict] = []
    tried = 0
    t_end = time.perf_counter() + seconds
    while tried < MIN_OPS or time.perf_counter() < t_end:
        b.tr.enabled = b.traced and tried % 2 == 1
        try:
            rec = op(tried)
            rec["traced"] = b.tr.enabled
            ops.append(rec)
        except Exception:
            traceback.print_exc()
            b.tally(1, 1, [f"operation {tried} raised"])
            if tried >= 2 * MIN_OPS and not ops:
                break
        finally:
            b.tr.enabled = False
            tried += 1
    return ops


# -- the two workloads --------------------------------------------------------


class Sink:
    """One freshly bootstrapped warehouse and the documents delivered to it."""

    def __init__(self, b: Bench, name: str):
        self.b = b
        self.root = b.path(name)
        self.deliveries: list[inputs.Doc] = []
        self.landed: dict[str, int] = {}  # file_ref -> bytes of its last delivery
        self.ops = 0
        self.gen_s = 0.0  # input generation, which set-up excludes
        self.gen_cpu_s = 0.0
        t0 = time.perf_counter()
        with b.tr.span("catalog.bootstrap_warehouse"):
            self.tables = bootstrap_warehouse(b.spark, self.warehouse)
        self.bootstrap_s = time.perf_counter() - t0

    @property
    def warehouse(self) -> str:
        return os.path.join(self.root, "warehouse")

    def op(self, size: int, refreshes: int = REFRESHES) -> dict:
        """Deliver ``size`` documents and commit them (timed), then refresh
        the History tab ``refreshes`` times."""
        c0, t0 = tree_cpu_s(), time.perf_counter()
        docs, in_bytes, deliver = self.prepare(size)
        self.gen_s += time.perf_counter() - t0
        self.gen_cpu_s += tree_cpu_s() - c0
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        extra = deliver()
        seconds = time.perf_counter() - t0
        cpu_s = tree_cpu_s() - c0
        self.ops += 1
        self.deliveries.extend(docs)
        stored = dir_bytes(self.warehouse) / sum(self.landed.values())
        samples = []
        for _ in range(refreshes):
            c0 = tree_cpu_s()
            refresh_s, result = refresh(self.b, self.tables)
            samples.append({"seconds": refresh_s, "cpu_s": tree_cpu_s() - c0, "result": result})
        return {
            "seconds": seconds,
            "cpu_s": cpu_s,
            "refreshes": samples,
            "n_docs": size,
            "in_bytes": in_bytes,
            "delivered": len(self.deliveries),
            "stored_ratio": stored,
            **extra,
        }


def scan_stage(spark, stage: str):
    """The stage scan and the OCR UDF of the quickstart: (blobs, docs)."""
    ocr = make_udfs()["ocr"]
    blobs = read_binary_documents(spark, stage)
    docs = blobs.select(
        F.element_at(F.split("path", "/"), -1).alias("file_ref"),
        F.col("path").alias("file_url"),
        F.get_json_object(ocr(F.col("content")), "$.content").alias("text"),
    )
    return blobs, docs


class IngestSink(Sink):
    """Rounds of new PDFs through the quickstart path: binary scan -> OCR
    UDF -> pipeline -> append-only sinks."""

    def prepare(self, size: int):
        docs = inputs.ingest_corpus(self.b.seed, self.ops, size)
        stage = os.path.join(self.root, "stage", f"round-{self.ops:03d}")
        sizes = inputs.write_ingest_stage(stage, docs)
        self.landed.update(sizes)

        def deliver():
            _, frame = scan_stage(self.b.spark, stage)
            with self.b.tr.span("pipelines.build"):
                out = run_document_pipeline(frame, with_ocr=True, cache_intermediate=True)
            with self.b.tr.span("pipelines.persist"):
                persist_pipeline_outputs(out, self.tables)
            return {"stage": stage, "docs": docs}

        return docs, sum(sizes.values()), deliver


class IntakeSink(Sink):
    """Micro-batches landed in per-batch sub-directories and drained by the
    intake stream (keyed upserts)."""

    def __init__(self, b: Bench, name: str):
        super().__init__(b, name)
        self.landing = os.path.join(self.root, "landing")
        self.checkpoint = os.path.join(self.root, "checkpoint")
        self.feed = inputs.IntakeFeed(b.seed)

    def prepare(self, size: int):
        docs = self.feed.next_batch(size)
        sizes = {d.name: len(d.text.encode("utf-8")) for d in docs}
        self.landed.update(sizes)

        def deliver():
            inputs.land_batch(self.landing, self.feed.batches, docs)
            with self.b.tr.span("streaming.trigger"):
                q = intake_mod.start_intake_stream(
                    self.b.spark, os.path.join(self.landing, "*"), self.checkpoint,
                    self.tables,
                )
                q.awaitTermination()
            return {"progress": [
                {"numInputRows": p.numInputRows, "durationMs": dict(p.durationMs)}
                for p in q.recentProgress
            ]}

        return docs, sum(sizes.values()), deliver


def stage_split(b: Bench, stage: str) -> None:
    """Time the ingest path stage by stage with ``noop`` writes of the
    intermediate frames: scan, +OCR, +classify/extract, +EAV, and the
    OCR/summary branch."""

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    blobs, docs = scan_stage(b.spark, stage)
    with b.tr.span("split.scan"):
        noop(blobs)
    with b.tr.span("split.ocr"):
        noop(docs)
    out = run_document_pipeline(docs, with_ocr=True)
    with b.tr.span("split.classify_extract"):
        noop(out.processed)
    with b.tr.span("split.eav"):
        noop(out.extracted_fields)
    with b.tr.span("split.summarize"):
        noop(out.ocr)


def docs_query(b: Bench, docs: list[inputs.Doc]) -> None:
    """The registry's document-family query over one round's corpus,
    checked against its DuckDB oracle."""
    from tests.oracle_harness import compare, run_oracle
    from unstructured_data_pipeline_spark import queries as Q

    name = "history_documents_current"
    fn, sql = Q.queries()[name], Q.oracle_sql()[name]
    sf_dir = b.path("sf")
    inputs.write_documents_table(sf_dir, docs)
    with b.tr.span("queries.docs.call"):
        df = fn(b.spark, sf_dir)
    with b.tr.span("queries.docs.collect"):
        pdf = df.toPandas()

    class Collected:  # compare() takes anything with toPandas()
        def toPandas(self):
            return pdf

    problems = compare(Collected(), run_oracle(sql, sf_dir))
    b.tally(1, bool(problems), [f"{name}: {p}" for p in problems])


def run_workload(b: Bench, seconds: float, sink_cls, warm_size: int, op_size: int) -> dict:
    """Bootstrap a fresh warehouse, run WARM_OPS untimed warm-up operations
    in it, time operations there, then check."""
    b.tr.enabled = b.traced
    sink = sink_cls(b, "warehouse")
    b.tr.enabled = False
    warm_s = 0.0
    for _ in range(WARM_OPS):
        r = sink.op(warm_size, refreshes=1)
        warm_s += r["seconds"] + sum(f["seconds"] for f in r["refreshes"])
    setup_s = tree_cpu_s() - sink.gen_cpu_s
    setup_wall_s = time.perf_counter() - b.t_process - sink.gen_s
    b.log("set up")
    ops = timed_loop(b, seconds, lambda i: sink.op(op_size))
    peak = peak_rss_mb()
    b.log(
        f"{len(ops)} timed operations: "
        + " ".join(
            f"{o['seconds']:.2f}+" + "/".join(f"{f['seconds']:.2f}" for f in o["refreshes"])
            for o in ops
        )
        + "; CPU " + " ".join(
            f"{o['cpu_s']:.2f}+" + "/".join(f"{f['cpu_s']:.2f}" for f in o["refreshes"])
            for o in ops
        )
        + "; stored/input " + " ".join(f"{o['stored_ratio']:.3f}" for o in ops)
        + f"; warm-up {warm_s:.2f}; bootstrap {sink.bootstrap_s:.2f}"
        + f"; set-up {setup_wall_s:.2f} s, CPU {setup_s:.2f} s"
        + f" (input generation {sink.gen_s:.2f} s, CPU {sink.gen_cpu_s:.2f} s left out)"
    )
    if not ops:
        raise RuntimeError("every timed operation failed")

    if b.traced and isinstance(sink, IngestSink):
        # once per traced run only: they feed per-layer metrics, no
        # end-to-end one, and would lengthen every untraced run
        b.tr.enabled = True
        stage_split(b, ops[-1]["stage"])
        docs_query(b, ops[-1]["docs"])
        b.tr.enabled = False
        b.log("stage split and registry query")

    state = mirror.latest(sink.deliveries)
    bad, envelopes, problems = mirror.check_warehouse(sink.tables, state)
    b.envelopes += envelopes
    b.tally(len(state), len(bad), problems)
    for r in ops:
        expected = mirror.latest(sink.deliveries[: r["delivered"]])
        problems = [p for f in r["refreshes"] for p in mirror.check_refresh(f["result"], expected)]
        b.tally(1 + len(r["refreshes"]), bool(problems), problems)  # the operation and its refreshes
    return {
        "setup_s": setup_s,
        "setup_wall_s": setup_wall_s,
        "bootstrap_s": sink.bootstrap_s,
        "warm_s": warm_s,
        "ops": ops,
        "peak_rss_mb": peak,
        # after a fixed number of operations, so it does not drift with speed
        "stored_ratio": ops[min(MIN_OPS, len(ops)) - 1]["stored_ratio"],
        "data_files": data_files(sink.tables),
        "split_files": len(ops[-1].get("docs", ())) if b.traced else 0,
    }


WORKLOADS = {
    "ingest": lambda b, s: run_workload(b, s, IngestSink, INGEST_WARM_DOCS, INGEST_DOCS),
    "intake": lambda b, s: run_workload(b, s, IntakeSink, INTAKE_WARM_BATCH, INTAKE_BATCH),
}


# -- process-level measurements ---------------------------------------------


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process, the driver
    JVM and the Python workers, including their reaped children."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process, the driver JVM and the Python workers."""
    parts = []
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        parts.append(int(line.split()[1]))
        except OSError:
            continue
    print(f"# peak RSS per process (MB): {[kb // 1024 for kb in parts]}", file=sys.stderr)
    return sum(parts) / 1024


def wait_descendants_gone(timeout: float) -> None:
    t_end = time.monotonic() + timeout
    while _descendants(os.getpid()) and time.monotonic() < t_end:
        time.sleep(0.1)
    left = _descendants(os.getpid())
    if left:
        print(f"# processes still running after Spark stopped: {left}", file=sys.stderr)


def install_spans(tr) -> None:
    """Traced runs: also time the package calls that other package calls
    make (the sinks' table writes, the stream's per-batch pipeline)."""
    tr.wrap(ParquetTable, "upsert", "dml.upsert")
    tr.wrap(ParquetTable, "append", "dml.append")
    tr.wrap(ParquetTable, "read", "dml.read")
    tr.wrap(intake_mod, "run_document_pipeline", "pipelines.build")
    tr.wrap(intake_mod, "persist_pipeline_outputs_idempotent", "pipelines.persist")
