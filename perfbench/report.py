"""Turn one run's records into the metrics named in BENCHMARK.json."""

from __future__ import annotations

from statistics import median

SPLIT_UDF = ("split.ocr", "split.classify_extract", "split.summarize")
HISTORY = ("history.class_summary", "history.documents_latest", "history.field_flatten")
DOCS_QUERY = ("queries.docs.call", "queries.docs.collect")
SPARK_LAYERS = ("catalog", "sources", "ai", "pipelines", "dml", "streaming", "history", "queries")
# Spark work of these layers is reported per traced operation, that of
# `history` per traced refresh; the others come from calls made once per
# traced run (the bootstrap, the stage split, the registry query)
PER_OP_LAYERS = ("pipelines", "dml", "streaming")


def end_to_end(res: dict) -> dict[str, float]:
    ops = res["ops"]
    return {
        "setup_s": res["setup_s"],
        "peak_rss_mb": res["peak_rss_mb"],
        "cpu_ms_per_doc": median(1e3 * o["cpu_s"] / o["n_docs"] for o in ops),
        "history_refresh_cpu_s": median(f["cpu_s"] for o in ops for f in o["refreshes"]),
        "stored_bytes_per_input_byte": res["stored_ratio"],
    }


def per_layer(tr, b, setup: dict, res: dict) -> dict[str, float]:
    ops = res["ops"]
    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"]]
    n = max(1, len(traced))

    def spans(*names):
        return [s for s in tr.spans if s.name in names]

    def secs(*names):
        return sum(s.seconds for s in spans(*names))

    def own(key, *names):
        return sum(s.own[key] for s in spans(*names))

    def inclusive(key, *names):
        return sum(s.total(key) for s in spans(*names))

    m = {
        "session.get_spark_s": setup["get_spark_s"],
        "dist.ensure_shipped_s": setup["ship_s"],
        "catalog.bootstrap_warehouse_s": res["bootstrap_s"],
        "warmup_s": res["warm_s"],
        "setup_wall_s": res["setup_wall_s"],
    }

    split = {k: secs(f"split.{k}") for k in ("scan", "ocr", "classify_extract", "eav", "summarize")}
    files = res.get("split_files", 0)
    m["sources.scan_s"] = split["scan"]
    m["sources.files"] = files
    m["sources.scan_tasks"] = own("tasks", "split.scan")
    m["sources.reads_per_doc"] = own("input_records", "split.scan") / files if files else 0
    m["ai.ocr_s"] = max(0.0, split["ocr"] - split["scan"]) if files else 0
    m["ai.classify_extract_s"] = max(0.0, split["classify_extract"] - split["ocr"]) if files else 0
    m["ai.summarize_s"] = max(0.0, split["summarize"] - split["ocr"]) if files else 0
    run_ms = own("run_ms", *SPLIT_UDF)
    m["ai.python_share"] = 1 - own("cpu_ns", *SPLIT_UDF) / 1e6 / run_ms if run_ms else 0
    m["ai.error_envelopes"] = b.envelopes

    m["pipelines.build_s"] = secs("pipelines.build") / n
    m["pipelines.build_jobs"] = inclusive("jobs", "pipelines.build") / n
    m["pipelines.eav_explode_s"] = (
        max(0.0, split["eav"] - split["classify_extract"]) if files else 0
    )
    m["pipelines.persist_s"] = secs("pipelines.persist") / n
    m["pipelines.persist_jobs"] = inclusive("jobs", "pipelines.persist") / n

    in_bytes = sum(o["in_bytes"] for o in traced)
    m["dml.upsert_s"] = secs("dml.upsert") / n
    m["dml.upsert_calls"] = len(spans("dml.upsert")) / n
    m["dml.read_s"] = secs("dml.read") / n
    m["dml.data_files"] = res["data_files"]
    m["dml.bytes_written_per_input_byte"] = (
        tr.layer_totals("dml")["output_bytes"] / in_bytes if in_bytes else 0
    )

    progress = [p for o in traced for p in o.get("progress", [])]

    def duration_s(key):
        return sum(p["durationMs"].get(key, 0) for p in progress) / 1000 / n

    landed = sum(o["n_docs"] for o in traced) if progress else 0
    m["streaming.trigger_s"] = secs("streaming.trigger") / n
    m["streaming.add_batch_s"] = duration_s("addBatch")
    m["streaming.latest_offset_s"] = duration_s("latestOffset")
    m["streaming.commit_s"] = duration_s("walCommit") + duration_s("commitOffsets")
    m["streaming.source_reads_per_doc"] = (
        sum(p["numInputRows"] for p in progress) / landed if landed else 0
    )

    refreshes = max(1, len(spans(HISTORY[0])))  # traced refreshes
    for name in HISTORY:
        m[f"{name}_s"] = secs(name) / refreshes
    m["history.jobs"] = inclusive("jobs", *HISTORY) / refreshes

    m["queries.docs.call_s"] = secs(DOCS_QUERY[0])
    m["queries.docs.collect_s"] = secs(DOCS_QUERY[1])
    m["queries.docs.jobs"] = inclusive("jobs", *DOCS_QUERY)
    m["queries.docs.py4j_calls"] = sum(s.py4j_calls for s in spans(*DOCS_QUERY))
    m["queries.docs.exec_run_s"] = inclusive("run_ms", *DOCS_QUERY) / 1e3
    m["queries.docs.exec_cpu_s"] = inclusive("cpu_ns", *DOCS_QUERY) / 1e9
    m["queries.docs.shuffle_bytes"] = inclusive("shuffle_bytes", *DOCS_QUERY)

    for layer in SPARK_LAYERS:
        if layer == "sources":
            t = {k: own(k, "split.scan") for k in ("tasks", "run_ms", "cpu_ns", "shuffle_bytes", "spill_bytes")}
        elif layer == "ai":
            t = {k: own(k, *SPLIT_UDF) for k in ("tasks", "run_ms", "cpu_ns", "shuffle_bytes", "spill_bytes")}
        else:
            t = tr.layer_totals(layer)
        d = refreshes if layer == "history" else n if layer in PER_OP_LAYERS else 1
        m[f"{layer}.tasks"] = t["tasks"] / d
        m[f"{layer}.exec_run_s"] = t["run_ms"] / 1e3 / d
        m[f"{layer}.exec_cpu_s"] = t["cpu_ns"] / 1e9 / d
        m[f"{layer}.shuffle_bytes"] = t["shuffle_bytes"] / d
        m[f"{layer}.spill_bytes"] = t["spill_bytes"] / d

    plain = untraced or ops  # wall-clock medians over the untraced operations
    m["ingest_docs_per_s"] = median(o["n_docs"] / o["seconds"] for o in plain)
    m["intake_batch_p50_s"] = median(o["seconds"] for o in plain)
    m["history_refresh_p50_s"] = median(f["seconds"] for o in plain for f in o["refreshes"])
    m["failed_ops_ratio"] = b.failed / b.attempted
    m["trace.overhead_ratio"] = (
        median(o["seconds"] for o in traced) / median(o["seconds"] for o in untraced)
        if traced and untraced
        else 0
    )
    return m
