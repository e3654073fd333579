"""Retry/backoff semantics (C4) against a flaky in-memory transport — no
network anywhere (reference retry decorator: `app.py:464-470`)."""

from __future__ import annotations

import json

import pytest

from unstructured_data_pipeline_spark.ai.remote import (
    RemoteBackendAdapter,
    RetryableError,
    retry_with_backoff,
)
from unstructured_data_pipeline_spark.functions.variant import canonical_json


def test_retry_succeeds_after_transient_failures():
    calls, sleeps = [], []

    @retry_with_backoff(max_attempts=4, base_delay=0.5, sleep=sleeps.append)
    def flaky():
        calls.append(1)
        if len(calls) < 3:
            raise RetryableError("503")
        return "ok"

    assert flaky() == "ok"
    assert len(calls) == 3
    assert sleeps == [0.5, 1.0]  # exponential, deterministic


def test_retry_exhausts_and_raises():
    sleeps = []

    @retry_with_backoff(max_attempts=3, base_delay=1.0, sleep=sleeps.append)
    def always_down():
        raise RetryableError("timeout")

    with pytest.raises(RetryableError):
        always_down()
    assert sleeps == [1.0, 2.0]  # max_attempts-1 sleeps


def test_permanent_errors_do_not_retry():
    calls = []

    @retry_with_backoff(max_attempts=5, sleep=lambda s: None)
    def bad_request():
        calls.append(1)
        raise ValueError("400 malformed")

    with pytest.raises(ValueError):
        bad_request()
    assert len(calls) == 1


def test_backoff_caps_at_max_delay():
    sleeps = []

    @retry_with_backoff(
        max_attempts=6, base_delay=1.0, multiplier=10.0, max_delay=5.0,
        sleep=sleeps.append,
    )
    def always_down():
        raise RetryableError("x")

    with pytest.raises(RetryableError):
        always_down()
    assert sleeps == [1.0, 5.0, 5.0, 5.0, 5.0]


class FlakyTransport:
    """Fails the first ``fail_n`` calls per op, then answers like a real
    endpoint."""

    def __init__(self, fail_n: int = 2):
        self.fail_n = fail_n
        self.counts: dict[str, int] = {}

    def __call__(self, op: str, payload: str) -> str:
        n = self.counts.get(op, 0) + 1
        self.counts[op] = n
        if n <= self.fail_n:
            raise RetryableError(f"{op} 503 attempt {n}")
        body = json.loads(payload)
        if op == "classify":
            return canonical_json({"class_name": "invoice"})
        if op == "extract":
            return canonical_json({"total": "42"})
        if op == "summarize":
            return canonical_json({"summary": body["text"][:10]})
        if op == "generate_prompts":
            return canonical_json({"total": "What is the total?"})
        if op == "ocr":
            return canonical_json({"content": "remote ocr text"})
        raise ValueError(op)


def test_adapter_retries_each_op():
    t = FlakyTransport(fail_n=2)
    b = RemoteBackendAdapter(t, max_attempts=3, base_delay=0.1, sleep=lambda s: None)
    assert b.classify("some doc") == "invoice"
    assert b.extract("text", "{}") == {"total": "42"}
    assert b.summarize("abcdefghijKLM") == "abcdefghij"
    assert b.generate_prompts("invoice") == {"total": "What is the total?"}
    assert all(v == 3 for k, v in t.counts.items())


def test_adapter_exhausted_retries_surface_to_udf_envelope():
    """The pipeline-facing contract: an exhausted retry raises, and the
    calling UDF wraps it in the AI7 {"error": ...} envelope."""
    b = RemoteBackendAdapter(
        FlakyTransport(fail_n=99), max_attempts=2, sleep=lambda s: None
    )
    with pytest.raises(RetryableError):
        b.classify("doc")


def test_adapter_ocr_local_tiers_skip_remote():
    """utf-8 text and parseable PDFs never hit the transport; only opaque
    blobs (scanned images etc.) go remote."""
    from unstructured_data_pipeline_spark.ai.pdf import make_minimal_pdf

    t = FlakyTransport(fail_n=0)
    b = RemoteBackendAdapter(t, sleep=lambda s: None)
    assert json.loads(b.ocr(b"plain text"))["content"] == "plain text"
    assert json.loads(b.ocr(make_minimal_pdf("pdf body")))["content"] == "pdf body"
    assert t.counts == {}
    assert json.loads(b.ocr(b"\xff\xfe\x00jpegish"))["content"] == "remote ocr text"
    assert t.counts == {"ocr": 1}


def test_adapter_drives_full_pipeline(spark):
    """The adapter satisfies the backend Protocol end-to-end: the batch
    pipeline runs against it with a healthy fake transport."""
    from unstructured_data_pipeline_spark.pipelines.batch import run_document_pipeline

    docs = spark.createDataFrame(
        [("1.txt", "@s/1.txt", "customer one"), ("2.txt", "@s/2.txt", "two words")],
        "file_ref string, file_url string, text string",
    )
    backend = RemoteBackendAdapter(FlakyTransport(fail_n=0), sleep=lambda s: None)
    out = run_document_pipeline(docs, backend=backend)
    got = {r["file_ref"]: r["class_name"] for r in out.processed.collect()}
    assert got == {"1.txt": "invoice", "2.txt": "invoice"}
    eav = out.extracted_fields.select("file_ref", "field_name", "field_value").collect()
    assert {(r["field_name"], r["field_value"]) for r in eav} == {("total", "42")}


def test_flaky_transport_fails_without_retry_and_recovers_with_it():
    """The C4 oracle row is only meaningful if the transport actually
    fails: find a payload whose first attempt raises, prove a
    max_attempts=1 adapter surfaces the failure, and that the default
    retrying adapter returns exactly the stub answer for the same text."""
    from unstructured_data_pipeline_spark.ai.backends import (
        DeterministicStubBackend,
    )
    from unstructured_data_pipeline_spark.ai.remote import (
        FlakyStubTransport,
        no_sleep,
    )

    # find a text the transport's md5 coin plants a failure for (~half do)
    flaky_text = next(
        t
        for t in (f"customer invoice {i}" for i in range(64))
        if _first_attempt_fails(FlakyStubTransport(), t)
    )
    no_retry = RemoteBackendAdapter(
        FlakyStubTransport(), max_attempts=1, sleep=no_sleep
    )
    with pytest.raises(RetryableError):
        no_retry.classify(flaky_text)

    retrying = RemoteBackendAdapter(FlakyStubTransport(), sleep=no_sleep)
    assert retrying.classify(flaky_text) == DeterministicStubBackend().classify(
        flaky_text
    )


def _first_attempt_fails(transport, text: str) -> bool:
    try:
        transport("classify", canonical_json({"text": text}))
        return False
    except RetryableError:
        return True
