"""Retry/backoff + the remote-LLM backend adapter (C4 / AI1-AI5 production
wiring).

The reference wraps its Cortex calls in a fixed-count retry decorator
(`app/Auto-Magic Document AI.py:464-470`); deferred in round 1 because only
the deterministic stub existed.  With a real PDF tier in place the sibling
becomes required: this module gives the engine a documented production path
for plugging a remote LLM endpoint into the same ``DocumentAIBackend``
Protocol the pipeline already consumes.

No network code lives here — the transport is an injected callable
(``transport(op, payload) -> str``), so tests exercise the retry semantics
against a flaky in-memory fake and a real deployment supplies an HTTP/SQL
client.  Inside a pandas UDF each *executor* retries its own calls; there is
no driver-side coordination to bottleneck (C1).
"""

from __future__ import annotations

import functools
import json
import time
from typing import Callable

from unstructured_data_pipeline_spark.ai.backends import (
    SUMMARY_INPUT_CAP,
    DeterministicStubBackend,
)
from unstructured_data_pipeline_spark.functions.variant import canonical_json


class RetryableError(Exception):
    """Transient transport failure — worth retrying (429/5xx analog)."""


def retry_with_backoff(
    max_attempts: int = 3,
    base_delay: float = 0.5,
    multiplier: float = 2.0,
    max_delay: float = 30.0,
    sleep: Callable[[float], None] = time.sleep,
):
    """Exponential-backoff retry decorator (the reference's fixed-count
    retry, `app.py:464-470`, plus backoff).

    Delay before attempt k (1-based retries) is
    ``min(base_delay * multiplier**(k-1), max_delay)`` — deterministic, no
    jitter state, so behavior is reproducible in tests (``sleep`` is
    injectable).  Only ``RetryableError`` is retried; any other exception
    propagates immediately (a 400-style permanent error must not burn
    retries)."""
    if max_attempts < 1:
        raise ValueError("max_attempts must be >= 1")

    def deco(fn):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            delay = base_delay
            for attempt in range(1, max_attempts + 1):
                try:
                    return fn(*args, **kwargs)
                except RetryableError:
                    if attempt == max_attempts:
                        raise
                    sleep(min(delay, max_delay))
                    delay *= multiplier
            raise AssertionError("unreachable")

        return wrapped

    return deco


def no_sleep(_: float) -> None:
    """Picklable no-op sleep for deterministic/testing retry wiring —
    lambdas can't cross the executor pickle boundary."""
    return None


class FlakyStubTransport:
    """Deterministic in-memory 'remote endpoint' with planted first-attempt
    failures — the transport that makes retry/backoff (C4) an ORACLE-
    VERIFIABLE property instead of a unit-only one.

    Every op is served from ``DeterministicStubBackend`` (whose semantics
    have exact ANSI-SQL mirrors), but the FIRST attempt for roughly half
    of all distinct payloads (md5 coin on the call key) raises
    ``RetryableError``.  Attempt memory is per process — the driver and
    each executor worker carry their own map (keyed by payload md5, so
    memory stays O(#distinct calls) hashes, never texts) — so
    ``retry_with_backoff``'s second attempt succeeds in-process and the
    end-to-end pipeline output must equal the clean stub path exactly,
    on any partitioning.  An adapter with ``max_attempts=1`` over the
    same transport fails outright (unit-pinned), proving the recovery is
    the retry's doing.
    """

    def __init__(self) -> None:
        self._stub = DeterministicStubBackend()
        self._attempts: dict[str, int] = {}

    def __call__(self, op: str, payload: str) -> str:
        import hashlib

        key = hashlib.md5((op + "|" + payload).encode("utf-8")).hexdigest()
        n = self._attempts.get(key, 0)
        self._attempts[key] = n + 1
        if n == 0 and key[0] < "8":
            raise RetryableError("503 transient (planted first-attempt failure)")
        data = json.loads(payload)
        if op == "classify":
            return canonical_json({"class_name": self._stub.classify(data["text"])})
        if op == "extract":
            return canonical_json(self._stub.extract(data["text"], data["prompts"]))
        if op == "summarize":
            return canonical_json({"summary": self._stub.summarize(data["text"])})
        if op == "generate_prompts":
            return canonical_json(self._stub.generate_prompts(data["class_name"]))
        if op == "ocr":
            return canonical_json(
                {"content": self._stub.ocr(bytes.fromhex(data["content_hex"]))}
            )
        raise ValueError(f"unknown transport op: {op}")


class RemoteBackendAdapter:
    """``DocumentAIBackend`` over an injected transport with retry/backoff.

    ``transport(op, payload_json) -> response_json`` is the single remote
    hop; ops mirror the five Cortex calls (AI1-AI5).  Transient failures
    (``RetryableError``) are retried with exponential backoff; exhausted
    retries and permanent errors surface as the AI7 ``{"error": ...}``
    envelope from the calling UDF (ai/udfs.py) — never an exception out of
    the pipeline.  The stub backend supplies schema-compatible parsing
    fallbacks so a partially-deployed endpoint degrades predictably.
    """

    def __init__(
        self,
        transport: Callable[[str, str], str],
        max_attempts: int = 3,
        base_delay: float = 0.5,
        sleep: Callable[[float], None] = time.sleep,
    ):
        self._call = retry_with_backoff(
            max_attempts=max_attempts, base_delay=base_delay, sleep=sleep
        )(transport)
        self._fallback = DeterministicStubBackend()

    # -- AI1 ----------------------------------------------------------------
    def classify(self, text: str) -> str:
        res = self._call("classify", canonical_json({"text": text or ""}))
        return json.loads(res)["class_name"]

    # -- AI2 ----------------------------------------------------------------
    def extract(self, text: str, prompts_json: str) -> dict[str, str]:
        res = self._call(
            "extract",
            canonical_json({"text": text or "", "prompts": prompts_json or "{}"}),
        )
        out = json.loads(res)
        if not isinstance(out, dict):
            raise ValueError(f"extract returned non-object: {res[:80]}")
        return {str(k): str(v) for k, v in out.items()}

    # -- AI3 ----------------------------------------------------------------
    def ocr(self, content: bytes) -> str:
        # local tiers (PDF parse / utf-8 sniff) run FIRST — no remote round
        # trip for blobs the engine can decode itself
        local = self._fallback.ocr(content)
        if '"<binary:' not in local and '"<pdf:' not in local:
            return local
        res = self._call(
            "ocr", canonical_json({"content_hex": (content or b"").hex()})
        )
        return canonical_json({"content": json.loads(res)["content"], "mode": "layout"})

    # -- AI4 ----------------------------------------------------------------
    def summarize(self, text: str) -> str:
        capped = (text or "")[:SUMMARY_INPUT_CAP]  # the 6000-char contract
        res = self._call("summarize", canonical_json({"text": capped}))
        return json.loads(res)["summary"]

    # -- AI5 ----------------------------------------------------------------
    def generate_prompts(self, class_name: str) -> dict[str, str]:
        res = self._call(
            "generate_prompts", canonical_json({"class_name": class_name})
        )
        out = json.loads(res)
        if not isinstance(out, dict) or not out:
            # degraded endpoint -> deterministic generated schema
            return self._fallback.generate_prompts(class_name)
        return {str(k): str(v) for k, v in out.items()}
