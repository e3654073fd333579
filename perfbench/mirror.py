"""Output checks: a pure-Python mirror of ``DeterministicStubBackend``.

The mirror is written from the backend's documented rules, not imported
from it, so a change to the engine's outputs shows up as a mismatch.  The
warehouse is read straight from its parquet files (pyarrow), not through
Spark.
"""

from __future__ import annotations

import hashlib
import json
from collections import Counter

SUMMARY_INPUT_CAP = 6000
SUMMARY_WORDS = 12
FIELDS_PER_DOC = 3
FLATTEN_CLASSES = ("invoice",)
FLATTEN_FILE_CONTAINS = "1"


def classify(text: str) -> str:
    if "customer" in text:
        return "invoice"
    if "stream" in text:
        return "receipt"
    return "contract"


def extract(text: str) -> dict[str, str]:
    words = text.split(" ") if text else []
    return {
        "first_word": words[0] if words else "",
        "n_words": str(len(words)),
        "fingerprint": hashlib.md5(text.encode("utf-8")).hexdigest(),
    }


def summarize(text: str) -> str:
    words = text[:SUMMARY_INPUT_CAP].split(" ")
    head = " ".join(words[:SUMMARY_WORDS])
    return head + (" ..." if len(words) > SUMMARY_WORDS else "")


def latest(deliveries) -> dict[str, str]:
    """file_ref -> text of its last delivery."""
    out: dict[str, str] = {}
    for d in deliveries:
        out[d.name] = d.text
    return out


def class_counts(state: dict[str, str]) -> list[tuple[str, int]]:
    """``class_summary`` as the mirror sees it: docs DESC, class ASC."""
    c = Counter(classify(t) for t in state.values())
    return sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))


def _rows(table, columns: list[str]) -> list[dict]:
    import pyarrow.dataset as ds

    return ds.dataset(table.data_dir(), format="parquet").to_table(columns=columns).to_pylist()


def check_warehouse(tables, state: dict[str, str]) -> tuple[set[str], int, list[str]]:
    """Compare the three pipeline tables with the mirror.

    Returns (file_refs that are wrong or missing, error envelopes seen,
    problem descriptions)."""
    bad: set[str] = set()
    problems: list[str] = []
    envelopes = 0

    def fail(ref: str, msg: str) -> None:
        bad.add(ref)
        if len(problems) < 10:
            problems.append(f"{ref}: {msg}")

    processed = _rows(
        tables["documents_processed"], ["file_ref", "class_name", "extraction_result"]
    )
    seen = Counter(r["file_ref"] for r in processed)
    for ref in state.keys() - seen.keys():
        fail(ref, "missing from documents_processed")
    for r in processed:
        ref, text = r["file_ref"], state.get(r["file_ref"])
        envelope = json.loads(r["extraction_result"] or "{}")
        if "error" in envelope:
            envelopes += 1
            fail(ref, f"error envelope {envelope['error']!r}")
        elif text is None:
            fail(ref, "unexpected document")
        elif seen[ref] != 1:
            fail(ref, f"{seen[ref]} documents_processed rows")
        elif r["class_name"] != classify(text) or envelope != {"response": extract(text)}:
            fail(ref, "classification or extraction differs from the mirror")

    eav: dict[str, dict[str, str]] = {}
    for r in _rows(
        tables["documents_extracted_fields"], ["file_ref", "field_name", "field_value"]
    ):
        eav.setdefault(r["file_ref"], {})
        if r["field_name"] in eav[r["file_ref"]]:
            fail(r["file_ref"], f"duplicate EAV field {r['field_name']}")
        eav[r["file_ref"]][r["field_name"]] = r["field_value"]
    for ref, text in state.items():
        if eav.get(ref) != extract(text):
            fail(ref, "EAV rows differ from the mirror")
    for ref in eav.keys() - state.keys():
        fail(ref, "unexpected EAV rows")

    ocr = _rows(tables["document_ocr"], ["file_name", "ocr", "summary"])
    ocr_seen = Counter(r["file_name"] for r in ocr)
    for ref in state.keys() - ocr_seen.keys():
        fail(ref, "missing from document_ocr")
    for r in ocr:
        ref, text = r["file_name"], state.get(r["file_name"])
        envelope = json.loads(r["ocr"] or "{}")
        if "error" in envelope:
            envelopes += 1
            fail(ref, f"OCR error envelope {envelope['error']!r}")
        elif text is None or ocr_seen[ref] != 1:
            fail(ref, "unexpected or duplicate document_ocr row")
        elif envelope.get("content") != text or r["summary"] != summarize(text):
            fail(ref, "OCR content or summary differs from the mirror")
    return bad, envelopes, problems


def check_refresh(result: dict, state: dict[str, str]) -> list[str]:
    """Compare one History refresh (collected rows) with the mirror."""
    problems = []
    got = [(r["class_name"], r["docs"]) for r in result["class_summary"]]
    if got != class_counts(state):
        problems.append(f"class_summary {got} != mirror {class_counts(state)}")
    latest_rows = result["documents_latest"]
    want = {(ref, classify(t)) for ref, t in state.items()}
    got_keys = {(r["file_ref"], r["class_name"]) for r in latest_rows}
    if len(latest_rows) != len(want) or got_keys != want:
        problems.append(
            f"documents_latest: {len(latest_rows)} rows, {len(got_keys ^ want)} keys differ"
        )
    if any(r["fields_extracted"] != FIELDS_PER_DOC for r in latest_rows):
        problems.append("documents_latest: fields_extracted != 3")
    want_flat = sorted(
        (ref, cls, k, v)
        for ref, t in state.items()
        if (cls := classify(t)) in FLATTEN_CLASSES and FLATTEN_FILE_CONTAINS in ref.lower()
        for k, v in extract(t).items()
    )
    got_flat = [
        (r["file_ref"], r["class_name"], r["field_name"], r["field_value_json"])
        for r in result["field_flatten"]
    ]
    if got_flat != want_flat:
        problems.append(f"field_flatten: {len(got_flat)} rows, mirror {len(want_flat)}")
    return problems
