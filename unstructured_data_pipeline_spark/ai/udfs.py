"""Arrow-batched pandas UDFs wrapping a DocumentAIBackend.

The reference fans AI calls out on a client thread pool
(`app/Auto-Magic Document AI.py:881-887`); in Spark the same logical
operation is one vectorized UDF applied across partitions — parallelism is
partition-level and scales with the cluster, not the client (SURVEY.md
section 2.10, C1).  pandas UDFs (not row-at-a-time Python UDFs) keep the
Python boundary Arrow-batched.

Error contract (AI7): the extract UDF catches per-row failures and encodes
``{"error": ...}`` instead of failing the job (`app.py:506-510`).
"""

from __future__ import annotations

import json
from typing import Callable

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from unstructured_data_pipeline_spark.ai.backends import (
    DeterministicStubBackend,
    DocumentAIBackend,
)
from unstructured_data_pipeline_spark.functions.variant import canonical_json


def make_udfs(backend: DocumentAIBackend | None = None) -> dict[str, Callable]:
    """Build the five AI pandas UDFs over ``backend`` (stub by default).

    Returned dict keys: classify, extract, ocr, summarize.
    (generate_prompts is a driver-side call — it runs once per *class*, not
    per row; see pipelines/batch.py.)
    """
    b = backend or DeterministicStubBackend()

    @F.pandas_udf(T.StringType())
    def classify(text: pd.Series) -> pd.Series:
        return text.map(lambda t: b.classify(t or ""))

    @F.pandas_udf(T.StringType())
    def extract(text: pd.Series, prompts_json: pd.Series) -> pd.Series:
        def one(t, p):
            try:
                return canonical_json({"response": b.extract(t or "", p or "{}")})
            except Exception as e:  # AI7 error envelope, never throw
                return canonical_json({"error": str(e)})

        return pd.Series([one(t, p) for t, p in zip(text, prompts_json)])

    @F.pandas_udf(T.StringType())
    def ocr(content: pd.Series) -> pd.Series:
        # binary content, or text taken as its UTF-8 bytes (what a binary
        # cast would ship) so the pipeline's UDFs share one text column
        def one(c):
            try:
                if isinstance(c, str):
                    c = c.encode("utf-8")
                return b.ocr(bytes(c) if c is not None else b"")
            except Exception as e:
                return canonical_json({"error": str(e)})

        return content.map(one)

    @F.pandas_udf(T.StringType())
    def summarize(text: pd.Series) -> pd.Series:
        return text.map(lambda t: b.summarize(t or ""))

    return {"classify": classify, "extract": extract, "ocr": ocr, "summarize": summarize}


@F.pandas_udf(T.BinaryType())
def render_pdf_udf(text: pd.Series) -> pd.Series:
    """Text -> minimal single-page PDF bytes (Arrow-batched) — the fixture
    renderer for the AI3 binary path; see ai/pdf.py."""
    from unstructured_data_pipeline_spark.ai.pdf import make_minimal_pdf

    return text.map(lambda t: make_minimal_pdf(t or ""))


@F.pandas_udf(T.BinaryType())
def render_glyph_png_udf(
    text: pd.Series, scale: pd.Series, invert: pd.Series, noise: pd.Series
) -> pd.Series:
    """Text -> fixed-pitch 5x7 glyph PNG bytes (Arrow-batched) at a
    per-row pixel scale/polarity — the fixture renderer for the stdlib
    glyph-OCR tier (ai/glyph_ocr.py; reference accepts jpg/png uploads,
    `app.py:365`).  ``noise`` flips one pixel inside the first glyph's
    top-left sample block; at scale >= 3 the majority vote provably
    absorbs it, so the noisy bytes must still recognize exactly."""
    from unstructured_data_pipeline_spark.ai.glyph_ocr import render_text_png
    from unstructured_data_pipeline_spark.operators.multimodal import (
        _png_pixels,
        make_minimal_png,
    )

    def one(t: str | None, s, inv, nz) -> bytes:
        png = render_text_png(t or "", scale=int(s), invert=bool(inv))
        if nz:
            w, h, _ch, raw = _png_pixels(png)
            raw = bytearray(raw)
            raw[int(s) * w + int(s)] ^= 0xFF
            png = make_minimal_png(
                width=w,
                height=h,
                rows=[bytes(raw[y * w : (y + 1) * w]) for y in range(h)],
            )
        return png

    return pd.Series(
        [one(t, s, i, z) for t, s, i, z in zip(text, scale, invert, noise)]
    )


@F.pandas_udf(T.BinaryType())
def render_image_udf(text: pd.Series) -> pd.Series:
    """Text -> minimal solid-color BMP bytes (Arrow-batched), color seeded
    by the text's md5 — the image-branch fixture renderer for the AI3 path
    (reference accepts jpg/png uploads, `app.py:365`); see ai/image_ocr.py."""
    import hashlib

    from unstructured_data_pipeline_spark.ai.image_ocr import make_minimal_bmp

    def one(t: str | None) -> bytes:
        h = hashlib.md5((t or "").encode("utf-8")).digest()
        return make_minimal_bmp(4, 4, (h[0], h[1], h[2]))

    return text.map(one)


def unwrap_response(res_col):
    """AI7: pull the ``response`` object out of an extraction envelope as a
    map<string,string>; error envelopes yield an empty map (the error stays
    in the persisted raw result)."""
    resp = F.from_json(
        F.get_json_object(res_col, "$.response"),
        T.MapType(T.StringType(), T.StringType()),
    )
    return F.coalesce(resp, F.map_from_arrays(F.array(), F.array()))
