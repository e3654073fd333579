"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes the
same bytes.  The package under test never sees the seed, only the files.

* ``ingest``: a stage directory of single-document PDFs per round
  (``ai.pdf.make_minimal_pdf``), plus the same corpus as a ``documents``
  parquet table for the registry's document queries.
* ``intake``: micro-batches of text documents, each landed in its own
  sub-directory of the landing root; about a fifth of every batch after the
  first re-delivers earlier file names with new content.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

# Class keywords of the stub classifier (``DeterministicStubBackend.classify``):
# "customer" -> invoice, "stream" -> receipt, anything else -> contract.
CLASS_KEYWORDS = {"invoice": "customer", "receipt": "stream", "contract": None}
CLASS_MIX = (("invoice", 0.4), ("receipt", 0.3), ("contract", 0.3))

# Filler words; none contains a class keyword as a substring.
VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark order "
    "data column join small line query big window sort group filter vector "
    "the a index page total due amount net tax date sum"
).split()

# Lengths follow the driver fixture (44-577 chars) with a small tail above
# the stub summarizer's 6000-char input cap.
SHORT_CHARS = (44, 577)
LONG_CHARS = (6000, 7200)
LONG_SHARE = 0.02

REPLAY_SHARE = 0.2


@dataclass(frozen=True)
class Doc:
    name: str  # file name == file_ref in the warehouse
    text: str


def make_text(rng: random.Random, target: int) -> str:
    """One body of about ``target`` chars: seeded class keyword, ASCII words."""
    r = rng.random()
    cls = CLASS_MIX[-1][0]
    for name, share in CLASS_MIX:
        if r < share:
            cls = name
            break
        r -= share
    words: list[str] = []
    size = -1
    while size < target:
        w = rng.choice(VOCAB)
        words.append(w)
        size += len(w) + 1
    keyword = CLASS_KEYWORDS[cls]
    if keyword:
        words[rng.randrange(len(words))] = keyword
    return " ".join(words)


def spread(n: int, lo: int, hi: int) -> list[int]:
    """``n`` lengths evenly spaced over [lo, hi]."""
    return [lo + (hi - lo) * (2 * i + 1) // (2 * n) for i in range(n)]


def lengths(rng: random.Random, n: int) -> list[int]:
    """``n`` target lengths, ``round(n * LONG_SHARE)`` of them long.  They
    are evenly spaced over their ranges and shuffled, so the seed picks
    which document gets which length but not the bytes of a batch."""
    n_long = round(n * LONG_SHARE)
    targets = spread(n - n_long, *SHORT_CHARS) + spread(n_long, *LONG_CHARS)
    rng.shuffle(targets)
    return targets


def ingest_corpus(seed: int, round_no: int, n_docs: int) -> list[Doc]:
    rng = random.Random(f"ingest:{seed}:{round_no}")
    return [
        Doc(f"doc-{round_no:03d}-{i:05d}.pdf", make_text(rng, n))
        for i, n in enumerate(lengths(rng, n_docs))
    ]


def write_ingest_stage(stage_dir: str, docs: list[Doc]) -> dict[str, int]:
    """Render each document as a one-page PDF; returns name -> bytes."""
    from unstructured_data_pipeline_spark.ai.pdf import make_minimal_pdf

    os.makedirs(stage_dir, exist_ok=True)
    sizes = {}
    for d in docs:
        blob = make_minimal_pdf(d.text)
        with open(os.path.join(stage_dir, d.name), "wb") as f:
            f.write(blob)
        sizes[d.name] = len(blob)
    return sizes


def write_documents_table(sf_dir: str, docs: list[Doc]) -> None:
    """The corpus in the driver fixture's ``documents`` schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    table = pa.table(
        {
            "doc_id": pa.array(range(len(docs)), pa.int64()),
            "text": [d.text for d in docs],
            "lang": ["en"] * len(docs),
            "source": [f"src{i % 3}" for i in range(len(docs))],
            "n_chars": pa.array([len(d.text) for d in docs], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))


class IntakeFeed:
    """The seeded sequence of intake micro-batches.  A re-delivered name
    gets new content of its first delivery's length, so the bytes of the
    distinct documents do not depend on which names are re-delivered."""

    def __init__(self, seed):
        self._rng = random.Random(f"intake:{seed}")
        self.delivered: dict[str, int] = {}  # name -> target length, first-delivery order
        self.batches = 0

    def next_batch(self, size: int) -> list[Doc]:
        rng = self._rng
        n_replay = min(round(size * REPLAY_SHARE), len(self.delivered))
        names = rng.sample(list(self.delivered), n_replay)
        first = len(self.delivered)
        new = [f"doc-{first + i:06d}.txt" for i in range(size - n_replay)]
        self.delivered.update(zip(new, lengths(rng, len(new))))
        self.batches += 1
        return [Doc(n, make_text(rng, self.delivered[n])) for n in names + new]


def land_batch(landing_root: str, batch_no: int, docs: list[Doc]) -> None:
    """Write one batch into ``<landing_root>/batch-NNNNN/`` (the stream is
    started only after a batch has landed)."""
    d = os.path.join(landing_root, f"batch-{batch_no:05d}")
    os.makedirs(d, exist_ok=True)
    for doc in docs:
        with open(os.path.join(d, doc.name), "wb") as f:
            f.write(doc.text.encode("utf-8"))
