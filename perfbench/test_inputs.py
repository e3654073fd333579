"""The input generator writes the same bytes for the same seed.

    python3 -m pytest perfbench/test_inputs.py -q

Run it from the repository root; it needs no Spark session.
"""

import os
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import inputs  # noqa: E402


def tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def ingest_bytes(tmp_path, seed: int, tag: str) -> dict[str, bytes]:
    stage = str(tmp_path / tag)
    for round_no in range(2):
        inputs.write_ingest_stage(
            os.path.join(stage, f"round-{round_no}"), inputs.ingest_corpus(seed, round_no, 40)
        )
    return tree_bytes(stage)


def intake_bytes(tmp_path, seed: int, tag: str) -> dict[str, bytes]:
    landing = str(tmp_path / tag)
    feed = inputs.IntakeFeed(seed)
    for size in (16, 32, 32):
        docs = feed.next_batch(size)
        inputs.land_batch(landing, feed.batches, docs)
    return tree_bytes(landing)


def test_ingest_stage_same_seed_same_bytes(tmp_path):
    a = ingest_bytes(tmp_path, 7, "a")
    assert len(a) == 80
    assert a == ingest_bytes(tmp_path, 7, "b")
    assert a != ingest_bytes(tmp_path, 8, "c")


def test_intake_batches_same_seed_same_bytes(tmp_path):
    a = intake_bytes(tmp_path, 7, "a")
    assert a == intake_bytes(tmp_path, 7, "b")
    assert a != intake_bytes(tmp_path, 8, "c")


def test_intake_replays_a_fifth_of_each_later_batch():
    feed = inputs.IntakeFeed(3)
    seen: set[str] = set()
    for i, size in enumerate((16, 32, 32, 32)):
        names = [d.name for d in feed.next_batch(size)]
        assert len(set(names)) == size
        replayed = sum(n in seen for n in names)
        assert replayed == (0 if i == 0 else round(size * inputs.REPLAY_SHARE))
        seen.update(names)
