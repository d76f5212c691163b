#!/usr/bin/env python3
"""Self-tests of the benchmark's own arithmetic; no Spark session needed.

    python3 perfbench/selftest.py

1. The generator writes byte-identical files for a seed, and different
   files for another seed.
2. The tail rule picks the highest percentile with ten samples beyond it.
3. A span's self time is its duration minus what its children cover.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE]

import gen  # noqa: E402
import stats  # noqa: E402
from spans import self_time  # noqa: E402

SMALL = {
    "events": dict(gen.EVENTS_KNOBS, rows=3_000, users=300),
    "documents": dict(gen.DOCS_KNOBS, docs=200),
    "embeddings": dict(gen.EMB_KNOBS, vectors=500, queries=16),
}


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for r, _d, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            if f.endswith(".parquet"):
                with open(os.path.join(r, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()


def test_generator_is_byte_identical_per_seed() -> None:
    build = {
        "events": lambda c, s, k: gen.chunked_events_dir(c, s, k, 500, 4),
        "documents": gen.documents_dir,
        "embeddings": gen.embeddings_dir,
    }
    tmp = tempfile.mkdtemp(prefix="perfbench-selftest-", dir=os.path.join(HERE, ".."))
    try:
        for table, fn in build.items():
            knobs = SMALL[table]
            a = _digest(fn(os.path.join(tmp, "a"), 7, knobs))
            b = _digest(fn(os.path.join(tmp, "b"), 7, knobs))
            c = _digest(fn(os.path.join(tmp, "c"), 8, knobs))
            assert a == b, f"{table}: same seed gave different bytes"
            assert a != c, f"{table}: another seed gave the same bytes"
    finally:
        shutil.rmtree(tmp)


def test_tail_percentile_rule() -> None:
    xs = list(range(1, 101))  # 100 samples
    assert stats.tail(xs) == (90.0, 90)  # ten samples (91..100) beyond p90
    assert stats.tail(list(reversed(xs))) == (90.0, 90)
    assert stats.tail(list(range(1, 21))) == (50.0, 10)
    assert stats.tail([5.0, 1.0, 3.0]) == (100.0, 5.0)  # too few: the maximum
    assert stats.tail(list(range(1, 12))) == (100 / 11, 1)


def test_self_time_arithmetic() -> None:
    assert self_time(0.0, 10.0, []) == 10.0
    assert self_time(0.0, 10.0, [(1.0, 3.0), (5.0, 6.0)]) == 7.0
    # overlapping children are counted once
    assert self_time(0.0, 10.0, [(1.0, 4.0), (2.0, 5.0)]) == 6.0
    # children are clipped to the span
    assert self_time(2.0, 10.0, [(0.0, 3.0), (9.0, 12.0)]) == 6.0
    # a child that covers the span leaves no self time
    assert self_time(0.0, 10.0, [(0.0, 10.0)]) == 0.0


def main() -> int:
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        t()
        print(f"ok {t.__name__}")
    print(f"{len(tests)} self-tests passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
