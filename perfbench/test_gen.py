"""The input generator is a pure function of the seed.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import hashlib
import os
import shutil

import gen
import pytest


def _digest(root) -> dict[str, str]:
    return {str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(root.rglob("*")) if p.is_file()}


@pytest.fixture
def cache():
    path = gen.CACHE / f"test-{os.getpid()}"
    shutil.rmtree(path, ignore_errors=True)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def test_same_seed_gives_identical_bytes(cache):
    a = _digest(gen.inputs(7, cache / "a"))
    b = _digest(gen.inputs(7, cache / "b"))
    assert a and a == b


def test_other_seed_gives_other_inputs(cache):
    a = _digest(gen.inputs(7, cache / "a"))
    b = _digest(gen.inputs(8, cache / "b"))
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a)


def test_cached_inputs_are_reused(cache):
    first = gen.inputs(7, cache)
    stamp = {p: p.stat().st_mtime_ns for p in first.rglob("*")}
    again = gen.inputs(7, cache)
    assert again == first
    assert {p: p.stat().st_mtime_ns for p in again.rglob("*")} == stamp
