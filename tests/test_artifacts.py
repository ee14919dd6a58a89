"""The app-scoped artifact registry, on a stub session (no JVM)."""

from __future__ import annotations

import gc
import weakref
from types import SimpleNamespace

import pytest

from graphview_spark import artifacts


@pytest.fixture(autouse=True)
def _own_registry(monkeypatch):
    """A fresh registry per test; the live test session's artifacts are
    restored afterwards instead of being dropped by a stub app id."""
    monkeypatch.setattr(artifacts, "_entries", {})
    monkeypatch.setattr(artifacts, "_app", None)


class _Artifact:
    """A weak-referenceable stand-in for a built artifact."""


def _session(app: str) -> SimpleNamespace:
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


def _counting_build():
    calls = []

    def build():
        calls.append(1)
        return _Artifact()
    return build, calls


def test_hit_returns_the_built_object_and_builds_once():
    s = _session("app-hit")
    build, calls = _counting_build()
    first = artifacts.memo(s, "a", "k", build)
    assert artifacts.memo(s, "a", "k", build) is first
    assert len(calls) == 1
    assert artifacts.memo(s, "a", "other", build) is not first
    assert len(calls) == 2


def test_app_change_drops_every_family():
    old = _session("app-old")
    refs = [weakref.ref(artifacts.memo(old, fam, "k", _Artifact))
            for fam in ("a", "b")]
    gc.collect()
    assert all(r() is not None for r in refs)  # held by the registry
    new = _session("app-new")
    build, calls = _counting_build()
    artifacts.memo(new, "a", "k", build)
    assert len(calls) == 1  # the old app's entry is not a hit
    gc.collect()
    assert all(r() is None for r in refs)


def test_clear_drops_only_the_named_families():
    s = _session("app-clear")
    a = artifacts.memo(s, "a", "k", _Artifact)
    b = artifacts.memo(s, "b", "k", _Artifact)
    artifacts.clear("a")
    assert artifacts.memo(s, "b", "k", _Artifact) is b
    assert artifacts.memo(s, "a", "k", _Artifact) is not a


def test_failed_build_stores_nothing():
    s = _session("app-fail")

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        artifacts.memo(s, "a", "k", boom)
    build, calls = _counting_build()
    artifacts.memo(s, "a", "k", build)
    assert len(calls) == 1
