"""The benchmark's tracer wraps package functions by name
(``perfbench/spans.py``). A name the package drops or moves would
only fail a traced benchmark run; this test installs and uninstalls
the tracer without a JVM, so it fails first."""

from __future__ import annotations

import os

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


def test_perfbench_traced_sites_resolve(monkeypatch):
    monkeypatch.syspath_prepend(PERFBENCH)
    import spans

    saved = spans.install(spans.Tracer())
    try:
        assert saved
        for owner, attr, fn in saved:
            assert getattr(owner, attr) is not fn  # wrapped
    finally:
        spans.uninstall(saved)
    for owner, attr, fn in saved:
        assert getattr(owner, attr) is fn  # restored
