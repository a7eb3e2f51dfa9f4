"""Catalog contracts of the driver entry module that must hold even
under `python -O` (which strips `assert` statements)."""

import pytest

import __spark_entry__ as em


def test_queries_window_displacement_raises(monkeypatch):
    """`queries()` checks that its first entries are the frozen driver
    window; a displaced window is a RuntimeError, not an assert."""
    window = em.DRIVER_WINDOW_QUERIES
    monkeypatch.setattr(em, "DRIVER_WINDOW_QUERIES",
                        (window[1], window[0]) + window[2:])
    with pytest.raises(RuntimeError, match="window displaced"):
        em.queries()
    monkeypatch.setattr(em, "DRIVER_WINDOW_QUERIES", window)
    assert tuple(em.queries())[:len(window)] == window
