"""Catalog rotation order (scripts/rotate_catalog.py): only a hash
MISMATCH in the latest round counts as red; a rows-only entry
(``hash_match`` null) is not a failure."""

from __future__ import annotations

import importlib.util
import os

HERE = os.path.dirname(os.path.abspath(__file__))


def _rotation():
    spec = importlib.util.spec_from_file_location(
        "rotate_catalog",
        os.path.join(os.path.dirname(HERE), "scripts", "rotate_catalog.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.rotation


def test_rows_only_entry_is_not_red():
    rounds = {5: {"green": {"hash_match": True},
                  "rows_only": {"hash_match": None},
                  "red": {"hash_match": False}}}
    order = _rotation()(["green", "rows_only", "red", "new"], rounds, 5)
    assert order[:2] == ["red", "new"]
    assert order.index("rows_only") < order.index("green")
