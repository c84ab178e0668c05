"""The pooled-legs summarizer (``bench_scaling_watcher.py summarize``)
reproduces every stored ``BENCH/watcher_*_summary.json`` from its legs
JSONL; the hand-added ``note`` key is not part of the summary."""

from __future__ import annotations

import glob
import importlib.util
import json
import os

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
POOLS = sorted(p for p in glob.glob(os.path.join(REPO, "BENCH",
                                                 "watcher_*.jsonl"))
               if os.path.exists(p[:-len(".jsonl")] + "_summary.json"))


def _summarize():
    spec = importlib.util.spec_from_file_location(
        "bench_scaling_watcher",
        os.path.join(REPO, "scripts", "bench_scaling_watcher.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.summarize


def test_loading_leaves_environment_alone():
    # the script imports bench.py's meter; an import-time env default
    # (e.g. a 32g SPARK_DRIVER_MEMORY) would leak into this test session
    before = dict(os.environ)
    _summarize()
    assert dict(os.environ) == before


def test_four_stored_pools():
    assert len(POOLS) == 4, POOLS


@pytest.mark.parametrize("legs", POOLS, ids=os.path.basename)
def test_summary_matches_stored(legs):
    with open(legs[:-len(".jsonl")] + "_summary.json") as f:
        stored = json.load(f)
    stored.pop("note", None)
    assert _summarize()(legs) == stored
