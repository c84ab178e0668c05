"""Append-only crawl refresh through ``run_upsert``: a new-url delta +
append == full one-shot run."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from inclusionreferenceskg_spark import synth
from inclusionreferenceskg_spark.plans.checkpoint import (
    run_checkpointed,
    run_upsert,
)


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_incremental_equals_oneshot(spark, tmp_path_factory):
    inc_dir = str(tmp_path_factory.mktemp("inc"))
    full_dir = str(tmp_path_factory.mktemp("full"))
    pages_all = synth.synthesize_pages(spark, 12)
    first = pages_all.filter(F.col("doc_rank") < 8)

    # snapshot 1: cold start falls through to the full checkpointed run
    t1 = run_upsert(spark, first, inc_dir)
    n1 = t1.count()
    assert n1 > 0

    # snapshot 2: 4 new urls — only they are processed, result appended
    t2 = run_upsert(spark, pages_all, inc_dir)
    want = run_checkpointed(spark, pages_all, full_dir)
    assert _rows(t2) == _rows(want)

    # the delta pipeline really was url-scoped: its sub-catalog saw only
    # the new urls
    inc_root = os.path.join(inc_dir, "increments")
    (delta_name,) = os.listdir(inc_root)
    with open(os.path.join(inc_root, delta_name, "_lineage",
                           "nodes.json")) as f:
        delta_nodes = json.load(f)
    with open(os.path.join(inc_dir, "_lineage", "nodes.json")) as f:
        first_nodes = json.load(f)
    assert 0 < delta_nodes["rows"] < first_nodes["rows"] + delta_nodes["rows"]

    # main manifest recommitted over the full table
    with open(os.path.join(inc_dir, "_lineage", "triples.json")) as f:
        manifest = json.load(f)
    assert manifest["rows"] == t2.count() == want.count()


def test_catalog_time_travel_across_appends(spark, tmp_path_factory):
    from inclusionreferenceskg_spark.sources.catalog import Catalog

    work = str(tmp_path_factory.mktemp("tt"))
    pages_all = synth.synthesize_pages(spark, 10)
    t1 = run_upsert(
        spark, pages_all.filter(F.col("doc_rank") < 6), work)
    r1 = _rows(t1)
    t2 = run_upsert(spark, pages_all, work)
    r2 = _rows(t2)
    assert len(r2) > len(r1)

    cat = Catalog(work)
    hist = cat.history("triples")
    assert [h["version"] for h in hist] == [1, 2]
    assert hist[0]["rows"] == len(r1) and hist[1]["rows"] == len(r2)
    # snapshot 1 is still readable bit-for-bit after the fast-append
    assert _rows(cat.read(spark, "triples", version=1)) == r1
    assert _rows(cat.read(spark, "triples", version=2)) == r2


def test_incremental_noop_on_no_new_urls(spark, tmp_path_factory):
    inc_dir = str(tmp_path_factory.mktemp("inc2"))
    pages = synth.synthesize_pages(spark, 6)
    t1 = run_upsert(spark, pages, inc_dir)
    r1 = _rows(t1)
    t2 = run_upsert(spark, pages, inc_dir)  # same snapshot again
    assert _rows(t2) == r1
    assert not os.path.exists(os.path.join(inc_dir, "increments"))
