"""Recrawl upsert: changed-content urls are copy-on-write rewritten at
partition granularity; result always equals a full rerun."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from inclusionreferenceskg_spark import synth
from inclusionreferenceskg_spark.plans.checkpoint import (
    run_checkpointed,
    run_upsert,
)
from inclusionreferenceskg_spark.sources.catalog import Catalog


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _mutate(spark, pages, doc_rank, marker):
    """Rewrite one page's text deterministically (a real content change:
    its second paragraph now cites a different article)."""
    schema = StructType([StructField(f.name, f.dataType, True)
                         for f in synth.PAGES_SCHEMA.fields])
    rows = [tuple(r) for r in pages.collect()]
    out = []
    for r in rows:
        if r[6] == doc_rank:
            r = list(r)
            r[3] = r[3] + ("\n\n3. The controller shall notify the "
                           f"authority subject to Article {marker}.\n")
            r = tuple(r)
        out.append(r)
    return spark.createDataFrame(out, schema)


def test_upsert_rewrites_only_changed_urls(spark, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("ups"))
    # both snapshots derive from the SAME 10-doc base corpus (doc text
    # depends on the corpus size), so exactly 1 changed + 2 new urls
    base = synth.synthesize_pages(spark, 10)
    snap1 = base.filter(F.col("doc_rank") < 8)

    t1 = run_upsert(spark, snap1, work)
    r1 = _rows(t1)  # capture now: the upsert below deletes t1's files
    assert len(r1) > 0
    cat = Catalog(work)
    with open(os.path.join(work, "_lineage", "url_fps.json")) as f:
        assert json.load(f)["rows"] == 8

    # snapshot 2: one page's content changes, two new urls appear
    snap2 = _mutate(spark, base, 2, 1)
    got = run_upsert(spark, snap2, work)
    want = run_checkpointed(spark, snap2,
                            str(tmp_path_factory.mktemp("full")))
    assert _rows(got) == _rows(want)

    # the changed page's delta really reprocessed only 3 urls (1 changed
    # + 2 new): check the delta sub-catalog lineage
    inc_root = os.path.join(work, "increments")
    (delta_name,) = [d for d in os.listdir(inc_root)
                     if d.startswith("ups_")]
    with open(os.path.join(inc_root, delta_name, "_lineage",
                           "nodes.json")) as f:
        delta_nodes = json.load(f)
    all_urls = {r["url"] for r in snap2.select("url").collect()}
    changed_urls = 3
    assert delta_nodes["rows"] < len(all_urls) * 60  # far below full
    # fps table tracks the new snapshot: a third run is a no-op
    again = run_upsert(spark, snap2, work)
    assert _rows(again) == _rows(want)
    assert len([d for d in os.listdir(inc_root)
                if d.startswith("ups_")]) == 1

    # untouched buckets' files were not rewritten by the upsert: every
    # url outside the changed set still has exactly its original rows
    changed_set = {r["url"] for r in
                   _page_fp_diff(spark, snap1, snap2)}
    assert len(changed_set) == changed_urls
    keep = cat.read(spark, "triples").filter(
        ~F.col("url").isin(list(changed_set)))
    url_idx = sorted(keep.columns).index("url")
    keep1 = [r for r in r1 if r[url_idx] not in changed_set]
    assert _rows(keep) == keep1


def _page_fp_diff(spark, old, new):
    o = old.select("url", F.md5(F.coalesce("text", F.lit(""))).alias("fp"))
    n = new.select("url", F.md5(F.coalesce("text", F.lit(""))).alias("fp"))
    return n.join(o, ["url", "fp"], "left_anti").select("url").collect()


def test_upsert_content_change_actually_changes_triples(spark,
                                                        tmp_path_factory):
    work = str(tmp_path_factory.mktemp("ups2"))
    pages = synth.synthesize_pages(spark, 4)
    t1 = run_upsert(spark, pages, work)
    url2 = pages.filter(F.col("doc_rank") == 2).first()["url"]
    before = t1.filter(F.col("url") == url2).count()

    t2 = run_upsert(spark, _mutate(spark, pages, 2, 1), work)
    after = t2.filter(F.col("url") == url2).count()
    assert after > before  # the new paragraph produced new triples


def test_upsert_after_plain_run_self_heals(spark, tmp_path_factory):
    """A table bootstrapped by run_checkpointed (no url_fps committed)
    must still accept an upsert: the first one conservatively treats all
    delivered urls as changed and commits fingerprints, restoring the
    cheap path."""
    work = str(tmp_path_factory.mktemp("ups3"))
    base = synth.synthesize_pages(spark, 8)
    run_checkpointed(spark, base.filter(F.col("doc_rank") < 6), work)
    cat = Catalog(work)
    assert not cat.is_complete("url_fps")

    snap2 = _mutate(spark, base, 1, 1)  # 1 changed + 2 new + 5 unchanged
    got = run_upsert(spark, snap2, work)
    want = run_checkpointed(spark, snap2,
                            str(tmp_path_factory.mktemp("full")))
    assert _rows(got) == _rows(want)
    assert cat.is_complete("url_fps")
    assert cat.manifest("url_fps")["rows"] == 8

    # fingerprints now committed: redelivering the same snapshot is a
    # no-op (no second delta directory appears)
    inc_root = os.path.join(work, "increments")
    n_deltas = len([d for d in os.listdir(inc_root)
                    if d.startswith("ups_")])
    again = run_upsert(spark, snap2, work)
    assert _rows(again) == _rows(want)
    assert len([d for d in os.listdir(inc_root)
                if d.startswith("ups_")]) == n_deltas


def test_upsert_batch_with_duplicate_url_captures(spark,
                                                  tmp_path_factory):
    """A recrawl snapshot carrying TWO captures of one url (crawler
    redelivery) must collapse to the latest capture — without the
    latest_per_url guard the duplicated page rows fan out through the
    per-url node ids into a triple cross-product (measured 428 rows vs
    36 for one 6-doc url before the fix)."""
    import datetime

    work = str(tmp_path_factory.mktemp("ups4"))
    base = synth.synthesize_pages(spark, 6)
    run_upsert(spark, base, work)

    rows = [tuple(r) for r in base.collect()]
    newer = None
    for r in rows:
        if r[6] == 2:
            r2 = list(r)
            r2[1] = r[1] + datetime.timedelta(days=1)
            r2[3] = r[3] + ("\n\n3. The controller shall notify the "
                            "authority subject to Article 1.\n")
            newer = tuple(r2)
    snap2 = spark.createDataFrame(rows + [newer], synth.PAGES_SCHEMA)

    got = run_upsert(spark, snap2, work)
    # ground truth: a full rerun where url 2 is ONLY the newer capture
    latest = [r for r in rows if r[6] != 2] + [newer]
    want = run_checkpointed(
        spark, spark.createDataFrame(latest, synth.PAGES_SCHEMA),
        str(tmp_path_factory.mktemp("full")))
    assert _rows(got) == _rows(want)


def test_upsert_preserves_history_and_rolls_back(spark,
                                                 tmp_path_factory):
    """Copy-on-write by SHADOWING: the pre-upsert snapshot stays
    time-travelable after the recrawl rewrite, and rollback undoes a bad
    upsert in O(metadata) — the files are only reclaimed by
    expire_snapshots."""
    work = str(tmp_path_factory.mktemp("ups5"))
    base = synth.synthesize_pages(spark, 8)
    t1 = run_upsert(spark, base, work)
    r1 = _rows(t1)
    cat = Catalog(work)
    v_pre = cat._snapshot_versions("triples")[-1]

    snap2 = _mutate(spark, base, 3, 2)
    got = run_upsert(spark, snap2, work)
    r2 = _rows(got)
    assert r2 != r1

    # pre-upsert snapshot still readable (shadowed, not deleted)
    assert _rows(cat.read(spark, "triples", version=v_pre)) == r1
    # the recrawl was bad: roll it back — O(metadata), no recompute
    stats = cat.rollback(spark, "triples", v_pre)
    assert _rows(cat.read(spark, "triples")) == r1
    assert cat.manifest("triples")["rows"] == len(r1)
    # the rolled-back (bad) state is itself still in history
    assert _rows(cat.read(spark, "triples",
                          version=stats["new_version"] - 1)) == r2
    # GC: only the live snapshot's files survive an aggressive expiry
    cat.expire_snapshots("triples", keep_last=1)
    assert _rows(cat.read(spark, "triples")) == r1


def _injected_upsert_crash(spark, tmp_path_factory, monkeypatch,
                           crash_table):
    """Arm a one-shot crash on the main-table commit of ``crash_table``
    during the recrawl, then assert the rerun heals to the full-rerun
    ground truth."""
    import pytest as _pytest

    import inclusionreferenceskg_spark.plans.checkpoint as cp

    work = str(tmp_path_factory.mktemp(f"crash_{crash_table}"))
    base = synth.synthesize_pages(spark, 8)
    run_upsert(spark, base, work)
    snap2 = _mutate(spark, base, 2, 1)

    real_write = cp.Catalog.write
    armed = {"on": True}

    def boom(self, name, df, *a, **kw):
        if (armed["on"] and name == crash_table
                and kw.get("replaced_files") is not None):
            armed["on"] = False
            raise RuntimeError("injected crash")
        return real_write(self, name, df, *a, **kw)

    monkeypatch.setattr(cp.Catalog, "write", boom)
    with _pytest.raises(RuntimeError, match="injected crash"):
        run_upsert(spark, snap2, work)
    monkeypatch.setattr(cp.Catalog, "write", real_write)

    # the fingerprint table commits LAST, so the rerun recomputes the
    # same changed set, reuses the committed staged table, and completes
    got = run_upsert(spark, snap2, work)
    want = run_checkpointed(spark, snap2,
                            str(tmp_path_factory.mktemp("full")))
    assert _rows(got) == _rows(want)
    # and a further rerun is a clean no-op
    assert _rows(run_upsert(spark, snap2, work)) == _rows(want)


def test_upsert_crash_before_triples_commit(spark, tmp_path_factory,
                                            monkeypatch):
    """Crash window (a): staged table committed, main triples commit
    died — rerun replays into the same staged table."""
    _injected_upsert_crash(spark, tmp_path_factory, monkeypatch,
                           "triples")


def test_upsert_crash_before_fps_commit(spark, tmp_path_factory,
                                        monkeypatch):
    """Crash window (b): triples committed, url_fps commit died — the
    rerun re-detects the same urls as changed (fps is the transaction
    marker) and replays idempotently."""
    _injected_upsert_crash(spark, tmp_path_factory, monkeypatch,
                           "url_fps")
