"""Append-only streaming crawl-refresh: foreachBatch + run_upsert gives
exactly-once TABLE state, idempotent under redelivery."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from inclusionreferenceskg_spark import synth
from inclusionreferenceskg_spark.plans.checkpoint import run_checkpointed
from inclusionreferenceskg_spark.sources.catalog import Catalog
from inclusionreferenceskg_spark.streaming.pipeline import run_stream_upsert


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_stream_incremental_crawl_refresh(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("sinc"))
    inp = os.path.join(root, "in")
    work = os.path.join(root, "kg")
    ckpt = os.path.join(root, "ckpt")
    pages_all = synth.synthesize_pages(spark, 10)

    # drop 1: docs 0-7
    pages_all.filter(F.col("doc_rank") < 8).write.mode(
        "append").parquet(inp)
    q = run_stream_upsert(spark, inp, work, ckpt)
    q.awaitTermination(600)
    n1 = Catalog(work).read(spark, "triples").count()
    assert n1 > 0

    # drop 2: docs 4-9 — a recrawl overlap; only 8/9 are new urls
    pages_all.filter(F.col("doc_rank") >= 4).write.mode(
        "append").parquet(inp)
    q = run_stream_upsert(spark, inp, work, ckpt)
    q.awaitTermination(600)

    got = Catalog(work).read(spark, "triples")
    want = run_checkpointed(spark, pages_all,
                            str(tmp_path_factory.mktemp("full")))
    assert _rows(got) == _rows(want)

    # redelivery: replay EVERY file with a fresh streaming checkpoint —
    # the fingerprint probe makes the table state idempotent anyway
    q = run_stream_upsert(spark, inp, work, os.path.join(root, "ckpt2"))
    q.awaitTermination(600)
    again = Catalog(work).read(spark, "triples")
    assert _rows(again) == _rows(want)
