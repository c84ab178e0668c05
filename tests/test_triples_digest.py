"""Pinned triple digest: the refactor gate for the KG dataflow.

``(count, sha256)`` over the sorted ``(url, subject, relation, object)``
triples of the synthetic corpus at a fixed size and seed.  Every driver
(the in-memory ``run_pipeline``, the checkpointed catalog run and a
cold-start ``run_upsert``) must reproduce it byte for byte; a change
that moves it changes the product's output and has to re-pin it on
purpose.
"""

from __future__ import annotations

import hashlib

from inclusionreferenceskg_spark import synth
from inclusionreferenceskg_spark.plans.checkpoint import (
    run_checkpointed,
    run_upsert,
)
from inclusionreferenceskg_spark.plans.pipeline import run_pipeline

N_DOCS, SEED = 8, 42
PIN = (352,
       "c5830b0d62dea37ac1394b9128c21e73fab68046f3f0a2b5e61c06673934eaed")

COLS = ["url", "subject", "relation", "object"]


def _digest(rows) -> tuple:
    h = hashlib.sha256()
    rows = sorted(rows)
    for r in rows:
        h.update("\x1f".join(map(str, r)).encode("utf-8") + b"\x1e")
    return len(rows), h.hexdigest()


def _rows(df) -> list:
    return [tuple(r) for r in df.select(*COLS).collect()]


def test_triples_digest_pinned_for_every_driver(spark, tmp_path_factory):
    pages = synth.synthesize_pages(spark, N_DOCS, seed=SEED)
    rows = _rows(run_pipeline(pages).triples)
    assert _digest(rows) == PIN

    work = str(tmp_path_factory.mktemp("digest_ckpt"))
    assert _digest(_rows(run_checkpointed(spark, pages, work))) == PIN
    work = str(tmp_path_factory.mktemp("digest_upsert"))
    assert _digest(_rows(run_upsert(spark, pages, work))) == PIN

    # seeded-fault twin: one altered triple must move the digest
    faulty = list(rows)
    url, subj, rel, obj = faulty[0]
    faulty[0] = (url, subj, rel, obj + "x")
    assert _digest(faulty) != PIN
