"""Pinned triple digests: the refactor gate for the KG dataflow.

``(count, sha256)`` over the sorted ``(url, subject, relation, object)``
triples of two synthetic corpora at a fixed size and seed.  Every driver
(the in-memory ``run_pipeline``, the checkpointed catalog run and a
cold-start ``run_upsert``) must reproduce them byte for byte; a change
that moves one changes the product's output and has to re-pin it on
purpose.

The second corpus (the ``cross_doc_pages`` fixture) adds one
cross-document L3 sentence: page 0 keeps "the records referred to in
Article 2 of" page 1's title, and page 1's Article 2 gains a sentence
about "the record".  The L3 linker merges the two object nodes ACROSS
documents, and the component's canonical id (the minimum) sits on page 0,
so page 1 displays page 0's surface form.  A canonicalization that
stopped at document scope would print ``record``.
"""

from __future__ import annotations

import hashlib

import pytest

from inclusionreferenceskg_spark import synth
from inclusionreferenceskg_spark.plans.checkpoint import (
    run_checkpointed,
    run_upsert,
)
from inclusionreferenceskg_spark.plans.pipeline import run_pipeline

N_DOCS, SEED = 8, 42
PIN = (352,
       "c5830b0d62dea37ac1394b9128c21e73fab68046f3f0a2b5e61c06673934eaed")
CROSS_DOC_PIN = (359,
                 "70e8fe73f29a7c049231d06a8418354b6a5af5f25698c99dfc52af6e45a527d1")
#: page 1's triple whose object is page 0's node (the component minimum)
CROSS_DOC_TRIPLE = (synth.doc_url(1), "keep", "patient", "records")

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


def test_cross_document_digest_pinned(spark, tmp_path_factory,
                                     cross_doc_pages):
    pages = cross_doc_pages()
    rows = _rows(run_pipeline(pages).triples)
    assert CROSS_DOC_TRIPLE in rows
    assert CROSS_DOC_TRIPLE[:3] + ("record",) not in rows
    assert _digest(rows) == CROSS_DOC_PIN

    work = str(tmp_path_factory.mktemp("digest_cross_ckpt"))
    assert _digest(_rows(run_checkpointed(spark, pages, work))) \
        == CROSS_DOC_PIN


@pytest.mark.xfail(strict=True, reason=(
    "run_upsert reprocesses only changed urls, but a cross-document L3 "
    "merge makes page 1's triples depend on page 0 (ROADMAP Direction 1: "
    "reprocess the dependency closure)"))
def test_upsert_of_cited_page_equals_fresh_run(spark, tmp_path_factory,
                                               cross_doc_pages):
    """Bootstrap with page 0's citation only, then upsert page 1's edit:
    the committed table must equal a fresh run over the same pages."""
    work = str(tmp_path_factory.mktemp("digest_cross_upsert"))
    run_upsert(spark, cross_doc_pages(edit_page1=False), work)
    pages = cross_doc_pages()
    got = _rows(run_upsert(spark, pages, work))
    assert sorted(got) == sorted(_rows(run_pipeline(pages).triples))
