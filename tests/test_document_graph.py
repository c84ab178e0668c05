"""The per-document KG pass is one pure function
(``kgbuild.document_graph``); the Spark pipeline must equal calling it in
plain Python, document by document, triple for triple."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from inclusionreferenceskg_spark import synth
from inclusionreferenceskg_spark.functions.doctree import parse_page
from inclusionreferenceskg_spark.functions.kgbuild import (
    document_graph,
    node_display,
    node_mentions,
    path_key,
)
from inclusionreferenceskg_spark.operators import kg
from inclusionreferenceskg_spark.plans.pipeline import run_pipeline

COLS = ["url", "subject", "relation", "object"]


def test_spark_path_equals_python_path(spark):
    """parse_page -> detect -> render_document -> document_graph in plain
    Python over the 8 base synthetic pages.  Resolution is a corpus-wide
    join, so its targets come from the Spark run; their display strings
    come from the Python parse of the target page."""
    pages = synth.synthesize_pages(spark, 8, seed=42)
    res = run_pipeline(pages)
    want = sorted(tuple(r) for r in res.triples.select(*COLS).collect())

    parsed = {p.url: parse_page(p.url, p.title, p.text)
              for p in pages.select("url", "title", "text").collect()}
    display = {n["node_id"]: node_display(path_key(n["path"]))
               for rows in parsed.values() for n in rows}
    targets = defaultdict(list)
    for r in res.resolved.collect():
        targets[(r.url, r.node_id)].append(
            {**r.asDict(), "target_display": display[r.target_node_id]})

    got = []
    for url, rows in parsed.items():
        mentions = {n["node_id"]: node_mentions(n["content"],
                                                targets[(url, n["node_id"])])
                    for n in rows}
        got += document_graph(url, rows, mentions)["triples"]
    assert len(got) == len(want) > 0
    assert sorted(got) == want


def test_cross_document_pairs_reach_spark(spark, cross_doc_pages):
    """On the cross-document corpus the per-document pass leaves exactly
    the two cross-document L3 merges to the Spark step, and both join
    page 0 to page 1."""
    res = run_pipeline(cross_doc_pages())
    wide = kg.extract_graph(res.nodes, res.resolved).localCheckpoint()
    local = wide.filter(F.col("row_kind") == "node")
    pairs = kg.entity_link_pairs(local, kg.l3_candidates(wide),
                                 res.nodes).collect()
    assert len(pairs) == 2
    assert {(p.url, p.b_url) for p in pairs} == {
        (synth.doc_url(0), synth.doc_url(1))}
