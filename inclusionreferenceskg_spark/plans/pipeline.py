"""End-to-end pipeline plans: pages -> nodes -> mentions -> resolved ->
knowledge graph -> triples.

Mirrors the reference's ``create_graph`` product path (``kg_renderer.py:
184-259``; lifecycle trace in SURVEY §3.1) as composable DataFrame stages.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from inclusionreferenceskg_spark.operators import kg as kg_ops
from inclusionreferenceskg_spark.operators.detect import build_qualifiers
from inclusionreferenceskg_spark.operators.parse import parse_pages
from inclusionreferenceskg_spark.operators.resolve import resolve_targets


@dataclass
class GraphResult:
    nodes: DataFrame
    qualifiers: DataFrame
    resolved: DataFrame
    kg_nodes: DataFrame
    kg_edges: DataFrame
    canon: DataFrame
    triples: DataFrame


def run_pipeline(pages: DataFrame,
                 include_extensions: bool = False) -> GraphResult:
    """The full product pipeline over a pages DataFrame."""
    # eager materialization, not a lazy .cache(): the downstream plan
    # contains ~a dozen AQE broadcast exchanges whose build sides all
    # derive from `nodes`, and each broadcast-exchange thread evaluates
    # its child subtree CONCURRENTLY with the main stages — against a
    # lazy cache they race the unfilled entry and re-run the (expensive)
    # parse UDF subtree once per exchange.  Checkpointing `nodes` up
    # front makes every broadcast build a cheap scan of materialized
    # partitions and truncates lineage for downstream driver planning.
    # Measured (2000 docs): local[2] 58s -> 37s, local[8] 16.7 -> 14.5s.
    # (Checkpointing EVERY stage is slower — extra barriers serialize
    # the diamond; only the shared fan-out roots `nodes`, `qualifiers`
    # and `wide` warrant it.  Resolve reads `qualifiers` in three
    # branches, each of which would otherwise re-run the detect+qualify
    # UDF: measured 5.0-5.6 s -> 3.9-4.6 s a warm 48-page web_prose pass,
    # local[3] on 4 shared vCPUs.)
    kg_ops._jobdesc("parse: nodes materialize (parse UDF)")
    nodes = parse_pages(pages).localCheckpoint(eager=True)
    kg_ops._jobdesc("qualify: qualifiers materialize (detect+qualify UDF)")
    qualifiers = build_qualifiers(nodes).localCheckpoint(eager=True)
    resolved = resolve_targets(qualifiers, nodes)
    kn, edges, canon, triples = kg_ops.build_graph(nodes, resolved,
                                                   include_extensions)
    return GraphResult(nodes, qualifiers, resolved, kn, edges, canon, triples)
