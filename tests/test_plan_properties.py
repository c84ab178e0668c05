"""Physical-plan regression suite: the 100-TB plan audit as CI.

Every catalog query's formatted plan is checked for the properties that
matter at scale (and that silently regress otherwise):

* no unbounded cartesian/nested-loop joins — the only allowed
  BroadcastNestedLoopJoin is the ANN brute-force query-set join, whose
  broadcast side is a bounded literal top-k query set by construction;
* parquet column pruning: narrow queries must not read all columns;
* filter pushdown: null-text guards reach the scan;
* no driver-side jobs at plan-construction time for the similarity
  operators (plan building must be free — srp dims come from the table
  contract).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"

#: queries whose plan may contain a BroadcastNestedLoopJoin: the broadcast
#: side is bounded by construction — the literal top-k query set
#: (ann_cosine_topk) or the one-row collapsed centroid array whose width is
#: the n_cells parameter (ann_ivf_topk) — never table-sized data
#: q_funnel_conversion cross-joins three single-row global aggregates to
#: assemble its one summary row — bounded by construction
_BNLJ_ALLOWED = {"ann_cosine_topk", "ann_ivf_topk", "q_funnel_conversion",
                 # graph_* cross-join a broadcast 1-row corpus-count agg
                 # into the edge generator — bounded by construction
                 "graph_edges", "graph_degrees", "graph_khop",
                 "graph_pagerank", "graph_triangles",
                 "graph_triangles_skewaware", "graph_sssp",
                 "graph_communities"}

#: kg_* queries run the pipeline (mapInPandas heavy); their plan audit is
#: the pipeline's own (localCheckpoint lineage makes explain uninformative)
_SKIP = {"kg_nodes", "kg_extracted_text", "kg_mentions", "kg_qualifiers",
         "kg_resolved", "kg_triples", "kg_entities",
         "kg_citation_authority", "kg_cocitation", "kg_communities"}

QUERY_KEYS = sorted(k for k in entry_mod.queries() if k not in _SKIP)


def _plan(spark, name: str) -> str:
    df = entry_mod.queries()[name](spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))


@pytest.mark.parametrize("name", QUERY_KEYS)
def test_no_unbounded_cartesian(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, name
    if name not in _BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_column_pruning_reaches_scan(spark):
    # a two-column projection must not read the whole documents table
    plan = _plan(spark, "docs_token_counts")
    read_schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schemas
    for ln in read_schemas:
        assert "source" not in ln and "n_chars" not in ln, ln


def test_null_filter_pushdown(spark):
    plan = _plan(spark, "dedup_minhash_signatures")
    assert "IsNotNull(text)" in plan


def test_no_driver_job_at_plan_build(spark):
    # constructing a similarity/dedup plan must cost no more Spark jobs
    # than the bare parquet read itself (schema discovery = 1 job); the
    # old srp_bucket additionally sniffed the dim via .first() — a second,
    # data-reading job per construction
    tracker = spark.sparkContext.statusTracker()

    def jobs_for(fn):
        before = len(tracker.getJobIdsForGroup(None))
        fn()
        return len(tracker.getJobIdsForGroup(None)) - before

    baseline = jobs_for(
        lambda: spark.read.parquet(f"{SF_DIR}/embeddings.parquet"))
    for name in ("ann_lsh_topk", "ann_lsh_topk_sized", "ann_ivf_topk",
                 "emb_neardup_pairs", "ann_cosine_topk",
                 "dedup_minhash_pairs"):
        added = jobs_for(
            lambda: entry_mod.queries()[name](spark, SF_DIR))
        assert added <= baseline, (name, added, baseline)


@pytest.mark.parametrize("name", ["dedup_minhash_pairs",
                                  "dedup_simhash_pairs",
                                  "emb_neardup_pairs"])
def test_lsh_bucket_cap_is_aggregate_not_window(spark, name):
    # the bucket-size cap must be groupBy-count + equi-join (map-side
    # partial aggregation, AQE-skew-splittable join) — a count-over-window
    # funnels every row of a hot boilerplate bucket into one sort task
    plan = _plan(spark, name)
    assert "Window" not in plan, name
    assert "HashAggregate" in plan, name


@pytest.mark.parametrize("name", ["ann_lsh_topk", "ann_lsh_topk_sized",
                                  "ann_ivf_topk"])
def test_ann_cap_not_window_over_bucket(spark, name):
    # the ANN queries legitimately use a window for the per-query top-k
    # rank, but the hot-bucket/hot-cell size cap must never be a window
    # partitioned by the bucket/cell key (that serializes a hot bucket
    # into one sort task — see dedup.minhash_lsh_pairs)
    plan = _plan(spark, name)
    assert "windowspecdefinition(bucket" not in plan, name
    assert "windowspecdefinition(cell_id" not in plan, name


def test_keep_best_is_struct_max_not_window(spark):
    # the keep-best arg-max must be a lexicographic struct max inside the
    # hash aggregation — a row_number window partitioned by the text hash
    # would sort a hot boilerplate group in one task
    plan = _plan(spark, "dedup_keep_best")
    assert "Window" not in plan
    # max(struct) lowers to SortAggregate (struct has no mutable hash-agg
    # buffer) — what matters for scale is the map-side partial combine
    assert "partial_max" in plan


@pytest.mark.parametrize("name", ["dedup_chunks",
                                  "docs_boilerplate_by_source"])
def test_chunk_ops_no_window(spark, name):
    # first-occurrence / boilerplate tests must be groupBy aggregates plus
    # an equi-join — a window over the chunk hash would funnel every
    # occurrence of a hot boilerplate chunk into one sort task
    plan = _plan(spark, name)
    assert "Window" not in plan, name
    assert "HashAggregate" in plan, name


@pytest.mark.parametrize("name", ["graph_sssp", "graph_communities"])
def test_iterative_graph_ops_no_window(spark, name):
    """The per-round argmax/min in SSSP and label propagation must be
    aggregates (map-side combinable), never count/rank-over-window —
    a hot node's rows would serialize into one sort task."""
    plan = _plan(spark, name)
    assert "Window" not in plan, name


def test_pipeline_job_count(spark):
    """run_pipeline over 48 synthetic pages, warm, runs at most 18 Spark
    jobs: the nodes and qualifiers materializations, the extract
    materialization with resolve upstream of it (13), the cross-document
    L3 probe and the triples fetch.  Each extra job is a fixed latency
    that, at benchmark sizes, costs more than the rows it moves."""
    from inclusionreferenceskg_spark import synth
    from inclusionreferenceskg_spark.plans.pipeline import run_pipeline

    pages = synth.synthesize_pages(spark, 48, seed=7)
    tracker = spark.sparkContext.statusTracker()
    for _ in range(2):  # the first pass warms the Python workers
        before = len(tracker.getJobIdsForGroup(None))
        assert len(run_pipeline(pages).triples.toPandas()) > 0
        added = len(tracker.getJobIdsForGroup(None)) - before
    assert added <= 18, added


def test_apply_merges_singleton_path_is_shuffle_free(spark, cross_doc_pages):
    """The last-write-wins edge dedup must keep the fat (map-typed attrs)
    rows off the exchange for the documents no cross-document merge
    touches: the graph tail carries them through a broadcast LEFT ANTI
    probe against the touched urls, and exactly ONE Window (over the
    touched documents' edges) survives; apply_merges alone is that one
    window.  A regression that windows every document's edges
    re-shuffles every fat row at web scale."""
    from pyspark.sql import functions as F
    from inclusionreferenceskg_spark.operators.kg import apply_merges
    from inclusionreferenceskg_spark.plans.pipeline import run_pipeline

    edges = spark.createDataFrame(
        [("u://x", "a", "b", "l", None, 0),
         ("u://x", "a", "b", "l2", None, 1),
         ("u://x", "c", "d", "l3", None, 2)],
        "url string, src string, dst string, label string, "
        "attrs map<string,string>, emit_seq int")
    canon = spark.createDataFrame(
        [("zzz", "zzz")], "kg_id string, canon_id string"
    ).filter(F.lit(False)).localCheckpoint(eager=True).hint("broadcast")

    def fmt(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))

    import re

    def n_windows(plan):
        # formatted mode numbers each operator once: "(k) Window";
        # \b excludes WindowGroupLimit (the rank-limit pushdown helper)
        return len(re.findall(r"\(\d+\) Window\b", plan))

    split = fmt(run_pipeline(cross_doc_pages()).kg_edges)
    assert n_windows(split) == 1, split
    assert "LeftAnti" in split, split

    full = fmt(apply_merges(None, edges, canon))
    assert n_windows(full) == 1, full
    assert "LeftAnti" not in full, full


def test_resolve_candidate_join_never_broadcasts_the_corpus(spark):
    """The resolve candidate join (quals x nodes on (url, node_type)) and
    the document-title joins must plan as SHUFFLE joins, never broadcast
    the nodes-scale side.  Every kg-path table descends from a
    localCheckpoint whose LogicalRDD inherits the PRE-checkpoint size
    estimate (a few KiB), so without explicit hints the planner reads
    "tiny" on corpus-scale sides: measured at 80k docs it broadcast the
    full 3.48M-row candidate projection — 1 856 MiB and 37.9 s of
    single-threaded driver build, the largest core-count-independent term
    in the N-vs-4N scaling tail — and at 10^12 pages that broadcast is an
    executor OOM.  The only legal broadcast in the resolve plan is the
    lenient-title nested loop over the left-anti REMAINDER (explicitly
    F.broadcast'ed, near-empty by construction)."""
    from inclusionreferenceskg_spark import synth
    from inclusionreferenceskg_spark.operators.detect import build_qualifiers
    from inclusionreferenceskg_spark.operators.parse import parse_pages
    from inclusionreferenceskg_spark.operators.resolve import resolve_targets

    pages = synth.synthesize_pages(spark, 8, partitions=2)
    nodes = parse_pages(pages).localCheckpoint(eager=True)
    resolved = resolve_targets(build_qualifiers(nodes), nodes)
    plan = resolved._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    import re

    def n_ops(name):
        # formatted mode numbers each operator once in the tree and once
        # in the details section; count the numbered detail headers
        return len(re.findall(rf"\(\d+\) {name}\b", plan))

    # candidate join + exact-title join + left-anti title probe all shuffle
    assert n_ops("ShuffledHashJoin") >= 3, plan
    # no equi-join may broadcast (the checkpoint-stats trap); the one
    # BroadcastNestedLoopJoin is the explicit lenient-remainder pass
    assert n_ops("BroadcastHashJoin") == 0, plan
    assert n_ops("BroadcastNestedLoopJoin") == 1, plan
