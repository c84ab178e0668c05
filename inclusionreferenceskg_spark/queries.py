"""The engine's query catalog: named queries + DuckDB oracle SQL.

Every entry in ``QUERIES`` is a callable ``(spark, sf_dir) -> DataFrame``;
entries with a key in ``ORACLES`` have a DuckDB-dialect twin executed over
the same parquet tables (the driver's correctness gate).  Column names and
rounding are aligned on both sides — aggregates are rounded so engine
summation-order differences cannot flip the value hash.

KG-pipeline queries (``kg_*``) run over pages deterministically synthesized
from the ``documents`` table (no SQL oracle can replicate the stack-machine
parser or NLP, so the driver records rows-only checks for those; the true
correctness gates for the KG path are the golden-corpus pytest suites).
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from inclusionreferenceskg_spark import synth
from inclusionreferenceskg_spark.operators import (
    curation,
    dedup,
    multimodal,
    similarity,
    textstats,
)
from inclusionreferenceskg_spark.operators import graph as graph_ops
from inclusionreferenceskg_spark.operators import kg as kg_ops
from inclusionreferenceskg_spark.operators.detect import (
    build_qualifiers,
    detect_mentions,
)
from inclusionreferenceskg_spark.operators.parse import (
    extract_text,
    parse_pages,
)
from inclusionreferenceskg_spark.operators.resolve import resolve_targets

#: cap for the documents-derived KG corpus in correctness runs (the full
#: pipeline over every sf0.01 row would dominate the verify wall-clock);
#: bench overrides via SPARK_GRAFT_KG_DOCS
KG_DOC_LIMIT = 96


def _kg_doc_limit() -> int:
    import os
    return int(os.environ.get("SPARK_GRAFT_KG_DOCS", KG_DOC_LIMIT))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _kg_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _kg_doc_limit())
    return synth.pages_from_documents(docs)


#: session-scoped memo of the parsed-node table, keyed by
#: (applicationId, sf_dir, doc limit).  Five catalog entries fan out from
#: the same parse — without the memo each re-runs the annotate/parse UDF
#: stage from scratch (the pipeline's dominant cost).  ``persist`` (not
#: localCheckpoint) keeps the lineage, so a ``spark.catalog.clearCache()``
#: between bench trials just falls back to recompute — never stale data.
#: This mirrors the production layout: parse once into a durable node
#: table, run every downstream stage off it (sources/catalog.py).
_NODES_MEMO: Dict[tuple, DataFrame] = {}


def _kg_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # keyed additionally on a file-metadata fingerprint of the documents
    # table, so parquet regenerated under the same sf_dir can never be
    # served stale materialized partitions; entries superseded for the
    # same (application, sf_dir) are unpersisted so the key set stays
    # bounded for the life of the application
    from inclusionreferenceskg_spark.plans.funnel import _docs_fingerprint
    key = (spark.sparkContext.applicationId, sf_dir, _kg_doc_limit(),
           _docs_fingerprint(sf_dir))
    df = _NODES_MEMO.get(key)
    if df is None:
        for stale in [k for k in _NODES_MEMO
                      if k[:2] == key[:2] and k != key]:
            _NODES_MEMO.pop(stale).unpersist()
        df = parse_pages(_kg_pages(spark, sf_dir)).persist()
        _NODES_MEMO[key] = df
    return df


# ---------------------------------------------------------------- relational

def q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.count("*").alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


def q3_top_orders(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer")
    return (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(cust, orders["o_custkey"] == cust["c_custkey"])
            .groupBy("o_orderkey", "c_name")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
            .limit(10))


def q_broadcast_part_join(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    return (li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
            .groupBy("p_brand")
            .agg(F.count("*").alias("n_items"),
                 F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
            .orderBy("p_brand"))


def q_window_latest_event(spark, sf_dir):
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id"))
    return (ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_id", "event_type",
                    F.unix_timestamp("ts").alias("ts_epoch"))
            .orderBy("user_id"))


def q_sessionize(spark, sf_dir):
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(
        F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (ev.withColumn("new_sess", new_sess)
            .groupBy("user_id")
            .agg(F.sum("new_sess").alias("n_sessions"),
                 F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .orderBy("user_id"))


def q_rollup_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"),
                 F.count("*").alias("n"))
            .orderBy("l_returnflag", "l_linestatus"))


def q_events_json(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.withColumn("k", F.get_json_object("props", "$.k")
                          .cast("int"))
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.sum("k").alias("sum_k"),
                 F.max("k").alias("max_k"))
            .orderBy("event_type"))

def q_topk_orders_per_cust(spark, sf_dir):
    """Top-3 orders by price per customer (window top-k; the shuffle is a
    single hash partition by o_custkey)."""
    from pyspark.sql import Window
    od = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (od.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .select("o_custkey", "o_orderkey",
                    F.round("o_totalprice", 2).alias("price"), "rk")
            .orderBy("o_custkey", "rk"))


def q_cube_nation_status(spark, sf_dir):
    """CUBE over (nation, order status) — grouping-sets family."""
    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    na = _t(spark, sf_dir, "nation")
    j = (od.join(cu, od["o_custkey"] == cu["c_custkey"])
         .join(F.broadcast(na), cu["c_nationkey"] == na["n_nationkey"]))
    return (j.cube("n_name", "o_orderstatus")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("o_totalprice"), 2).alias("total"))
            .orderBy("n_name", "o_orderstatus"))


def q_except_inactive_custs(spark, sf_dir):
    """Set difference: customers with no orders (EXCEPT against the
    order-holders projection)."""
    cu = _t(spark, sf_dir, "customer").select("c_custkey")
    active = (_t(spark, sf_dir, "orders")
              .select(F.col("o_custkey").alias("c_custkey")))
    return cu.exceptAll(active.distinct()).orderBy("c_custkey")


def q_range_join_events(spark, sf_dir):
    """Range join: events landing inside each user's first-day window
    (value-range predicate on epoch seconds).  The join has an equi-key
    (``user_id``), so it runs as a plain shuffle hash join with the range
    predicate as a post-join filter — no broadcast of the per-user
    aggregate, whose cardinality is unbounded at web scale."""
    ev = _t(spark, sf_dir, "events")
    bounds = (ev.groupBy("user_id")
              .agg(F.min(F.unix_timestamp("ts")).alias("t0")))
    win = bounds.select("user_id",
                        F.col("t0"), (F.col("t0") + 86400).alias("t1"))
    e = ev.select(F.col("user_id").alias("u"), "event_id",
                  F.unix_timestamp("ts").alias("te"))
    return (e.join(win,
                   (F.col("u") == F.col("user_id"))
                   & (F.col("te") >= F.col("t0"))
                   & (F.col("te") < F.col("t1")))
            .groupBy("user_id")
            .agg(F.count("*").alias("n_first_day"))
            .orderBy("user_id"))


def q_funnel_conversion(spark, sf_dir):
    """Ordered conversion funnel over the event stream: first view →
    first click at-or-after that view → first purchase at-or-after that
    click.  Three stage aggregations, all keyed on ``user_id`` so the
    exchange is reusable across stages; each stage output is one row per
    converting user, so the stage-to-stage joins stay far smaller than the
    event table at any scale (AQE turns them into broadcasts when the
    funnel narrows).  Output is ONE summary row: stage counts plus rounded
    conversion rates."""
    ev = _t(spark, sf_dir, "events")
    v = (ev.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("t_view")))
    c = (ev.filter(F.col("event_type") == "click")
         .join(v, "user_id")
         .filter(F.col("ts") >= F.col("t_view"))
         .groupBy("user_id").agg(F.min("ts").alias("t_click")))
    p = (ev.filter(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .filter(F.col("ts") >= F.col("t_click"))
         .groupBy("user_id").agg(F.min("ts").alias("t_buy")))
    nv = v.agg(F.count("*").alias("n_viewed"))
    nc = c.agg(F.count("*").alias("n_clicked"))
    npu = p.agg(F.count("*").alias("n_purchased"))
    # explicit broadcast: each side is ONE row by construction (global
    # count aggregates); with static auto-broadcast off (session.py) the
    # planner would otherwise fall back to CartesianProduct
    return (nv.crossJoin(F.broadcast(nc)).crossJoin(F.broadcast(npu))
            .select("n_viewed", "n_clicked", "n_purchased",
                    F.round(F.expr("n_clicked / nullif(n_viewed, 0)"), 4)
                    .alias("view_to_click"),
                    F.round(F.expr("n_purchased / nullif(n_clicked, 0)"), 4)
                    .alias("click_to_buy")))


def q_rolling_7d_revenue(spark, sf_dir):
    """Rolling 7-day revenue over daily order totals (RANGE window frame
    — a window class the catalog didn't cover).  Scale shape: the
    time-ordered window is global (one task), but it runs over the
    PRE-AGGREGATED daily table — one row per calendar day — so its input
    is bounded by the calendar, not the corpus (~3.6k rows per decade at
    any SF).  The heavy lifting (orders → daily sums) is an ordinary
    hash aggregate with map-side combine.  Revenue is summed in integer
    cents (per-row round, then exact integer sum) so engine summation
    order cannot flip the value hash."""
    od = _t(spark, sf_dir, "orders")
    daily = (od.groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
             .agg(F.sum(F.round(F.col("o_totalprice") * 100)
                        .cast("long")).alias("day_rev_cents")))
    w = (Window.orderBy("day_epoch")
         .rangeBetween(-6 * 86400, Window.currentRow))
    return (daily
            .withColumn("day_epoch", F.unix_timestamp("day"))
            .select("day_epoch", "day_rev_cents",
                    F.sum("day_rev_cents").over(w).alias("rev_7d_cents"))
            .orderBy("day_epoch"))


def q_salted_join_type_stats(spark, sf_dir):
    """Per-type event stats attached back to the event stream through an
    explicitly SALTED join (``operators/joins.py``): ``event_type`` has a
    handful of distinct values, so a plain shuffle join would funnel the
    whole table into ~5 tasks regardless of cluster size — the textbook
    hot-key trap at web scale.  The salt spreads each type across 8
    shuffle tasks; the oracle is the UNSALTED join, proving the rewrite
    is semantics-preserving.  ``type_avg`` is rounded to 6 decimals on
    both sides before the comparison so an ulp-level aggregation-order
    difference cannot flip a row's above/below classification."""
    from inclusionreferenceskg_spark.operators.joins import salted_join
    ev = _t(spark, sf_dir, "events")
    stats = (ev.groupBy("event_type")
             .agg(F.round(F.avg("value"), 6).alias("type_avg")))
    j = salted_join(ev, stats, on="event_type", salt_from="event_id",
                    n_salts=8)
    return (j.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(F.when(F.col("value") > F.col("type_avg"), 1)
                       .otherwise(0)).cast("long").alias("n_above_avg"))
            .orderBy("event_type"))


def q_pivot_status_by_nation(spark, sf_dir):
    """Pivot (grouping-sets family): order-status counts per nation as
    columns.  The pivot values are pinned literals — letting Spark collect
    them would cost a driver job at plan build and make the output schema
    data-dependent (both wrong at scale)."""
    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    na = _t(spark, sf_dir, "nation")
    j = (od.join(cu, od["o_custkey"] == cu["c_custkey"])
         .join(F.broadcast(na), cu["c_nationkey"] == na["n_nationkey"]))
    p = j.groupBy("n_name").pivot("o_orderstatus", ["F", "O", "P"]).count()
    return (p.select(
        "n_name",
        F.coalesce(F.col("F"), F.lit(0)).cast("bigint").alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).cast("bigint").alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).cast("bigint").alias("n_p"))
        .orderBy("n_name"))


def q_percentile_prices(spark, sf_dir):
    """Exact interpolated percentiles of order totals per priority.  At
    100 TB the one-liner swap is ``approx_percentile`` (t-digest sketch,
    mergeable map-side); the exact form is kept here because it has a
    value-level DuckDB twin (``quantile_cont``)."""
    od = _t(spark, sf_dir, "orders")
    return (od.groupBy("o_orderpriority")
            .agg(F.expr("round(percentile(o_totalprice, 0.5), 2)")
                 .alias("p50"),
                 F.expr("round(percentile(o_totalprice, 0.9), 2)")
                 .alias("p90"),
                 F.count("*").alias("n"))
            .orderBy("o_orderpriority"))


def q_semijoin_active_custs(spark, sf_dir):
    """Left-semi join (EXISTS): customers that placed at least one order,
    counted per nation.  The semi join never materializes order columns —
    the probe side short-circuits on first match."""
    cu = _t(spark, sf_dir, "customer")
    od = _t(spark, sf_dir, "orders").select("o_custkey")
    na = _t(spark, sf_dir, "nation")
    return (cu.join(od, cu["c_custkey"] == od["o_custkey"], "left_semi")
            .join(F.broadcast(na), cu["c_nationkey"] == na["n_nationkey"])
            .groupBy("n_name")
            .agg(F.count("*").alias("n_active"))
            .orderBy("n_name"))


def q_asof_attribution(spark, sf_dir):
    """As-of join (an operator Spark lacks natively, re-expressed as a
    window composition): each purchase matched to the user's most recent
    prior-or-equal view.  One shuffle on user_id, then a linear
    running-``last(ignoreNulls)`` over the time-sorted tagged union — the
    sort-based as-of plan that scales to arbitrarily long user histories
    (no per-pair join blow-up).  Ties: a view at the identical timestamp
    counts (tag orders views before purchases); only the view *timestamp*
    is emitted so equal-ts view rows cannot make output nondeterministic.
    """
    ev = _t(spark, sf_dir, "events")
    te = F.unix_timestamp("ts").cast("bigint")
    views = (ev.filter(F.col("event_type") == "view")
             .select("user_id", te.alias("te"), F.lit(0).alias("tag"),
                     F.lit(None).cast("bigint").alias("event_id")))
    purch = (ev.filter(F.col("event_type") == "purchase")
             .select("user_id", te.alias("te"), F.lit(1).alias("tag"),
                     "event_id"))
    tagged = views.unionByName(purch).withColumn(
        "view_ts", F.when(F.col("tag") == 0, F.col("te")))
    w = (Window.partitionBy("user_id").orderBy("te", "tag")
         .rowsBetween(Window.unboundedPreceding, 0))
    return (tagged
            .withColumn("last_view_ts", F.last("view_ts", True).over(w))
            .filter(F.col("tag") == 1)
            .select("event_id", "user_id",
                    F.col("te").alias("purchase_ts"), "last_view_ts",
                    (F.col("te") - F.col("last_view_ts")).alias("gap_s"))
            .orderBy("event_id"))


def q_suppliers_by_region(spark, sf_dir):
    """Supplier census per region: the snowflake dims (region, nation) are
    bounded by construction, so both ride broadcast joins — the only
    shuffle is the final per-region aggregate over ~|regions| rows."""
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    re = _t(spark, sf_dir, "region")
    return (su
            .join(F.broadcast(na),
                  su["s_nationkey"] == na["n_nationkey"])
            .join(F.broadcast(re),
                  na["n_regionkey"] == re["r_regionkey"])
            .groupBy("r_name")
            .agg(F.count("*").alias("n_suppliers"),
                 F.countDistinct("n_nationkey").alias("n_nations"),
                 F.round(F.avg("s_acctbal"), 2).alias("avg_acctbal"))
            .orderBy("r_name"))


# ----------------------------------------------------- text / dedup / ANN

def docs_token_counts(spark, sf_dir):
    return textstats.token_counts(
        _t(spark, sf_dir, "documents")).orderBy("doc_id")


def docs_quality(spark, sf_dir):
    return textstats.quality_scores(
        _t(spark, sf_dir, "documents")).orderBy("doc_id")


def docs_lang_id(spark, sf_dir):
    return textstats.lang_id(
        _t(spark, sf_dir, "documents")).orderBy("doc_id")


def docs_fingerprints(spark, sf_dir):
    return textstats.fingerprints(
        _t(spark, sf_dir, "documents")).orderBy("doc_id")


def docs_ngram_topk(spark, sf_dir):
    return textstats.ngram_topk(_t(spark, sf_dir, "documents"))


def docs_tfidf_topk(spark, sf_dir):
    return (textstats.tfidf_topk(_t(spark, sf_dir, "documents"))
            .orderBy("doc_id", "rk"))


def docs_length_histogram(spark, sf_dir):
    return textstats.length_histogram(_t(spark, sf_dir, "documents"))


def docs_source_composition(spark, sf_dir):
    """Corpus-composition report per (source, lang): the standard first
    look at a training-data crawl (doc counts, volume, mean length)."""
    d = _t(spark, sf_dir, "documents")
    return (d.groupBy("source", "lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"),
                 F.round(F.avg(F.length("text")), 2).alias("avg_len"))
            .orderBy("source", "lang"))


def corpus_curated(spark, sf_dir):
    """The composed training-data curation funnel: language filter +
    quality floor + exact-dup keep-list + near-dup-cluster canonical-only.
    Each stage is an already-oracled operator; the composition itself gets
    a full value-level oracle.  At 100 TB every stage is a narrow
    projection or a key-partitioned join — no stage widens the data."""
    docs = _t(spark, sf_dir, "documents")
    lang = textstats.lang_id(docs).select("doc_id", "lang_guess")
    qual = textstats.quality_scores(docs).select("doc_id", "quality_score")
    keep = (dedup.exact_duplicates(docs)
            .select(F.col("keep_doc_id").alias("doc_id")))
    clus = (dedup.neardup_clusters(docs, threshold=0.2)
            .select("doc_id", "canon_id"))
    return (docs.select("doc_id")
            .join(lang, "doc_id")
            .join(qual, "doc_id")
            .filter((F.col("lang_guess") == "en")
                    & (F.col("quality_score") >= 0.5))
            .join(keep, "doc_id", "left_semi")
            .join(clus, "doc_id", "left")
            .filter(F.col("canon_id").isNull()
                    | (F.col("canon_id") == F.col("doc_id")))
            .select("doc_id", "lang_guess", "quality_score")
            .orderBy("doc_id"))


def corpus_curated_staged(spark, sf_dir):
    """The same funnel as ``corpus_curated``, production-pathed: each
    stage (lang, quality, exact-keep, near-dup clusters) is materialized
    once through the Catalog lineage machinery (plans/funnel.py) and the
    returned plan only SCANS the stage parquet — the CC iteration and LSH
    self-join never re-run for downstream consumers.  Same oracle as
    corpus_curated (identical rows, different physical plan)."""
    from inclusionreferenceskg_spark.plans.funnel import run_curation_funnel
    return run_curation_funnel(spark, sf_dir)


def dedup_exact(spark, sf_dir):
    return dedup.exact_duplicates(
        _t(spark, sf_dir, "documents")).orderBy("text_hash")


def dedup_keep_best(spark, sf_dir):
    """Keep-best exact-dedup canonicalization: per normalized-text group,
    keep the longest copy (ties → min doc_id) via a lexicographic struct
    max — one shuffle, no window over potentially-hot hash groups."""
    return dedup.keep_best_canonical(
        _t(spark, sf_dir, "documents")).orderBy("keep_doc_id")


def dedup_minhash_signatures(spark, sf_dir):
    return dedup.minhash_signatures(
        _t(spark, sf_dir, "documents")).orderBy("doc_id")


def dedup_minhash_pairs(spark, sf_dir):
    return dedup.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents")).orderBy("a", "b")


def dedup_simhash(spark, sf_dir):
    return dedup.simhash_signatures(
        _t(spark, sf_dir, "documents")).orderBy("doc_id")


def dedup_simhash_pairs(spark, sf_dir):
    return dedup.simhash_pairs(
        _t(spark, sf_dir, "documents")).orderBy("a", "b")


def dedup_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.2).orderBy("a", "b")


def dedup_clusters(spark, sf_dir):
    """Connected components over the jaccard-verified near-dup pair graph
    — the dedup twin of the KG's entity canonicalization, and the one
    catalog entry that gives the union-find/min-label machinery a
    value-level DuckDB oracle (recursive CTE)."""
    return dedup.neardup_clusters(
        _t(spark, sf_dir, "documents"),
        threshold=0.2).orderBy("doc_id")


def dedup_cluster_reps(spark, sf_dir):
    """Surviving corpus after near-dup dedup: each cluster collapses to
    its longest member (ties → min doc_id), singletons survive as
    themselves — the stage a training-data pipeline actually materializes
    downstream of `dedup_clusters`."""
    return dedup.neardup_keep_best(
        _t(spark, sf_dir, "documents"), threshold=0.2).orderBy("rep_id")


def dedup_chunks(spark, sf_dir):
    """Sub-document (line/paragraph-level) exact dedup — C4/CCNet's
    pre-training stage: global first occurrence of each chunk wins, later
    occurrences are dropped, documents reassemble from their kept chunks."""
    return dedup.chunk_dedup(
        _t(spark, sf_dir, "documents")).orderBy("doc_id")


def dedup_incremental(spark, sf_dir):
    """Cross-snapshot refresh: docs with even doc_id stand in for the
    already-ingested snapshot; the catalog entry keeps only odd-snapshot
    docs whose normalized-text hash no prior doc had (LEFT ANTI on md5)."""
    from inclusionreferenceskg_spark.operators.textstats import norm_text
    docs = _t(spark, sf_dir, "documents")
    seen = (docs.filter(F.col("doc_id") % 2 == 0)
            .select(F.md5(norm_text(F.col("text"))).alias("text_hash")))
    return dedup.incremental_new_docs(
        docs.filter(F.col("doc_id") % 2 == 1), seen).orderBy("doc_id")


def docs_boilerplate_by_source(spark, sf_dir):
    """Per-source boilerplate share: fraction of a source's chunk
    occurrences repeated across >=2 of its documents — the per-host table
    web pipelines use to decide which sites need template stripping."""
    return dedup.boilerplate_by_source(
        _t(spark, sf_dir, "documents")).orderBy("source")


def ann_cosine_topk(spark, sf_dir):
    return similarity.cosine_topk(
        _t(spark, sf_dir, "embeddings")).orderBy("query_id", "rank")


def ann_lsh_topk(spark, sf_dir):
    return similarity.ann_lsh_topk(
        _t(spark, sf_dir, "embeddings")).orderBy("query_id", "rank")


#: expected bucket population for the corpus-sized SRP entry (small so the
#: catalog's 500-row test table yields a plane count != the pinned 6,
#: demonstrating the sizing path end-to-end with a green oracle)
SIZED_TARGET_BUCKET = 32


def ann_lsh_topk_sized(spark, sf_dir):
    """ANN top-k with the SRP plane count SIZED to the corpus:
    ``planes_for(total-records)`` where the count comes from the table's
    parquet footer metadata (the Iceberg-manifest stand-in — a driver-side
    file-metadata read, not a Spark job).  At 10^12 rows this is ~25
    planes; on the 500-row catalog table it is 4 — either way the expected
    bucket population stays ``SIZED_TARGET_BUCKET``."""
    n = similarity.corpus_rows(sf_dir)
    return similarity.ann_lsh_topk(
        _t(spark, sf_dir, "embeddings"),
        n_planes=similarity.planes_for(n, SIZED_TARGET_BUCKET)
    ).orderBy("query_id", "rank")


def ann_ivf_topk(spark, sf_dir):
    return similarity.ann_ivf_topk(
        _t(spark, sf_dir, "embeddings")).orderBy("query_id", "rank")


def emb_neardup_pairs(spark, sf_dir):
    return similarity.embedding_neardup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.9).orderBy("a", "b")


def multimodal_image_meta(spark, sf_dir):
    """Typed metadata over an opaque binary column.

    The testdata tables carry no binary column, so the payload is derived
    deterministically (``encode(text)``) — DuckDB mirrors the derivation,
    giving this operator a real value-level oracle.  The ``feature``
    array stays out of the compared projection (unhashable driver-side);
    it is covered by pytest (`tests/test_misc_operators.py`).
    """
    pages = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("url"),
        F.encode(F.coalesce("text", F.lit("")), "UTF-8").alias("payload"))
    return multimodal.image_metadata(pages, binary_col="payload").select(
        "url", "n_bytes", "sha256", "width", "height").orderBy("url")


def _doc_payload(spark, sf_dir):
    """documents.text as a deterministic opaque binary payload (the
    testdata carries no real media column; DuckDB mirrors the derivation,
    so the multimodal plumbing gets value-level oracles)."""
    return _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("url"),
        F.encode(F.coalesce("text", F.lit("")), "UTF-8").alias("payload"))


def multimodal_frame_sample(spark, sf_dir):
    """Video frame-sample plumbing: 1→n_frames fan-out per payload inside
    the Arrow batch; stream properties and frame digests are derived from
    the payload hash (deterministic probe — see operators/multimodal.py)."""
    return multimodal.frame_sample(
        _doc_payload(spark, sf_dir), binary_col="payload",
        n_frames=4).orderBy("url", "frame_idx")


def multimodal_audio_chunks(spark, sf_dir):
    """Audio chunk plumbing: one row per 1000 ms window per payload."""
    return multimodal.audio_chunks(
        _doc_payload(spark, sf_dir), binary_col="payload",
        chunk_ms=1000).orderBy("url", "chunk_idx")


# -------------------------------------------------------- curation funnel

def docs_pii(spark, sf_dir):
    return curation.pii_stats(
        _t(spark, sf_dir, "documents")).orderBy("doc_id")


def docs_gopher_quality(spark, sf_dir):
    return curation.gopher_quality(
        _t(spark, sf_dir, "documents")).orderBy("doc_id")


def docs_decontaminate(spark, sf_dir):
    return curation.decontaminate(_t(spark, sf_dir, "documents"))


def docs_stratified_sample(spark, sf_dir):
    return curation.stratified_sample(_t(spark, sf_dir, "documents"))


def docs_pack_shards(spark, sf_dir):
    return curation.pack_shards(_t(spark, sf_dir, "documents"))


def docs_pack_shards_global(spark, sf_dir):
    """Global-order sequence packing via the two-pass distributed prefix
    sum (range partition -> per-partition totals -> seeded narrow
    cumsum); output invariant to partition-boundary placement, so the
    single-threaded DuckDB global window is hash-exact against it."""
    return curation.pack_shards_global(_t(spark, sf_dir, "documents"))


def docs_inverted_index(spark, sf_dir):
    return textstats.inverted_index(_t(spark, sf_dir, "documents"))


# --------------------------------------------------------- graph analytics

def _doc_edges(spark, sf_dir):
    return graph_ops.link_edges(_t(spark, sf_dir, "documents"))


def graph_edges(spark, sf_dir):
    return _doc_edges(spark, sf_dir).orderBy("src", "dst")


def graph_degrees(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return graph_ops.degrees(
        docs, graph_ops.link_edges(docs)).orderBy("node")


def graph_khop(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    seeds = docs.filter(
        F.col("doc_id") % graph_ops.KHOP_SEED_MOD == 0).select(
        F.col("doc_id").alias("node"))
    return graph_ops.khop(
        seeds, graph_ops.link_edges(docs), k=3).orderBy("node")


def graph_pagerank(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return graph_ops.pagerank(
        docs, graph_ops.link_edges(docs), iters=5).orderBy("node")


def graph_triangles(spark, sf_dir):
    return graph_ops.triangles(_doc_edges(spark, sf_dir))


def graph_triangles_skewaware(spark, sf_dir):
    return graph_ops.triangles_degree_oriented(_doc_edges(spark, sf_dir))


def graph_wcc(spark, sf_dir):
    """Weakly connected components of the link graph."""
    return graph_ops.wcc(_doc_edges(spark, sf_dir)).orderBy("node")


def graph_communities(spark, sf_dir):
    """Deterministic synchronous label-propagation communities."""
    docs = _t(spark, sf_dir, "documents")
    return graph_ops.label_propagation(
        docs, graph_ops.link_edges(docs), iters=4).orderBy("node")


def graph_sssp(spark, sf_dir):
    """Hop-bounded weighted shortest paths (distributed Bellman-Ford:
    full-table relaxation per round — measured 11x faster than the
    frontier variant at this hop bound, see graph.sssp) from a
    deterministic seed set."""
    docs = _t(spark, sf_dir, "documents")
    seeds = docs.filter(
        F.col("doc_id") % graph_ops.SSSP_SEED_MOD == 0).select(
        F.col("doc_id").alias("node"))
    e = graph_ops.weighted_edges(graph_ops.link_edges(docs))
    return graph_ops.sssp(
        seeds, e, max_hops=graph_ops.SSSP_MAX_HOPS).orderBy("node")


def _links_graph(spark, sf_dir):
    """(nodes, edges) of the REAL href graph: html payloads of the pages
    table → ``multimodal.html_links`` regexp extraction → distinct
    (src, dst) url edges.  Unlike the synthetic-hash ``graph_*`` family,
    this exercises the html→link→graph composition end to end; the DuckDB
    oracle recomputes the same edges arithmetically from the nav-block
    generator (synth.page_out_links), so any drift in the extraction
    path (regex, decode, self-link drop, dedup) goes red."""
    pages = _kg_pages(spark, sf_dir)
    nodes = pages.select(F.col("url").alias("doc_id"))
    return nodes, multimodal.page_link_graph(pages)


def graph_links_degrees(spark, sf_dir):
    """Per-url in/out degree over the href graph extracted from html."""
    nodes, edges = _links_graph(spark, sf_dir)
    return graph_ops.degrees(nodes, edges).orderBy("node")


def graph_links_pagerank(spark, sf_dir):
    """Integer-scaled PageRank over the extracted href graph — the
    citation-authority shape on real hyperlink edges (url node ids;
    graph_ops.pagerank is id-type generic)."""
    nodes, edges = _links_graph(spark, sf_dir)
    return graph_ops.pagerank(nodes, edges, iters=5).orderBy("node")


# ------------------------------------------------------------- KG pipeline

def kg_nodes(spark, sf_dir):
    return _kg_nodes(spark, sf_dir).select(
        "url", "node_id", "node_type", "depth", "number", "title",
        "content", "parent_id", "seq").orderBy("url", "seq")


def kg_extracted_text(spark, sf_dir):
    return extract_text(_kg_pages(spark, sf_dir)) \
        .select("url", "sha256").orderBy("url")


def kg_mentions(spark, sf_dir):
    return detect_mentions(_kg_nodes(spark, sf_dir)) \
        .orderBy("url", "seq", "mention_idx")


def kg_qualifiers(spark, sf_dir):
    q = build_qualifiers(_kg_nodes(spark, sf_dir))
    return q.select("url", "node_id", "mention_idx", "qual_idx", "text",
                    "deep_type", "deep_number",
                    F.to_json("qualifier").alias("qualifier_json")) \
        .orderBy("url", "node_id", "mention_idx", "qual_idx")


def kg_resolved(spark, sf_dir):
    nodes = _kg_nodes(spark, sf_dir)
    res = resolve_targets(build_qualifiers(nodes), nodes)
    return res.orderBy("url", "seq", "mention_idx", "qual_idx")


def kg_triples(spark, sf_dir):
    nodes = _kg_nodes(spark, sf_dir)
    res = resolve_targets(build_qualifiers(nodes), nodes)
    _, _, _, triples = kg_ops.build_graph(nodes, res)
    return triples.orderBy("url", "subject", "relation", "object")


def kg_entities(spark, sf_dir):
    """Cross-document canonical reference-entity table: one row per
    resolved target node with how many distinct documents cite it.  The
    per-doc linkers can't see these edges (the reference's scope stops
    at one document); this is the global canonicalization the web-scale
    KG needs — one map-side-combinable agg on the (target_url,
    target_node_id) key plus an id-key join for display strings.  The
    proper-noun surface-form variant is ``kg_ops.global_entities``
    (unit-tested; the synthetic corpus carries no mid-sentence proper
    nouns, so the catalog entry uses reference targets)."""
    nodes = _kg_nodes(spark, sf_dir)
    res = resolve_targets(build_qualifiers(nodes), nodes)
    ents = (res.groupBy("target_url", "target_node_id")
            .agg(F.countDistinct("url").alias("n_citing_docs"),
                 F.count("*").alias("n_mentions")))
    disp = kg_ops.doc_node_display(nodes)
    return (ents.join(disp,
                      (ents["target_url"] == disp["url"])
                      & (ents["target_node_id"] == disp["kg_id"]))
            .select("target_url", "target_node_id", "display",
                    "n_citing_docs", "n_mentions")
            .orderBy(F.desc("n_citing_docs"), F.desc("n_mentions"),
                     "target_url", "target_node_id"))


def _kg_citation_edges(spark, sf_dir):
    """Document-level citation graph from RESOLVED references: one
    distinct (src, dst) edge per citing-doc → cited-doc pair, self
    (intra-document) references dropped."""
    nodes = _kg_nodes(spark, sf_dir)
    res = resolve_targets(build_qualifiers(nodes), nodes)
    return (res.filter(F.col("target_url").isNotNull())
            .select(F.col("url").alias("src"),
                    F.col("target_url").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct())


def kg_citation_authority(spark, sf_dir):
    """Authority ranking of documents in the resolved citation graph:
    integer-scaled PageRank (graph.pagerank reused verbatim — node ids
    are urls; only the rank arithmetic is numeric).  This is the query a
    legal-KG user actually asks of the end product ('which regulation do
    the others lean on') and it runs on PIPELINE OUTPUT, so it is
    rows-only for the driver gate; value-level checks live in
    tests/test_kg_citations.py (mass conservation, simulator equality on
    the extracted edge list, determinism)."""
    nodes = _kg_nodes(spark, sf_dir)
    docs = nodes.select(F.col("url").alias("doc_id")).distinct()
    pr = graph_ops.pagerank(docs, _kg_citation_edges(spark, sf_dir),
                            iters=5)
    return pr.orderBy(F.desc("rank"), "node")


def kg_communities(spark, sf_dir):
    """Label-propagation communities over the resolved citation graph —
    documents that cite (or are cited by) the same cluster of documents
    settle on one label.  graph.label_propagation reused verbatim with
    url node ids (min_by tie-break is type-generic); rows-only like the
    other kg_* entries, simulator-verified in tests/test_kg_citations.py."""
    nodes = _kg_nodes(spark, sf_dir)
    docs = nodes.select(F.col("url").alias("doc_id")).distinct()
    return graph_ops.label_propagation(
        docs, _kg_citation_edges(spark, sf_dir), iters=4).orderBy("node")


def kg_cocitation(spark, sf_dir):
    """Co-citation strength between cited documents: pairs (a, b) of
    documents cited BY the same citing document, with the number of
    distinct co-citing documents.  One self-join keyed on the citing
    url (per-doc citation fan-out is bounded by references-per-page, so
    no skew cap is needed) + one map-side-combinable count."""
    e = _kg_citation_edges(spark, sf_dir)
    lhs = e.select(F.col("src").alias("citer"), F.col("dst").alias("a"))
    rhs = e.select(F.col("src").alias("citer"), F.col("dst").alias("b"))
    return (lhs.join(rhs, "citer")
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.countDistinct("citer").alias("n_cociting"))
            .orderBy(F.desc("n_cociting"), "a", "b"))


# ------------------------------------------------------------------ catalog

# Catalog order matters: the driver's correctness gate runs the FIRST 50
# entries only.  Entries that have never had a driver-green row (the
# graph_*, ann_ivf, emb_neardup, multimodal_* tail in rounds 1-3) plus any
# entry red in the latest round lead the dict; entries already driver-green
# in round 3 follow; rows-only kg_* entries (pytest-gated, no oracle value
# hash) sit last.
QUERIES: Dict[str, Callable] = {
    # Standing rotation (round 5 on): an entry keeps a first-50 slot until
    # driver-green in the CURRENT round, then yields to the entries whose
    # last driver row is oldest — so every entry gets a driver row at
    # least every other round.  Order below = scripts/rotate_catalog.py
    # over CORRECTNESS_r01..r04 (red-last-round first, then never-run,
    # then stalest-green ascending).
    # -- red in round 4 (oracle HUGEINT typing, now cast + guard-tested) --
    "graph_pagerank": graph_pagerank,
    "graph_links_pagerank": graph_links_pagerank,
    # -- never driver-run: citation analytics (authority/cocitation/
    #    communities gained generator-replay oracles this round) ---------
    "kg_citation_authority": kg_citation_authority,
    "kg_cocitation": kg_cocitation,
    "kg_communities": kg_communities,
    "kg_entities": kg_entities,
    # -- last driver row round 2 (rows-only pipeline stages) --------------
    "kg_nodes": kg_nodes,
    "kg_extracted_text": kg_extracted_text,
    "kg_mentions": kg_mentions,
    "kg_qualifiers": kg_qualifiers,
    "kg_resolved": kg_resolved,
    "kg_triples": kg_triples,
    # -- last driver row round 3 ------------------------------------------
    "docs_stratified_sample": docs_stratified_sample,
    "docs_inverted_index": docs_inverted_index,
    "dedup_exact": dedup_exact,
    "dedup_keep_best": dedup_keep_best,
    "dedup_minhash_signatures": dedup_minhash_signatures,
    "dedup_minhash_pairs": dedup_minhash_pairs,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_pairs": dedup_simhash_pairs,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_clusters": dedup_clusters,
    "dedup_cluster_reps": dedup_cluster_reps,
    "dedup_chunks": dedup_chunks,
    "docs_boilerplate_by_source": docs_boilerplate_by_source,
    "dedup_incremental": dedup_incremental,
    "ann_cosine_topk": ann_cosine_topk,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_lsh_topk_sized": ann_lsh_topk_sized,
    # -- green only in round 4 (single corroboration) ---------------------
    "graph_edges": graph_edges,
    "graph_degrees": graph_degrees,
    "graph_khop": graph_khop,
    "graph_triangles": graph_triangles,
    "graph_triangles_skewaware": graph_triangles_skewaware,
    "graph_sssp": graph_sssp,
    "graph_communities": graph_communities,
    "graph_wcc": graph_wcc,
    "graph_links_degrees": graph_links_degrees,
    "docs_pack_shards": docs_pack_shards,
    "docs_pack_shards_global": docs_pack_shards_global,
    # -- green rounds 2+4 (missed round 3) --------------------------------
    "ann_ivf_topk": ann_ivf_topk,
    "emb_neardup_pairs": emb_neardup_pairs,
    "multimodal_image_meta": multimodal_image_meta,
    "multimodal_frame_sample": multimodal_frame_sample,
    "multimodal_audio_chunks": multimodal_audio_chunks,
    # -- green rounds 3+4, shortest history (fills the window to 50) ------
    "q_pivot_status_by_nation": q_pivot_status_by_nation,
    "q_percentile_prices": q_percentile_prices,
    "q_semijoin_active_custs": q_semijoin_active_custs,
    "q_funnel_conversion": q_funnel_conversion,
    "q_rolling_7d_revenue": q_rolling_7d_revenue,
    # ==== driver window (first 50) ends here =============================
    # -- multi-round green, most corroborated -----------------------------
    "q1_pricing_summary": q1_pricing_summary,
    "q3_top_orders": q3_top_orders,
    "q_broadcast_part_join": q_broadcast_part_join,
    "q_window_latest_event": q_window_latest_event,
    "q_sessionize": q_sessionize,
    "q_rollup_revenue": q_rollup_revenue,
    "q_events_json": q_events_json,
    "q_topk_orders_per_cust": q_topk_orders_per_cust,
    "q_cube_nation_status": q_cube_nation_status,
    "q_except_inactive_custs": q_except_inactive_custs,
    "q_range_join_events": q_range_join_events,
    "q_suppliers_by_region": q_suppliers_by_region,
    "q_asof_attribution": q_asof_attribution,
    "q_salted_join_type_stats": q_salted_join_type_stats,
    "docs_source_composition": docs_source_composition,
    "docs_token_counts": docs_token_counts,
    "docs_quality": docs_quality,
    "docs_lang_id": docs_lang_id,
    "docs_fingerprints": docs_fingerprints,
    "docs_ngram_topk": docs_ngram_topk,
    "docs_tfidf_topk": docs_tfidf_topk,
    "docs_length_histogram": docs_length_histogram,
    "corpus_curated": corpus_curated,
    "corpus_curated_staged": corpus_curated_staged,
    "docs_pii": docs_pii,
    "docs_gopher_quality": docs_gopher_quality,
    "docs_decontaminate": docs_decontaminate,
}


# DuckDB-dialect oracles.  Shared fragments:
_H64 = "cast(('0x' || substring(md5({x}), 1, 15)) as bigint)"
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_WORD = "[A-Za-z0-9_]+"
_PUNCT = "[^A-Za-z0-9_\\s]"
_STOP = r"\b(the|and|of|to|in|is|that|for|with|shall)\b"

_SHINGLES = (
    "select doc_id, distinct_sh.sh as shingle from documents, lateral ("
    " select distinct unnest(list_transform(range(1, greatest("
    f"   len(string_split({_NORM}, ' ')) - 2, 1) + 1),"
    f"   i -> array_to_string(string_split({_NORM}, ' ')[i:i+2], ' '))) as sh"
    ") distinct_sh"
)


def _minhash_sig_sql() -> str:
    aggs = ", ".join(
        _H64.format(x=f"concat('{p}:', shingle)") + f" as h{p}"
        for p in range(dedup.N_PERM))
    mins = ", ".join(f"min(h{p}) as mh{p}" for p in range(dedup.N_PERM))
    return (f"with sh as ({_SHINGLES}), hashed as "
            f"(select doc_id, {aggs} from sh) "
            f"select doc_id, {mins} from hashed group by doc_id")


def _minhash_pairs_sql() -> str:
    bands = []
    for b in range(dedup.N_PERM // dedup.BAND_R):
        cols = "||'_'||".join(
            f"cast(mh{i} as varchar)"
            for i in range(b * dedup.BAND_R, (b + 1) * dedup.BAND_R))
        bands.append(f"select doc_id, {b} as band, md5({cols}) as bucket "
                     f"from sig")
    union = " union all ".join(bands)
    return (f"with sig as ({_minhash_sig_sql()}), buckets as ({union}), "
            "sized as (select *, count(*) over (partition by band, bucket) "
            "as bucket_size from buckets), ok as (select * from sized where "
            "bucket_size <= 50) "
            "select distinct x.doc_id as a, y.doc_id as b from ok x join ok "
            "y on x.band = y.band and x.bucket = y.bucket and "
            "x.doc_id < y.doc_id order by a, b")


def _simhash_sql() -> str:
    h = _H64.format(x="tok")
    bit_sums = ", ".join(
        f"sum(case when (h >> {i}) & 1 = 1 then 1 else -1 end) as s{i}"
        for i in range(dedup.SIMHASH_BITS))
    sim = " + ".join(
        f"case when s{i} > 0 then {1 << i} else 0 end"
        for i in range(dedup.SIMHASH_BITS))
    return (
        "with toks as (select doc_id, distinct_t.tok from documents, lateral"
        f" (select distinct unnest(string_split({_NORM}, ' ')) as tok)"
        f" distinct_t), hashed as (select doc_id, {h} as h from toks),"
        f" sums as (select doc_id, {bit_sums} from hashed group by doc_id)"
        f" select doc_id, cast({sim} as bigint) as simhash from sums"
        " order by doc_id")


def _simhash64_bands_sql() -> str:
    """DuckDB twin of ``dedup.simhash64_bands`` (4 x 16-bit band values of
    the 64-bit simhash)."""
    h_lo = _H64.format(x="concat('L:', tok)")
    h_hi = _H64.format(x="concat('H:', tok)")
    sums = []
    for i in range(64):
        src = "h_lo" if i < 32 else "h_hi"
        sh = i % 32
        sums.append(f"sum(case when ({src} >> {sh}) & 1 = 1 then 1 "
                    f"else -1 end) as s{i}")
    bands = []
    for j in range(dedup.SIMHASH64_BANDS):
        terms = " + ".join(
            f"case when s{j * 16 + i} > 0 then {1 << i} else 0 end"
            for i in range(dedup.SIMHASH64_BAND_BITS))
        bands.append(f"cast({terms} as int) as b{j}")
    return (
        "with toks as (select doc_id, distinct_t.tok from documents,"
        f" lateral (select distinct unnest(string_split({_NORM}, ' '))"
        " as tok) distinct_t where text is not null),"
        f" hashed as (select doc_id, {h_lo} as h_lo, {h_hi} as h_hi"
        " from toks),"
        f" sums as (select doc_id, {', '.join(sums)} from hashed"
        " group by doc_id)"
        f" select doc_id, {', '.join(bands)} from sums")


def _simhash_pairs_sql() -> str:
    nb = dedup.SIMHASH64_BANDS
    band_sel = " union all ".join(
        f"select doc_id, {j} as band, b{j} as val from sig"
        for j in range(nb))
    ham = " + ".join(f"bit_count(xor(sa.b{j}, sb.b{j}))" for j in range(nb))
    return (
        f"with sig as ({_simhash64_bands_sql()}),"
        f" buckets as ({band_sel}),"
        " sized as (select *, count(*) over (partition by band, val)"
        " as bucket_size from buckets),"
        " ok as (select * from sized where bucket_size <= 50),"
        " cands as (select distinct x.doc_id as a, y.doc_id as b"
        " from ok x join ok y on x.band = y.band and x.val = y.val"
        " and x.doc_id < y.doc_id)"
        f" select a, b, cast({ham} as int) as hamming"
        " from cands join sig sa on sa.doc_id = a"
        " join sig sb on sb.doc_id = b"
        f" where {ham} <= 3 order by a, b")


def _ngram_jaccard_sql() -> str:
    return (
        f"with sig as ({_minhash_sig_sql()}), "
        + "buckets as ("
        + " union all ".join(
            "select doc_id, {b} as band, md5({cols}) as bucket from sig"
            .format(b=b, cols="||'_'||".join(
                f"cast(mh{i} as varchar)"
                for i in range(b * dedup.BAND_R, (b + 1) * dedup.BAND_R)))
            for b in range(dedup.N_PERM // dedup.BAND_R))
        + "), sized as (select *, count(*) over (partition by band, bucket)"
        " as bucket_size from buckets), ok as (select * from sized where"
        " bucket_size <= 50), cands as (select distinct x.doc_id as a,"
        " y.doc_id as b from ok x join ok y on x.band = y.band and"
        " x.bucket = y.bucket and x.doc_id < y.doc_id),"
        f" sets as (select doc_id, list_distinct(list_transform(range(1,"
        f" greatest(len(string_split({_NORM}, ' ')) - 2, 1) + 1),"
        f" i -> array_to_string(string_split({_NORM}, ' ')[i:i+2], ' ')))"
        " as sh from documents)"
        " select a, b, round(cast(len(list_intersect(sa.sh, sb.sh)) as"
        " double) / len(list_distinct(sa.sh || sb.sh)), 6) as jaccard"
        " from cands join sets sa on sa.doc_id = a join sets sb on"
        " sb.doc_id = b"
        " where cast(len(list_intersect(sa.sh, sb.sh)) as double) /"
        " len(list_distinct(sa.sh || sb.sh)) >= 0.2 order by a, b")


def _chunk_dedup_sql(width: int = 20) -> str:
    """DuckDB twin of ``dedup.chunk_dedup``: same chunking (fixed
    ``width``-word windows over the normalized text), same occurrence rank
    (``doc_id * 2^20 + pos``), same first-occurrence-wins rule, same
    reassembled-text md5 ('' when every chunk was seen earlier)."""
    return (
        # pos comes from a lateral unnest(range(...)); the chunk text is
        # sliced in the OUTER select because duckdb 1.0's binder rejects a
        # correlated column inside a lambda struct literal
        f"with d as (select doc_id, {_NORM} as t from documents),"
        " pc as (select doc_id, cast(u.i as int) as pos,"
        "  array_to_string(string_split(t, ' ')"
        f"   [(u.i*{width}+1):(u.i*{width}+{width})], ' ') as chunk"
        " from d, lateral (select unnest(range(0, cast(ceil("
        f"  len(string_split(t, ' ')) / {width}.0) as bigint))) as i) u),"
        " occ as (select doc_id, pos, chunk, md5(chunk) as h,"
        "  doc_id * 1048576 + pos as rnk from pc),"
        " f as (select h, min(rnk) as first_rnk from occ group by h),"
        " k as (select occ.doc_id, occ.pos, occ.chunk,"
        "  occ.rnk = f.first_rnk as kept from occ join f using (h))"
        " select doc_id, count(*) as n_chunks,"
        " cast(sum(case when kept then 1 else 0 end) as bigint) as n_kept,"
        " round(cast(sum(case when kept then 1 else 0 end) as double)"
        "  / count(*), 6) as kept_ratio,"
        " md5(coalesce(string_agg(chunk, ' ' order by pos)"
        "  filter (where kept), '')) as kept_md5"
        " from k group by doc_id order by doc_id")


def _incremental_sql() -> str:
    """DuckDB twin of ``dedup.incremental_new_docs`` with the catalog's
    even/odd snapshot split."""
    return (
        f"with h as (select doc_id, md5({_NORM}) as text_hash"
        " from documents),"
        " seen as (select distinct text_hash from h where doc_id % 2 = 0)"
        " select doc_id, text_hash from h"
        " where doc_id % 2 = 1"
        " and text_hash not in (select text_hash from seen)"
        " order by doc_id")


def _boilerplate_sql(width: int = 20) -> str:
    """DuckDB twin of ``dedup.boilerplate_by_source`` (same chunking CTE
    as ``_chunk_dedup_sql``)."""
    return (
        f"with d as (select doc_id, source, {_NORM} as t from documents),"
        " pc as (select doc_id, source, array_to_string(string_split(t, ' ')"
        f"  [(u.i*{width}+1):(u.i*{width}+{width})], ' ') as chunk"
        " from d, lateral (select unnest(range(0, cast(ceil("
        f"  len(string_split(t, ' ')) / {width}.0) as bigint))) as i) u),"
        " ph as (select source, md5(chunk) as h, count(*) as n_occ,"
        "  count(distinct doc_id) as n_docs_with"
        "  from pc group by source, md5(chunk))"
        " select source, cast(sum(n_occ) as bigint) as n_chunks,"
        " count(*) as n_distinct_chunks,"
        " cast(sum(case when n_docs_with >= 2 then n_occ else 0 end)"
        "  as bigint) as n_boiler,"
        " round(cast(sum(case when n_docs_with >= 2 then n_occ else 0 end)"
        "  as double) / sum(n_occ), 6) as boiler_ratio"
        " from ph group by source order by source")


def _neardup_clusters_sql() -> str:
    """DuckDB twin of ``dedup.neardup_clusters``: connected components as
    a recursive min-reachable-id CTE over the jaccard-verified pair graph
    (component minimum == min over ids that can reach the node)."""
    return (
        "with recursive jp as (select a, b from ("
        + _ngram_jaccard_sql() + ")), "
        "edges(a, b) as (select a, b from jp union select b, a from jp), "
        "reach(n, r) as ("
        " select a, a from edges"
        " union"
        " select e.b, reach.r from reach join edges e on e.a = reach.n), "
        "canon as (select n as doc_id, min(r) as canon_id from reach"
        " group by n) "
        "select doc_id, canon_id, cast(count(*) over (partition by"
        " canon_id) as bigint) as cluster_size from canon order by doc_id")


def _cluster_reps_sql() -> str:
    """DuckDB twin of ``dedup.neardup_keep_best``: each cluster collapses
    to its longest member (ties → min doc_id); singletons survive."""
    return (
        "with cl as (" + _neardup_clusters_sql() + "), "
        "d as (select doc_id, n_chars from documents), "
        "m as (select cl.canon_id, d.doc_id, d.n_chars from cl"
        " join d on cl.doc_id = d.doc_id), "
        "r as (select canon_id, doc_id, n_chars,"
        " row_number() over (partition by canon_id"
        "  order by n_chars desc, doc_id asc) as rk,"
        " count(*) over (partition by canon_id) as nm from m) "
        "select doc_id as rep_id, n_chars as rep_chars,"
        " cast(nm as bigint) as n_members from r where rk = 1 "
        "union all "
        "select d.doc_id, d.n_chars, cast(1 as bigint) from d"
        " left join cl on d.doc_id = cl.doc_id where cl.doc_id is null "
        "order by rep_id")


def _sized_planes() -> int:
    """Plane count for the sized-SRP oracle: same ``planes_for`` over the
    same footer-metadata count as the Spark entry, taken from the dir the
    oracle will run against (ORACLE_SF_DIR for the local test twin; the
    driver's documented sf0.01 otherwise).  Falls back to the 500-row
    testdata contract when no table is reachable (e.g. import inside a
    cluster submit zip, where the oracle is never executed)."""
    import os
    sf_dir = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")
    try:
        n = similarity.corpus_rows(sf_dir)
    except (OSError, ValueError):
        n = 500
    return similarity.planes_for(n, SIZED_TARGET_BUCKET)


def _srp_bucket_sql(n_planes: int) -> str:
    # same deterministic hyperplanes as operators/similarity.py
    from inclusionreferenceskg_spark.operators.similarity import _hyperplane
    import duckdb  # noqa: F401 (documented dependency of the oracle side)
    dim = 64
    terms = []
    for p in range(n_planes):
        arr = "[" + ",".join(repr(c) for c in _hyperplane(dim, p)) + "]"
        terms.append(f"case when list_dot_product(embedding, {arr}) > 0 "
                     f"then {1 << p} else 0 end")
    return " + ".join(terms)


def _ann_cosine_sql() -> str:
    return (
        "with q as (select vec_id as query_id, embedding as qe from"
        " embeddings where vec_id < 5), scored as (select q.query_id,"
        " e.vec_id, list_dot_product(q.qe, e.embedding) /"
        " (sqrt(list_dot_product(q.qe, q.qe)) *"
        " sqrt(list_dot_product(e.embedding, e.embedding))) as cos"
        " from embeddings e join q on e.vec_id != q.query_id),"
        " ranked as (select query_id, vec_id, cos, row_number() over"
        " (partition by query_id order by cos desc, vec_id asc) as rank"
        " from scored)"
        " select query_id, rank, vec_id, round(cos, 4) as cosine from ranked"
        " where rank <= 10 order by query_id, rank")


def _ann_lsh_sql(n_planes: int = 6) -> str:
    sig = _srp_bucket_sql(n_planes)
    return (
        f"with bucketed as (select vec_id, embedding, {sig} as bucket from"
        " embeddings), q as (select vec_id as query_id, embedding as qe,"
        " bucket from bucketed where vec_id < 5), scored as (select"
        " q.query_id, e.vec_id, list_dot_product(q.qe, e.embedding) /"
        " (sqrt(list_dot_product(q.qe, q.qe)) *"
        " sqrt(list_dot_product(e.embedding, e.embedding))) as cos"
        " from bucketed e join q on e.bucket = q.bucket and"
        " e.vec_id != q.query_id), ranked as (select query_id, vec_id, cos,"
        " row_number() over (partition by query_id order by cos desc,"
        " vec_id asc) as rank from scored)"
        " select query_id, rank, vec_id, round(cos, 4) as cosine from ranked"
        " where rank <= 5 order by query_id, rank")


def _ann_ivf_sql(n_cells: int = 16, n_probe: int = 3, n_queries: int = 5,
                 k: int = 5, max_cell: int = 100_000) -> str:
    """DuckDB twin of ``similarity.ann_ivf_topk``: identical centroid
    sample (smallest md5(vec_id)), argmax-cosine assignment with the same
    (cos desc, cell_id asc) tie-break, multi-probe, in-cell rerank."""
    cos = ("list_dot_product({a}, {b}) /"
           " (sqrt(list_dot_product({a}, {a})) *"
           " sqrt(list_dot_product({b}, {b})))")
    cell_cos = cos.format(a="e.embedding", b="c.c")
    rerank_cos = cos.format(a="p.q", b="a.embedding")
    return (
        "with sampled as (select vec_id, embedding,"
        " md5(cast(vec_id as varchar)) as h from embeddings"
        f" order by h, vec_id limit {n_cells}),"
        " cents as (select row_number() over (order by h, vec_id) - 1"
        " as cell_id, embedding as c from sampled),"
        " scored_all as (select e.vec_id, e.embedding, c.cell_id,"
        f" {cell_cos} as cos,"
        " row_number() over (partition by e.vec_id"
        " order by"
        f" {cell_cos} desc, c.cell_id asc) as rn"
        " from embeddings e cross join cents c),"
        " assigned as (select vec_id, embedding, cell_id from scored_all"
        " where rn = 1"
        f" qualify count(*) over (partition by cell_id) <= {max_cell}),"
        " probes as (select vec_id as query_id, embedding as q, cell_id"
        f" from scored_all where vec_id < {n_queries} and rn <= {n_probe}),"
        " scored as (select p.query_id, a.vec_id,"
        f" {rerank_cos} as cos"
        " from assigned a join probes p on a.cell_id = p.cell_id"
        " and a.vec_id != p.query_id),"
        " ranked as (select query_id, vec_id, cos, row_number() over"
        " (partition by query_id order by cos desc, vec_id asc) as rank"
        " from scored)"
        " select query_id, rank, vec_id, round(cos, 4) as cosine"
        f" from ranked where rank <= {k} order by query_id, rank")


def _emb_neardup_sql() -> str:
    sig = _srp_bucket_sql(6)
    return (
        f"with bucketed as (select vec_id, embedding, {sig} as bucket from"
        " embeddings) select x.vec_id as a, y.vec_id as b,"
        " round(list_dot_product(x.embedding, y.embedding) /"
        " (sqrt(list_dot_product(x.embedding, x.embedding)) *"
        " sqrt(list_dot_product(y.embedding, y.embedding))), 4) as cosine"
        " from bucketed x join bucketed y on x.bucket = y.bucket and"
        " x.vec_id < y.vec_id"
        " where list_dot_product(x.embedding, y.embedding) /"
        " (sqrt(list_dot_product(x.embedding, x.embedding)) *"
        " sqrt(list_dot_product(y.embedding, y.embedding))) >= 0.9"
        " order by a, b")


ORACLES: Dict[str, str] = {
    "q1_pricing_summary": """
        select l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) as sum_qty,
               round(sum(l_extendedprice), 2) as sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2)
                   as sum_disc_price,
               round(avg(l_quantity), 4) as avg_qty,
               count(*) as count_order
        from lineitem
        where l_shipdate <= timestamp '1998-09-01'
        group by l_returnflag, l_linestatus
        order by l_returnflag, l_linestatus""",
    "q3_top_orders": """
        select o_orderkey, c_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue
        from lineitem
        join orders on l_orderkey = o_orderkey
        join customer on o_custkey = c_custkey
        group by o_orderkey, c_name
        order by revenue desc, o_orderkey asc
        limit 10""",
    "q_broadcast_part_join": """
        select p_brand, count(*) as n_items,
               round(sum(l_quantity), 2) as sum_qty
        from lineitem join part on l_partkey = p_partkey
        where p_size <= 10
        group by p_brand order by p_brand""",
    "q_window_latest_event": """
        select user_id, event_id, event_type, cast(floor(epoch(ts)) as bigint) as ts_epoch
        from (select *, row_number() over (partition by user_id
              order by ts desc, event_id desc) as rn from events)
        where rn = 1 order by user_id""",
    "q_sessionize": """
        with g as (select user_id, ts, value,
                   floor(epoch(ts)) - floor(epoch(lag(ts) over (partition by user_id
                       order by ts, event_id))) as gap
                   from events)
        select user_id,
               cast(sum(case when gap is null or gap > 1800 then 1 else 0 end)
                   as bigint) as n_sessions,
               count(*) as n_events,
               round(sum(value), 2) as sum_value
        from g group by user_id order by user_id""",
    "q_rollup_revenue": """
        select l_returnflag, l_linestatus,
               round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue,
               count(*) as n
        from lineitem
        group by rollup(l_returnflag, l_linestatus)
        order by l_returnflag, l_linestatus""",
    "q_events_json": """
        select event_type, count(*) as n,
               cast(sum(cast(json_extract_string(props, '$.k') as int))
                   as bigint) as sum_k,
               max(cast(json_extract_string(props, '$.k') as int)) as max_k
        from events group by event_type order by event_type""",
    "q_topk_orders_per_cust": """
        select o_custkey, o_orderkey, round(o_totalprice, 2) as price, rk
        from (select *, row_number() over (partition by o_custkey
              order by o_totalprice desc, o_orderkey asc) as rk
              from orders)
        where rk <= 3 order by o_custkey, rk""",
    "q_cube_nation_status": """
        select n_name, o_orderstatus, count(*) as n,
               round(sum(o_totalprice), 2) as total
        from orders
        join customer on o_custkey = c_custkey
        join nation on c_nationkey = n_nationkey
        group by cube(n_name, o_orderstatus)
        order by n_name, o_orderstatus""",
    "q_except_inactive_custs": """
        select c_custkey from customer
        except all
        select distinct o_custkey as c_custkey from orders
        order by c_custkey""",
    "q_range_join_events": """
        with bounds as (
          select user_id, min(cast(floor(epoch(ts)) as bigint)) as t0
          from events group by user_id)
        select b.user_id, count(*) as n_first_day
        from events e join bounds b on e.user_id = b.user_id
         and cast(floor(epoch(e.ts)) as bigint) >= b.t0
         and cast(floor(epoch(e.ts)) as bigint) < b.t0 + 86400
        group by b.user_id order by b.user_id""",
    "docs_source_composition": """
        select source, lang, count(*) as n_docs,
               cast(sum(n_chars) as bigint) as total_chars,
               round(avg(length(text)), 2) as avg_len
        from documents group by source, lang order by source, lang""",
    "docs_token_counts": f"""
        select doc_id,
               len(string_split({_NORM}, ' ')) as ws_tokens,
               len(regexp_extract_all(text, '{_WORD}|{_PUNCT}'))
                   as piece_tokens,
               length(text) as chars
        from documents order by doc_id""",
    "docs_quality": f"""
        select doc_id,
               len(regexp_extract_all(text, '{_WORD}')) as n_words,
               len(regexp_extract_all(text, '{_PUNCT}')) as n_puncts,
               len(regexp_extract_all(lower(text), '{_STOP}'))
                   as n_stopwords,
               round(len(regexp_extract_all(text, '{_WORD}')) * 1.0 /
                     greatest(length(text), 1), 6) as word_ratio,
               round(len(regexp_extract_all(text, '{_PUNCT}')) * 1.0 /
                     greatest(len(regexp_extract_all(text, '{_WORD}')), 1),
                     6) as punct_ratio,
               round(len(regexp_extract_all(lower(text), '{_STOP}')) * 1.0 /
                     greatest(len(regexp_extract_all(text, '{_WORD}')), 1),
                     6) as stop_ratio,
               round(least(length(text) / 2000.0, 1.0) * 0.4 +
                     least((len(regexp_extract_all(lower(text), '{_STOP}'))
                            * 1.0 / greatest(len(regexp_extract_all(text,
                            '{_WORD}')), 1)) * 4.0, 1.0) * 0.4 +
                     (1.0 - least(len(regexp_extract_all(text, '{_PUNCT}'))
                            * 1.0 / greatest(len(regexp_extract_all(text,
                            '{_WORD}')), 1), 1.0)) * 0.2, 6)
                   as quality_score
        from documents order by doc_id""",
    "docs_fingerprints": f"""
        select doc_id, md5({_NORM}) as fp_md5,
               {_H64.format(x=_NORM)} as fp_h64
        from documents order by doc_id""",
    "docs_ngram_topk": f"""
        with g as (
          select array_to_string(
                   string_split({_NORM}, ' ')[ix.i:ix.i+1], ' ') as ngram
          from documents, lateral (
            select unnest(range(1, greatest(
              len(string_split({_NORM}, ' ')) - 1, 1) + 1)) as i) ix
          where text is not null)
        select ngram, count(*) as n_occurrences
        from g group by ngram
        order by n_occurrences desc, ngram limit 20""",
    "docs_tfidf_topk": """
        with words as (
          select doc_id,
                 unnest(regexp_extract_all(lower(text), '[a-z]{3,}'))
                     as term
          from documents where text is not null),
        tf as (select doc_id, term, count(*) as tf
               from words group by 1, 2),
        dfreq as (select term, count(*) as df from tf group by 1),
        ranked as (
          select tf.doc_id, tf.term, tf.tf, dfreq.df,
                 row_number() over (partition by tf.doc_id
                   order by tf.tf desc, dfreq.df asc, tf.term asc) as rk
          from tf join dfreq using (term))
        select doc_id, term, tf, df, rk from ranked
        where rk <= 3 order by doc_id, rk""",
    "docs_length_histogram": """
        select cast(floor(length(text) / 500) as bigint) as bucket,
               cast(floor(length(text) / 500) * 500 as bigint) as bucket_lo,
               count(*) as n_docs,
               cast(min(length(text)) as int) as min_len,
               cast(max(length(text)) as int) as max_len
        from documents group by 1, 2 order by bucket""",
    "dedup_exact": f"""
        select md5({_NORM}) as text_hash, min(doc_id) as keep_doc_id,
               count(*) as n_copies
        from documents group by 1 order by text_hash""",
    "dedup_keep_best": f"""
        with n as (select doc_id, n_chars, md5({_NORM}) as h from documents),
        r as (select h, doc_id, n_chars,
              row_number() over (partition by h
                  order by n_chars desc, doc_id asc) as rk from n),
        g as (select h, count(*) as group_size from n group by h)
        select r.doc_id as keep_doc_id, r.n_chars, g.group_size
        from r join g on r.h = g.h
        where r.rk = 1 order by keep_doc_id""",
    "q_rolling_7d_revenue": """
        with daily as (
          select date_trunc('day', o_orderdate) as day,
                 cast(sum(cast(round(o_totalprice * 100) as bigint))
                     as bigint) as day_rev_cents
          from orders group by 1)
        select cast(floor(epoch(day)) as bigint) as day_epoch,
               day_rev_cents,
               cast(sum(day_rev_cents) over (order by day
                    range between interval 6 days preceding
                    and current row) as bigint) as rev_7d_cents
        from daily order by day_epoch""",
    "q_salted_join_type_stats": """
        with stats as (
          select event_type, round(avg(value), 6) as type_avg
          from events group by event_type)
        select e.event_type, count(*) as n,
               cast(sum(case when e.value > s.type_avg then 1 else 0 end)
                   as bigint) as n_above_avg
        from events e join stats s using (event_type)
        group by e.event_type order by e.event_type""",
    "q_funnel_conversion": """
        with v as (select user_id, min(ts) as t_view from events
                   where event_type = 'view' group by user_id),
        c as (select e.user_id, min(e.ts) as t_click from events e
              join v on e.user_id = v.user_id
              where e.event_type = 'click' and e.ts >= v.t_view
              group by e.user_id),
        p as (select e.user_id, min(e.ts) as t_buy from events e
              join c on e.user_id = c.user_id
              where e.event_type = 'purchase' and e.ts >= c.t_click
              group by e.user_id)
        select (select count(*) from v) as n_viewed,
               (select count(*) from c) as n_clicked,
               (select count(*) from p) as n_purchased,
               round((select count(*) from c)
                   / nullif((select count(*) from v), 0), 4) as view_to_click,
               round((select count(*) from p)
                   / nullif((select count(*) from c), 0), 4) as click_to_buy""",
    "dedup_minhash_signatures":
        _minhash_sig_sql() + " order by doc_id",
    "dedup_minhash_pairs": _minhash_pairs_sql(),
    "dedup_simhash": _simhash_sql(),
    "dedup_simhash_pairs": _simhash_pairs_sql(),
    "dedup_ngram_jaccard": _ngram_jaccard_sql(),
    "dedup_clusters": _neardup_clusters_sql(),
    "dedup_cluster_reps": _cluster_reps_sql(),
    "dedup_chunks": _chunk_dedup_sql(),
    "docs_boilerplate_by_source": _boilerplate_sql(),
    "dedup_incremental": _incremental_sql(),
    "ann_cosine_topk": _ann_cosine_sql(),
    "ann_lsh_topk": _ann_lsh_sql(),
    "ann_lsh_topk_sized": _ann_lsh_sql(_sized_planes()),
    "ann_ivf_topk": _ann_ivf_sql(),
    "emb_neardup_pairs": _emb_neardup_sql(),
    "multimodal_image_meta": """
        with p as (select cast(doc_id as varchar) as url,
                          sha256(coalesce(text, '')) as digest,
                          cast(octet_length(encode(coalesce(text, '')))
                              as int) as n_bytes
                   from documents)
        select url, n_bytes, digest as sha256,
               cast(64 + ('0x' || substr(digest, 1, 2))::int as int) as width,
               cast(64 + ('0x' || substr(digest, 3, 2))::int as int) as height
        from p order by url""",
    "multimodal_frame_sample": """
        with p as (select cast(doc_id as varchar) as url,
                          sha256(coalesce(text, '')) as digest,
                          cast(octet_length(encode(coalesce(text, '')))
                              as int) as n_bytes
                   from documents),
             probed as (select url, n_bytes, digest,
                    cast(1000 + ('0x' || substr(digest, 1, 4))::int
                        as int) as duration_ms,
                    cast(320 + ('0x' || substr(digest, 5, 2))::int
                        as int) as width,
                    cast(240 + ('0x' || substr(digest, 7, 2))::int
                        as int) as height
                    from p)
        select url, n_bytes, duration_ms, width, height,
               cast(f.i as int) as frame_idx,
               cast(f.i * duration_ms // 4 as int) as ts_ms,
               sha256(digest || ':' || cast(f.i as varchar)) as frame_sha256
        from probed cross join (select unnest(generate_series(0, 3)) as i) f
        order by url, frame_idx""",
    "multimodal_audio_chunks": """
        with p as (select cast(doc_id as varchar) as url,
                          sha256(coalesce(text, '')) as digest,
                          cast(octet_length(encode(coalesce(text, '')))
                              as int) as n_bytes
                   from documents),
             probed as (select url, n_bytes, digest,
                    cast(8000 * (1 + ('0x' || substr(digest, 9, 1))::int % 4)
                        as int) as sample_rate,
                    cast(500 + ('0x' || substr(digest, 10, 4))::int
                        as int) as duration_ms
                    from p)
        select url, n_bytes, sample_rate, duration_ms,
               cast(c.i as int) as chunk_idx,
               cast(c.i * 1000 as int) as start_ms,
               cast(least((c.i + 1) * 1000, duration_ms) as int) as end_ms,
               sha256(digest || '#' || cast(c.i as varchar)) as chunk_sha256
        from probed cross join lateral
             (select unnest(generate_series(
                  0, cast(ceil(duration_ms / 1000.0) as int) - 1)) as i) c
        order by url, chunk_idx""",
}


def _lang_id_sql() -> str:
    from inclusionreferenceskg_spark.operators.textstats import LANG_MARKERS
    counts = {
        lang: f"len(regexp_extract_all(lower(text), '{rx}'))"
        for lang, rx in LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(counts.values()) + ")"
    whens = " ".join(
        f"when {counts[lang]} = {best} then '{lang}'"
        for lang in sorted(LANG_MARKERS))
    cols = ", ".join(
        f"{counts[lang]} as n_{lang}" for lang in sorted(LANG_MARKERS))
    return (f"select doc_id, {cols}, case when {best} <= 0 then 'und' "
            f"{whens} end as lang_guess from documents order by doc_id")


ORACLES["docs_lang_id"] = _lang_id_sql()

ORACLES["corpus_curated"] = (
    "with lang as (select doc_id, lang_guess from (" + _lang_id_sql()
    + ")), qual as (select doc_id, quality_score from ("
    + ORACLES["docs_quality"] + ")), "
    f"keep as (select min(doc_id) as doc_id from documents "
    f"group by md5({_NORM})), "
    "clus as (select doc_id, canon_id from ("
    + _neardup_clusters_sql() + ")) "
    "select d.doc_id, lang.lang_guess, qual.quality_score "
    "from documents d join lang using(doc_id) join qual using(doc_id) "
    "left join clus on clus.doc_id = d.doc_id "
    "where lang.lang_guess = 'en' and qual.quality_score >= 0.5 "
    "and d.doc_id in (select doc_id from keep) "
    "and (clus.doc_id is null or clus.canon_id = d.doc_id) "
    "order by d.doc_id")

# the staged funnel must produce byte-identical rows to the inline one —
# one oracle, two physical plans (recompute vs stage-table scans)
ORACLES["corpus_curated_staged"] = ORACLES["corpus_curated"]

# curation twins (patterns interpolated from operators/curation.py so both
# engines compile the byte-identical RE2-compatible regex)
ORACLES["docs_pii"] = f"""
    select doc_id,
           len(regexp_extract_all(text, '{curation.EMAIL_RE}')) as n_emails,
           len(regexp_extract_all(
               regexp_replace(
                   regexp_replace(text, '{curation.EMAIL_RE}', '<EMAIL>',
                                  'g'),
                   '{curation.IPV4_RE}', '<IP>', 'g'),
               '{curation.PHONE_RE}')) as n_phones,
           len(regexp_extract_all(text, '{curation.IPV4_RE}')) as n_ipv4,
           cast((n_emails + n_phones + n_ipv4) > 0 as int) as has_pii,
           md5(regexp_replace(regexp_replace(regexp_replace(
               text, '{curation.EMAIL_RE}', '<EMAIL>', 'g'),
               '{curation.IPV4_RE}', '<IP>', 'g'),
               '{curation.PHONE_RE}', '<PHONE>', 'g')) as redacted_md5
    from documents order by doc_id"""

ORACLES["docs_gopher_quality"] = f"""
    with l as (
      select doc_id,
             list_filter(string_split(text, chr(10)),
                         x -> trim(x) <> '') as lines,
             len(regexp_extract_all(text, '{_WORD}')) as n_words,
             length(regexp_replace(text, '[^A-Za-z0-9_]', '', 'g'))
                 as word_chars
      from documents)
    select doc_id, n_words,
           round(word_chars * 1.0 / greatest(n_words, 1), 6)
               as mean_word_len,
           case when len(lines) <= 0 then 0.0
                else round(1.0 - len(list_distinct(lines)) * 1.0
                           / len(lines), 6) end as dup_line_frac,
           case when len(lines) <= 0 then 0.0
                else round(len(list_filter(lines, x -> x like '%...'))
                           * 1.0 / len(lines), 6) end as ellipsis_line_frac,
           cast(n_words >= 50 and n_words <= 100000
                and mean_word_len >= 3.0 and mean_word_len <= 10.0
                and dup_line_frac <= 0.3 as int) as gopher_keep
    from l order by doc_id"""

_DECON_K = curation.DECONTAM_N - 1
ORACLES["docs_decontaminate"] = f"""
    with w as (
      select doc_id, string_split({_NORM}, ' ') as wds
      from documents where text is not null),
    g as (
      select doc_id, doc_id % {curation.DECONTAM_MOD} = 0 as bench,
             gs.g as gram
      from w, lateral (
        select distinct unnest(list_transform(
          range(1, greatest(len(wds) - {_DECON_K}, 1) + 1),
          i -> {_H64.format(x=f"array_to_string(wds[i:i+{_DECON_K}], ' ')")}
        )) as g) gs),
    b as (select distinct gram from g where bench)
    select g.doc_id, count(*) as n_hit_grams
    from g join b using (gram) where not g.bench
    group by g.doc_id order by g.doc_id"""

ORACLES["q_pivot_status_by_nation"] = """
    select n_name,
           cast(sum(case when o_orderstatus = 'F' then 1 else 0 end)
               as bigint) as n_f,
           cast(sum(case when o_orderstatus = 'O' then 1 else 0 end)
               as bigint) as n_o,
           cast(sum(case when o_orderstatus = 'P' then 1 else 0 end)
               as bigint) as n_p
    from orders
    join customer on o_custkey = c_custkey
    join nation on c_nationkey = n_nationkey
    group by n_name order by n_name"""

ORACLES["q_percentile_prices"] = """
    select o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 2) as p50,
           round(quantile_cont(o_totalprice, 0.9), 2) as p90,
           count(*) as n
    from orders group by o_orderpriority order by o_orderpriority"""

ORACLES["q_semijoin_active_custs"] = """
    select n_name, count(*) as n_active
    from customer
    join nation on c_nationkey = n_nationkey
    where exists (select 1 from orders where o_custkey = c_custkey)
    group by n_name order by n_name"""

ORACLES["q_suppliers_by_region"] = """
    select r_name, count(*) as n_suppliers,
           count(distinct n_nationkey) as n_nations,
           round(avg(s_acctbal), 2) as avg_acctbal
    from supplier
    join nation on s_nationkey = n_nationkey
    join region on n_regionkey = r_regionkey
    group by r_name order by r_name"""

ORACLES["q_asof_attribution"] = """
    with p as (select event_id, user_id,
                      cast(floor(epoch(ts)) as bigint) as te
               from events where event_type = 'purchase'),
         v as (select user_id, cast(floor(epoch(ts)) as bigint) as te
               from events where event_type = 'view')
    select p.event_id, p.user_id, p.te as purchase_ts,
           v.te as last_view_ts, p.te - v.te as gap_s
    from p asof left join v
      on p.user_id = v.user_id and v.te <= p.te
    order by p.event_id"""

ORACLES["docs_stratified_sample"] = """
    select doc_id, source, lang, rk from (
      select doc_id, source, lang,
             row_number() over (partition by source, lang
               order by md5(cast(doc_id as varchar)), doc_id) as rk
      from documents) t
    where rk <= 3 order by source, lang, rk"""


# ----------------------------------------------------- graph-analytics oracles
# The edge CTE is the DuckDB twin of graph.link_edges (shared hash64
# arithmetic, byte-identical md5 strings); PageRank is integer-scaled so
# per-node sums are order-independent and hash-exact across engines.

_EDGES = graph_ops.edges_sql()

ORACLES["graph_edges"] = f"""
    with e as ({_EDGES})
    select src, dst from e order by src, dst"""

ORACLES["graph_degrees"] = f"""
    with e as ({_EDGES}),
    od as (select src as node, count(*) as out_deg from e group by src),
    idg as (select dst as node, count(*) as in_deg from e group by dst)
    select d.doc_id as node,
           coalesce(od.out_deg, 0) as out_deg,
           coalesce(idg.in_deg, 0) as in_deg
    from documents d
    left join od on od.node = d.doc_id
    left join idg on idg.node = d.doc_id
    order by node"""

ORACLES["graph_khop"] = f"""
    with recursive e as ({_EDGES}),
    r(node, dist) as (
      select doc_id, 0 from documents
      where doc_id % {graph_ops.KHOP_SEED_MOD} = 0
      union
      select e.dst, r.dist + 1 from r join e on e.src = r.node
      where r.dist < 3)
    select node, min(dist) as dist from r group by node order by node"""


def _pagerank_sql(iters: int = 5, edges: str = None,
                  nodes: str = "select doc_id as node from documents"
                  ) -> str:
    """DuckDB twin of graph.pagerank: chained CTEs, one per iteration,
    bigint arithmetic identical to the Spark plan.  ``edges`` yields
    (src, dst), ``nodes`` yields (node) — id-type generic like the Spark
    operator, so the same twin serves the synthetic-hash graph and the
    href graph."""
    scale, num, den = (graph_ops.PR_SCALE, graph_ops.PR_DAMP_NUM,
                       graph_ops.PR_DAMP_DEN)
    parts = [f"""
    with e0 as ({edges if edges is not None else _EDGES}),
    deg as (select src, count(*) as out_deg from e0 group by src),
    ed as (select e0.src, e0.dst, deg.out_deg
           from e0 join deg on deg.src = e0.src),
    nd as ({nodes}),
    n as (select count(*) as n_docs from nd),
    r0 as (select d.node, ({scale} // n.n_docs) as rank
           from nd d cross join n)"""]
    for i in range(1, iters + 1):
        parts.append(f""",
    r{i} as (
      select d.node,
             (({scale} * {den - num}) // ({den} * n.n_docs))
             + coalesce(c.contrib, 0) as rank
      from nd d cross join n
      left join (
        select ed.dst,
               sum((r{i - 1}.rank * {num}) // ({den} * ed.out_deg))
                 as contrib
        from r{i - 1} join ed on ed.src = r{i - 1}.node
        group by ed.dst) c on c.dst = d.node)""")
    parts.append(f"""
    select node, cast(rank as bigint) as rank from r{iters} order by node""")
    return "".join(parts)


ORACLES["graph_pagerank"] = _pagerank_sql()


def _links_oracle_ctes(lim: int) -> tuple:
    """DuckDB twin of the href graph the Spark side EXTRACTS from html:
    the nav-block generator (synth.page_out_links / synth._page_row)
    emits links to (doc_id*31 + 7 + 11*k) % n for k < HTML_FANOUT, self
    dropped, urls doc_url(t) — recomputed here arithmetically so the
    oracle is independent of the html parsing under test.  ``lim`` is
    the doc limit _kg_pages applies."""
    ks = ", ".join(str(k) for k in range(synth.HTML_FANOUT))
    url = "'https://synth.example/reg/' || cast({x} as varchar)"
    docs = f"(select doc_id from documents where doc_id < {lim})"
    n = f"(select count(*) as n from documents where doc_id < {lim})"
    tgt = "(d.doc_id * 31 + 7 + 11 * k.k) % lim.n"
    edges = (f"select distinct {url.format(x='d.doc_id')} as src, "
             f"{url.format(x=tgt)} as dst "
             f"from {docs} d cross join {n} lim "
             f"cross join (select unnest([{ks}]) as k) k "
             f"where {tgt} != d.doc_id")
    nodes = (f"select {url.format(x='doc_id')} as node "
             f"from documents where doc_id < {lim}")
    return edges, nodes


_LINK_EDGES, _LINK_NODES = _links_oracle_ctes(_kg_doc_limit())

ORACLES["graph_links_degrees"] = f"""
    with e as ({_LINK_EDGES}),
    nd as ({_LINK_NODES}),
    od as (select src as node, count(*) as out_deg from e group by src),
    idg as (select dst as node, count(*) as in_deg from e group by dst)
    select nd.node as node,
           coalesce(od.out_deg, 0) as out_deg,
           coalesce(idg.in_deg, 0) as in_deg
    from nd
    left join od on od.node = nd.node
    left join idg on idg.node = nd.node
    order by nd.node"""

ORACLES["graph_links_pagerank"] = _pagerank_sql(
    edges=_LINK_EDGES, nodes=_LINK_NODES)


def _citation_edges_py(n_docs: int) -> list:
    """Twin of the resolved cross-document citation graph, independent of
    the parse/detect/resolve pipeline under test: replay the page
    GENERATOR (synth.make_doc_text) and regex-extract its cross-document
    title references — the same recompute-from-the-generator principle as
    ``_links_oracle_ctes``, just via the generator's Python instead of
    closed-form arithmetic (the kind-3 draw sites are rng-chosen).

    The rng draw SEQUENCE is filler-independent once the filler has >= 8
    words: the only filler-coupled draw is ``randrange(0, min(8, len(
    filler_words)))``, which consumes exactly one getrandbits(3) when the
    bound is 8 (a power of two - no rejection resampling).  TESTDATA
    guarantees >= 10 words per document text, so an 8-word dummy filler
    replays the production draws exactly; tests/test_kg_citations.py
    pins twin == pipeline edge-for-edge.
    """
    import re
    filler = "w0 w1 w2 w3 w4 w5 w6 w7"
    pat = re.compile(r"of Regulation \(EU\) No (\d+)/2016")
    edges = set()
    for doc_id in range(n_docs):
        text = synth.make_doc_text(doc_id, n_docs, filler=filler, seed=42)
        for m in pat.finditer(text):
            other = int(m.group(1)) - 1
            if other != doc_id:
                edges.add((synth.doc_url(doc_id), synth.doc_url(other)))
    return sorted(edges)


def _ensure_citation_oracles() -> None:
    """Populate the three kg citation-analytics oracles on first use.

    Built lazily, NOT at import: the edge twin replays the generator for
    every doc under the KG doc limit, and bench imports this module with
    SPARK_GRAFT_KG_DOCS at 20k-320k where an import-time replay would
    cost minutes.  Correctness gates (driver + local twin) run at the
    default limit; above 2000 docs the entries degrade to rows-only,
    matching the other pipeline-output kg_* entries.
    """
    if "kg_citation_authority" in ORACLES:
        return
    lim = _kg_doc_limit()
    if lim > 2000:
        return
    edges = _citation_edges_py(lim)
    if not edges:
        return
    vals = ", ".join(f"('{s}', '{d}')" for s, d in edges)
    cite_edges = f"select * from (values {vals}) as _ce(src, dst)"
    # nodes from the same captured limit as the edges: the import-time
    # _LINK_NODES would lag a SPARK_GRAFT_KG_DOCS set after import
    _, nodes = _links_oracle_ctes(lim)
    ORACLES["kg_citation_authority"] = _pagerank_sql(
        edges=cite_edges, nodes=nodes)
    ORACLES["kg_communities"] = (
        f"with e as ({cite_edges}),"
        + graph_ops.label_propagation_sql(iters=4, nodes=nodes)
        + " order by node")
    ORACLES["kg_cocitation"] = f"""
        with e as ({cite_edges})
        select l.dst as a, r.dst as b,
               count(distinct l.src) as n_cociting
        from e l join e r on l.src = r.src and l.dst < r.dst
        group by a, b
        order by n_cociting desc, a, b"""

ORACLES["graph_triangles"] = f"""
    with e as ({_EDGES}),
    c as (select distinct least(src, dst) as u, greatest(src, dst) as v
          from e)
    select count(*) as n_triangles
    from c e1
    join c e2 on e2.u = e1.v
    join c e3 on e3.u = e1.u and e3.v = e2.v"""

# the triangle count is orientation-invariant: the degree-oriented plan
# (skew-safe on power-law graphs) must produce the identical number
ORACLES["graph_triangles_skewaware"] = ORACLES["graph_triangles"]

ORACLES["graph_wcc"] = f"""
    with recursive e as ({_EDGES}),
    ed(a, b) as (select src, dst from e union select dst, src from e),
    reach(n, r) as (
      select a, a from ed
      union
      select ed.b, reach.r from reach join ed on ed.a = reach.n),
    canon as (select n as node, min(r) as component from reach group by n)
    select node, component,
           cast(count(*) over (partition by component) as bigint)
             as component_size
    from canon order by node"""

ORACLES["graph_communities"] = f"""
    with e as ({_EDGES}),{graph_ops.label_propagation_sql(iters=4)}
    order by node"""

ORACLES["graph_sssp"] = f"""
    with recursive e as ({_EDGES}),
    ew as ({graph_ops.weighted_edges_sql()}),
    r(node, dist, hops) as (
      select doc_id, cast(0 as bigint), 0 from documents
      where doc_id % {graph_ops.SSSP_SEED_MOD} = 0
      union
      select ew.dst, r.dist + ew.w, r.hops + 1
      from r join ew on ew.src = r.node
      where r.hops < {graph_ops.SSSP_MAX_HOPS})
    select node, min(dist) as dist from r group by node order by node"""


# -------------------------------------------- packing / indexing oracles

ORACLES["docs_pack_shards"] = f"""
    select doc_id, source, n_tokens,
           cast(coalesce(sum(n_tokens) over (partition by source
             order by doc_id rows between unbounded preceding and
             1 preceding), 0) // 512 as bigint)
             as shard_id
    from (select doc_id, source,
                 len(regexp_extract_all(text, '{_WORD}')) as n_tokens
          from documents)
    order by source, doc_id"""

ORACLES["docs_pack_shards_global"] = f"""
    select doc_id, n_tokens,
           cast(coalesce(sum(n_tokens) over (order by doc_id
             rows between unbounded preceding and 1 preceding), 0) // 512
             as bigint) as shard_id
    from (select doc_id,
                 len(regexp_extract_all(text, '{_WORD}')) as n_tokens
          from documents)
    order by doc_id"""

ORACLES["docs_inverted_index"] = """
    with words as (
      select doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z]{3,}')) as term
      from documents where text is not null),
    tf as (select term, doc_id, count(*) as tf
           from words group by term, doc_id),
    top as (select * from (
              select term, doc_id, tf,
                     row_number() over (partition by term
                       order by tf desc, doc_id) as rk
              from tf) where rk <= 5),
    dfreq as (select term, count(*) as df from tf group by term)
    select t.term, d.df,
           string_agg(cast(t.doc_id as varchar), ',' order by t.rk)
             as postings
    from top t join dfreq d using (term)
    where d.df >= 2
    group by t.term, d.df
    order by term"""
