"""html_to_text (S1), gold-standard detection (D3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from inclusionreferenceskg_spark import synth
from inclusionreferenceskg_spark.operators.detect import detect_gold_mentions
from inclusionreferenceskg_spark.operators.multimodal import html_to_text
from inclusionreferenceskg_spark.operators.parse import parse_pages


def test_html_to_text(spark):
    pages = spark.createDataFrame(
        [("u://1", bytearray(b"<html><script>x=1</script>"
                             b"<body><p>Hello  world</p></body></html>"))],
        "url string, html binary")
    row = html_to_text(pages).first()
    assert row["extracted_text"] == "Hello world"


def test_gold_detection_greedy_in_order(spark):
    pages = synth.synthesize_pages(spark, 2)
    nodes = parse_pages(pages).cache()
    # use the regex-detected mentions of one doc as the "gold" list
    from inclusionreferenceskg_spark.operators.detect import detect_mentions
    gold_src = (detect_mentions(nodes)
                .orderBy("url", "seq", "mention_idx"))
    gold = gold_src.select(
        "url",
        F.row_number().over(
            __import__("pyspark.sql.window", fromlist=["Window"]).Window
            .partitionBy("url").orderBy("seq", "mention_idx")).alias("seq"),
        "text")
    got = detect_gold_mentions(nodes, gold)
    # greedy in-order find over the same document recovers every mention
    assert got.count() == gold.count()
    assert got.groupBy("url").count().count() == 2


def test_neardup_clusters_distributed_matches_driver(spark, monkeypatch):
    """The distributed min-label/pointer-doubling CC path must agree with
    the whole-graph driver union-find on (doc_id, canon_id, cluster_size)."""
    from inclusionreferenceskg_spark.operators import dedup, kg

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    drv = dedup.neardup_clusters(docs, threshold=0.2).collect()
    monkeypatch.setattr(kg, "DRIVER_CUTOFF", 0)
    dist = dedup.neardup_clusters(docs, threshold=0.2).collect()
    key = lambda r: (r.doc_id, r.canon_id, r.cluster_size)  # noqa: E731
    assert sorted(map(key, drv)) == sorted(map(key, dist))
    assert len(drv) > 0

def test_ivf_partition_and_full_probe_exactness(spark):
    """IVF invariants: every vector lands in exactly one cell, and probing
    ALL cells recovers the brute-force ranking exactly (multi-probe never
    duplicates candidates because assignment is a partition)."""
    from inclusionreferenceskg_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    cents = similarity.ivf_centroids(emb, 8)
    assigned = similarity.ivf_assign(emb, cents)
    assert assigned.count() == n
    assert assigned.select("vec_id").distinct().count() == n
    assert assigned.select("cell_id").distinct().count() <= 8

    exact = similarity.cosine_topk(emb, n_queries=3, k=5).collect()
    full_probe = similarity.ann_ivf_topk(
        emb, n_queries=3, k=5, n_cells=8, n_probe=8).collect()
    assert sorted(map(tuple, full_probe)) == sorted(map(tuple, exact))


def test_keep_best_canonical_semantics(spark):
    from inclusionreferenceskg_spark.operators.dedup import (
        keep_best_canonical)
    docs = spark.createDataFrame(
        [  # group A: 3 copies, longest wins
            (1, "same Text", 9),
            (2, "same  text", 42),
            (3, "SAME TEXT", 42),   # tie on n_chars -> min doc_id (2)
            (4, "unique", 6),
        ],
        "doc_id long, text string, n_chars long")
    rows = {r["keep_doc_id"]: (r["n_chars"], r["group_size"])
            for r in keep_best_canonical(docs).collect()}
    assert rows == {2: (42, 3), 4: (6, 1)}


def test_funnel_conversion_semantics(spark, tmp_path):
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    s = lambda k: base + dt.timedelta(seconds=k)
    ev = spark.createDataFrame(
        [  # user 1 full funnel; user 2 clicks BEFORE viewing (no convert);
           # user 3 views only
            (0, s(0), 1, "view", 0.0, "{}"),
            (1, s(5), 1, "click", 0.0, "{}"),
            (2, s(9), 1, "purchase", 0.0, "{}"),
            (3, s(0), 2, "click", 0.0, "{}"),
            (4, s(5), 2, "view", 0.0, "{}"),
            (5, s(1), 3, "view", 0.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string")
    p = str(tmp_path / "events.parquet")
    ev.coalesce(1).write.parquet(p)
    from inclusionreferenceskg_spark import queries as q
    import os
    # point the loader at the temp dir by writing the expected layout
    d = str(tmp_path)
    os.rename(p, os.path.join(d, "events.parquet.dir"))
    os.rename(os.path.join(d, "events.parquet.dir"), os.path.join(d, "events.parquet"))
    row = q.q_funnel_conversion(spark, d).first()
    assert (row["n_viewed"], row["n_clicked"], row["n_purchased"]) \
        == (3, 1, 1)


def test_neardup_keep_best_prefers_longest_not_min_id(spark):
    """The cluster representative is the LONGEST member, not the min-id
    canon label, and singletons survive as themselves."""
    from inclusionreferenceskg_spark.operators import dedup

    near = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    docs = spark.createDataFrame(
        [(1, near, 50),
         (2, near + " extra", 56),       # same cluster, longer, higher id
         (9, "totally different words with no overlap at all here", 51)],
        "doc_id long, text string, n_chars long")
    rows = sorted(
        (r.rep_id, r.rep_chars, r.n_members)
        for r in dedup.neardup_keep_best(docs, threshold=0.5).collect())
    assert rows == [(2, 56, 2), (9, 51, 1)]
