"""Stage D/E — graph extraction, entity linking, connected components,
canonical rewrite, triple export.

Dataflow (SURVEY §3.1):

    nodes ⋈ resolved-mentions ──mapInPandas[document_graph]──►
        per url: kg nodes (+ local canonical id), final edges (+ display
        strings), cross-document L3 candidates       (one pass, wide rows)
    cross-document L3 candidates ⋈ nodes(path-prefix) ⋈ kg nodes
        ──► merge pairs over local canonical ids     (entity_link_pairs)
    merge pairs ──pair_components──► quotient labels (connected_components)
    affected documents' edges ⋈ labels ──relabel + dedup──► final graph
                                                     (apply_merges)
    final graph ──re-display relabelled ids──► (subject, relation, object)
                                                     (make_triples)

Every linker keys on the document except an L3 candidate whose target is
in another document, and edge dedup keys on ``(url, src, dst)``.  So the
per-document pass (``kgbuild.document_graph``, one Python call per url
inside the url-sorted ``mapInPandas``) links, merges, rewrites, dedups and
displays each document on its own, and the Spark tail only handles the
cross-document L3 case.  Without such candidates it costs one emptiness
probe; with them, only the documents the cross-document components touch
are relabelled (canonical = min id of the component = min over the local
minima) and re-deduplicated (last write = max over the per-document
maxima of ``emit_seq``).

Connected components: this module holds the package's one CC engine,
``pair_components`` — the union-find (``kgbuild.union_find``) on the
driver while the pair list fits under ``DRIVER_CUTOFF``, else one
distributed loop (min-label pointer doubling until no label changes).
``connected_components`` labels the KG's cross-document quotient with
it; ``dedup.neardup_clusters`` and ``graph.wcc`` call the engine
directly.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

from inclusionreferenceskg_spark.functions.kgbuild import (
    document_graph,
    node_mentions,
    union_find,
)


def _jobdesc(desc: str) -> None:
    """Label the jobs the next blocking action spawns (Spark UI / REST
    attribution for the scaling-tail profile; no plan effect)."""
    from pyspark.sql import SparkSession
    s = SparkSession.getActiveSession()
    if s is not None:
        s.sparkContext.setJobDescription(desc)


GRAPH_ROWS = T.StructType([
    T.StructField("row_kind", T.StringType(), False),   # node|edge|l3
    T.StructField("url", T.StringType(), False),
    T.StructField("node_id", T.StringType()),
    T.StructField("kg_id", T.StringType()),
    T.StructField("kind", T.StringType()),
    T.StructField("token_key", T.StringType()),
    T.StructField("token_i", T.IntegerType()),
    T.StructField("token_text", T.StringType()),
    T.StructField("lemma", T.StringType()),
    T.StructField("tag", T.StringType()),
    T.StructField("pos", T.StringType()),
    T.StructField("negated", T.BooleanType()),
    T.StructField("para_key", T.StringType()),
    T.StructField("coref_lemma", T.StringType()),
    T.StructField("coref_tag", T.StringType()),
    T.StructField("propn_key", T.StringType()),
    T.StructField("lemma_set_key", T.StringType()),
    # node rows: document-local canonical id; l3 rows: the source's
    T.StructField("canon_id", T.StringType()),
    T.StructField("src", T.StringType()),
    T.StructField("dst", T.StringType()),
    T.StructField("label", T.StringType()),
    T.StructField("attrs", T.MapType(T.StringType(), T.StringType())),
    T.StructField("emit_seq", T.IntegerType()),
    T.StructField("subject", T.StringType()),
    T.StructField("object", T.StringType()),
    T.StructField("src_kg_id", T.StringType()),
    T.StructField("target_node_id", T.StringType()),
    T.StructField("target_url", T.StringType()),
])

_COLS = [f.name for f in GRAPH_ROWS.fields]


def node_display() -> F.Column:
    """Display string of a document node from its ``node_type``/``number``/
    ``title`` columns, matching ``ImmutableNodeView.__str__``
    (node.py:134-135); the twin of ``kgbuild.node_display``."""
    return F.concat(
        F.col("node_type"), F.lit(" "),
        F.coalesce(F.col("number").cast("string"), F.lit("None")),
        F.when(F.col("title").isNotNull() & (F.col("title") != ""),
               F.concat(F.lit(": "), F.col("title"))).otherwise(F.lit("")))


def extract_graph(nodes: DataFrame, resolved: DataFrame,
                  include_extensions: bool = False) -> DataFrame:
    """nodes + resolved mentions -> wide graph rows, each document's graph
    final up to cross-document L3 merges (``kgbuild.document_graph``).

    Per url because the reference analyzes the whole document's
    concatenated text at once — sentences and coreference span node
    boundaries (``nlp_doc``, kg_renderer.py:129-181).  One shuffle on url;
    group size is bounded by a single page's node count.
    """
    targets = (resolved
               .groupBy("url", "node_id")
               .agg(F.collect_list(F.struct("mention_idx", "qual_idx",
                                            "start", "text",
                                            "target_node_id", "target_url",
                                            "target_display"))
                    .alias("mention_targets")))
    src = (nodes.select("url", "node_id", "seq", "content", "para_key",
                        "parent_id", "path")
           .join(targets, ["url", "node_id"], "left"))

    # mapInPandas over url-partitioned, (url, seq)-sorted batches instead
    # of groupBy().applyInPandas: one Arrow stream per PARTITION rather
    # than one pandas round-trip per PAGE (tens of thousands of tiny
    # groups), with documents carried over across batch boundaries.  Same
    # per-document semantics; far less per-group overhead.
    spark = nodes.sparkSession
    npart = max(spark.sparkContext.defaultParallelism * 2, 8)
    src = src.repartition(npart, "url").sortWithinPartitions("url", "seq")

    def run_iter(batches):
        blank = dict.fromkeys(_COLS)
        out = []
        cur_url = None
        node_rows = []
        mentions_by_node = {}

        def flush():
            nonlocal node_rows, mentions_by_node
            if cur_url is None or not node_rows:
                return
            rows = document_graph(cur_url, node_rows, mentions_by_node,
                                  include_extensions)
            for kind, key in (("node", "kg_nodes"), ("edge", "edges"),
                              ("l3", "l3")):
                out.extend({**blank, "row_kind": kind, **r}
                           for r in rows[key])
            node_rows = []
            mentions_by_node = {}

        for pdf in batches:
            for url, node_id, content, para_key, parent_id, path, tgt in zip(
                    pdf["url"], pdf["node_id"], pdf["content"],
                    pdf["para_key"], pdf["parent_id"], pdf["path"],
                    pdf["mention_targets"]):
                if url != cur_url:
                    flush()
                    cur_url = url
                node_rows.append({"node_id": node_id, "content": content,
                                  "para_key": para_key,
                                  "parent_id": parent_id, "path": path})
                mentions = node_mentions(content, tgt)
                if mentions:
                    mentions_by_node[node_id] = mentions
            if len(out) >= 20000:
                yield pd.DataFrame(out, columns=_COLS, dtype=object)
                out = []
        flush()
        if out:
            yield pd.DataFrame(out, columns=_COLS, dtype=object)

    return src.mapInPandas(run_iter, GRAPH_ROWS)


def graph_nodes(wide: DataFrame) -> DataFrame:
    return wide.filter(F.col("row_kind") == "node").select(
        "url", "node_id", "kg_id", "kind", "token_key", "token_i",
        "token_text", "lemma", "tag", "pos", "negated", "para_key",
        "coref_lemma", "coref_tag", "propn_key", "lemma_set_key")


def graph_edges(wide: DataFrame) -> DataFrame:
    """Per-document final edges, with their ``emit_seq`` and endpoint
    display strings."""
    return wide.filter(F.col("row_kind") == "edge").select(
        "url", "src", "dst", "label", "attrs", "emit_seq", "subject",
        "object")


def l3_candidates(wide: DataFrame) -> DataFrame:
    """The L3 candidates whose target is in another document, with their
    source's local canonical id."""
    return wide.filter(F.col("row_kind") == "l3").select(
        "url", "src_kg_id", "canon_id", "lemma_set_key", "target_node_id",
        "target_url")


def doc_node_display(nodes: DataFrame) -> DataFrame:
    """Display strings for document nodes, matching
    ``ImmutableNodeView.__str__`` (node.py:134-135)."""
    return nodes.select("url", F.col("node_id").alias("kg_id"),
                        node_display().alias("display"))


def entity_link_pairs(kg_nodes: DataFrame, l3: DataFrame,
                      nodes: DataFrame) -> DataFrame:
    """Cross-document L3 merge pairs over local canonical ids: ``(url, a,
    b, b_url)``, ``a`` the candidate's source and ``b`` a kg node of the
    target document ``b_url`` with the same lemma set under the target's
    path (reference_linker.py:62-89; subtree test = path prefix).
    ``kg_nodes`` carries ``canon_id``, the node's document-local
    canonical id.

    The candidate set is one row per cross-document ReferenceLinker hit,
    so it drives broadcast hash joins: ``nodes`` and the kg nodes are only
    scanned, never shuffled, and every join output stays candidate-sized.
    """
    cand = (nodes.select(F.col("node_id").alias("target_node_id"),
                         F.col("path").alias("t_path"))
            .join(F.broadcast(l3.select(
                F.col("url").alias("l3_url"),
                "src_kg_id", F.coalesce("canon_id", "src_kg_id").alias("a"),
                F.col("lemma_set_key").alias("l3_lemma_set_key"),
                "target_node_id", "target_url")), "target_node_id"))
    hits = (kg_nodes.select("url", "kg_id", "node_id", "lemma_set_key",
                            "canon_id")
            .join(F.broadcast(cand),
                  (F.col("url") == F.col("target_url"))
                  & (F.col("lemma_set_key") == F.col("l3_lemma_set_key"))
                  & (F.col("kg_id") != F.col("src_kg_id")))
            .select("l3_url", "a",
                    F.coalesce("canon_id", "kg_id").alias("b"),
                    F.col("node_id").alias("owner_node_id"),
                    F.col("url").alias("owner_url"), "t_path"))
    owner = nodes.select(F.col("node_id").alias("owner_node_id"),
                         F.col("url").alias("owner_url"),
                         F.col("path").alias("owner_path"))
    return (owner
            .join(F.broadcast(hits), ["owner_node_id", "owner_url"])
            .filter(F.expr("slice(owner_path, 1, size(t_path))")
                    == F.col("t_path"))
            .select(F.col("l3_url").alias("url"), "a", "b",
                    F.col("owner_url").alias("b_url")))


#: Pair lists of at most this many rows are labelled on the driver (one
#: fetch + union-find); larger ones take the distributed loop.
DRIVER_CUTOFF = 200_000


def _driver_labels(pairs: DataFrame):
    """Driver fast path: ``(id, canon_id)`` blocks, or None when the pair
    list exceeds ``DRIVER_CUTOFF``.

    The cutoff probe and the fetch are FUSED: limit(cutoff+1) + Arrow
    toPandas is one early-terminating job (a full count + row-pickled
    collect would be two jobs and build every Row object on the driver);
    past the cutoff the fetch is discarded, having paid one bounded scan.
    The labels go back through the Arrow createDataFrame path, typed like
    the input's ``a`` column (string kg ids, bigint doc ids), and are
    pinned as JVM blocks so every downstream reference scans blocks
    instead of re-shipping the python rows."""
    _jobdesc("cc: driver fast-path probe+fetch")
    probe = pairs.select("a", "b").limit(DRIVER_CUTOFF + 1).toPandas()
    if len(probe) > DRIVER_CUTOFF:
        return None
    labels = union_find(zip(probe["a"].tolist(), probe["b"].tolist()))
    id_type = dict(pairs.dtypes)["a"]
    out = pairs.sparkSession.createDataFrame(
        pd.DataFrame({"id": list(labels), "canon_id": list(labels.values())},
                     dtype=object),
        f"id {id_type}, canon_id {id_type}")
    if not labels:  # folds to an empty relation: publishing runs no job
        out = out.filter(F.lit(False))
    _jobdesc("cc: driver labels publish")
    return out.localCheckpoint(eager=True)


def _min_label_loop(pairs: DataFrame) -> DataFrame:
    """Distributed min-label propagation with pointer doubling:
    label(n) <- min(label(n), labels of n's neighbours, label(label(n))),
    each round cut from its lineage, until no label changes.  A label only
    ever falls and always names a member of its component, so the loop
    ends, and at its fixed point neighbours agree and the component min
    labels itself.  The doubling hop lets a label jump along chains that
    are already labelled instead of walking them one edge per round."""
    sym = F.explode(F.array(F.array("a", "b"), F.array("b", "a")))
    edges = (pairs.select(sym.alias("e"))
             .select(F.col("e")[0].alias("a"), F.col("e")[1].alias("b"))
             .repartition(32, "a").localCheckpoint(eager=True))
    labels = (edges.groupBy("a")
              .agg(F.least(F.col("a"), F.min("b")).alias("lbl"))
              .withColumnRenamed("a", "n")
              .localCheckpoint(eager=True))
    while True:
        _jobdesc("cc: min-label round")
        nbr = (edges
               .join(labels.select(F.col("n").alias("b"),
                                   F.col("lbl").alias("lbl_b")), "b")
               .groupBy("a").agg(F.min("lbl_b").alias("nlbl"))
               .withColumnRenamed("a", "n"))
        cand = (labels.join(nbr, "n", "left")
                .select("n", F.least(
                    F.col("lbl"),
                    F.coalesce("nlbl", "lbl")).alias("lbl")))
        hop = cand.select(F.col("n").alias("m"), F.col("lbl").alias("lbl2"))
        dbl = (cand.join(hop, cand.lbl == hop.m, "left")
               .select(cand.n, F.least(
                   cand.lbl, F.coalesce(hop.lbl2, cand.lbl)).alias("lbl"))
               .localCheckpoint(eager=True))
        changed = (dbl.join(labels.withColumnRenamed("lbl", "old"), "n")
                   .filter(F.col("lbl") != F.col("old")).count())
        labels = dbl
        if changed == 0:
            return labels.select(F.col("n").alias("id"),
                                 F.col("lbl").alias("canon_id"))


def pair_components(pairs: DataFrame) -> DataFrame:
    """The one connected-components engine: an undirected pair graph
    (columns ``a``, ``b``) -> ``(id, canon_id)`` for every id in a pair,
    canonical = min id of its component (isolated ids are absent, i.e.
    map to themselves).  Driver union-find while the pair list fits under
    ``DRIVER_CUTOFF``, else the distributed pointer-doubling loop.  Used
    by ``connected_components`` (on its cross-document quotient),
    ``dedup.neardup_clusters`` and ``graph.wcc``."""
    labels = _driver_labels(pairs)
    return _min_label_loop(pairs) if labels is None else labels


def connected_components(pairs: DataFrame) -> DataFrame:
    """Merge-pair graph -> (kg_id, canon_id), canonical = min id per
    component (the deterministic replacement for the reference's
    ``set.pop()`` winner, knowledge_graph.py:193-217).  Ids in no pair are
    absent and keep their own id.  The KG's pairs are the cross-document
    quotient over local canonical ids, so the labels compose with the
    per-document ones: min of a component == min over its local minima.
    """
    labels = _driver_labels(pairs)
    if labels is None:
        return _min_label_loop(pairs).withColumnRenamed("id", "kg_id")
    # bounded by the cutoff by construction: hint broadcast so the
    # apply_merges/make_triples joins skip the shuffle
    return labels.withColumnRenamed("id", "kg_id").hint("broadcast")


def apply_merges(kg_nodes: DataFrame, kg_edges: DataFrame,
                 canon: DataFrame) -> DataFrame:
    """Canonical-id rewrite of edges + reference dedup semantics: self-loop
    edges dropped (knowledge_graph.py:93), one edge per (url, src, dst)
    with the last write (highest ``emit_seq``) winning (add_edge
    overwrite, knowledge_graph.py:23-43).  Keeps every other column of
    ``kg_edges`` but ``emit_seq``.  ``graph_tail`` calls it on the
    documents a cross-document merge touches only."""
    csrc = canon.select(F.col("kg_id").alias("src"),
                        F.col("canon_id").alias("csrc"))
    cdst = canon.select(F.col("kg_id").alias("dst"),
                        F.col("canon_id").alias("cdst"))
    rewritten = (kg_edges
                 .join(csrc, "src", "left")
                 .join(cdst, "dst", "left")
                 .withColumn("src", F.coalesce("csrc", "src"))
                 .withColumn("dst", F.coalesce("cdst", "dst"))
                 .filter(F.col("src") != F.col("dst")))
    w = Window.partitionBy("url", "src", "dst").orderBy(F.desc("emit_seq"))
    return (rewritten.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(*[c for c in kg_edges.columns if c != "emit_seq"]))


def make_triples(final_edges: DataFrame, kg_nodes: DataFrame,
                 canon=None) -> DataFrame:
    """Edges -> string triples with the reference's formatting
    (``as_triplets``, knowledge_graph.py:122-138: token text for
    predicate/object nodes, immutable-view string for document nodes) and
    the E4 comparator's exclusion of defines/contains edges
    (evaluate_kg_creation.py:25).  Edges carry their endpoints' display
    strings from the per-document pass; with ``canon`` (cross-document
    labels) an endpoint that is a canonical id takes that node's token
    text, which may come from another document."""
    e = final_edges.filter(~F.col("label").isin("defines", "contains"))
    if canon is not None:
        disp = (kg_nodes
                .join(canon.filter(F.col("kg_id") == F.col("canon_id"))
                      .select("kg_id"), "kg_id")
                .select("kg_id", F.col("token_text").alias("display")))
        for end, col in (("src", "subject"), ("dst", "object")):
            e = (e.join(disp.withColumnRenamed("kg_id", end), end, "left")
                 .withColumn(col, F.coalesce("display", col))
                 .drop("display"))
    return (e.filter(F.col("subject").isNotNull()
                     & F.col("object").isNotNull())
            .select("url", "subject", F.col("label").alias("relation"),
                    "object"))


def build_graph(nodes: DataFrame, resolved: DataFrame,
                include_extensions: bool = False):
    """Convenience wrapper: returns (kg_nodes, final_edges, canon, triples)."""
    # materialize the UDF stage once before the tail reads it several
    # times (kg nodes, edges, candidates); localCheckpoint (not cache)
    # also TRUNCATES the lineage, so the tail's actions re-plan a
    # one-node scan instead of the whole pipeline
    _jobdesc("extract: wide materialize (annotate/extract UDF)")
    wide = extract_graph(nodes, resolved,
                         include_extensions).localCheckpoint(eager=True)
    return graph_tail(wide, nodes)


def graph_tail(wide: DataFrame, nodes: DataFrame):
    """Cross-document step over materialized graph rows; returns
    (kg_nodes, final_edges, canon, triples).  Shared by ``build_graph``
    and the checkpointed plan, whose ``wide`` is a committed table."""
    kn = graph_nodes(wide)
    local = wide.filter(F.col("row_kind") == "node")
    edges = graph_edges(wide)
    l3 = l3_candidates(wide)
    _jobdesc("link: cross-document L3 candidates probe")
    if l3.isEmpty():
        canon = local.filter(F.col("canon_id").isNotNull()).select(
            "kg_id", "canon_id")
        triples = make_triples(edges, kn)
        return kn, edges.drop("emit_seq", "subject", "object"), canon, \
            triples

    _jobdesc("link: cross-document L3 pairs")
    pairs = entity_link_pairs(local, l3, nodes).localCheckpoint(eager=True)
    labels = connected_components(pairs)
    touched = F.broadcast(pairs.select("url").union(
        pairs.select(F.col("b_url").alias("url"))))
    final = (edges.join(touched, "url", "left_anti").drop("emit_seq")
             .unionByName(apply_merges(kn, edges.join(touched, "url",
                                                      "left_semi"),
                                       labels)))
    triples = make_triples(final, kn, labels)
    # ids in a local or a cross-document pair -> global canonical id
    canon = (local.select("kg_id", "canon_id",
                          F.coalesce("canon_id", "kg_id").alias("root"))
             .join(labels.select(F.col("kg_id").alias("root"),
                                 F.col("canon_id").alias("label")),
                   "root", "left")
             .filter(F.col("canon_id").isNotNull()
                     | F.col("label").isNotNull())
             .select("kg_id",
                     F.coalesce("label", "root").alias("canon_id")))
    return kn, final.drop("subject", "object"), canon, triples


def global_entities(kg_nodes: DataFrame) -> DataFrame:
    """Cross-document entity canonicalization.

    The reference's four linkers stop at document scope (only an L3
    reference reaches into the cited document) — correct for its
    single-document thesis corpus, but at web scale the same real-world
    entity surfaces on millions of pages.  This operator blocks on the normalized
    proper-noun surface form (``propn_key``: text + compound children,
    url-independent by construction) ACROSS urls and emits one row per
    global entity:

      (entity_key, global_id, n_docs, n_mentions)

    ``global_id`` is the minimum member kg_id — deterministic because
    kg ids are content hashes, so the canonical winner is reproducible
    across runs and cluster sizes (the same min-wins rule the per-doc CC
    uses).  Scale shape: ONE map-side-combinable aggregate on the
    blocking key; a Zipfian surface form ("Commission") is just a large
    group in a combining agg — no join, no window, nothing to salt.
    Salting matters when this entity table is joined back against the
    mention stream (operators/joins.py ``salted_join`` is that pattern).
    """
    ents = kg_nodes.filter(F.col("propn_key").isNotNull())
    return (ents.groupBy(F.col("propn_key").alias("entity_key"))
            .agg(F.min("kg_id").alias("global_id"),
                 F.countDistinct("url").alias("n_docs"),
                 F.count("*").alias("n_mentions")))
