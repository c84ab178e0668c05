"""Stage D/E — graph extraction, entity linking, connected components,
canonical rewrite, triple export.

Dataflow (SURVEY §3.1):

    nodes ⋈ resolved-mentions ──mapInPandas[annotate+phrases+render]──►
        kg_nodes / kg_edges / L3-candidates        (one pass, wide rows)
    kg_nodes ──groupBy blocking keys (L1/L2/L4)──► merge pairs
    L3-candidates ⋈ nodes(path-prefix) ⋈ kg_nodes ─► merge pairs
    merge pairs ──connected components (pair_components)──► canonical map
    kg_edges ⋈ canonical map ──rewrite+dedup──► final graph
    final graph ⋈ display strings ──► (subject, relation, object) triples

Scale: the extraction pass is narrow; L1/L2/L4 are single shuffles on their
blocking keys (Zipfian lemma keys ride on AQE skew handling; key spaces are
already salted by construction because every key embeds its paragraph/node
identity).

Connected components: this module holds the package's one CC engine,
``pair_components`` — one union-find (``_union_find``), used on the driver
while the pair list fits under ``DRIVER_CUTOFF`` and inside the
per-document contraction kernel, and one distributed loop (min-label
pointer doubling until no label changes).  ``connected_components`` adds
the KG-specific parts: the pair checkpoint, the broadcast hint, and the
per-document contraction whose cross-document quotient the engine
labels.  ``dedup.neardup_clusters`` and ``graph.wcc`` call the engine
directly.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

from inclusionreferenceskg_spark.functions.grammar import detect
from inclusionreferenceskg_spark.functions.kgbuild import render_document


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
    T.StructField("src", T.StringType()),
    T.StructField("dst", T.StringType()),
    T.StructField("label", T.StringType()),
    T.StructField("attrs", T.MapType(T.StringType(), T.StringType())),
    T.StructField("emit_seq", T.IntegerType()),
    T.StructField("src_kg_id", T.StringType()),
    T.StructField("target_node_id", T.StringType()),
    T.StructField("target_url", T.StringType()),
])

_COLS = [f.name for f in GRAPH_ROWS.fields]


def extract_graph(nodes: DataFrame, resolved: DataFrame,
                  include_extensions: bool = False) -> DataFrame:
    """nodes + resolved mentions -> wide graph rows.

    Grouped per url (``applyInPandas``) because the reference analyzes the
    whole document's concatenated text at once — sentences and coreference
    span node boundaries (``nlp_doc``, kg_renderer.py:129-181).  One shuffle
    on url; group size is bounded by a single page's node count.
    """
    targets = (resolved
               .groupBy("url", "node_id")
               .agg(F.collect_list(F.struct("mention_idx", "qual_idx",
                                            "start", "text",
                                            "target_node_id", "target_url"))
                    .alias("mention_targets")))
    src = (nodes.select("url", "node_id", "seq", "content", "para_key")
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
            rows = render_document(cur_url, node_rows, mentions_by_node,
                                   include_extensions)
            for r in rows["kg_nodes"]:
                out.append({**blank, "row_kind": "node", **r})
            for r in rows["kg_edges"]:
                out.append({**blank, "row_kind": "edge", **r})
            for r in rows["l3"]:
                out.append({**blank, "row_kind": "l3", **r})
            node_rows = []
            mentions_by_node = {}

        for pdf in batches:
            for url, node_id, content, para_key, tgt in zip(
                    pdf["url"], pdf["node_id"], pdf["content"],
                    pdf["para_key"], pdf["mention_targets"]):
                if url != cur_url:
                    flush()
                    cur_url = url
                node_rows.append({"node_id": node_id, "content": content,
                                  "para_key": para_key})
                mentions = detect(content or "")
                if not mentions:
                    continue
                tmap = {}
                if tgt is not None and len(tgt):
                    for t in sorted(tgt, key=lambda x: (x["mention_idx"],
                                                        x["qual_idx"])):
                        tmap.setdefault((t["start"], t["text"]), []).append(
                            {"node_id": t["target_node_id"],
                             "url": t["target_url"]})
                for m in mentions:
                    m["targets"] = tmap.get((m["start"], m["text"]), [])
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
    return wide.filter(F.col("row_kind") == "edge").select(
        "url", "src", "dst", "label", "attrs", "emit_seq")


def l3_candidates(wide: DataFrame) -> DataFrame:
    return wide.filter(F.col("row_kind") == "l3").select(
        "url", "src_kg_id", "lemma_set_key", "target_node_id", "target_url")


def contains_edges(nodes: DataFrame) -> DataFrame:
    """Document-structure ``contains`` edges straight from the nodes table
    (kg_renderer.py:49-54)."""
    return (nodes.filter(F.col("parent_id").isNotNull())
            .select("url", F.col("parent_id").alias("src"),
                    F.col("node_id").alias("dst"),
                    F.lit("contains").alias("label"),
                    F.create_map().cast("map<string,string>").alias("attrs"),
                    F.lit(-1).alias("emit_seq")))


def doc_node_display(nodes: DataFrame) -> DataFrame:
    """Display strings for document nodes, matching
    ``ImmutableNodeView.__str__`` (node.py:134-135)."""
    disp = F.concat(
        F.col("node_type"), F.lit(" "),
        F.coalesce(F.col("number").cast("string"), F.lit("None")),
        F.when(F.col("title").isNotNull() & (F.col("title") != ""),
               F.concat(F.lit(": "), F.col("title"))).otherwise(F.lit("")))
    return nodes.select("url", F.col("node_id").alias("kg_id"),
                        disp.alias("display"))


def entity_link_pairs(kg_nodes: DataFrame, l3: DataFrame,
                      nodes: DataFrame,
                      l3_broadcast_cutoff: int = 200_000,
                      l3_hits_cutoff: int = 1_000_000) -> DataFrame:
    """Merge pairs from all four linkers as (url, a, b) edge rows.

    Every group becomes a star to its min member — equivalent input to
    connected components as the reference's pairwise reduce
    (knowledge_graph.py:193-217).
    """

    # L1/L2/L4 fused into ONE star over a composite blocking key: each
    # kg node contributes one row per applicable linker, tagged
    # '<linker>\x1f<key fields>', then a single groupBy-min + join-back
    # stars every group to its min member.  Per-group semantics are
    # identical to running the three linkers separately; the fused form
    # replaces three agg exchanges + three join probes of KB-scale data
    # with one of each — the graph tail is fixed-latency-bound, so stage
    # COUNT (not data volume) is what the scaling efficiency pays for.
    # groupBy-min + join back instead of min-over-window: the window form
    # puts an entire hot blocking key (Zipfian tokens at web scale) into
    # ONE task, while the aggregate is map-side combined and the join
    # back is an equi-join AQE can skew-split.  Null key fields are
    # encoded as \x00 so null==null grouping (the window semantics) holds
    # bit-for-bit.
    def key_expr(tag: str, cols) -> F.Column:
        parts = [F.lit(tag)] + [
            F.coalesce(F.col(c), F.lit("\x00")) for c in cols]
        return F.concat_ws("\x1f", *parts)

    # One scan of the kg-node table, not three: each node emits an array
    # of its applicable linker keys (L1 always; L2 for PhraseObjects in a
    # paragraph; L4 for proper nouns), compacted and exploded.  The union
    # form evaluated the (wide-checkpoint scan + filter + key concat)
    # subtree once per linker; codegen evaluates this in a single pass.
    #   L1: same token object (same_token_linker.py:9-18) — predicates
    #       and objects both carry tokens
    #   L2: same coref-resolved (lemma, tag) within the same Paragraph,
    #       PhraseObjects only (same_lemma_in_same_paragraph_linker.py:21-54)
    #   L4: proper nouns by (text, compound-children) surface, per
    #       document (proper_noun_linker.py:12-26)
    key_array = F.array_compact(F.array(
        key_expr("L1", ["token_key"]),
        F.when((F.col("kind") == "object")
               & F.col("para_key").isNotNull(),
               key_expr("L2", ["para_key", "coref_lemma", "coref_tag"])),
        F.when(F.col("propn_key").isNotNull(),
               key_expr("L4", ["url", "propn_key"]))))
    # the member list feeds BOTH the min aggregate and the join-back
    # probe; materialize it once or each side re-evaluates the explode
    # over the kg-node table (measured 5.5s -> 3.4s for the fused star at
    # 16 cores / 20k docs).  Skinny rows (two ids + key), so the
    # checkpoint barrier is cheap at any scale.
    _jobdesc("link: member list materialize")
    members = (kg_nodes.select("url", "kg_id",
                               F.explode(key_array).alias("k"))
               .localCheckpoint(eager=True))
    mins = members.groupBy("k").agg(F.min("kg_id").alias("a"))
    fused = (members.join(mins, "k")
             .filter(F.col("kg_id") != F.col("a"))
             .select("url", "a", F.col("kg_id").alias("b")))

    # L3: "<obj> VERB/ADJ ADP+ <ref>" — merge with same-lemma-set kg nodes
    # under the reference target's subtree (reference_linker.py:62-89);
    # subtree test = path-prefix over materialized paths.
    #
    # ADAPTIVE PLAN.  The candidate set is one row per ReferenceLinker
    # pattern hit — orders of magnitude smaller than the corpus (zero on
    # corpora without inclusion-reference syntax).  The join INPUTS are
    # corpus-scale, though: attaching owner paths means kg_nodes ⋈ nodes
    # (4.5M × 3.5M rows with fat path arrays at 80k docs) plus a full
    # nodes shuffle for target paths — and because AQE submits all leaf
    # query stages of a join tree concurrently, those exchanges run to
    # completion BEFORE the runtime can observe that the candidate side
    # is tiny or empty.  Measured: 65 s of the 67 s link stage at
    # 16 cores / 80k docs, I/O-bound (1.16× core scaling) — the single
    # largest input-size-coupled term in the pipeline's scaling tail.
    # So materialize the candidates first and pick the plan by their
    # actual size:
    #   0 rows    -> no L3 pairs; skip the join machinery entirely;
    #   <= cutoff -> drive BROADCAST hash joins off the candidates:
    #                corpus-scale tables are only ever SCANNED (their
    #                checkpointed blocks; no exchange), every join
    #                output stays candidate-sized;
    #   >  cutoff -> the original shuffle plan (a corpus where reference
    #                syntax is dense enough that the candidate set is
    #                itself corpus-scale deserves honest shuffles).
    _jobdesc("link: L3 candidates materialize")
    l3r = (l3.select(F.col("url").alias("l3_url"), "src_kg_id",
                     F.col("lemma_set_key").alias("l3_lemma_set_key"),
                     "target_node_id", "target_url")
           .localCheckpoint(eager=True))
    n_l3 = l3r.count()
    if n_l3 == 0:
        return fused.distinct()
    if n_l3 <= l3_broadcast_cutoff:
        # 1. attach the target's path: scan nodes against broadcast hash
        cand = (nodes.select(F.col("node_id").alias("target_node_id"),
                             F.col("path").alias("t_path"))
                .join(F.broadcast(l3r), "target_node_id", "inner"))
        # 2. same-url same-lemma-set kg nodes: scan kg_nodes against the
        #    (still candidate-sized) broadcast
        _jobdesc("link: L3 hits scan")
        hits = (kg_nodes
                .join(F.broadcast(cand),
                      (F.col("url") == F.col("target_url"))
                      & (F.col("lemma_set_key")
                         == F.col("l3_lemma_set_key"))
                      & (F.col("kg_id") != F.col("src_kg_id")),
                      "inner")
                .select("l3_url", "src_kg_id",
                        F.col("kg_id").alias("kn_kg_id"),
                        F.col("node_id").alias("owner_node_id"),
                        F.col("url").alias("owner_url"), "t_path")
                .localCheckpoint(eager=True))
        # 3. attach the matched node's own path for the subtree test.
        #    `hits` can exceed candidate size (candidates × same-lemma
        #    nodes per url); guard the broadcast with its measured count
        #    and fall back to a plain equi-join (shuffle of `hits` +
        #    one nodes shuffle) past the cap.
        owner = nodes.select(F.col("node_id").alias("owner_node_id"),
                             F.col("url").alias("owner_url"),
                             F.col("path").alias("owner_path"))
        probe = (F.broadcast(hits) if hits.count() <= l3_hits_cutoff
                 else hits)
        l3p = (owner
               .join(probe, ["owner_node_id", "owner_url"], "inner")
               .filter(F.expr("slice(owner_path, 1, size(t_path))")
                       == F.col("t_path"))
               .select(F.col("l3_url").alias("url"),
                       F.col("src_kg_id").alias("a"),
                       F.col("kn_kg_id").alias("b")))
        return fused.unionByName(l3p).distinct()

    owner_paths = nodes.select(F.col("node_id").alias("owner_node_id"),
                               F.col("url").alias("owner_url"),
                               F.col("path").alias("owner_path"))
    target_paths = nodes.select(F.col("node_id").alias("target_node_id"),
                                F.col("path").alias("t_path"))
    kn = (kg_nodes
          .join(owner_paths,
                (F.col("node_id") == F.col("owner_node_id"))
                & (F.col("url") == F.col("owner_url")), "inner")
          .select(F.col("url").alias("kn_url"),
                  F.col("kg_id").alias("kn_kg_id"),
                  F.col("lemma_set_key").alias("kn_lemma_set_key"),
                  "owner_path"))
    l3p = (l3r
           .join(target_paths, "target_node_id", "inner")
           .join(kn,
                 (F.col("kn_url") == F.col("target_url"))
                 & (F.col("kn_lemma_set_key") == F.col("l3_lemma_set_key"))
                 & (F.col("kn_kg_id") != F.col("src_kg_id"))
                 & (F.expr("slice(owner_path, 1, size(t_path))")
                    == F.col("t_path")),
                 "inner")
           .select(F.col("l3_url").alias("url"),
                   F.col("src_kg_id").alias("a"),
                   F.col("kn_kg_id").alias("b")))

    return fused.unionByName(l3p).distinct()


#: Pair lists of at most this many rows are labelled on the driver (one
#: fetch + union-find); larger ones take the distributed loop.
DRIVER_CUTOFF = 200_000


def _union_find(pairs: Iterable) -> dict:
    """``{id: min id of its component}`` for every id in ``pairs``."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


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
    labels = _union_find(zip(probe["a"].tolist(), probe["b"].tolist()))
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


def _local_contraction(batches):
    """mapInPandas kernel: union-find over all pairs in the partition,
    emitting (kg_id, root=min id of its component) for non-root members.
    Pairs are colocated by document-id prefix, so every same-document
    component is complete within one partition; unrelated documents
    sharing a partition cannot interact (disjoint id spaces)."""
    labels = _union_find(
        pair for pdf in batches
        for pair in zip(pdf["a"].tolist(), pdf["b"].tolist()))
    members = {x: r for x, r in labels.items() if x != r}
    yield pd.DataFrame({"kg_id": list(members),
                        "root": list(members.values())}, dtype=object)


def connected_components(pairs: DataFrame) -> DataFrame:
    """Merge-pair graph -> (kg_id, canon_id), canonical = min id per
    component (the deterministic replacement for the reference's
    ``set.pop()`` winner, knowledge_graph.py:193-217).  Ids in no pair are
    absent and keep their own id.

    While the pair list fits under ``DRIVER_CUTOFF`` (every recorded
    workload below 320k docs) it is labelled on the driver in three jobs:
    pair checkpoint, probe+fetch, labels publish.  Past it, two phases
    matching the edge structure the linkers produce:

    1. **local contraction** — L1/L2/L4 (and most L3) pairs stay within
       one document; a single union-find pass over document-prefix-
       partitioned pairs resolves them in one shuffle with no iteration;
    2. **quotient** — only cross-document L3 pairs survive, mapped through
       their local roots, and ``pair_components`` labels that (small)
       graph.

    Output is identical to labelling the full graph: min of component ==
    min over (local mins, quotient min).
    """
    spark = pairs.sparkSession
    # materialize the pair list before multiple branches reference it
    # (concurrent branches would run the linker plan twice).  This
    # evaluates the LINKER JOIN PLAN, so it runs under the caller's AQE
    # setting (coalescing/skew-split apply); only the fixed-latency
    # distributed phases below turn AQE off.
    _jobdesc("cc: pairs materialize (linker join plan)")
    pairs = pairs.localCheckpoint(eager=True)
    labels = _driver_labels(pairs)
    if labels is not None:
        # bounded by the cutoff by construction: hint broadcast so the
        # apply_merges/make_triples joins skip the shuffle AND the AQE
        # size-estimation replan round (the triples join tail is
        # fixed-latency-bound).  The distributed path below returns no
        # hint — its canon is corpus-sized.
        return labels.withColumnRenamed("id", "kg_id").hint("broadcast")

    # the merge graph is tiny relative to the corpus (a few pairs per
    # page); run the distributed phases without AQE re-planning so each
    # is one cheap job.
    # NB: spark.conf is session-global — concurrent queries on the same
    # SparkSession would run without AQE meanwhile.  The pipeline runs its
    # stages sequentially so this is safe here; callers sharing a session
    # with unrelated concurrent jobs should run CC on a dedicated session
    # (``SparkSession.newSession()`` shares the JVM but isolates conf).
    # The previous value is restored on exit; if it was unset we restore
    # the documented Spark default ("true").
    aqe_was = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # phase 1: kg ids are "<sha(url)[:12]>:<kind><n>" — a pair is
        # document-local iff the prefixes match
        doc_local = F.substring("a", 1, 12) == F.substring("b", 1, 12)
        nparts = max(spark.sparkContext.defaultParallelism, 8)
        _jobdesc("cc: local contraction")
        local_map = (pairs.filter(doc_local)
                     .repartition(nparts, F.substring("a", 1, 12))
                     .mapInPandas(_local_contraction,
                                  "kg_id string, root string")
                     .localCheckpoint(eager=True))

        # phase 2: cross-document pairs re-expressed over local roots
        la = local_map.select(F.col("kg_id").alias("a"),
                              F.col("root").alias("ra"))
        lb = local_map.select(F.col("kg_id").alias("b"),
                              F.col("root").alias("rb"))
        quotient = (pairs.filter(~doc_local)
                    .join(la, "a", "left").join(lb, "b", "left")
                    .select(F.coalesce("ra", "a").alias("a"),
                            F.coalesce("rb", "b").alias("b"))
                    .filter(F.col("a") != F.col("b")))
        labels = pair_components(quotient)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_was)

    # compose: canon(id) = quotient_label(local_root(id)), defaulting to
    # the local root / the id itself at each level
    q = labels.select(F.col("id").alias("root"),
                      F.col("canon_id").alias("qlabel"))
    composed_members = (local_map.join(q, "root", "left")
                        .select("kg_id",
                                F.coalesce("qlabel", "root")
                                .alias("canon_id")))
    root_rows = labels.withColumnRenamed("id", "kg_id")
    return (composed_members.unionByName(root_rows)
            .groupBy("kg_id").agg(F.min("canon_id").alias("canon_id")))


def apply_merges(kg_nodes: DataFrame, kg_edges: DataFrame,
                 canon: DataFrame,
                 dup_broadcast_cutoff: int = 2_000_000) -> DataFrame:
    """Canonical-id rewrite of edges + reference dedup semantics: self-loop
    edges dropped (knowledge_graph.py:93), one edge per (u, v) with the last
    write winning (add_edge overwrite, knowledge_graph.py:23-43).

    Last-write-wins without ever shuffling the fat rows: ~87% of
    (url, src, dst) keys are unique after the rewrite, so a skinny
    duplicate-key census (HashAggregate over the three key columns)
    splits the edge set — singleton-key rows pass through UNSHUFFLED
    via a broadcast anti-join, only the duplicate-key minority rides
    the row_number window.  The map-typed ``attrs`` column (the fat
    payload) therefore crosses no exchange for the common case.
    Measured 6.8s -> ~2s at 16 cores / 2.4M edges vs the full-table
    window; falls back to the full window when the duplicate-key list
    exceeds ``dup_broadcast_cutoff`` (a web-scale corpus with that many
    duplicate keys is better served by one honest shuffle — at which
    point edges should arrive url-partitioned and the url-local window
    needs no exchange at all).  A max_by aggregate instead of the
    window is worse in both regimes: its buffer carries ``attrs``,
    which disqualifies HashAggregate and plans as a double
    SortAggregate.
    """
    csrc = canon.select(F.col("kg_id").alias("src"),
                        F.col("canon_id").alias("csrc"))
    cdst = canon.select(F.col("kg_id").alias("dst"),
                        F.col("canon_id").alias("cdst"))
    _jobdesc("merge: canon-rewritten edges materialize")
    rewritten = (kg_edges
                 .join(csrc, "src", "left")
                 .join(cdst, "dst", "left")
                 .select("url",
                         F.coalesce("csrc", "src").alias("src"),
                         F.coalesce("cdst", "dst").alias("dst"),
                         "label", "attrs", "emit_seq")
                 .filter(F.col("src") != F.col("dst"))
                 # THREE consumers scan this (dup census, singleton
                 # anti-join, winner semi-join+window); without the
                 # barrier each re-evaluates the edge-scale canon-rewrite
                 # join — measured as the largest slice of the 16-core
                 # fixed tail (~12 s of re-evaluation at 80k docs)
                 .localCheckpoint(eager=True))
    key = ["url", "src", "dst"]
    _jobdesc("merge: dup-key census")
    dup_keys = (rewritten.groupBy(*key)
                .agg(F.count("*").alias("n"))
                .filter(F.col("n") > 1)
                .select(*key)
                .localCheckpoint(eager=True))
    n_dup = dup_keys.count()
    w = Window.partitionBy(*key).orderBy(F.desc("emit_seq"))
    if n_dup > dup_broadcast_cutoff:
        return (rewritten.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .drop("rn", "emit_seq"))
    dup_keys = F.broadcast(dup_keys)
    singles = rewritten.join(dup_keys, key, "left_anti").drop("emit_seq")
    winners = (rewritten.join(dup_keys, key, "left_semi")
               .withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") == 1)
               .drop("rn", "emit_seq"))
    return singles.unionByName(winners)


def make_triples(final_edges: DataFrame, kg_nodes: DataFrame,
                 canon: DataFrame, nodes: DataFrame,
                 structural: bool = False) -> DataFrame:
    """Edges -> string triples with the reference's formatting
    (``as_triplets``, knowledge_graph.py:122-138: token text for
    predicate/object nodes, immutable-view string for document nodes) and
    the E4 comparator's exclusion of defines/contains edges
    (evaluate_kg_creation.py:25)."""
    canon_nodes = (kg_nodes
                   .join(canon, "kg_id", "left")
                   .withColumn("cid", F.coalesce("canon_id", "kg_id"))
                   .filter(F.col("cid") == F.col("kg_id"))
                   .select(F.col("kg_id"),
                           F.col("token_text").alias("display")))
    _jobdesc("triples: display map materialize")
    # the src and dst joins below each scan this map; without the barrier
    # the (kg_nodes ⋈ canon) ∪ doc-display subtree evaluates twice —
    # Spark has no cross-join common-subexpression reuse.  Skinny rows
    # (id, short display string), node-scale.
    display = canon_nodes.unionByName(
        doc_node_display(nodes).select("kg_id", "display")) \
        .localCheckpoint(eager=True)
    _jobdesc("triples: edge-display joins")

    e = final_edges if structural else final_edges.filter(
        ~F.col("label").isin("defines", "contains"))
    return (e
            .join(display.withColumnRenamed("kg_id", "src"), "src")
            .withColumnRenamed("display", "subject")
            .join(display.withColumnRenamed("kg_id", "dst"), "dst")
            .withColumnRenamed("display", "object")
            .select("url", "subject", F.col("label").alias("relation"),
                    "object"))


def build_graph(nodes: DataFrame, resolved: DataFrame,
                include_extensions: bool = False):
    """Convenience wrapper: returns (kg_nodes, final_edges, canon, triples)."""
    # materialize the UDF stage once before the plan fans out — the linker
    # pair sets and the CC edge union each reference `wide` several times,
    # and concurrent first-use branches would race an unfilled cache and
    # re-run the (expensive) annotate/extract subtree per branch.
    # localCheckpoint (not cache) also TRUNCATES the lineage, so the ~10
    # downstream driver actions (checkpoint rounds, CC counts, final
    # triples) re-plan a one-node scan instead of the whole pipeline —
    # driver planning was a measurable slice of the core-count-independent
    # cost that caps scaling efficiency
    _jobdesc("extract: wide materialize (annotate/extract UDF)")
    wide = extract_graph(nodes, resolved,
                         include_extensions).localCheckpoint(eager=True)
    return graph_tail(wide, nodes)


def graph_tail(wide: DataFrame, nodes: DataFrame):
    """link -> cc -> merge -> triples over materialized graph rows; returns
    (kg_nodes, final_edges, canon, triples).  Shared by ``build_graph``
    and the checkpointed plan, whose ``wide`` is a committed table."""
    _jobdesc("link+cc+triples tail")
    kn = graph_nodes(wide)
    ke = graph_edges(wide).unionByName(contains_edges(nodes))
    pairs = entity_link_pairs(kn, l3_candidates(wide), nodes)
    canon = connected_components(pairs)
    final_edges = apply_merges(kn, ke, canon)
    triples = make_triples(final_edges, kn, canon, nodes)
    return kn, final_edges, canon, triples


def global_entities(kg_nodes: DataFrame) -> DataFrame:
    """Cross-document entity canonicalization.

    The reference's four linkers (and therefore ``entity_link_pairs``)
    stop at document scope — correct for its single-document thesis
    corpus, but at web scale the same real-world entity surfaces on
    millions of pages.  This operator blocks on the normalized
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
