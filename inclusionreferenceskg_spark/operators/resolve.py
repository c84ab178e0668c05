"""Stage C' — target resolution: qualifier patterns -> target nodes.

The Spark re-expression of ``Node.resolve_loose`` called from the qualifier
resolver component (``util/spacy_components.py:9-25``): instead of walking a
shared in-memory tree, we

1. *generate candidates* with an equi-join of qualifier rows against the
   ``nodes`` table on the deepest pattern element — ``(url, node_type,
   number)`` for same-corpus patterns; genuinely cross-document patterns
   first resolve their Document title against the (small, broadcast)
   per-corpus document-title dimension using the reference's lenient
   substring semantics (``node/document.py:17-27``);
2. *confirm* with the vectorized path-subsequence predicate
   (``functions/pathmatch.py``);
3. *pick the first target in document order* — ``targets[0]`` in the
   reference (``spacy_components.py:22-23``) — via ``row_number`` over
   ``(doc_rank, target_url, target_seq)``.

A resolved row carries its target's display string (``kg.node_display``),
so the per-document KG pass prints a target in another document without
a join.

Scale notes: the candidate join shuffles on ``(url, node_type, number)``;
hot keys ("this Regulation" -> one Document row per url) stay bounded per
url, and AQE skew-join splits anything residual.  The title dimension is one
row per document — tiny relative to total nodes — and explicitly broadcast;
at 10^12 pages the lenient containment join would be replaced by an exact
normalized-title equi-join with the lenient pass as a small-side fallback.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from inclusionreferenceskg_spark.operators.kg import node_display


#: JVM-side path-subsequence confirm.  Equivalent to
#: ``pathmatch.path_matches`` under two structural guarantees: paths have
#: strictly increasing depths with each node type at most once (tree
#: construction), and qualifier patterns contain at most one element per
#: type (product semantics in qualify.resolve_mentions) — which reduces the
#: subsequence automaton (incl. its child-pruning rule) to: the deepest
#: element matches the candidate itself (enforced by the join keys), and
#: every other element matches the unique same-type path entry.  Documents
#: get the reference's lenient substring title matching
#: (node/document.py:17-27); Root matches the virtual corpus root.
def _path_confirm():
    return F.expr("""
        forall(qualifier, q ->
            q.node_type = 'Root' OR
            exists(cand_path, p ->
                p.node_type = q.node_type
                AND (q.number <=> p.number OR q.number = -1)
                AND (q.title IS NULL OR q.title <=> p.title OR q.title = '-1'
                     OR (q.node_type = 'Document' AND p.title IS NOT NULL
                         AND (instr(lower(p.title), lower(q.title)) > 0
                              OR instr(lower(q.title), lower(p.title)) > 0)))))
    """)


def document_titles(nodes: DataFrame) -> DataFrame:
    """The per-corpus document dimension (one row per page's Document node)."""
    return (nodes
            .filter(F.col("node_type") == "Document")
            .select(F.col("url").alias("resolved_url"),
                    F.col("title").alias("doc_title_actual")))


def resolve_targets(qualifiers: DataFrame, nodes: DataFrame) -> DataFrame:
    """qualifier rows + nodes -> resolved mentions (schema.RESOLVED)."""
    cand = nodes.select(
        F.col("url").alias("target_url"),
        F.col("doc_rank").alias("target_doc_rank"),
        F.col("node_id").alias("target_node_id"),
        F.col("node_type").alias("cand_type"),
        F.col("number").alias("cand_number"),
        F.col("seq").alias("target_seq"),
        F.col("path").alias("cand_path"),
        node_display().alias("target_display"),
    )

    base_cols = ["url", "node_id", "seq", "mention_idx", "start", "text",
                 "qual_idx", "qualifier", "deep_type", "deep_number"]

    same_corpus = (qualifiers
                   .filter(F.col("target_url").isNotNull())
                   .select(*base_cols,
                           F.col("target_url").alias("join_url")))

    # cross-document patterns: resolve the Document title in two passes —
    # exact normalized-title equi-join first (covers almost everything and
    # scales as a plain hash join), lenient substring containment
    # (document.py:17-27) only for the unresolved remainder, as a broadcast
    # nested-loop over the small title dimension
    cross_doc = qualifiers.filter(
        F.col("target_url").isNull() & F.col("doc_title").isNotNull())
    titles = document_titles(nodes).withColumn(
        "title_norm", F.lower(F.trim(F.col("doc_title_actual"))))

    # SHUFFLE_HASH, not the planner's default: every table here descends
    # from a localCheckpoint whose LogicalRDD inherits the PRE-checkpoint
    # size estimate (a few KiB — the synth/source relation before the
    # parse UDF's fan-out), so autoBroadcastJoinThreshold sees "tiny" on
    # corpus-scale sides and silently broadcasts them.  Measured at 80k
    # docs: the candidate join below broadcast the full 3.48M-row nodes
    # projection — 1 856 MiB, 37.9 s of SINGLE-THREADED driver
    # collect+build+broadcast, the largest core-count-independent term in
    # the N-vs-4N tail — and at web scale the title dimension (one row
    # per document) can never be broadcast at all.
    exact = (cross_doc
             .withColumn("title_norm", F.lower(F.trim(F.col("doc_title"))))
             .join(titles.hint("shuffle_hash"), "title_norm", "inner")
             .select(*base_cols, F.col("resolved_url").alias("join_url")))

    remainder = (cross_doc
                 .withColumn("title_norm",
                             F.lower(F.trim(F.col("doc_title"))))
                 .join(titles.select("title_norm").hint("shuffle_hash"),
                       "title_norm", "left_anti"))
    lenient = (
        F.lower(F.col("doc_title_actual")).contains(F.lower(F.col("doc_title")))
        | F.lower(F.col("doc_title")).contains(F.lower(F.col("doc_title_actual")))
    )
    lenient_match = (remainder
                     .join(F.broadcast(titles), lenient, "inner")
                     .select(*base_cols,
                             F.col("resolved_url").alias("join_url")))
    cross_with_url = exact.unionByName(lenient_match)

    quals = same_corpus.unionByName(cross_with_url)

    # one equi-join on (url, node type) for both the Document level and
    # inner levels — the number condition (exact or wildcard -1; vacuous
    # for Document patterns) is a post-join filter, so the mentions table
    # is shuffled once instead of once per branch.  The SHUFFLE_HASH hint
    # on the quals side pins the documented plan (both corpus-scale sides
    # shuffle on the keys; the skinnier mention side builds the
    # per-partition hash map) against the checkpoint-stats trap above.
    joined = quals.hint("shuffle_hash").join(
        cand,
        (F.col("join_url") == cand["target_url"])
        & (F.col("deep_type") == cand["cand_type"]),
        "inner",
    ).filter(
        (F.col("deep_type") == F.lit("Document"))
        | (F.col("deep_number") == cand["cand_number"])
        | (F.col("deep_number") == F.lit(-1)))

    confirmed = joined.filter(_path_confirm())

    # first target in document order (the reference keeps only targets[0]);
    # min(struct) instead of a row_number window so the reduction combines
    # map-side before the shuffle
    keys = ["url", "node_id", "seq", "mention_idx", "start", "text",
            "qual_idx"]
    target = F.struct("target_doc_rank", "target_url", "target_seq",
                      "target_node_id", "target_display").alias("t")
    return (confirmed
            .select(*keys, target)
            .groupBy(*keys)
            .agg(F.min("t").alias("t"))
            .select(*keys, F.col("t.target_url").alias("target_url"),
                    F.col("t.target_node_id").alias("target_node_id"),
                    F.col("t.target_seq").alias("target_seq"),
                    F.col("t.target_display").alias("target_display")))
