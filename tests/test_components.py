"""Connected-components + merge-rewrite semantics.

Merge-pair data lifted from the reference's batched-merge tests
(tests/kg_creation/test_knolwedge_graph.py): chained/cyclic/complete merge
groups must collapse to one canonical node per component; edge rewrite must
drop self-loops and redirect in/out edges (merge semantics,
knowledge_graph.py:64-112).  The reference's nondeterministic set.pop()
winner is determinized to min-id.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from inclusionreferenceskg_spark.operators import kg
from inclusionreferenceskg_spark.operators.kg import (
    apply_merges,
    connected_components,
)


def _pairs(spark, pairs):
    return spark.createDataFrame(
        [("u://x", a, b) for a, b in pairs], "url string, a string, b string")


def test_batched_merge_single_component(spark):
    pairs = _pairs(spark, [("1", "2"), ("2", "3"), ("3", "1"),
                           ("4", "1"), ("5", "2"), ("6", "3")])
    canon = connected_components(pairs)
    labels = {r["kg_id"]: r["canon_id"] for r in canon.collect()}
    assert set(labels.values()) == {"1"}
    assert set(labels) == {"1", "2", "3", "4", "5", "6"}


def test_batch_merge_components(spark):
    merges = [("1", "2"), ("2", "3"), ("3", "4"), ("2", "4"),
              ("5", "6"), ("6", "7"),
              ("9", "10"), ("9", "11"), ("9", "12"),
              ("10", "11"), ("10", "12"), ("11", "12")]
    canon = connected_components(_pairs(spark, merges))
    labels = {r["kg_id"]: r["canon_id"] for r in canon.collect()}
    # node 8 never merged -> absent from the map (identity by default)
    assert "8" not in labels
    comps = {}
    for k, v in labels.items():
        comps.setdefault(v, set()).add(k)
    # canonical = lexicographic min id ("10" < "9"; real kg ids are
    # fixed-width so lexicographic == insertion-stable)
    assert comps == {
        "1": {"1", "2", "3", "4"},
        "5": {"5", "6", "7"},
        "10": {"9", "10", "11", "12"},
    }


def test_merge_edge_rewrite(spark):
    # u <- o1, u -> o2, v -> o3, o4 -> v; merge(u, v) keeps all four edges
    # on the canonical node and drops any u<->v edges as self loops
    edges = spark.createDataFrame(
        [("u://x", "o1", "u", "dummy", None, 0),
         ("u://x", "u", "o2", "dummy", None, 1),
         ("u://x", "v", "o3", "dummy", None, 2),
         ("u://x", "o4", "v", "dummy", None, 3),
         ("u://x", "u", "v", "dummy", None, 4)],
        "url string, src string, dst string, label string, "
        "attrs map<string,string>, emit_seq int")
    canon = connected_components(_pairs(spark, [("u", "v")]))
    final = apply_merges(None, edges, canon)
    got = {(r["src"], r["dst"]) for r in final.collect()}
    assert got == {("o1", "u"), ("u", "o2"), ("u", "o3"), ("o4", "u")}


def test_duplicate_edges_keep_last_write(spark):
    edges = spark.createDataFrame(
        [("u://x", "a", "b", "patient", None, 0),
         ("u://x", "a", "b", "agent", None, 7)],
        "url string, src string, dst string, label string, "
        "attrs map<string,string>, emit_seq int")
    canon = connected_components(_pairs(spark, []))
    final = apply_merges(None, edges, canon).collect()
    assert len(final) == 1
    assert final[0]["label"] == "agent"  # last write wins (add_edge overwrite)


def test_duplicate_split_matches_full_window(spark):
    """apply_merges' broadcast singleton/duplicate split must produce the
    exact row set of the full-table window it replaces; cutoff=0 forces
    the web-scale full-window path on the same input (mixed singleton and
    duplicate keys, plus a self-loop that must drop on both paths)."""
    edges = spark.createDataFrame(
        [("u://x", "a", "b", "patient", None, 0),
         ("u://x", "a", "b", "agent", None, 7),
         ("u://x", "a", "c", "loner", None, 1),
         ("u://y", "a", "b", "other-url", None, 2),
         ("u://x", "d", "d", "selfloop", None, 3),
         ("u://x", "e", "f", "dup1", None, 4),
         ("u://x", "e", "f", "dup2", None, 5)],
        "url string, src string, dst string, label string, "
        "attrs map<string,string>, emit_seq int")
    canon = connected_components(_pairs(spark, []))

    def rows(df):
        return {(r["url"], r["src"], r["dst"], r["label"])
                for r in df.collect()}

    split = rows(apply_merges(None, edges, canon))
    window = rows(apply_merges(None, edges, canon, dup_broadcast_cutoff=0))
    assert split == window == {
        ("u://x", "a", "b", "agent"),
        ("u://x", "a", "c", "loner"),
        ("u://y", "a", "b", "other-url"),
        ("u://x", "e", "f", "dup2"),
    }


def test_components_distributed_loop_matches_fast_path(spark, monkeypatch):
    """The driver fast path and the distributed min-label loop must
    produce identical canonical maps; cutoff=0 forces the loop on the
    same input."""
    merges = [("1", "2"), ("2", "3"), ("3", "4"), ("2", "4"),
              ("5", "6"), ("6", "7"),
              ("9", "10"), ("9", "11"), ("9", "12")]
    fast = {(r["kg_id"], r["canon_id"])
            for r in connected_components(_pairs(spark, merges)).collect()}
    monkeypatch.setattr(kg, "DRIVER_CUTOFF", 0)
    loop = {(r["kg_id"], r["canon_id"])
            for r in connected_components(_pairs(spark, merges)).collect()}
    assert fast == loop
    assert fast  # non-empty


def _kg_id(doc: int, n: int) -> str:
    """A kg-id-shaped id: 12-char document prefix, then the node."""
    return f"{doc:012x}:o{n}"


def _canon_map(spark, merges, ids):
    """The canonical map as apply_merges/make_triples read it: an id
    missing from the output maps to itself."""
    got = {r["kg_id"]: r["canon_id"]
           for r in connected_components(_pairs(spark, merges)).collect()}
    return {i: got.get(i, i) for i in ids}


def _min_per_component(merges, ids):
    comp = {i: {i} for i in ids}
    for a, b in merges:
        if comp[a] is not comp[b]:
            merged = comp[a] | comp[b]
            for x in merged:
                comp[x] = merged
    return {i: min(comp[i]) for i in ids}


def test_long_cross_document_chain(spark, monkeypatch):
    """A 30-pair chain with every link across documents and the minimum
    at one end: the distributed loop must run to convergence, not stop
    after a fixed round budget."""
    ids = [_kg_id(d, 0) for d in range(31)]
    merges = list(zip(ids[1:], ids[:-1]))
    want = _min_per_component(merges, ids)
    assert set(want.values()) == {ids[0]}
    assert _canon_map(spark, merges, ids) == want
    monkeypatch.setattr(kg, "DRIVER_CUTOFF", 0)
    assert _canon_map(spark, merges, ids) == want


def test_mixed_local_and_cross_document_pairs(spark, monkeypatch):
    """Within-document chains joined by a long cross-document chain, plus
    a separate two-document component and unmerged ids.  Labelled on the
    driver, through the local contraction with a driver-labelled quotient
    (pair list over the cutoff, quotient under it), and fully distributed
    — all three give the same map."""
    merges = []
    for d in range(16):
        # a scrambled chain inside each document: o5-o2-o4-o1-o3
        merges += [(_kg_id(d, 5), _kg_id(d, 2)), (_kg_id(d, 2), _kg_id(d, 4)),
                   (_kg_id(d, 4), _kg_id(d, 1)), (_kg_id(d, 1), _kg_id(d, 3))]
    # cross-document links from a non-root member of one document to a
    # non-root member of the next, so the quotient runs through roots
    merges += [(_kg_id(d + 1, 4), _kg_id(d, 5)) for d in range(15)]
    merges += [(_kg_id(100, 2), _kg_id(101, 3)), (_kg_id(101, 3),
                                                   _kg_id(101, 7))]
    ids = sorted({x for p in merges for x in p}
                 | {_kg_id(0, 0), _kg_id(200, 1)})
    want = _min_per_component(merges, ids)
    assert len(set(want.values())) == 4

    assert _canon_map(spark, merges, ids) == want
    n_cross = sum(a[:12] != b[:12] for a, b in merges)
    monkeypatch.setattr(kg, "DRIVER_CUTOFF", n_cross)
    assert len(merges) > kg.DRIVER_CUTOFF
    assert _canon_map(spark, merges, ids) == want
    monkeypatch.setattr(kg, "DRIVER_CUTOFF", 0)
    assert _canon_map(spark, merges, ids) == want


def _l3_fixture(spark):
    """Tiny corpus with a non-empty L3 candidate set: one reference from
    src kg node s1 to document node n1, whose subtree (n1, n2, n3) holds
    one same-lemma-set kg node (g1) plus decoys (wrong key, wrong url,
    outside the subtree, the src itself)."""
    from pyspark.sql import types as T

    pe = T.StructType([T.StructField("node_type", T.StringType()),
                       T.StructField("number", T.IntegerType()),
                       T.StructField("title", T.StringType())])
    nodes = spark.createDataFrame(
        [("u1", "n1", [("Document", 1, "d")]),
         ("u1", "n2", [("Document", 1, "d"), ("Article", 1, None)]),
         ("u1", "n3", [("Document", 1, "d"), ("Article", 2, None)]),
         ("u1", "n4", [("Document", 2, "e")]),          # outside subtree
         ("u2", "m1", [("Document", 1, "d")])],
        T.StructType([T.StructField("url", T.StringType()),
                      T.StructField("node_id", T.StringType()),
                      T.StructField("path", T.ArrayType(pe))]))
    kg_cols = ("url string, node_id string, kg_id string, kind string, "
               "token_key string, para_key string, coref_lemma string, "
               "coref_tag string, propn_key string, lemma_set_key string")
    kg_nodes = spark.createDataFrame(
        [("u1", "n1", "s1", "object", "tk-s1", None, None, None, None, "k"),
         ("u1", "n2", "g1", "object", "tk-g1", None, None, None, None, "k"),
         ("u1", "n3", "g2", "object", "tk-g2", None, None, None, None, "x"),
         ("u1", "n4", "g3", "object", "tk-g3", None, None, None, None, "k"),
         ("u2", "m1", "g4", "object", "tk-g4", None, None, None, None, "k")],
        kg_cols)
    l3 = spark.createDataFrame(
        [("u1", "s1", "k", "n1", "u1")],
        "url string, src_kg_id string, lemma_set_key string, "
        "target_node_id string, target_url string")
    return kg_nodes, l3, nodes


def test_l3_broadcast_plan_matches_shuffle_plan(spark):
    """The adaptive L3 join (candidate-driven broadcast plan) must emit
    the identical pair set as the corpus-shuffle fallback, on a corpus
    where every decoy class is present."""
    from inclusionreferenceskg_spark.operators.kg import entity_link_pairs

    kg_nodes, l3, nodes = _l3_fixture(spark)
    want_l3 = {("u1", "s1", "g1")}

    def rows(df):
        return {(r.url, r.a, r.b) for r in df.collect()}

    bcast = rows(entity_link_pairs(kg_nodes, l3, nodes))
    bcast_guarded = rows(entity_link_pairs(kg_nodes, l3, nodes,
                                           l3_hits_cutoff=0))
    shuffle = rows(entity_link_pairs(kg_nodes, l3, nodes,
                                     l3_broadcast_cutoff=0))
    assert bcast == bcast_guarded == shuffle
    assert want_l3 <= bcast  # the genuine L3 pair is present
    # decoys excluded on every plan
    for bad in [("u1", "s1", "g2"), ("u1", "s1", "g3"),
                ("u1", "s1", "g4"), ("u1", "s1", "s1")]:
        assert bad not in bcast


def test_l3_empty_candidates_short_circuit(spark):
    """Zero candidates -> identical output to the shuffle plan (which
    joins through an empty side) with no corpus-scale join inputs."""
    from inclusionreferenceskg_spark.operators.kg import entity_link_pairs

    kg_nodes, l3, nodes = _l3_fixture(spark)
    empty = l3.filter(F.lit(False))
    fast = {(r.url, r.a, r.b)
            for r in entity_link_pairs(kg_nodes, empty, nodes).collect()}
    slow = {(r.url, r.a, r.b)
            for r in entity_link_pairs(kg_nodes, empty, nodes,
                                       l3_broadcast_cutoff=0).collect()}
    assert fast == slow
    # the fused star (L1 token groups etc.) is unaffected by the
    # short-circuit; no pair references the L3 target machinery
    assert all(a != "s1" or b != "g1" for _, a, b in fast)
