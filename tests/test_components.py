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

from inclusionreferenceskg_spark.functions.kgbuild import (
    link_pairs,
    path_key,
    rewrite_edges,
)
from inclusionreferenceskg_spark.operators import kg
from inclusionreferenceskg_spark.operators.kg import (
    apply_merges,
    connected_components,
    entity_link_pairs,
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


def test_document_dedup_matches_spark_window(spark):
    """The per-document rewrite (``kgbuild.rewrite_edges``, run inside the
    extract pass for every document) and apply_merges' window (run on the
    documents a cross-document merge touches) must produce the same row
    set on mixed singleton and duplicate keys, plus a self-loop that must
    drop on both paths."""
    rows_in = [("u://x", "a", "b", "patient", None, 0),
               ("u://x", "a", "b", "agent", None, 7),
               ("u://x", "a", "c", "loner", None, 1),
               ("u://y", "a", "b", "other-url", None, 2),
               ("u://x", "d", "d", "selfloop", None, 3),
               ("u://x", "e", "f", "dup1", None, 4),
               ("u://x", "e", "f", "dup2", None, 5)]
    edges = spark.createDataFrame(
        rows_in,
        "url string, src string, dst string, label string, "
        "attrs map<string,string>, emit_seq int")
    canon = connected_components(_pairs(spark, []))

    window = {(r["url"], r["src"], r["dst"], r["label"])
              for r in apply_merges(None, edges, canon).collect()}
    by_url = {}
    for url, src, dst, label, attrs, seq in rows_in:
        by_url.setdefault(url, []).append(
            {"url": url, "src": src, "dst": dst, "label": label,
             "attrs": attrs, "emit_seq": seq})
    local = {(e["url"], e["src"], e["dst"], e["label"])
             for doc in by_url.values() for e in rewrite_edges(doc, {})}
    assert local == window == {
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
    driver, with a cutoff just under the pair count, and fully
    distributed — all three give the same map."""
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


def _l3_fixture(spark, src_url="u1"):
    """Tiny corpus with one L3 candidate: a reference from src kg node s1
    (in document ``src_url``) to document node n1 of u1, whose subtree
    (n1, n2, n3) holds one same-lemma-set kg node (g1) plus decoys (wrong
    key, wrong url, outside the subtree, the src itself).  Returns the
    Spark tables and u1's rows as the per-document pass sees them."""
    from pyspark.sql import types as T

    pe = T.StructType([T.StructField("node_type", T.StringType()),
                       T.StructField("number", T.IntegerType()),
                       T.StructField("title", T.StringType())])
    node_rows = [("u1", "n1", [("Document", 1, "d")]),
                 ("u1", "n2", [("Document", 1, "d"), ("Article", 1, None)]),
                 ("u1", "n3", [("Document", 1, "d"), ("Article", 2, None)]),
                 ("u1", "n4", [("Document", 2, "e")]),      # outside subtree
                 ("u2", "m1", [("Document", 1, "d")])]
    nodes = spark.createDataFrame(
        node_rows, T.StructType([T.StructField("url", T.StringType()),
                                 T.StructField("node_id", T.StringType()),
                                 T.StructField("path", T.ArrayType(pe))]))
    kg_cols = ["url", "node_id", "kg_id", "kind", "token_key", "para_key",
               "coref_lemma", "coref_tag", "propn_key", "lemma_set_key",
               "canon_id"]
    kg_rows = [
        ("u1", "n1", "s1", "object", "tk-s1", None, None, None, None, "k",
         None),
        ("u1", "n2", "g1", "object", "tk-g1", None, None, None, None, "k",
         None),
        ("u1", "n3", "g2", "object", "tk-g2", None, None, None, None, "x",
         None),
        ("u1", "n4", "g3", "object", "tk-g3", None, None, None, None, "k",
         None),
        ("u2", "m1", "g4", "object", "tk-g4", None, None, None, None, "k",
         None)]
    kg_nodes = spark.createDataFrame(
        kg_rows, ", ".join(f"{c} string" for c in kg_cols))
    cand = {"url": src_url, "src_kg_id": "s1", "canon_id": None,
            "lemma_set_key": "k", "target_node_id": "n1",
            "target_url": "u1"}
    l3 = spark.createDataFrame(
        [tuple(cand.values())], ", ".join(f"{c} string" for c in cand))
    doc = {"kg_nodes": [dict(zip(kg_cols, r)) for r in kg_rows
                        if r[0] == "u1"],
           "paths": {nid: path_key([dict(zip(("node_type", "number",
                                               "title"), e)) for e in p])
                     for url, nid, p in node_rows if url == "u1"}}
    return kg_nodes, l3, nodes, cand, doc


#: L3 pairs the fixture's decoys must never produce
_L3_DECOYS = [("s1", "g2"), ("s1", "g3"), ("s1", "g4"), ("s1", "s1")]


def test_l3_document_pass_matches_cross_document_join(spark):
    """The same candidate, once inside its target's document (the
    per-document pass, ``kgbuild.link_pairs``) and once from another
    document (the Spark join, ``entity_link_pairs``), must give the same
    pair set on a corpus where every decoy class is present."""
    _, _, _, cand, doc = _l3_fixture(spark)
    local = set(link_pairs("u1", doc["kg_nodes"], [cand], doc["paths"]))
    kg_nodes, l3, nodes, _, _ = _l3_fixture(spark, src_url="u0")
    cross_rows = entity_link_pairs(kg_nodes, l3, nodes).collect()
    cross = {(r.a, r.b) for r in cross_rows}
    assert {(r.url, r.b_url) for r in cross_rows} == {("u0", "u1")}
    assert local == cross
    assert ("s1", "g1") in local  # the genuine L3 pair is present
    for bad in _L3_DECOYS:
        assert bad not in local


def test_l3_empty_candidates_short_circuit(spark):
    """Zero candidates -> no L3 pair on either path, and the pairs the
    blocking linkers give alone (none here: no shared token, paragraph or
    proper noun) are unaffected."""
    kg_nodes, l3, nodes, _, doc = _l3_fixture(spark, src_url="u0")
    empty = l3.filter(F.lit(False))
    cross = {(r.a, r.b)
             for r in entity_link_pairs(kg_nodes, empty, nodes).collect()}
    local = set(link_pairs("u1", doc["kg_nodes"], [], doc["paths"]))
    assert cross == local == set()
    assert all(a != "s1" or b != "g1" for a, b in local | cross)
