"""Conformance suite: the reference's hand-annotated unit tests, ported 1:1.

Each test mirrors one of the reference's model-free tests (manually
annotated dependency parses, mock coref, hand-built phrases — the
reference never loads a spaCy model in its unit tests either), re-expressed
over this repo's token/phrase/graph model:

* ``tests/kg_creation/test_kg_renderer.py`` -> assemble_graph
* ``tests/kg_creation/attribute_extraction/test_attribute_extractor.py``
  -> the inlined negation / preposition attribute logic
* ``tests/kg_creation/entity_linking/test_entity_linker.py`` -> the
  L2/L3/L4 blocking keys + candidate emission
* ``tests/kg_creation/sentence_analysing/test_phrase_extractor.py`` is
  already ported as tests/test_phrases.py::test_extract_from_sentence_golden

The expected structures (node sets, adjacency, labels, merge pairs) are the
reference's assertions verbatim; only the construction API differs.
"""

from __future__ import annotations

from inclusionreferenceskg_spark.functions.doctree import paragraph_key_for
from inclusionreferenceskg_spark.functions.kgbuild import (
    assemble_graph,
    l3_candidates,
)
from inclusionreferenceskg_spark.functions.phrases import (
    Phrase,
    PhraseObject,
    Predicate,
)
from inclusionreferenceskg_spark.functions.tokens import (
    Tok,
    make_doc,
    sent_from_spec,
)

URL = "eu://conformance"


def _adjacency(edges):
    """Replay the edge list with the reference's add_edge overwrite
    semantics (one edge per (u,v), last write wins,
    knowledge_graph.py:23-43)."""
    final = {}
    for e in sorted(edges, key=lambda e: e["emit_seq"]):
        final[(e["src"], e["dst"])] = (e["label"], e["attrs"])
    return final


def _node_of_factory(node_row):
    return lambda tok: node_row


SP1 = {"node_id": "sp1", "para_key": "p1"}


# --------------------------------------------------------------- renderer

def test_kg_renderer_add_phrase_object_once():
    """Port of test_kg_renderer.py:11-34: objects shared between two
    phrases appear exactly once in the node set."""
    sent = sent_from_spec([(f"t{i}", "NOUN", "NN", "dep", i)
                           for i in range(3)])
    toks = list(sent)
    pos = [PhraseObject(t, f"po{t.i}") for t in toks]

    p0 = Phrase("ph0", [])
    p0.patient_objects = [pos[0], pos[1]]
    p0.agent_objects = [pos[2]]
    p1 = Phrase("ph1", [])
    p1.agent_objects = [pos[0], pos[1]]
    p1.patient_objects = [pos[2]]

    kg_nodes, _ = assemble_graph(URL, "x", [p0, p1],
                                 _node_of_factory(SP1))
    assert set(kg_nodes.keys()) == {"po0", "po1", "po2"}


def test_kg_renderer_example():
    """Port of test_kg_renderer.py:37-128: five predicates, eight objects,
    one object wrapping a resolved reference (rerouted to the document
    node), nested agent/patient/conditional phrases — exact adjacency."""
    spec = [(f"t{i}", "NOUN", "NN", "dep", i) for i in range(13)]
    sent = sent_from_spec(spec)
    toks = list(sent)
    pos = [PhraseObject(t, f"po{t.i}") for t in toks[:8]]
    preds = [Predicate(t, f"pr{t.i - 8}") for t in toks[8:]]

    # doc[7] carries a resolved reference targeting the document node
    toks[7].is_ref = True
    toks[7].ref_targets = [{"node_id": "doc1", "url": URL}]

    p0 = Phrase("ph0", [preds[0]])
    p0.patient_objects = [pos[0]]
    p0.agent_objects = [pos[1]]

    p1 = Phrase("ph1", [preds[1], preds[2]])
    p1.agent_objects = [pos[2]]
    p1.patient_objects = [pos[3]]

    p2 = Phrase("ph2", [preds[3]])
    p2.agent_objects = [pos[4]]
    p2.patient_objects = [pos[5]]

    p3 = Phrase("ph3", [preds[4]])
    p3.agent_objects = [pos[6]]
    p3.patient_objects = [pos[7]]
    p3.agent_phrases = [p0]
    p3.patient_phrases = [p1]
    p3.condition_phrases = [p2]

    node_row = {"node_id": "doc1", "para_key": None}
    kg_nodes, edges = assemble_graph(URL, "x", [p3],
                                     _node_of_factory(node_row))
    adj = _adjacency(edges)

    # 12 token-bearing nodes (5 predicates + 7 objects; po7 rerouted);
    # the document node itself lives in the nodes table, not here
    assert set(kg_nodes) == {f"pr{i}" for i in range(5)} | {
        f"po{i}" for i in range(7)}

    def out_edges(nid):
        return {dst: lab for (src, dst), (lab, _) in adj.items()
                if src == nid}

    assert out_edges("pr0") == {"po0": "patient", "po1": "agent"}
    assert out_edges("pr1") == {"po2": "agent", "po3": "patient"}
    assert out_edges("pr2") == {"po2": "agent", "po3": "patient"}
    assert out_edges("pr3") == {"po4": "agent", "po5": "patient"}
    # pr4: objects + reroute to doc1 + nested pred->pred edges + defines src
    assert out_edges("pr4") == {
        "po6": "agent", "doc1": "patient",
        "pr0": "agent", "pr1": "patient", "pr2": "patient",
        "pr3": "conditional"}
    # topmost defines edge from the owning document node
    assert adj[("doc1", "pr4")][0] == "defines"
    # nested phrases get no defines edges
    assert ("doc1", "pr0") not in adj


def test_kg_renderer_recursion():
    """Port of test_kg_renderer.py:131-160: a cycle of agent_phrases must
    terminate and produce the 3-cycle of agent edges."""
    sent = sent_from_spec([(f"t{i}", "VERB", "VB", "dep", i)
                           for i in range(3)])
    toks = list(sent)
    preds = [Predicate(t, f"pr{t.i}") for t in toks]
    p0, p1, p2 = (Phrase(f"ph{i}", [preds[i]]) for i in range(3))
    p0.agent_phrases = [p1]
    p1.agent_phrases = [p2]
    p2.agent_phrases = [p0]

    kg_nodes, edges = assemble_graph(URL, "x", [p0],
                                     _node_of_factory(SP1))
    adj = _adjacency(edges)
    assert set(kg_nodes) == {"pr0", "pr1", "pr2"}
    labelled = {(s, d): lab for (s, d), (lab, _) in adj.items()
                if lab == "agent"}
    assert labelled == {("pr0", "pr1"): "agent", ("pr1", "pr2"): "agent",
                        ("pr2", "pr0"): "agent"}


# ------------------------------------------------------------- attributes

def test_negation_extractor():
    """Port of test_attribute_extractor.py:10-41: 'I do not believe in
    fate unless I am not convinced otherwise' — believe negated (one neg),
    convinced NOT negated (neg + unless mark = double negation)."""
    spec = [
        ("I", "PRON", "PRP", "nsubj", 3),
        ("do", "AUX", "VB", "aux", 3),
        ("not", "PART", "RB", "neg", 3),
        ("believe", "VERB", "VB", "ROOT", 3),
        ("in", "ADP", "IN", "prep", 3),
        ("fate", "NOUN", "NN", "pobj", 4),
        ("unless", "SCONJ", "IN", "mark", 10),
        ("I", "PRON", "PRP", "nsubjpass", 10),
        ("am", "AUX", "VB", "auxpass", 10),
        ("not", "PART", "RB", "neg", 10),
        ("convinced", "VERB", "VBN", "advcl", 3),
        ("otherwise", "ADV", "RB", "advmod", 10),
        (".", "PUNCT", ".", "punct", 3),
    ]
    sent = sent_from_spec(spec)
    toks = list(sent)
    ph_b = Phrase("phb", [Predicate(toks[3], "believe_node")])
    ph_c = Phrase("phc", [Predicate(toks[10], "convinced_node")])
    kg_nodes, _ = assemble_graph(URL, "x", [ph_b, ph_c],
                                 _node_of_factory(SP1))
    assert kg_nodes["believe_node"]["negated"] is True
    assert kg_nodes["convinced_node"]["negated"] is False


def test_preposition_extractor():
    """Port of test_attribute_extractor.py:44-80: 'I want to be in bed
    right now' — only the be->bed patient edge carries prepositions
    ['in']."""
    spec = [
        ("I", "PRON", "PRP", "nsubj", 1),
        ("want", "VERB", "VB", "ROOT", 1),
        ("to", "PART", "TO", "aux", 3),
        ("be", "AUX", "VB", "xcomp", 1),
        ("in", "ADP", "IN", "prep", 3),
        ("bed", "NOUN", "NN", "pobj", 4),
        ("right", "ADV", "RB", "advmod", 7),
        ("now", "ADV", "RB", "advmod", 3),
        (".", "PUNCT", ".", "punct", 1),
    ]
    sent = sent_from_spec(spec)
    toks = list(sent)

    want = Phrase("ph_want", [Predicate(toks[1], "want")])
    want.agent_objects = [PhraseObject(toks[0], "I")]
    be = Phrase("ph_be", [Predicate(toks[3], "be")])
    be.patient_objects = [PhraseObject(toks[5], "bed")]
    want.patient_phrases = [be]

    _, edges = assemble_graph(URL, "x", [want], _node_of_factory(SP1))
    adj = _adjacency(edges)
    assert adj[("be", "bed")][0] == "patient"
    assert adj[("be", "bed")][1] == {"prepositions": "in"}
    for (src, dst), (_, attrs) in adj.items():
        if (src, dst) != ("be", "bed"):
            assert "prepositions" not in attrs


# ---------------------------------------------------------- entity linking

def _two_article_rows():
    """The reference's two-article document skeleton
    (test_entity_linker.py:39-49), as parse rows: Document > Article 1/2 >
    Paragraph 1 > Subparagraph 1."""
    rows = []
    for art in (1, 2):
        path = [
            {"node_type": "Document", "number": None},
            {"node_type": "Article", "number": art},
            {"node_type": "Paragraph", "number": 1},
            {"node_type": "Subparagraph", "number": 1},
        ]
        rows.append({"node_id": f"a{art}p1s1",
                     "para_key": paragraph_key_for(URL, path[:3])})
    return rows


def test_lemma_linker_blocking_keys():
    """Port of test_entity_linker.py:97-170: three NOUN tokens with lemma
    'test'; the two in Article 1 Paragraph 1 share the L2 block, the one
    in Article 2 Paragraph 1 does not."""
    rows = _two_article_rows()
    t1 = ["Tests", "are", "great", ".", "I", "love", "this", "test", "."]
    t2 = ["These", "are", "not", "the", "tests", "you", "are", "looking",
          "for", "."]
    toks = [Tok(i, w, pos="NOUN" if i in (0, 7, 13) else "X",
                tag="NN" if i in (0, 7, 13) else "X")
            for i, w in enumerate(t1 + t2)]
    for t in toks:
        if t.i in (0, 7, 13):
            t.lemma = "test"
    make_doc([toks])

    def node_of(tok):
        return rows[0] if tok.i < len(t1) else rows[1]

    phrases = []
    for i in (0, 7, 13):
        ph = Phrase(f"ph{i}", [])
        ph.patient_objects = [PhraseObject(toks[i], f"po{i}")]
        phrases.append(ph)
    kg_nodes, _ = assemble_graph(URL, "x", phrases, node_of)

    def l2_key(nid):
        r = kg_nodes[nid]
        return (r["para_key"], r["coref_lemma"], r["coref_tag"])

    assert l2_key("po0") == l2_key("po7")          # same paragraph block
    assert l2_key("po0") != l2_key("po13")         # different Article


def test_proper_noun_linker_blocking_keys():
    """Port of test_entity_linker.py:173-253: 'Member States' x2 (across
    articles) share the L4 key; 'United States' (different compound) does
    not."""
    rows = _two_article_rows()
    words = ["The", "EU", "'s", "Member", "States", "are", "great", ".",
             "I", "like", "the", "Member", "States", ".",
             "The", "United", "States", "are", "a", "country", "."]
    toks = [Tok(i, w) for i, w in enumerate(words)]
    for i, head in ((3, 4), (11, 12), (15, 16)):
        toks[i].pos, toks[i].dep, toks[i].head_i = "PROPN", "compound", head
    for i in (4, 12, 16):
        toks[i].pos = "PROPN"
    make_doc([toks])

    def node_of(tok):
        return rows[0] if tok.i < 8 else rows[1]

    phrases = []
    for i in (4, 12, 16):
        ph = Phrase(f"ph{i}", [])
        ph.patient_objects = [PhraseObject(toks[i], f"po{i}")]
        phrases.append(ph)
    kg_nodes, _ = assemble_graph(URL, "x", phrases, node_of)

    assert kg_nodes["po4"]["propn_key"] == kg_nodes["po12"]["propn_key"]
    assert kg_nodes["po4"]["propn_key"] != kg_nodes["po16"]["propn_key"]
    assert kg_nodes["po4"]["propn_key"] is not None


def test_reference_linker_candidates():
    """Port of test_entity_linker.py:19-94: 'The tests referred to in
    paragraph 1 …' — the <object> VERB ADP+ REF window emits an L3
    candidate rerouting the match to the mention's target subtree; the
    lemma-set key matches the 'tests' object in Article 1."""
    rows = _two_article_rows()
    t1 = ["I", "diligently", "write", "tests"]
    t2 = ["The", "tests", "referred", "to", "in", "paragraph 1",
          "are", "important"]
    toks = [Tok(i, w) for i, w in enumerate(t1 + t2)]
    toks[3].pos, toks[3].lemma = "NOUN", "test"
    toks[5].pos, toks[5].lemma = "NOUN", "test"
    toks[6].pos = "VERB"
    toks[7].pos = "ADP"
    toks[8].pos = "ADP"
    toks[9].pos, toks[9].tag = "PROPN", "REF"
    toks[9].is_ref = True
    toks[9].ref_targets = [{"node_id": "a1p1", "url": URL}]
    make_doc([toks])
    doc = toks

    def node_of(tok):
        return rows[0] if tok.i < len(t1) else rows[1]

    ph1 = Phrase("ph1", [])
    ph1.patient_objects = [PhraseObject(toks[3], "id_1")]
    ph2 = Phrase("ph2", [])
    ph2.patient_objects = [PhraseObject(toks[5], "id_2")]
    kg_nodes, _ = assemble_graph(URL, "x", [ph1, ph2], node_of)

    cands = l3_candidates(URL, doc, kg_nodes)
    assert len(cands) == 1
    (c,) = cands
    assert c["src_kg_id"] == "id_2"
    assert c["target_node_id"] == "a1p1"
    # merge precondition downstream: equal coref-lemma sets
    assert kg_nodes["id_1"]["lemma_set_key"] == \
        kg_nodes["id_2"]["lemma_set_key"]
