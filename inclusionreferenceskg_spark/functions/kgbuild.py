"""Per-document KG assembly: node rows -> kg node/edge rows + linker keys.

Pure-Python core of the graph-assembly UDF, faithful to the reference's
document-level analysis: ``nlp_doc`` concatenates node contents in
pre-order (``content + "\\n"``, kg_renderer.py:151-159) and annotates the
whole document at once — sentences may span node boundaries (enumeration
lists: "shall contain: (a) the name ...; (b) the purposes ...") — and each
token is assigned its owning document node by character offset
(kg_renderer.py:164-177).  Graph assembly then follows
``KGRenderer.render``/``_add_phrase`` (kg_renderer.py:35-126):

* ``defines`` edges from the predicate token's document node;
* ``agent``/``patient`` edges predicate -> object, with objects wrapping a
  resolved reference mention **rerouted** to the target document node;
* nested phrases add predicate -> predicate edges
  (agent/patient/conditional); a visited-set makes cycles safe;
* attribute extraction inlined: predicate negation
  (negation_extractor.py:14-26) and preposition chains on agent/patient
  edges (preposition_extractor.py:17-37);
* token-bearing kg nodes carry the entity-linker blocking keys (L1
  same-token, L2 same-lemma-in-paragraph, L4 proper-noun) and L3
  "<obj> VERB/ADJ ADP+ <ref>" candidates (reference_linker.py:29-59).

Edges carry a write sequence so the reference's ``add_edge`` overwrite
semantics (one edge per (u,v), last write wins, knowledge_graph.py:23-43)
replay deterministically downstream.
"""

from __future__ import annotations

import bisect
import hashlib
import itertools
from typing import Dict, List, Optional

from inclusionreferenceskg_spark.functions.annotate_spacy import get_annotator
from inclusionreferenceskg_spark.functions.phrases import (
    Phrase,
    PhraseExtractor,
)
from inclusionreferenceskg_spark.functions.tokens import Tok

_PREP_DEPS = {"prep", "acomp"}


def _coref_base(tok: Tok) -> Tok:
    if tok.coref:
        return tok.sent.doc[tok.coref[0]]
    return tok


def _coref_lemmas(tok: Tok) -> List[str]:
    doc = tok.sent.doc
    toks = [doc[j] for j in tok.coref] if tok.coref else [tok]
    return sorted({t.lemma for t in toks})


def render_document(url: str, node_rows: List[Dict],
                    mentions_by_node: Dict[str, List[Dict]],
                    include_extensions: bool = False) -> Dict[str, list]:
    """Assemble one document's graph rows.

    :param node_rows: the document's nodes in pre-order (seq ascending),
        dicts with node_id/content/para_key (the full path array is not
        needed here — the L2 blocking key was materialized at parse time).
    :param mentions_by_node: node_id -> [{'start','text','targets'}, ...]
        with starts relative to the node's content.
    :return: {'kg_nodes': [...], 'kg_edges': [...], 'l3': [...]}
    """
    prefix = hashlib.sha256(url.encode("utf-8")).hexdigest()[:12]

    # N2: pre-order concatenation + per-node end offsets
    parts: List[str] = []
    ends: List[int] = []
    pos = 0
    doc_mentions: List[Dict] = []
    for row in node_rows:
        content = row["content"] or ""
        for m in mentions_by_node.get(row["node_id"], []):
            doc_mentions.append({"start": pos + m["start"], "text": m["text"],
                                 "targets": m.get("targets") or []})
        parts.append(content)
        parts.append("\n")
        pos += len(content) + 1
        ends.append(pos)
    raw_text = "".join(parts)

    sents = get_annotator()(raw_text, doc_mentions)
    doc = [t for s in sents for t in s]

    def node_of(tok: Tok) -> Dict:
        i = bisect.bisect_right(ends, tok.idx)
        return node_rows[min(i, len(node_rows) - 1)]

    extractor = PhraseExtractor(id_prefix=f"{prefix}:")
    phrases: List[Phrase] = []
    for sent in sents:
        phrases.extend(
            extractor.extract_from_sentence(sent, include_extensions))

    kg_nodes, edges = assemble_graph(url, prefix, phrases, node_of,
                                     include_extensions)
    l3 = l3_candidates(url, doc, kg_nodes)
    return {"kg_nodes": list(kg_nodes.values()), "kg_edges": edges, "l3": l3}


def assemble_graph(url: str, prefix: str, phrases: List[Phrase], node_of,
                   include_extensions: bool = False):
    """Graph assembly proper (KGRenderer.render/_add_phrase,
    kg_renderer.py:35-126): phrases -> kg node rows + edge rows.  Split out
    from :func:`render_document` so the reference's hand-built-phrase unit
    tests (tests/kg_creation/test_kg_renderer.py) port 1:1 against it.

    :param node_of: token -> node-row dict (``token._.node`` equivalent).
    """
    kg_nodes: Dict[str, Dict] = {}
    edges: List[Dict] = []
    added: set = set()

    def ensure_node(obj, kind: str) -> None:
        tok = obj.token
        owner = node_of(tok)
        nid = owner["node_id"]
        kg_nodes[obj.id] = {
            "url": url, "kg_id": obj.id, "kind": kind, "node_id": nid,
            "token_key": f"{prefix}:{tok.i}",
            "token_i": tok.i, "token_text": tok.text, "lemma": tok.lemma,
            "tag": tok.tag, "pos": tok.pos,
            "negated": None,
            "para_key": owner.get("para_key"),
            "coref_lemma": _coref_base(tok).lemma,
            "coref_tag": _coref_base(tok).tag,
            "propn_key": (
                tok.text + "\x1f" + "\x1f".join(
                    c.text for c in tok.children if c.dep == "compound")
                if tok.pos == "PROPN" else None),
            "lemma_set_key": "\x1f".join(_coref_lemmas(tok)),
        }

    def emit(src: str, dst: str, label: str,
             attrs: Optional[Dict[str, str]] = None) -> None:
        edges.append({"url": url, "src": src, "dst": dst, "label": label,
                      "attrs": attrs or {}, "emit_seq": len(edges)})

    def prep_attrs(obj) -> Optional[Dict[str, str]]:
        tok = obj.token
        if tok.head.dep not in _PREP_DEPS:
            return None
        chain = [tok.head]
        while chain[0].head.dep in _PREP_DEPS and chain[0].head is not chain[0]:
            chain.insert(0, chain[0].head)
        return {"prepositions": " ".join(t.text for t in chain)}

    def add_phrase(phrase: Phrase, topmost: bool = False) -> None:
        if phrase.id in added:
            return
        added.add(phrase.id)

        if topmost:
            for pred in phrase.predicate:
                emit(node_of(pred.token)["node_id"], pred.id, "defines")

        for pred in phrase.predicate:
            ensure_node(pred, "predicate")
            tok = pred.token
            neg = sum(1 for c in tok.children if c.dep == "neg")
            neg += sum(1 for c in tok.children
                       if c.dep == "mark" and c.pos == "SCONJ"
                       and c.text in ("except", "unless"))
            kg_nodes[pred.id]["negated"] = bool(neg % 2)

        for role, objs in (("patient", phrase.patient_objects),
                           ("agent", phrase.agent_objects)):
            for obj in objs:
                if obj.token.is_ref and obj.token.ref_targets:
                    for target, pred in itertools.product(
                            obj.token.ref_targets, phrase.predicate):
                        emit(pred.id, target["node_id"], role)
                else:
                    ensure_node(obj, "object")
                    attrs = prep_attrs(obj)
                    for pred in phrase.predicate:
                        emit(pred.id, obj.id, role, attrs)

        if include_extensions:
            stack = list(itertools.chain(phrase.agent_objects,
                                         phrase.patient_objects))
            while stack:
                cur = stack.pop()
                for poss in cur.possessors:
                    ensure_node(poss, "object")
                    emit(cur.id, poss.id, "of")
                stack.extend(cur.possessors)
            for obj in itertools.chain(phrase.agent_objects,
                                       phrase.patient_objects):
                for desc in obj.described_by:
                    add_phrase(desc)
                    for pred in desc.predicate:
                        emit(obj.id, pred.id, "described_by")

        for label, nested_list in (("patient", phrase.patient_phrases),
                                   ("agent", phrase.agent_phrases),
                                   ("conditional", phrase.condition_phrases)):
            for nested in nested_list:
                for mine, other in itertools.product(phrase.predicate,
                                                     nested.predicate):
                    emit(mine.id, other.id, label)
                add_phrase(nested)

    for phrase in phrases:
        add_phrase(phrase, topmost=True)
    return kg_nodes, edges


def l3_candidates(url: str, doc: List[Tok],
                  kg_nodes: Dict[str, Dict]) -> List[Dict]:
    """ReferenceLinker candidates (reference_linker.py:29-59): a
    ``<object> VERB|ADJ ADP+ <REF>`` window within 10 tokens of a
    PhraseObject's token emits (kg node, mention-target) rows; the merge
    itself is the path-prefix subtree join + lemma-set equality downstream
    (operators/kg.py)."""
    l3 = []
    for row in kg_nodes.values():
        if row["kind"] != "object":
            continue
        tok_i = row["token_i"]
        window = doc[tok_i: tok_i + 10]
        if len(window) < 4 or window[1].pos not in ("VERB", "ADJ"):
            continue
        j = 2
        if window[j].pos != "ADP":
            continue
        while j < len(window) and window[j].pos == "ADP":
            j += 1
        if j < len(window) and window[j].tag == "REF" \
                and window[j].ref_targets:
            for target in window[j].ref_targets:
                l3.append({
                    "url": url,
                    "src_kg_id": row["kg_id"],
                    "lemma_set_key": row["lemma_set_key"],
                    "target_node_id": target["node_id"],
                    "target_url": target.get("url"),
                })
    return l3
