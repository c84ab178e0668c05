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

:func:`document_graph` finishes one document's graph on top of that: every
linker except a cross-document L3 hit keys on the document, so linking,
the merge (``union_find``), the canonical edge rewrite and the display
strings all run here; only the cross-document L3 candidates are left to
the Spark step in ``operators/kg.py``.
"""

from __future__ import annotations

import bisect
import hashlib
import itertools
from collections import defaultdict
from typing import Dict, Iterable, List, Optional

from inclusionreferenceskg_spark.functions.annotate_spacy import get_annotator
from inclusionreferenceskg_spark.functions.grammar import detect
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


def node_mentions(content: Optional[str], targets) -> List[Dict]:
    """One node's detected mentions, each with its resolved targets
    (``[{'node_id', 'url', 'display'}]``).  ``targets`` are the node's
    resolved rows (mention_idx, qual_idx, start, text, target_node_id,
    target_url, target_display) or None; a row belongs to the mention at
    its (start, text), in (mention_idx, qual_idx) order."""
    mentions = detect(content or "")
    tmap: Dict[tuple, List[Dict]] = {}
    for t in sorted(() if targets is None else targets,
                    key=lambda x: (x["mention_idx"], x["qual_idx"])):
        tmap.setdefault((t["start"], t["text"]), []).append(
            {"node_id": t["target_node_id"], "url": t["target_url"],
             "display": t["target_display"]})
    for m in mentions:
        m["targets"] = tmap.get((m["start"], m["text"]), [])
    return mentions


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


def union_find(pairs: Iterable) -> dict:
    """``{id: min id of its component}`` for every id in ``pairs``; the
    package's one union-find (the per-document merge and the driver path
    of ``operators.kg.pair_components``)."""
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


def path_key(path) -> tuple:
    """A node path as a tuple of ``(node_type, number, title)`` tuples.
    Arrow hands a struct's int field over as float when the batch holds a
    null, so numbers are normalized back to int (NaN/None -> None)."""
    return tuple((e["node_type"],
                  None if e["number"] is None or e["number"] != e["number"]
                  else int(e["number"]),
                  e["title"]) for e in path)


def node_display(path: tuple) -> str:
    """A document node's display string, ``ImmutableNodeView.__str__``
    (node.py:134-135): "<type> <number>[: <title>]" of the path's last
    element (the twin of ``operators.kg.node_display``)."""
    node_type, number, title = path[-1]
    return f"{node_type} {number}" + (f": {title}" if title else "")


def link_pairs(url: str, kg_nodes: List[Dict], l3: List[Dict],
                paths: Dict[str, tuple]) -> List[tuple]:
    """Merge pairs of one document: L1 same token (same_token_linker.py:
    9-18), L2 same coref-resolved (lemma, tag) among a paragraph's
    PhraseObjects (same_lemma_in_same_paragraph_linker.py:21-54), L4 same
    proper-noun surface (proper_noun_linker.py:12-26), and L3 for the
    candidates whose target is in this document: a same-lemma-set kg node
    whose owning node lies under the target's path (reference_linker.py:
    62-89)."""
    groups = defaultdict(list)
    by_lemmas = defaultdict(list)
    for r in kg_nodes:
        groups[("L1", r["token_key"])].append(r["kg_id"])
        if r["kind"] == "object" and r["para_key"] is not None:
            groups[("L2", r["para_key"], r["coref_lemma"],
                    r["coref_tag"])].append(r["kg_id"])
        if r["propn_key"] is not None:
            groups[("L4", r["propn_key"])].append(r["kg_id"])
        by_lemmas[r["lemma_set_key"]].append(r)
    pairs = [(m[0], x) for m in groups.values() for x in m[1:]]
    for c in l3:
        t_path = paths.get(c["target_node_id"])
        if c["target_url"] != url or t_path is None:
            continue
        n = len(t_path)
        pairs += [(c["src_kg_id"], r["kg_id"])
                  for r in by_lemmas[c["lemma_set_key"]]
                  if r["kg_id"] != c["src_kg_id"]
                  and paths[r["node_id"]][:n] == t_path]
    return pairs


def rewrite_edges(edges: List[Dict], canon: Dict[str, str]) -> List[Dict]:
    """One document's edges rewritten to canonical ids (``canon``: id ->
    canonical id, absent = itself), self-loops dropped
    (knowledge_graph.py:93) and one edge per (src, dst), the one with the
    highest ``emit_seq`` (add_edge overwrite, knowledge_graph.py:23-43)."""
    final: Dict[tuple, Dict] = {}
    for e in edges:
        src, dst = canon.get(e["src"], e["src"]), canon.get(e["dst"], e["dst"])
        kept = final.get((src, dst))
        if src != dst and (kept is None or e["emit_seq"] > kept["emit_seq"]):
            final[(src, dst)] = {**e, "src": src, "dst": dst}
    return list(final.values())


def document_graph(url: str, node_rows: List[Dict],
                   mentions_by_node: Dict[str, List[Dict]],
                   include_extensions: bool = False) -> Dict[str, list]:
    """One document's final graph: :func:`render_document`, then the
    document-scoped linkers, the merge, the canonical edge rewrite and the
    display strings.

    :param node_rows: the document's nodes in pre-order, dicts with
        node_id/content/para_key/parent_id/path.
    :param mentions_by_node: as for :func:`render_document`; each target
        is ``{'node_id', 'url', 'display'}``, ``display`` being the
        target node's display string (needed when it is in another
        document).
    :return: ``kg_nodes`` (with ``canon_id``: the document-local canonical
        id, None for a node in no merge pair); ``edges`` (``contains``
        edges included at ``emit_seq`` -1, rewritten to canonical ids,
        self-loops dropped, one per (src, dst) with the highest
        ``emit_seq``, carrying ``subject``/``object`` display strings or
        None where an endpoint has none); ``l3`` (the candidates whose
        target is in another document, with ``canon_id`` of their source);
        ``triples`` (``(url, subject, relation, object)``, the E4
        comparator's view: no defines/contains edges,
        evaluate_kg_creation.py:25).
    """
    rows = render_document(url, node_rows, mentions_by_node,
                           include_extensions)
    kg_nodes = rows["kg_nodes"]
    paths = {r["node_id"]: path_key(r["path"]) for r in node_rows}
    canon = union_find(link_pairs(url, kg_nodes, rows["l3"], paths))

    display = {t["node_id"]: t["display"]
               for ms in mentions_by_node.values() for m in ms
               for t in m.get("targets") or ()}
    display.update((nid, node_display(p)) for nid, p in paths.items())
    for r in kg_nodes:
        r["canon_id"] = canon.get(r["kg_id"])
        if r["canon_id"] in (None, r["kg_id"]):
            display[r["kg_id"]] = r["token_text"]

    contains = [{"url": url, "src": r["parent_id"], "dst": r["node_id"],
                 "label": "contains", "attrs": {}, "emit_seq": -1}
                for r in node_rows if r["parent_id"] is not None]
    edges = [{**e, "subject": display.get(e["src"]),
              "object": display.get(e["dst"])}
             for e in rewrite_edges(contains + rows["kg_edges"], canon)]

    l3 = [{**c, "canon_id": canon.get(c["src_kg_id"], c["src_kg_id"])}
          for c in rows["l3"] if c["target_url"] != url]
    triples = [(url, e["subject"], e["label"], e["object"]) for e in edges
               if e["label"] not in ("defines", "contains")
               and e["subject"] is not None and e["object"] is not None]
    return {"kg_nodes": kg_nodes, "edges": edges, "l3": l3,
            "triples": triples}
