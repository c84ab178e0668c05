"""Loose path matching: qualifier pattern vs a node's materialized path.

Re-implements ``Node.resolve_loose`` (``node/node.py:93-114``) as a linear
automaton over the flat root-to-node ``path`` array instead of a tree
recursion: a candidate node matches a (depth-sorted) pattern iff walking its
path consumes the pattern as an ordered subsequence, where

* gaps are allowed before and between pattern elements but **not after the
  last one** (the last pattern element must match the candidate itself);
* descending past a node deeper than the next unmatched pattern element is
  disallowed (the reference's child-pruning rule, ``node.py:108-110``);
* element matching is on (type, number, title) with ``-1`` wildcards and
  ``None`` titles matching anything (``node.py:86-91``); Documents get
  lenient case-insensitive substring title matching in either direction
  (``node/document.py:17-27``).

The reference's known limitation (patterns repeating a node type break) is
inherited by construction: qualifier patterns contain at most one element
per type (see ``qualify.resolve_mentions``).

In Spark this predicate runs as a vectorized filter *after* an equi-join of
exploded qualifiers against the nodes table on the deepest pattern element's
``(url, node_type, number)`` — the join prunes candidates, this confirms.
"""

from __future__ import annotations

from typing import Dict, List

from inclusionreferenceskg_spark.functions.doctree import DEPTH

WILDCARD = -1

_ROOT_EL = {"node_type": "Root", "number": None, "title": None}


def _matches(el: Dict, pat: Dict) -> bool:
    if el["node_type"] != pat["node_type"]:
        return False
    number_ok = (pat.get("number") == el.get("number")
                 or pat.get("number") == WILDCARD)
    pt, et = pat.get("title"), el.get("title")
    if el["node_type"] == "Document":
        title_ok = (pt is None or pt == et or pt == WILDCARD
                    or (et is not None
                        and (pt.lower() in et.lower() or et.lower() in pt.lower())))
    else:
        title_ok = pt is None or pt == et or pt == WILDCARD
    return number_ok and title_ok


def path_matches(path: List[Dict], pattern: List[Dict],
                 include_virtual_root: bool = True) -> bool:
    """True iff the node with this root-to-self ``path`` is a resolve_loose
    target of ``pattern`` (pattern must be depth-sorted)."""
    if not pattern:
        return False
    walk = ([_ROOT_EL] + list(path)) if include_virtual_root else list(path)
    p = 0
    n = len(walk)
    for i, el in enumerate(walk):
        hit = _matches(el, pattern[p])
        if p == len(pattern) - 1 and hit:
            return i == n - 1
        advance = 1 if hit else 0
        if i < n - 1:
            nxt = walk[i + 1]
            if DEPTH[nxt["node_type"]] > DEPTH[pattern[p + advance]["node_type"]]:
                return False
        p += advance
    return False
