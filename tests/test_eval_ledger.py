"""CI enforcement of the E4 flagship gate (EVAL_LEDGER.md).

The adjusted triple P/R = 1.000/1.000 claim rests on EVAL_LEDGER.md: every
residual FP/FN row of the GDPR Article 29/30 triple evaluation (reference
``evaluate_kg_creation.py:25`` semantics) is justified row-by-row as
gold-side.  Round 2 enforced this only via the dev script
``scripts/eval_kg_triples.py`` — an annotator regression could silently
grow the unledgered set while pytest stayed green.  This suite runs the
evaluator in-process and asserts:

* (a) the unledgered FP and FN sets are EMPTY — any new residual row
  fails CI by name until it is triaged into the ledger;
* (b) every ``number-slip`` FN row's claimed-absent surface token really
  is absent from the article text (the ledger's own justification);
* (c) the ``malformed-row`` class still holds: the gold CSV line parses
  to 4 fields, so it can never match a 3-tuple;
* (d) perturbation: injecting a fake residual row makes the unledgered
  check fail (the gate is live, not vacuously green).

No Spark session needed — the evaluator is the pure-Python twin of the
UDF path (same parse/detect/render code as the Spark operators).
"""

from __future__ import annotations

import csv
import importlib.util
import os
import re

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
REF = "/root/reference/inclusionreferenceskg"
LEDGER = os.path.join(REPO, "EVAL_LEDGER.md")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference corpus not available")


def _load_script():
    spec = importlib.util.spec_from_file_location(
        "eval_kg_triples", os.path.join(REPO, "scripts",
                                        "eval_kg_triples.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def evalmod():
    return _load_script()


@pytest.fixture(scope="module")
def results(evalmod):
    """Run the evaluator once for both articles; returns
    {article_no: {"fp": [...], "fn": [...], "tp": int}}."""
    out = {}
    for art, name in ((29, "gdpr_article_29.csv"),
                      (30, "gdpr_article_30.csv")):
        tp, fp, fn = evalmod.evaluate(art, name, verbose=False)
        res = evalmod.evaluate.last[art]
        out[art] = {"tp": tp, "fp": res["fp"], "fn": res["fn"]}
    return out


def _ledger_rows():
    """Parse EVAL_LEDGER.md -> list of (article, kind, subj, rel, obj,
    cls) with the '## Article N' section tracked."""
    rows = []
    art = None
    with open(LEDGER, encoding="utf-8") as f:
        for line in f:
            m = re.match(r"## Article (\d+)", line)
            if m:
                art = int(m.group(1))
                continue
            m = re.match(
                r"\|\s*(FP|FN)\s*\|\s*([^|]+?)\s*\|\s*([^|]+?)\s*\|"
                r"\s*([^|]+?)\s*\|\s*([a-z-]+)\s*\|", line)
            if m and art is not None:
                kind, s, rel, o, cls = m.groups()
                rows.append((art, kind, s, rel, o, cls))
    return rows


def _unledgered(results, ledger):
    """Same matching logic as scripts/eval_kg_triples.py __main__."""
    un_fp, un_fn = [], []
    for art in (29, 30):
        for t in results[art]["fp"]:
            key = ("FP",) + tuple(str(x) for x in t)[:3]
            if key not in ledger:
                un_fp.append((art, t))
        for t in results[art]["fn"]:
            key = ("FN",) + tuple(str(x) for x in t)[:3]
            key4 = (("FN", t[0], t[1], t[2] + ",")
                    if len(t) == 4 else None)
            if key not in ledger and (key4 is None or key4 not in ledger):
                un_fn.append((art, t))
    return un_fp, un_fn


def test_zero_unledgered_residuals(evalmod, results):
    ledger = evalmod.load_ledger(LEDGER)
    assert ledger, "EVAL_LEDGER.md missing or has no parseable rows"
    un_fp, un_fn = _unledgered(results, ledger)
    assert not un_fp, f"unledgered FP rows (triage into ledger): {un_fp}"
    assert not un_fn, f"unledgered FN rows (triage into ledger): {un_fn}"


def test_adjusted_score_is_one(evalmod, results):
    # with zero unledgered residuals, adjusted P = R = 1.0 by construction;
    # assert the raw tp counts stayed in the committed range so a silent
    # mass-ledgering of GOOD rows (tp collapse) can't fake the gate
    tp = results[29]["tp"] + results[30]["tp"]
    assert tp >= 64, f"true-positive count collapsed: {tp} < 64"


def _article_node_tokens(article_no):
    """Per-node surface word-token sets of the article's contents (the
    display strings in triples are raw token texts,
    knowledge_graph.py:131-132, so a gold string must be a token of the
    node whose sentence produced the triple)."""
    import sys
    sys.path.insert(0, REPO)
    try:
        from inclusionreferenceskg_spark.functions.doctree import parse_page
    finally:
        sys.path.remove(REPO)
    with open(os.path.join(REF, "resources", "eu_documents", "gdpr.txt"),
              encoding="utf-8") as f:
        text = f.read()
    rows = parse_page("eu://gdpr.txt", "GDPR", text)
    node_toks = []
    for r in rows:
        if any(el["node_type"] == "Article" and el["number"] == article_no
               for el in r["path"]):
            node_toks.append(
                set(re.findall(r"[A-Za-z]+", r["content"] or "")))
    return node_toks


@pytest.mark.parametrize("article", [29, 30])
def test_number_slip_tokens_absent(article):
    """Every FN number-slip row claims its object's surface form does not
    occur where the triple was extracted.  Verified as: the object token
    never co-occurs with the row's predicate (subject) token inside any
    single node content of the article — a triple's subject and object
    tokens always come from one sentence, so node-level co-occurrence is
    a superset of sentence-level reachability."""
    slips = [(s, rel, o) for (art, kind, s, rel, o, cls) in _ledger_rows()
             if art == article and kind == "FN" and cls == "number-slip"]
    if not slips:
        pytest.skip(f"no number-slip FN rows for Article {article}")
    node_toks = _article_node_tokens(article)
    for s, rel, o in slips:
        cooccur = [toks for toks in node_toks if s in toks and o in toks]
        assert not cooccur, (
            f"ledger claims {o!r} unreachable for predicate {s!r} in "
            f"Article {article}, but both occur in one node — "
            f"number-slip justification invalid")


def test_malformed_gold_row_still_malformed():
    """The ledgered malformed-row (trailing comma -> 4 fields) must still
    parse to 4 fields; if the gold CSV is ever fixed upstream the ledger
    row becomes stale and this test flags it."""
    path = os.path.join(REF, "resources", "evaluation_data", "kg_triplets",
                        "gdpr_article_30.csv")
    with open(path, encoding="utf-8") as f:
        rows = [tuple(x) for x in csv.reader(f)]
    four = [r for r in rows if r[:3] == ("includes", "agent", "processing")
            and len(r) == 4]
    three = [r for r in rows if r == ("includes", "agent", "processing")]
    assert four, "4-field malformed gold row vanished — update the ledger"
    assert three, "the matched 3-field twin row vanished"


def test_perturbed_residual_fails(evalmod, results):
    """The gate is live: a synthetic unledgered residual is detected."""
    ledger = evalmod.load_ledger(LEDGER)
    fake = dict(results)
    fake[29] = {"tp": results[29]["tp"],
                "fp": results[29]["fp"] + [("ghost", "agent", "row")],
                "fn": results[29]["fn"]}
    un_fp, _ = _unledgered(fake, ledger)
    assert (29, ("ghost", "agent", "row")) in un_fp
