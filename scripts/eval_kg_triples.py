"""Dev tool: E4 triple evaluation vs the reference's golden CSVs.

Replicates ``evaluate_kg_creation.py``: per-article graphs over GDPR
Articles 29/30 (``create_graph(article, article)`` — note the reference
resolves references against the *article itself*, so fully-qualified
patterns never match and no edge rerouting happens in this evaluation),
entity linking, batched merge, then set comparison of
``(subject, relation, object)`` strings excluding defines/contains.

Runs ``kgbuild.document_graph``, the function the Spark extract UDF calls
per document, so it iterates on the annotator without Spark; the Spark
path is exercised by tests/test_spark_kg.py on the synthetic corpus.
"""

from __future__ import annotations

import csv
import os
import sys

sys.path.insert(0, "/root/repo")

from inclusionreferenceskg_spark.functions.doctree import parse_page
from inclusionreferenceskg_spark.functions.grammar import detect
from inclusionreferenceskg_spark.functions.kgbuild import document_graph

REF = "/root/reference/inclusionreferenceskg"


def article_subtree(rows, article_no):
    out = []
    for r in rows:
        if any(el["node_type"] == "Article" and el["number"] == article_no
               for el in r["path"]):
            out.append(r)
    return out


def article_triples(rows, article_no):
    """(subject, relation, object) of one article's graph: the Spark
    UDF's per-document function over the article subtree, no targets."""
    sub = article_subtree(rows, article_no)
    mentions_by_node = {}
    for node in sub:
        ms = detect(node["content"] or "")
        for m in ms:
            m["targets"] = []
        mentions_by_node[node["node_id"]] = ms
    out = document_graph(sub[0]["url"], sub, mentions_by_node)
    return {t[1:] for t in out["triples"]}


def evaluate(article_no, csv_name, verbose=True):
    if not hasattr(evaluate, "last"):
        evaluate.last = {}
    with open(os.path.join(REF, "resources", "eu_documents", "gdpr.txt"),
              encoding="utf-8") as f:
        text = f.read()
    rows = parse_page("eu://gdpr.txt", "GDPR", text)
    actual = article_triples(rows, article_no)

    with open(os.path.join(REF, "resources", "evaluation_data",
                           "kg_triplets", csv_name), encoding="utf-8") as f:
        expected = {tuple(x) for x in csv.reader(f)}

    fp = actual - expected
    fn = expected - actual
    evaluate.last[article_no] = {"fp": sorted(fp), "fn": sorted(fn)}
    if verbose:
        for t in sorted(fp):
            print("  FP", t)
        for t in sorted(fn):
            print("  FN", t)
    tp = len(actual & expected)
    p = tp / len(actual) if actual else 0.0
    r = tp / len(expected) if expected else 0.0
    print(f"Article {article_no}: P={p:.3f} R={r:.3f} "
          f"({tp} tp, {len(fp)} fp, {len(fn)} fn)")
    return tp, len(fp), len(fn)


def load_ledger(path="/root/repo/EVAL_LEDGER.md"):
    """Parse EVAL_LEDGER.md table rows -> {(kind, subj, rel, obj): class}.

    Only rows whose class marks them as gold-side (see the ledger header)
    are excluded from the adjusted score; the ledger is the committed,
    row-by-row justification the adjusted number rests on."""
    import re
    ledgered = {}
    if not os.path.exists(path):
        return ledgered
    with open(path, encoding="utf-8") as f:
        for line in f:
            m = re.match(
                r"\|\s*(FP|FN)\s*\|\s*([^|]+?)\s*\|\s*([^|]+?)\s*\|"
                r"\s*([^|]+?)\s*\|\s*([a-z-]+)\s*\|", line)
            if m:
                kind, s, rel, o, cls = m.groups()
                ledgered[(kind, s, rel, o)] = cls
    return ledgered


if __name__ == "__main__":
    verbose = "-q" not in sys.argv
    ledger = load_ledger()
    tp1, fp1, fn1 = evaluate(29, "gdpr_article_29.csv", verbose)
    tp2, fp2, fn2 = evaluate(30, "gdpr_article_30.csv", verbose)
    tp, fp, fn = tp1 + tp2, fp1 + fp2, fn1 + fn2
    p = tp / (tp + fp) if tp + fp else 0
    r = tp / (tp + fn) if tp + fn else 0
    f1 = 2 * p * r / (p + r) if p + r else 0
    print(f"TOTAL: P={p:.3f} R={r:.3f} F1={f1:.3f}")

    # adjusted score: residual rows justified row-by-row in EVAL_LEDGER.md
    # as gold-side (product-omission / number-slip / twin-inconsistency /
    # malformed-row / structurally-unreachable) are excluded; any residual
    # NOT in the ledger still counts against us.
    unledgered_fp, unledgered_fn = [], []
    for art, csv_name in ((29, "gdpr_article_29.csv"),
                          (30, "gdpr_article_30.csv")):
        res = evaluate.last[art]
        for t in res["fp"]:
            key = ("FP",) + tuple(str(x) for x in t)[:3]
            if key not in ledger:
                unledgered_fp.append(t)
        for t in res["fn"]:
            # 4-field malformed rows: match on first 3 fields + kind
            key = ("FN",) + tuple(str(x) for x in t)[:3]
            key4 = ("FN", t[0], t[1], t[2] + ",") if len(t) == 4 else None
            if key not in ledger and (key4 is None or key4 not in ledger):
                unledgered_fn.append(t)
    afp, afn = len(unledgered_fp), len(unledgered_fn)
    ap = tp / (tp + afp) if tp + afp else 0
    ar = tp / (tp + afn) if tp + afn else 0
    af1 = 2 * ap * ar / (ap + ar) if ap + ar else 0
    print(f"ADJUSTED (EVAL_LEDGER.md, {len(ledger)} rows ledgered, "
          f"{afp} fp / {afn} fn unledgered): "
          f"P={ap:.3f} R={ar:.3f} F1={af1:.3f}")
    for t in unledgered_fp:
        print("  UNLEDGERED FP", t)
    for t in unledgered_fn:
        print("  UNLEDGERED FN", t)
