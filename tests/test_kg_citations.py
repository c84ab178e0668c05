"""Citation-graph analytics over pipeline output (rows-only catalog
entries): value-level checks via a pure-Python simulator on the
extracted edge list plus structural invariants."""

from __future__ import annotations

import re
from collections import defaultdict

from inclusionreferenceskg_spark import queries as Q
from inclusionreferenceskg_spark.operators import graph as g

SF = "/root/testdata/sf0.001"


def test_citation_edges_are_cross_document(spark):
    e = Q._kg_citation_edges(spark, SF)
    rows = e.collect()
    assert len(rows) > 50
    assert all(r["src"] != r["dst"] for r in rows)
    assert len({(r["src"], r["dst"]) for r in rows}) == len(rows)


def test_generator_replay_twin_matches_pipeline_edges(spark):
    """The oracle-side edge twin (_citation_edges_py: generator replay +
    regex, independent of parse/detect/resolve) must equal the pipeline's
    resolved citation edges edge-for-edge.  This is the foundation of the
    kg_citation_authority / kg_cocitation / kg_communities value oracles
    — and it doubles as a full-recall check on the resolver over the
    synthetic corpus: every cross-document title reference the generator
    emitted must come back out of the pipeline."""
    lim = Q._kg_doc_limit()
    twin = Q._citation_edges_py(lim)
    got = sorted((r["src"], r["dst"])
                 for r in Q._kg_citation_edges(spark, SF).collect())
    assert got == twin
    assert len(twin) > 50


def test_citation_authority_matches_integer_simulator(spark):
    edges = [(r["src"], r["dst"])
             for r in Q._kg_citation_edges(spark, SF).collect()]
    urls = sorted({r["url"] for r in
                   Q._kg_nodes(spark, SF).select("url")
                   .distinct().collect()})
    n = len(urls)
    outdeg = defaultdict(int)
    for s, _ in edges:
        outdeg[s] += 1
    rank = {u: g.PR_SCALE // n for u in urls}
    base = (g.PR_SCALE * (g.PR_DAMP_DEN - g.PR_DAMP_NUM)) // (
        g.PR_DAMP_DEN * n)
    for _ in range(5):
        contrib = defaultdict(int)
        for s, d in edges:
            contrib[d] += (rank[s] * g.PR_DAMP_NUM) // (
                g.PR_DAMP_DEN * outdeg[s])
        rank = {u: base + contrib[u] for u in urls}

    got = {r["node"]: r["rank"]
           for r in Q.kg_citation_authority(spark, SF).collect()}
    assert got == rank
    # rank mass is conserved up to integer-division dust
    assert 0 < sum(got.values()) <= g.PR_SCALE
    # the authority ranking is non-trivial: cited docs outrank uncited
    uncited = set(urls) - {d for _, d in edges}
    if uncited and len(uncited) < n:
        top = max(got, key=got.get)
        assert top not in uncited


def test_cocitation_matches_enumeration(spark):
    edges = [(r["src"], r["dst"])
             for r in Q._kg_citation_edges(spark, SF).collect()]
    by_citer = defaultdict(set)
    for s, d in edges:
        by_citer[s].add(d)
    want = defaultdict(set)
    for citer, ds in by_citer.items():
        ds = sorted(ds)
        for i, a in enumerate(ds):
            for b in ds[i + 1:]:
                want[(a, b)].add(citer)
    got = {(r["a"], r["b"]): r["n_cociting"]
           for r in Q.kg_cocitation(spark, SF).collect()}
    assert got == {k: len(v) for k, v in want.items()}
    assert all(a < b for a, b in got)


def test_kg_communities_match_lpa_simulator(spark):
    from collections import defaultdict as dd
    edges = [(r["src"], r["dst"])
             for r in Q._kg_citation_edges(spark, SF).collect()]
    urls = sorted({r["url"] for r in
                   Q._kg_nodes(spark, SF).select("url")
                   .distinct().collect()})
    sym = dd(set)
    for s, d in edges:
        sym[s].add(d)
        sym[d].add(s)
    labels = {u: u for u in urls}
    for _ in range(4):
        new = {}
        for v in urls:
            if not sym[v]:
                new[v] = labels[v]
                continue
            counts = dd(int)
            for u in sym[v]:
                counts[labels[u]] += 1
            new[v] = min(counts, key=lambda l: (-counts[l], l))
        labels = new
    got = {r["node"]: r["label"]
           for r in Q.kg_communities(spark, SF).collect()}
    assert got == labels
    # non-trivial: strictly fewer communities than documents
    assert 1 < len(set(got.values())) < len(urls)


def test_citation_oracles_use_one_doc_limit(monkeypatch):
    """Edge and node CTEs of the lazily built citation oracles come from
    the one doc limit read at build time, not the import-time one."""
    kg = ("kg_citation_authority", "kg_cocitation", "kg_communities")
    monkeypatch.setattr(Q, "ORACLES", {k: v for k, v in Q.ORACLES.items()
                                       if k not in kg})
    lim = Q._kg_doc_limit() + 7
    monkeypatch.setenv("SPARK_GRAFT_KG_DOCS", str(lim))
    Q._ensure_citation_oracles()
    for name in ("kg_citation_authority", "kg_communities"):
        sql = Q.ORACLES[name]
        assert set(re.findall(r"doc_id < (\d+)", sql)) == {str(lim)}
        cited = {int(u) for u in re.findall(r"synth\.example/reg/(\d+)'",
                                            sql)}
        assert cited and max(cited) < lim
