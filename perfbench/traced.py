"""The traced run: per-layer numbers from one traced pass.

After the same set-up as the end-to-end run, one untraced pass gives the
reference wall time, then one pass runs with every layer function wrapped
in a span (``spans.Tracer.patch``).  Both must produce the pinned triples.
End-to-end metrics never come from here.
"""

from __future__ import annotations

import os

import harness
import procstat
import rest
import spans


PER_LAYER = tuple(
    f"{layer}.{m}" for layer in harness.LAYERS
    for m in ("wall_s", "cpu_s", "rows_out", "shuffle_mb", "task_skew")) + (
    "detect.mention_node_frac", "resolve.resolved_frac",
    "link.l3_candidates", "cc.pairs", "catalog.write_s",
    "catalog.written_mb", "catalog.files_written", "catalog.changed_frac",
    "jvm.gc_s", "trace.overhead_frac", "trace.coverage_frac",
    "trace.plan_frac", "trace.bookkeeping_s")
#: spans around whole plans: their self time is orchestration between the
#: layers (fingerprint joins, stale-partition collects, probes)
PLAN_SPANS = ("checkpoint.stages", "checkpoint.cow")


def _tree_files(root: str) -> dict:
    """path -> size of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def _distinct(df, *cols) -> int:
    return df.select(*cols).distinct().count()


def _targets(tracer: spans.Tracer):
    from inclusionreferenceskg_spark.operators import kg
    from inclusionreferenceskg_spark.plans import checkpoint, pipeline
    from inclusionreferenceskg_spark.sources.catalog import Catalog

    def counted(extra=None):
        """After a layer's span closes: count its output rows and take the
        layer's own counts, inside a ``trace.bookkeeping`` span."""
        def after(span, args, out):
            book = tracer.open("trace.bookkeeping")
            try:
                span.rows_out = out.count()
                if extra is not None:
                    span.attrs.update(extra(args, out))
            finally:
                tracer.close(book)
        return after

    def detect_counts(args, out):
        return {"nodes": args[0].count(),
                "mention_nodes": _distinct(out, "url", "node_id"),
                "mentions": _distinct(out, "url", "node_id", "mention_idx")}

    def resolve_counts(args, out):
        return {"resolved": _distinct(out, "url", "node_id", "mention_idx")}

    out = []
    for mod in (pipeline, checkpoint):
        out += [(mod, "parse_pages", "parse", True, counted()),
                (mod, "build_qualifiers", "detect", True,
                 counted(detect_counts)),
                (mod, "resolve_targets", "resolve", True,
                 counted(resolve_counts))]
    return out + [
        (kg, "extract_graph", "extract", True, counted()),
        (kg, "entity_link_pairs", "link", True, counted(
            lambda args, out: {"l3_candidates": args[1].count()})),
        (kg, "connected_components", "cc", True, counted(
            lambda args, out: {"pairs": args[0].count()})),
        (kg, "apply_merges", "merge", True, counted()),
        (kg, "make_triples", "triples", True, counted()),
        (Catalog, "write", "catalog.write", False, None),
        (Catalog, "read", "catalog.read", False, None),
        (checkpoint, "run_checkpointed", PLAN_SPANS[0], False, None),
        (checkpoint, "_cow_upsert", PLAN_SPANS[1], False, None),
    ]


def traced_pass(w, tracer: spans.Tracer):
    """One pass under spans; returns (root span, pass output)."""
    restore = tracer.patch(_targets(tracer))
    try:
        root = tracer.open("pass")
        try:
            out = w.run_pass()
        finally:
            tracer.close(root)
    finally:
        restore()
    return root, out


def layer_metrics(w, tracer: spans.Tracer, root, base: str) -> dict:
    selfs = spans.self_times(tracer.spans)
    by_name = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s)
    jobs, stages = rest.fetch(base, [s.id for s in tracer.spans])
    summary = rest.task_summary_fetcher(base)
    m = {}
    for layer in harness.LAYERS:
        ss = by_name.get(layer, [])
        stats = rest.group_stats([s.id for s in ss], jobs, stages, summary)
        m[f"{layer}.wall_s"] = (sum(selfs[s.id][0] for s in ss), "s")
        m[f"{layer}.cpu_s"] = (sum(selfs[s.id][1] for s in ss), "s")
        m[f"{layer}.rows_out"] = (sum(s.rows_out for s in ss), "rows")
        m[f"{layer}.shuffle_mb"] = (stats["shuffle_mb"], "MB")
        m[f"{layer}.task_skew"] = (stats["task_skew"], "ratio")

    def attr(name, key):
        return sum(s.attrs.get(key, 0) for s in by_name.get(name, []))

    m["detect.mention_node_frac"] = (
        attr("detect", "mention_nodes") / max(attr("detect", "nodes"), 1),
        "frac")
    m["resolve.resolved_frac"] = (
        attr("resolve", "resolved") / max(attr("detect", "mentions"), 1),
        "frac")
    m["link.l3_candidates"] = (attr("link", "l3_candidates"), "count")
    m["cc.pairs"] = (attr("cc", "pairs"), "count")
    book = sum(s.wall_s for s in by_name.get("trace.bookkeeping", []))
    traced_wall = root.wall_s - book

    def self_share(names):
        return sum(selfs[s.id][0] for s in tracer.spans
                   if s.name in names) / traced_wall

    m["trace.coverage_frac"] = (
        self_share(harness.LAYERS + ("catalog.write", "catalog.read")),
        "frac")
    m["trace.plan_frac"] = (self_share(PLAN_SPANS), "frac")
    m["trace.bookkeeping_s"] = (book, "s")
    return m


def catalog_metrics(w, tracer, before: dict, after: dict) -> dict:
    writes = [s for s in tracer.spans if s.name == "catalog.write"]
    selfs = spans.self_times(tracer.spans)
    written = {p: n for p, n in after.items() if before.get(p) != n}
    m = {"catalog.write_s": (sum(selfs[s.id][0] for s in writes), "s"),
         "catalog.written_mb": (sum(written.values()) / 1e6, "MB"),
         "catalog.files_written": (len(written), "count"),
         "catalog.changed_frac": (0.0, "frac")}
    if w.catalog is not None:
        from inclusionreferenceskg_spark.sources.catalog import Catalog
        inc = os.path.join(w.catalog, "increments")
        (delta,) = [d for d in os.listdir(inc) if d.startswith("ups_")]
        nodes = Catalog(os.path.join(inc, delta)).read(w.spark, "nodes")
        m["catalog.changed_frac"] = (_distinct(nodes, "url") / w.n_delivered,
                                     "frac")
    return m


def per_layer(w, checker, jvm_s: float, pin: dict):
    st = harness.setup(w, checker, jvm_s, pin)
    untraced = harness.timed_pass(w, checker, "untraced pass")
    if untraced is None:
        raise RuntimeError("the untraced pass failed")
    tracer = spans.Tracer(f"{w.name}-{w.seed}", procstat.tree_cpu_s,
                          spark=w.spark)
    w.prepare()
    before = _tree_files(w.catalog) if w.catalog else {}
    gc0 = harness.gc_seconds(w.spark)
    root, out = traced_pass(w, tracer)
    gc = harness.gc_seconds(w.spark) - gc0
    after = _tree_files(w.catalog) if w.catalog else {}
    checker.check(w.digest(out), "traced pass")
    m = layer_metrics(w, tracer, root, rest.local_ui(w.spark))
    m.update(catalog_metrics(w, tracer, before, after))
    m["jvm.gc_s"] = (gc, "s")
    m["trace.overhead_frac"] = (root.wall_s / untraced[0] - 1.0, "frac")
    if set(m) != set(PER_LAYER):
        raise RuntimeError(f"per-layer metrics {sorted(set(m) ^ set(PER_LAYER))}")
    st["spans"] = [
        {"id": s.id, "name": s.name, "parent": s.parent, "run": s.run_id,
         "start": round(s.start - root.start, 6),
         "end": round(s.end - root.start, 6)} for s in tracer.spans]
    st["traced_pass_s"] = root.wall_s
    st["untraced_pass_s"] = untraced[0]
    return m, st
