"""Export sinks (SURVEY §2.1 S4/S5).

* triples — the product sink: partitioned parquet via the catalog (or any
  DataFrameWriter); mirrors ``KnowledgeGraph.as_triplets``
  (``knowledge_graph.py:122-138``) which the triples operator already
  formats.  NOTE the reference's destination-id bug (``:136`` reuses the
  source id in the destination tuple) is intentionally NOT reproduced:
  only the string parts are comparable, and only strings are compared in
  its own evaluation (``evaluate_kg_creation.py:510``).
* graphviz — debug-only driver-side rendering of tiny samples
  (``knowledge_graph.py:140-160``); emits DOT text so no graphviz
  dependency is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def to_dot(edges: DataFrame, displays: DataFrame, limit: int = 500) -> str:
    """Render a (small!) edge sample as DOT text; collects to the driver,
    guard with ``limit``."""
    disp = {r["kg_id"]: r["display"] for r in displays.limit(limit * 2)
            .collect()}
    lines = ["digraph kg {"]
    for r in edges.limit(limit).collect():
        s = disp.get(r["src"], r["src"]).replace('"', "'")
        d = disp.get(r["dst"], r["dst"]).replace('"', "'")
        lines.append(f'  "{s}" -> "{d}" [label="{r["label"]}"];')
    lines.append("}")
    return "\n".join(lines)


def to_svg(edges: DataFrame, displays: DataFrame, limit: int = 300) -> str:
    """S4 SVG sink (``as_graphviz_graph``, knowledge_graph.py:140-160,
    which renders through graphviz engines): a dependency-free layered
    layout — longest-path layering over the edge sample, barycenter x
    ordering, ellipse nodes + labelled arrows.  Debug-only, driver-side,
    same graphs the DOT sink handles."""
    disp = {r["kg_id"]: r["display"] for r in displays.limit(limit * 2)
            .collect()}
    edge_rows = [(r["src"], r["dst"], r["label"])
                 for r in edges.limit(limit).collect()]
    nodes = sorted({n for s, d, _ in edge_rows for n in (s, d)})
    out_adj = {n: [] for n in nodes}
    indeg = {n: 0 for n in nodes}
    for s, d, _ in edge_rows:
        out_adj[s].append(d)
        indeg[d] += 1

    # longest-path layering (cycles broken by visit order)
    layer = {n: 0 for n in nodes}
    order = [n for n in nodes if indeg[n] == 0] or nodes[:1]
    seen = set()
    stack = [(n, 0) for n in order]
    while stack:
        n, depth = stack.pop()
        if (n, depth) in seen or depth > len(nodes):
            continue
        seen.add((n, depth))
        if depth >= layer[n]:
            layer[n] = depth
            stack.extend((m, depth + 1) for m in out_adj[n])

    layers: dict = {}
    for n in nodes:
        layers.setdefault(layer[n], []).append(n)
    xw, yh = 170, 90
    pos = {}
    for ly in sorted(layers):
        # barycenter of already-placed predecessors, stable-sorted
        def bary(n):
            preds = [pos[s][0] for s, d, _ in edge_rows
                     if d == n and s in pos]
            return sum(preds) / len(preds) if preds else 0.0
        row = sorted(layers[ly], key=lambda n: (bary(n), n))
        for i, n in enumerate(row):
            pos[n] = (40 + i * xw + (ly % 2) * (xw // 3), 40 + ly * yh)

    width = max(x for x, _ in pos.values()) + xw if pos else 100
    height = max(y for _, y in pos.values()) + yh if pos else 100

    def esc(t: str) -> str:
        return (t.replace("&", "&amp;").replace("<", "&lt;")
                .replace(">", "&gt;"))

    svg = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{width}" '
        f'height="{height}" viewBox="0 0 {width} {height}">',
        '<defs><marker id="arr" markerWidth="8" markerHeight="6" '
        'refX="8" refY="3" orient="auto"><path d="M0,0 L8,3 L0,6 z"/>'
        "</marker></defs>",
    ]
    for s, d, lab in edge_rows:
        (x1, y1), (x2, y2) = pos[s], pos[d]
        svg.append(
            f'<line x1="{x1}" y1="{y1 + 18}" x2="{x2}" y2="{y2 - 18}" '
            'stroke="black" marker-end="url(#arr)"/>')
        mx, my = (x1 + x2) // 2, (y1 + y2) // 2
        svg.append(f'<text x="{mx}" y="{my}" font-size="9" '
                   f'fill="dimgray">{esc(lab)}</text>')
    for n, (x, y) in pos.items():
        label = esc(disp.get(n, n))[:24]
        svg.append(f'<ellipse cx="{x}" cy="{y}" rx="70" ry="18" '
                   'fill="white" stroke="black"/>')
        svg.append(f'<text x="{x}" y="{y + 3}" font-size="10" '
                   f'text-anchor="middle">{label}</text>')
    svg.append("</svg>")
    return "\n".join(svg)
