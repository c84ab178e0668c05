"""Benchmark harness.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line: ``{"metric": "triples_per_sec", "value": N, "unit": "sec", "queries":
{...}, "sf": ...}``.

The headline metric is the BASELINE.json target: end-to-end KG-construction
throughput (emitted triples per second) over the deterministic synthetic
corpus derived from the ``documents`` table.  Per-query wall-clock seconds
for the other operator families are reported under ``queries``.

Scaling runs (`scripts/bench_scaling_watcher.py`) execute this same script in
fresh JVMs at two parallelism levels and record BENCH/BASELINE.md; the
watcher imports this module's CPU-quantum meter (`_cpu_quantum`, `_load1`).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: per-query benchmark set (name -> catalog key); kg_triples is the
#: headline and measured separately for the throughput metric
BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q_window_latest_event",
    "q_sessionize",
    "q_topk_orders_per_cust",
    "q_cube_nation_status",
    "q_except_inactive_custs",
    "q_range_join_events",
    "docs_source_composition",
    "docs_token_counts",
    "docs_lang_id",
    "docs_pii",
    "docs_gopher_quality",
    "docs_decontaminate",
    "docs_stratified_sample",
    "docs_pack_shards",
    "docs_pack_shards_global",
    "docs_inverted_index",
    "docs_tfidf_topk",
    "q_rolling_7d_revenue",
    "q_salted_join_type_stats",
    "dedup_exact",
    "dedup_minhash_pairs",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "dedup_chunks",
    "docs_boilerplate_by_source",
    "ann_cosine_topk",
    "ann_lsh_topk_sized",
    "emb_neardup_pairs",
    "graph_degrees",
    "graph_khop",
    "graph_pagerank",
    "graph_triangles",
    "graph_sssp",
    "graph_communities",
    "kg_nodes",
    "kg_mentions",
    "kg_resolved",
]


#: 1-min loadavg above which a record is stamped load_compromised: the
#: round-3 driver record read 1.7x slow purely from co-tenant load and
#: nothing in the JSON said so.  2.0 on a 32-core box = ~6% of cores
#: already busy before we start — enough to skew min-of-2 wall-clocks.
LOAD_COMPROMISED_AT = float(os.environ.get("SPARK_GRAFT_LOAD_BAR", "2.0"))


def _load1() -> float:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def _cpu_quantum() -> float:
    """Wall seconds for a fixed single-thread CPU quantum (~0.15 s on an
    idle core).  Sampled DURING the timed trials by a daemon thread, its
    dilation is a direct in-run interference meter: the benchmark's own
    load is constant across records (same CPUS, same plan), so record-
    to-record differences in the during-run quantum are co-tenant
    pressure — catching exactly what the load_before stamp cannot (a
    burst arriving mid-run after a quiet start: observed same-code
    kg_triples spreads of 57.7 -> 112.0 s with load_before <= 0.44
    throughout)."""
    import hashlib
    h = b"x"
    t0 = time.perf_counter()
    for _ in range(300000):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t0


class _InterferenceProbe:
    """Daemon thread sampling _cpu_quantum every ~2 s while trials run."""

    def __init__(self) -> None:
        import threading
        self.samples: list = []
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.samples.append(round(_cpu_quantum(), 4))
            self._stop.wait(2.0)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)

    def stats(self) -> dict:
        if not self.samples:
            return {}
        s = sorted(self.samples)
        return {"n": len(s), "min": s[0], "max": s[-1],
                "p50": s[len(s) // 2],
                "mean": round(sum(s) / len(s), 4)}


def main() -> None:
    from inclusionreferenceskg_spark import queries as catalog
    from inclusionreferenceskg_spark.session import get_spark

    # the local JVM hosts driver+executors+caches; size for a 128 GiB
    # host (set here, not at import: the scaling watcher imports the meter)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "32g")
    load_before = _load1()
    spark = get_spark("irkg-bench", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    timings = {}
    if os.environ.get("SPARK_GRAFT_KG_ONLY"):
        BENCH_QUERIES.clear()
    for name in BENCH_QUERIES:
        fn = catalog.QUERIES[name]
        t0 = time.perf_counter()
        n = fn(spark, SF_DIR).count()
        timings[name] = round(time.perf_counter() - t0, 3)
        _ = n

    # headline: end-to-end triples/sec (parse -> detect -> resolve ->
    # annotate/extract -> link -> CC -> triples) over the deterministic
    # synthetic corpus; size via SPARK_GRAFT_BENCH_DOCS
    from inclusionreferenceskg_spark import synth
    from inclusionreferenceskg_spark.plans.pipeline import run_pipeline

    # 20k docs, not 5k: the pipeline's small-data tail (link/CC/triples
    # joins) is input-size-independent, so throughput RISES with input
    # until the data-proportional UDF stages dominate (measured: local[16]
    # 10.3k t/s at 5k docs -> 13.4k at 20k -> 21.2k at 80k).  20k keeps
    # the headline inside the amortized regime at ~60-95s wall.
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "20000"))
    trials = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "2"))
    # warm-up: spawn/initialize the Python UDF workers (module imports,
    # compiled grammars) so the timed run measures steady-state throughput
    warm = synth.synthesize_pages(spark, 64, partitions=max(CPUS, 8))
    run_pipeline(warm).triples.count()
    # best-of-N: the sandbox box carries bursty external load; the minimum
    # wall-clock is the least-interfered measurement of the same plan
    kg_secs, n_triples = None, 0
    idle_quantum = _cpu_quantum()  # pre-trial single-thread reference
    probe = _InterferenceProbe()
    probe.__enter__()
    for _ in range(max(trials, 1)):
        spark.catalog.clearCache()
        # ~4 tasks per core: the per-doc UDF cost varies enough that 2
        # waves of long tasks quantize badly (measured: 16 partitions at
        # local[8] = 2.2x over local[2]; 64 partitions = 3.0x, at the
        # box's 3.43x pure-CPU ceiling).  Same rule as sizing input splits
        # on a real cluster: aim for seconds-long tasks, several waves —
        # but keep >=64 docs/task: at local[32] x 5000 docs, 128 partitions
        # (39 docs/task) measured 43% slower than 64 (per-task Arrow/
        # scheduling overhead dominates short tasks).
        default_parts = max(min(max(CPUS * 4, 64), max(n_docs // 64, 8)), 8)
        pages = synth.synthesize_pages(
            spark, n_docs,
            partitions=int(os.environ.get("SPARK_GRAFT_BENCH_PARTS",
                                          str(default_parts))))
        t0 = time.perf_counter()
        n_triples = run_pipeline(pages).triples.count()
        secs = time.perf_counter() - t0
        kg_secs = secs if kg_secs is None else min(kg_secs, secs)
    probe.__exit__()
    timings["kg_triples"] = round(kg_secs, 3)

    out = {
        "metric": "triples_per_sec",
        "value": round(n_triples / kg_secs, 2),
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR,
        "cpus": CPUS,
        "n_triples": n_triples,
        # measurement protocol stamp: headline is warm-started best-of-N
        # (min wall over `trials` runs after one warm-up) — numbers are
        # only comparable to baselines produced under the same protocol
        "kg_protocol": {"trials": max(trials, 1), "warmup": 1,
                        "aggregation": "min", "n_docs": n_docs},
        # co-tenant-load stamp: a depressed record must be self-describing
        "load_before": load_before,
        "load_after": _load1(),
        "load_compromised": load_before > LOAD_COMPROMISED_AT,
        # in-run interference meter: single-thread CPU quantum sampled
        # every ~2s DURING the kg trials vs its pre-trial idle reference.
        # The benchmark's own load is constant across records, so a
        # during/idle dilation well above the self-load baseline (~1.0-
        # 1.3x p50 on a quiet box at CPUS=32) marks co-tenant pressure
        # that load_before cannot see (burst arriving mid-run)
        "cpu_quantum_idle": round(idle_quantum, 4),
        "cpu_quantum_during": probe.stats(),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
