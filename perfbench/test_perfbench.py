"""Self-tests of the benchmark's own machinery; no Spark session needed.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import harness  # noqa: E402
import rest  # noqa: E402
import spans  # noqa: E402


def test_same_seed_same_pages_other_seed_other_pages():
    def digest(seed):
        return gen.pages_digest(gen.pages(seed, range(5), 5, prose_blocks=2,
                                          prose_sentences=2))
    assert digest(7) == digest(7)
    assert digest(7) != digest(8)

    def recrawl(seed):
        base, delivery, changed, new = gen.recrawl(seed, 20, 0.1, 0.05)
        return gen.pages_digest(base + delivery), changed, new
    assert recrawl(3) == recrawl(3)
    assert recrawl(3)[0] != recrawl(4)[0]


def test_recrawl_delivery_changes_only_the_drawn_urls():
    base, delivery, changed, new = gen.recrawl(5, 20, 0.1, 0.05)
    assert len(changed) == 2 and len(new) == 1
    old = {r["url"]: r["text"] for r in base}
    for r in delivery:
        d = r["doc_rank"]
        if d in new:
            assert r["url"] not in old
        else:
            assert (r["text"] != old[r["url"]]) == (d in changed)


def test_prose_is_reference_free_and_l3_clauses_are_mentions():
    from inclusionreferenceskg_spark.functions.grammar import detect
    import random
    rng = random.Random(0)
    for _ in range(200):
        assert detect(gen.prose_block(rng, 5)) == []
    text = gen.doc_text(1, 0, 4, l3_share=1.0)
    assert "referred to in Article" in text
    assert detect("The controller shall keep the measures referred to in "
                  "Article 5.") == [{"start": 54, "text": "Article 5"}]


def test_each_prose_block_is_a_node_of_its_own():
    from inclusionreferenceskg_spark.functions.doctree import parse_page
    rows = parse_page(gen.doc_url(0), gen.doc_title(0),
                      gen.doc_text(1, 0, 4, prose_blocks=3,
                                   prose_sentences=2))
    prose = [r for r in rows if r["node_type"] == "Subparagraph"
             and r["content"][0].isalpha()
             and not r["content"].startswith("Final")]
    assert len(prose) == 12 * 3  # 12 numbered paragraphs per document


def _triples():
    return pd.DataFrame({
        "url": ["u1", "u1", "u2"],
        "subject": ["controller", "processor", "Article 1: x"],
        "relation": ["maintain", "notify", "refers"],
        "object": ["record", "authority", "Article 2: y"],
    })


def test_one_triple_fault_fails_the_digest_check():
    pdf = _triples()
    checker = harness.Checker(harness.triples_digest(pdf))
    assert checker.check(harness.triples_digest(pdf.iloc[::-1]), "same")
    faulty = pdf.copy()
    faulty.loc[1, "object"] = "authorities"
    assert not checker.check(harness.triples_digest(faulty), "fault")
    assert not checker.check(harness.triples_digest(pdf.iloc[:2]), "drop")
    assert (checker.attempted, checker.failed) == (3, 2)


def test_every_seed_maps_to_a_pinned_input_set():
    for name in harness.WORKLOADS:
        for seed in (0, 1, harness.PINNED_SEEDS, 2 ** 31 + 5, -3):
            pin = harness.pin_for(name, seed % harness.PINNED_SEEDS)
            assert pin["triples"] > 0
    with pytest.raises(RuntimeError, match="no pin"):
        harness.pin_for("web_prose", harness.PINNED_SEEDS)


class _Clock:
    def __init__(self, ticks):
        self.ticks = iter(ticks)

    def __call__(self):
        return next(self.ticks)


def test_span_self_time_arithmetic():
    # open/close times: pass 0..10, a 1..3, b 4..8 with c 5..6 inside b
    times = [0, 1, 3, 4, 5, 6, 8, 10]
    cpus = [0, 2, 6, 7, 8, 11, 13, 20]
    t = spans.Tracer("r", cpu=_Clock(cpus), clock=_Clock(times))
    root = t.open("pass")
    a = t.open("a")
    t.close(a)
    b = t.open("b")
    c = t.open("c")
    t.close(c)
    t.close(b)
    t.close(root)
    assert [s.parent for s in t.spans] == [None, root.id, root.id, b.id]
    assert {s.run_id for s in t.spans} == {"r"}
    selfs = spans.self_times(t.spans)
    assert selfs[root.id] == (10 - 2 - 4, 20 - 4 - 6)
    assert selfs[a.id] == (2, 4)
    assert selfs[b.id] == (4 - 1, 6 - 3)
    assert selfs[c.id] == (1, 3)
    assert sum(w for w, _ in selfs.values()) == root.wall_s


def test_spans_close_in_order_and_patch_restores():
    t = spans.Tracer("r", cpu=lambda: 0.0)
    outer = t.open("outer")
    t.open("inner")
    with pytest.raises(RuntimeError):
        t.close(outer)

    class Owner:
        @staticmethod
        def layer(x):
            return x + 1

    orig = Owner.layer
    seen = []
    t = spans.Tracer("r", cpu=lambda: 0.0)
    restore = t.patch([(Owner, "layer", "L", False,
                        lambda span, args, out: seen.append((span.name,
                                                             args, out)))])
    assert Owner.layer(1) == 2
    assert seen == [("L", (1,), 2)]
    assert [s.name for s in t.spans] == ["L"]
    restore()
    assert Owner.layer is orig


def test_rest_aggregation_over_canned_payload():
    jobs = [
        {"jobId": 0, "jobGroup": "r.1", "stageIds": [0, 1, 2]},
        {"jobId": 1, "jobGroup": "r.1", "stageIds": [3]},
        {"jobId": 2, "jobGroup": "r.2", "stageIds": [4]},
        {"jobId": 3, "jobGroup": None, "stageIds": [5]},
    ]
    stages = {
        (0, 0): {"stageId": 0, "attemptId": 0, "executorRunTime": 100,
                 "shuffleWriteBytes": 1_000_000},
        # stage 1 was retried: only attempt 1 counts
        (1, 0): {"stageId": 1, "attemptId": 0, "executorRunTime": 900,
                 "shuffleWriteBytes": 9_000_000},
        (1, 1): {"stageId": 1, "attemptId": 1, "executorRunTime": 400,
                 "shuffleWriteBytes": 2_000_000},
        # stage 2 was skipped: absent from the complete stages
        (3, 0): {"stageId": 3, "attemptId": 0, "executorRunTime": 50,
                 "shuffleWriteBytes": 500_000},
        (4, 0): {"stageId": 4, "attemptId": 0, "executorRunTime": 70,
                 "shuffleWriteBytes": 0},
        (5, 0): {"stageId": 5, "attemptId": 0, "executorRunTime": 5000,
                 "shuffleWriteBytes": 7_000_000},
    }
    summaries = {1: {"executorRunTime": [40.0, 160.0]},
                 4: {"executorRunTime": [0.0, 0.0]}}
    asked = []

    def summary(stage):
        asked.append((stage["stageId"], stage["attemptId"]))
        return summaries[stage["stageId"]]

    got = rest.group_stats(["r.1"], jobs, stages, summary)
    assert got == {"shuffle_mb": 3.5, "task_skew": 4.0, "stages": 3}
    assert asked == [(1, 1)]
    assert rest.group_stats(["r.2"], jobs, stages, summary)["task_skew"] \
        == 1.0
    assert rest.group_stats(["none"], jobs, stages, summary) == {
        "shuffle_mb": 0.0, "task_skew": 1.0, "stages": 0}


def test_restoring_the_catalog_snapshot_is_idempotent(tmp_path):
    snap, target = tmp_path / "snap", tmp_path / "catalog"
    (snap / "_lineage").mkdir(parents=True)
    (snap / "_lineage" / "triples.json").write_text('{"rows": 3}')
    (snap / "triples").mkdir()
    (snap / "triples" / "part-0.parquet").write_bytes(b"\x00\x01")

    def tree(root):
        return {os.path.relpath(os.path.join(d, f), root):
                open(os.path.join(d, f), "rb").read()
                for d, _, fs in os.walk(root) for f in fs}

    harness.restore(str(snap), str(target))
    first = tree(target)
    # a pass writes new files and rewrites a manifest
    (target / "increments").mkdir()
    (target / "increments" / "delta.parquet").write_bytes(b"x")
    (target / "_lineage" / "triples.json").write_text('{"rows": 9}')
    harness.restore(str(snap), str(target))
    harness.restore(str(snap), str(target))
    assert tree(target) == first == tree(snap)


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"),
                tmp_path)
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "web_prose",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert r.returncode != 0
    assert r.stdout == ""


def test_pins_cover_every_workload():
    pins = harness.load_pins()
    assert set(pins) == set(harness.WORKLOADS)
    for by_seed in pins.values():
        assert set(by_seed) == {str(s) for s in range(harness.PINNED_SEEDS)}
        for pin in by_seed.values():
            assert set(pin) == {"pages", "triples", "triples_sha256"}
            assert pin["triples"] > 0


def test_benchmark_json_names_match_the_output():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(harness.WORKLOADS)
    assert {m["name"] for m in spec["end_to_end"]} == set(
        harness.END_TO_END)
    import traced
    assert [m["name"] for m in spec["per_layer"]] == list(traced.PER_LAYER)
