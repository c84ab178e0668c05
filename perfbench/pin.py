"""Pin the expected digests of each workload for every input seed.

    python3 perfbench/pin.py [--workload web_prose ...]

For every input seed (0 to ``harness.PINNED_SEEDS`` - 1; a run folds its
``--seed`` into that range), records the sha256 of the generated pages and
the count and sha256 of the triples a fresh ``run_pipeline`` gives over them
(for ``recrawl_upsert``: over the delivery, which the upserted table must
equal) in ``perfbench/pins.json``.  Run it only when a change is meant to alter
the triples, and say so in the change.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", action="append",
                   choices=sorted(harness.WORKLOADS))
    args = p.parse_args()
    sys.path.insert(0, harness.ROOT)
    work = os.path.join(harness.ROOT, ".bench_work", f"pin-{os.getpid()}")
    os.makedirs(work)
    pins = harness.load_pins()
    spark = harness.start_spark(work)
    try:
        for name in args.workload or sorted(harness.WORKLOADS):
            pins[name] = {}
            for seed in range(harness.PINNED_SEEDS):
                w = harness.make_workload(name, seed, work, spark)
                pages = w.generate()
                count, sha = w.reference()
                pins[name][str(seed)] = {
                    "pages": pages, "triples": count, "triples_sha256": sha}
                print(name, seed, count, sha, flush=True)
                with open(harness.PINS, "w") as f:
                    json.dump(pins, f, indent=1, sort_keys=True)
                    f.write("\n")
    finally:
        harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
