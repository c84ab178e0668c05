"""Run one workload of the KG-construction benchmark.

    python3 perfbench/run.py --workload web_prose --seed 1 --seconds 15 --trace 0

Run from the repository root; see ``perfbench/README.md``.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import main  # noqa: E402

if __name__ == "__main__":
    sys.exit(main())
