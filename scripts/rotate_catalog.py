"""Standing catalog rotation: derive the recommended QUERIES order from
the driver's CORRECTNESS_r*.json history.

The driver's correctness gate runs only the FIRST 50 catalog entries, so
entries must rotate through the window or their driver evidence goes
stale (the r3/r4 typing reds were both exposed by a rotation).  Policy:

  1. entries RED (hash mismatch) in the latest round first,
  2. then entries never driver-run,
  3. then everything else by last-driver-row round ascending (stalest
     first); within a round, hash-green after rows-only, then by length
     of green history ascending (least corroborated first),
  4. ties keep current catalog order.

Run after each round lands its CORRECTNESS file and paste the printed
order into queries.QUERIES:

    python scripts/rotate_catalog.py
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WINDOW = 50


def load_history(repo: str) -> tuple:
    rounds = {}
    for p in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"r(\d+)", os.path.basename(p))
        if m:
            with open(p) as f:
                rounds[int(m.group(1))] = json.load(f)
    return rounds, max(rounds) if rounds else 0


def rotation(catalog: list, rounds: dict, latest: int) -> list:
    def key(item):
        idx, name = item
        ran = [r for r in rounds if name in rounds[r]]
        greens = [r for r in ran if rounds[r][name].get("hash_match")]
        red_latest = (latest in ran
                      and rounds[latest][name].get("hash_match") is False)
        if red_latest:
            return (0, 0, 0, idx)
        if not ran:
            return (1, 0, 0, idx)
        return (2, max(ran), (0 if not greens else 1, len(greens)), idx)

    return [name for _, name in sorted(enumerate(catalog), key=key)]


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as em
    catalog = list(em.queries().keys())
    rounds, latest = load_history(repo)
    order = rotation(catalog, rounds, latest)
    print(f"# rotation from rounds {sorted(rounds)} (latest r{latest}); "
          f"window = first {WINDOW}")
    for i, name in enumerate(order):
        marker = " # ==== window ends ====" if i == WINDOW else ""
        print(f'    "{name}",{marker}')


if __name__ == "__main__":
    main()
