"""Explicit skew-handling join strategies.

At web scale the hot-key problem is structural: a handful of join keys
(a viral domain, a boilerplate event type, the empty-string language
tag) carry orders of magnitude more rows than the median key, and a
plain hash join routes every row of a hot key to ONE shuffle task.
``salted_join`` is the classic remedy when the build side is too big
(or too dynamic) to broadcast: replicate the build side ``n_salts``
times and scatter the probe side across the replicas with a
deterministic per-row salt, so a hot key occupies ``n_salts`` shuffle
tasks instead of one.

When the build side comfortably fits in executor memory,
``F.broadcast`` is strictly better (no shuffle at all); AQE's skew-join
mitigation covers sort-merge plans after the fact.  This operator is
for the middle regime — and for making the skew strategy explicit and
testable rather than an AQE runtime accident (the north rule asks for
"partitioning / shuffle / skew handled explicitly").

The same pattern already guards the dedup bucket caps
(`operators/dedup.py`); this module generalizes it to arbitrary
equi-joins.
"""

from __future__ import annotations

from typing import List, Sequence, Union

from pyspark.sql import DataFrame, functions as F

#: internal salt column; dropped before returning
_SALT = "__irkg_salt"


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    on: Union[str, Sequence[str]],
    salt_from: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``probe`` ⋈ ``build`` on ``on`` with an ``n_salts``-way
    salted key.

    ``salt_from`` names a probe-side column whose per-row hash spreads a
    hot key's rows across salts — it must be row-granular (an id, a
    url), NOT the join key itself.  The salt is a deterministic
    ``crc32 % n_salts`` so retried/speculated tasks recompute the same
    salt (``rand()`` or ``monotonically_increasing_id`` would break
    exactly-once semantics under task retry).

    The build side is replicated via a narrow ``explode(sequence(...))``
    — no shuffle, no driver job — and the join is pinned to
    ``shuffle_hash`` so the demonstration is honest: without the hint
    AQE would broadcast a small replicated build side and the salt would
    be dead code on toy inputs.

    Only ``inner`` and ``left`` joins are supported: a ``right``/``full``
    join over a replicated build side would duplicate unmatched build
    rows ``n_salts`` times.
    """
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    keys: List[str] = [on] if isinstance(on, str) else list(on)
    if salt_from in keys:
        raise ValueError(
            "salt_from must be row-granular, not the join key itself")
    salt = F.pmod(
        F.crc32(F.col(salt_from).cast("string")), F.lit(n_salts)
    ).cast("int")
    p = probe.withColumn(_SALT, salt)
    b = build.withColumn(
        _SALT,
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))),
    )
    return p.join(b.hint("shuffle_hash"), keys + [_SALT], how).drop(_SALT)
