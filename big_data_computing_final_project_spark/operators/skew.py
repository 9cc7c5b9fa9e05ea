"""Salted join for skewed keys (SURVEY.md §4 scale notes).

plans/scale.py covers the skew escapes for AGGREGATION (two-phase distinct,
salted partials, sketches); this is the one for JOINS. When both sides are
too big to broadcast and one join key is hot, a plain shuffle join sends the
hot key's entire row set on each side to ONE reducer pair — the canonical
100 TB straggler. The salt fix: the probe side tags each row with a
deterministic salt in [0, n), the build side is replicated once per salt
value, and the join runs on (key, salt) — the hot key now spreads over n
reducers at the cost of an n-fold fan-out of the (smaller, but
unbroadcastable) build side.

AQE's skew-join split (spark.sql.adaptive.skewJoin, on in session.py)
handles most sort-merge-join skew at runtime by splitting oversized
partitions; explicit salting remains the tool when the skew is known ahead
of time, when the join is hash- rather than sort-based, or when a single
key exceeds what one task can hold even after AQE splits. Correctness is
pinned by pytest on planted-skew data (salted == plain join, exactly).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    *,
    n_salts: int = 16,
    salt_from: str | Column | None = None,
    how: str = "inner",
) -> DataFrame:
    """Join ``left`` (big, skew-keyed probe side) to ``right`` (big-ish,
    unbroadcastable build side) on ``on`` with an ``n_salts``-way salt.

    ``salt_from`` names a left-side column whose hash spreads the hot key's
    rows across salts; it should be (near-)unique per row (a row id, event
    id, line number). Deterministic — no rand(), so retries and re-runs
    place every row identically. Defaults to the first join key (which
    degrades to no spread for the hot key itself — pass a real id column).

    The right side is replicated ``n_salts`` times via explode of a literal
    range — a narrow map, no shuffle — so the join's shuffle key becomes
    (key..., salt) on both sides.
    """
    allowed = {"inner", "left", "leftouter", "left_outer", "left_semi",
               "leftsemi", "left_anti", "leftanti", "semi", "anti"}
    if how.lower().replace(" ", "") not in allowed:
        # the build side is replicated once per salt, so every UNMATCHED
        # build row would surface n_salts times under right/full outer —
        # silently breaking the salted == plain invariant. "cross" is
        # rejected too: salting is meaningless without an
        # equi-key to spread, and this function always joins on
        # on + [salt], which would silently turn the cross into an inner.
        raise ValueError(
            f"salted_join does not support how={how!r}: right/full outer "
            "joins would emit n_salts copies of unmatched build-side rows "
            "(salt the other side instead), and salting a cross join is "
            "meaningless — there is no hot equi-key to spread"
        )
    if salt_from is None:
        salt_from = on[0]
    src = F.col(salt_from) if isinstance(salt_from, str) else salt_from
    # pmod: xxhash64 is signed; fold into [0, n_salts)
    salt = ((F.xxhash64(src) % n_salts) + n_salts) % n_salts
    l = left.withColumn(SALT_COL, salt.cast("int"))
    # explode must be top-level: generate the salt, then cast separately
    r = right.withColumn(
        SALT_COL, F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    ).withColumn(SALT_COL, F.col(SALT_COL).cast("int"))
    return l.join(r, on + [SALT_COL], how).drop(SALT_COL)
