"""Skew-resilient large×large equi-join via key salting.

The pipeline's own dim lookup broadcasts (operators/route.py — the
TABLE_MAP analog, reader/reader.go:103-126 is a tiny in-memory map), so it
never skews. This module covers the case broadcast can't: BOTH join sides
are too big, and one join key is hot (a celebrity user, a boilerplate
host). A plain shuffle join puts every hot-key row in one task; salting
spreads the hot key across N_SALT tasks by (a) appending a salt drawn from
a high-cardinality fact column to the fact side and (b) replicating the
dim side once per salt value. Results are row-identical to the unsalted
join (asserted in tests/test_skew.py); only the physical distribution
changes. AQE's skewedJoin covers sort-merge spills at runtime; explicit
salting is the static variant that also works for shuffled-hash joins. A
hot groupBy key needs no salt: the map-side partial aggregate already
collapses it (operators/aggregate.py::sink_counts).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_SALT_DEFAULT = 8


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_src: Column,
    n_salt: int = N_SALT_DEFAULT,
    how: str = "inner",
) -> DataFrame:
    """Equi-join `fact` with `dim` on `key`, salted n_salt ways.

    salt_src must be a high-cardinality FACT column (e.g. the event id):
    salting on the key itself would send each key to one salt bucket and
    change nothing. The dim side is replicated n_salt× (explode of a salt
    array — map-side, no shuffle of its own), so dim shuffle volume grows
    n_salt×: pick n_salt ~ (hot-key rows / target rows per task), not
    large. The merge hint pins the shuffle join this operator exists for
    (broadcast would bypass the salt entirely).

    Only fact-preserving join types are allowed: with the dim replicated,
    a right/full outer would emit every UNMATCHED dim row n_salt times —
    not row-identical to the plain join — so those are rejected."""
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "left_anti", "leftanti", "semi", "anti"}
    if how not in allowed:
        raise ValueError(
            f"salted_join supports fact-preserving joins only {sorted(allowed)}; "
            f"got {how!r} (a replicated dim would multiply unmatched dim rows)"
        )
    # Collision-safe temp column: a caller column named "__salt" (or any
    # candidate) must survive untouched, so probe until the name is free on
    # BOTH sides rather than silently overwriting and dropping caller data.
    taken = set(fact.columns) | set(dim.columns)
    salt_col = "__salt"
    i = 0
    while salt_col in taken:
        i += 1
        salt_col = f"__salt_{i}"
    salts = F.array(*[F.lit(i) for i in range(n_salt)])
    dimx = dim.withColumn(salt_col, F.explode(salts))
    factx = fact.withColumn(
        salt_col, F.pmod(F.xxhash64(salt_src), F.lit(n_salt)).cast("int")
    )
    return factx.join(dimx.hint("merge"), [key, salt_col], how).drop(salt_col)
