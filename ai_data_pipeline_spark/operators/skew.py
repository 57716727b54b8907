"""Skew-mitigation utilities.

AQE's skew-join splitting (on in session.py) handles most runtime skew;
explicit salting remains the tool when one join/agg key dominates so
heavily that even split partitions bottleneck a single executor — the
classic power-law user_id / null-key cases in training-data pipelines.

``salted_join`` replicates the small side N ways and scatters the big
side's rows uniformly across the N replicas, so a hot key's rows spread
over N tasks instead of one. Result equality with the plain join is
pinned by tests/test_skew.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    n_salt: int = 16,
    how: str = "inner",
    seed: int = 42,
) -> DataFrame:
    """Inner/left join of a skewed `big` side against `small`, shuffling
    on (key, salt) instead of key.

    The big side gets a uniform random salt in [0, n_salt); the small
    side is exploded n_salt times so every (key, salt) pair finds its
    match. Row-level results are identical to the plain join (salt
    columns are dropped); only the shuffle distribution changes.
    """
    salted_big = big.withColumn(
        SALT_COL, F.floor(F.rand(seed) * n_salt).cast("int")
    )
    salted_small = small.withColumn(
        SALT_COL,
        F.explode(F.array(*[F.lit(i) for i in range(n_salt)])),
    )
    cond = (salted_big[big_key] == salted_small[small_key]) & (
        salted_big[SALT_COL] == salted_small[SALT_COL]
    )
    return salted_big.join(salted_small, cond, how).drop(SALT_COL)

