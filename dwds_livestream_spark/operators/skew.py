"""Skew mitigation: salted equi-join for hot keys.

AQE's skew-join splitting (enabled in session.py) handles most skew at
runtime by splitting oversized shuffle partitions. Salting is the
explicit, planning-time tool for the pathological case AQE can't fix:
ONE key so hot that even a split partition is a straggler, joined
against a dimension too large to broadcast.

Mechanics: each fact row gets a uniform salt in [0, n); the dimension
side is replicated n times (one copy per salt value); the join key
becomes (key, salt), spreading a hot key over n tasks. Cost: dimension
side grows n-fold — pick n ~ (hot-key rows / healthy partition rows),
and salt only the keys that need it (`hot_keys` arg) to keep the
replication bill bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "inner",
    salt: int = 8,
    hot_keys: list | None = None,
) -> DataFrame:
    """Equi-join `fact ⋈ dim ON on` with the fact side salted.

    With ``hot_keys``, only those keys are salted (dimension rows for
    cold keys are not replicated); otherwise every key is salted.
    Output columns = plain join output (salt column dropped).
    """
    if salt < 1:
        raise ValueError(f"salt must be >= 1: {salt}")

    # deterministic-enough uniform salt; any spread works — correctness
    # does not depend on which salt a row gets
    fact_salt = F.floor(F.rand(seed=42) * salt).cast("int")
    all_salts = F.sequence(F.lit(0), F.lit(salt - 1))

    if hot_keys is not None:
        is_hot = F.col(on).isin(*hot_keys)
        f = fact.withColumn("__salt", F.when(is_hot, fact_salt).otherwise(0))
        d = dim.withColumn(
            "__salt",
            F.explode(
                F.when(dim[on].isin(*hot_keys), all_salts).otherwise(
                    F.array(F.lit(0))
                )
            ),
        )
    else:
        f = fact.withColumn("__salt", fact_salt)
        d = dim.withColumn("__salt", F.explode(all_salts))

    return f.join(d, on=[on, "__salt"], how=how).drop("__salt")
