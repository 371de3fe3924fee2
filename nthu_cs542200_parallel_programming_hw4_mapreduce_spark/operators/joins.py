"""Join strategies beyond Catalyst's defaults — skew mitigation.

The reference's partitioner is maximally skewed by design (first-char
routing, hw4.cc:479, quirk Q3 — the PDF admits one reducer gets every
word sharing an initial). Spark's first line of defense is AQE's skew
join (enabled in session.py); this module adds the *manual* salting
pattern for the cases AQE can't fix — e.g. a single hot key on the
build side of a shuffle join, or a deliberately skewed partitioner in
faithful mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str, *, salt: int = 8
) -> DataFrame:
    """Inner equi-join with the hot-key salting pattern.

    Fact rows scatter across ``salt`` sub-keys (deterministically, from a
    hash of the whole row); every dim row replicates ``salt`` times, once
    per sub-key. The join key becomes (key, salt), so a key that used to
    land on one reducer now spreads over ``salt`` of them — turning a
    straggler task into ``salt`` balanced ones at the cost of a
    ``salt``× blow-up of the (small) dim side. Semantically identical to
    ``fact.join(dim, key)``; a right or full outer join would emit each
    unmatched dim row ``salt`` times, which is why there is no ``how``.
    """
    salted_fact = fact.withColumn(
        "_salt", F.pmod(F.hash(*[F.col(c) for c in fact.columns]), F.lit(salt))
    )
    salted_dim = dim.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    joined = salted_fact.join(
        salted_dim,
        (salted_fact[fact_key] == salted_dim[dim_key])
        & (salted_fact["_salt"] == salted_dim["_salt"]),
    )
    return joined.drop("_salt")
