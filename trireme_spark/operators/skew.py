"""Skew-mitigation utilities (SURVEY.md §4).

AQE's skew-join splitting handles sort-merge joins automatically; salting is
the manual fallback for the cases AQE can't rewrite (broadcast-ineligible
dims, pre-AQE clusters). ``salted_join`` is result-identical to the plain
join — asserted in tests/test_skew.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    skewed: DataFrame,
    dim: DataFrame,
    on: list[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where hot keys on the skewed side are spread over
    ``n_salts`` sub-partitions and the dim side is replicated to meet them.

    Cost model: the dim shuffle grows n_salts×, the skewed side's largest
    reducer shrinks n_salts× — the right trade whenever one key's rows
    exceed an executor's share. Salt assignment is a hash of the whole row
    (deterministic, uniform); join semantics are unchanged because the salt
    is an extra equi-conjunct that every replicated dim row satisfies.
    """
    salt = F.pmod(F.xxhash64(F.struct(*skewed.columns)), F.lit(n_salts))
    salted = skewed.withColumn("_salt", salt)
    dim_rep = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return salted.join(dim_rep, on + ["_salt"], how).drop("_salt")

