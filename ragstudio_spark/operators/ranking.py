"""Top-k with a total tie-break — the ranking step every operator family
shares (similarity search, canonical-copy dedup, retrieval ranking, run
history).

``order`` must be a TOTAL order (a score then an id, say): it is the only
thing that makes the kept rows and their ranks independent of shuffle
order, and so engine-portable for the DuckDB twins.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F


def top_k(df: DataFrame, k: int | None, order: Sequence[Column | str],
          by: Sequence[Column | str] = (), rank: str | None = None) -> DataFrame:
    """The first ``k`` rows of ``df`` by ``order``, ranked 1..k.

    * With ``by``: a ``row_number`` window per key, filtered ``== 1`` when
      ``k`` is 1 (first-per-key) and ``<= k`` otherwise.
    * Without ``by``: the global form, ``orderBy(*order).limit(k)`` — a
      distributed partial top-k (TakeOrderedAndProject) — then a rank
      window over the same ``order`` on the ≤k survivors. The order is
      written once, so the limit and the ranks can never disagree.

    ``rank`` names the rank column; ``None`` drops it. In the global form
    ``k=None`` ranks every row (no limit).
    """
    if by:
        name = rank or "_rn"
        out = df.withColumn(name, F.row_number().over(
            Window.partitionBy(*by).orderBy(*order)))
        out = out.filter(F.col(name) == 1 if k == 1 else F.col(name) <= k)
        return out if rank else out.drop(name)
    out = df if k is None else df.orderBy(*order).limit(k)
    if rank is None:
        return out
    return out.withColumn(rank, F.row_number().over(Window.orderBy(*order)))
