"""Search-time delete bitset shared by the trained index family
(IVF / PQ / SQ8 / LSH — operators/{ivf,pq,sq,lsh}.py).

The reference never rewrites a sealed artifact on delete: tombstoned rows
are masked DURING the search (the delegator's delete-mask model,
DeletedRecord.h:69), and an upsert is a delete plus a row in a NEWER
segment. Artifact rows therefore carry an ``_epoch`` column (0 at
create_index, incremented per refresh_index append), and mask entries are
either plain pks — masked at every epoch, the pure-delete shape — or
``[pk, bound]`` pairs masking only rows with ``_epoch < bound``: the
upsert shape, where the old encoded/assigned copy hides while the
re-appended copy (at ``_epoch >= bound``) keeps serving. Pre-epoch
artifacts (no ``_epoch`` column) read as epoch 0, which preserves the
legacy all-copies semantics for flat masks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# flat mask entries mean "every epoch": any bound above all real epochs
_EVERY_EPOCH = 1 << 62


def normalize_mask(excluded, flat_bound: int = _EVERY_EPOCH) -> list:
    """[pk, bound] pairs with one entry per pk (max bound wins); plain
    ints become [pk, flat_bound]. A graph artifact versions copies by
    bucket rather than epoch and passes its current bucket count."""
    pairs: dict[int, int] = {}
    for e in excluded or []:
        pk, b = (
            (int(e[0]), int(e[1]))
            if isinstance(e, (list, tuple))
            else (int(e), flat_bound)
        )
        pairs[pk] = max(pairs.get(pk, 0), b)
    return sorted([p, b] for p, b in pairs.items())


def epoch_col(df: DataFrame):
    return (
        F.col("_epoch").cast("long")
        if "_epoch" in df.columns
        else F.lit(0).cast("long")
    )


def apply_delete_bitset(cand: DataFrame, pk_col: str, excluded) -> DataFrame:
    """Drop masked candidate rows before scoring: a row is masked iff its
    pk has a mask entry AND its ``_epoch`` is below the entry's bound. The
    mask list is bounded (refresh caps it at 100k pks) so it broadcasts."""
    pairs = normalize_mask(excluded)
    if not pairs:
        return cand
    xdf = cand.sparkSession.createDataFrame(pairs, "__x_pk long, __x_bound long")
    cond = (F.col(pk_col) == xdf["__x_pk"]) & (epoch_col(cand) < xdf["__x_bound"])
    return cand.join(F.broadcast(xdf), cond, "left_anti")
