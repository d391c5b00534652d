"""Packed int64 ordering keys for argmin aggregates.

A ``min_by(value, struct(score, cell))`` arg-min is partial-aggregatable,
but the STRUCT ordering buffer is not hash-aggregatable: Spark plans it as
SortAggregate, which pays a per-partition Sort of the aggregate's INPUT on
both sides of the exchange.  In the product-quantization kernel
(``pq._assign_sub``) that input is the k-way exploded score table — k rows
per vector — so at 100 TB the sort runs over k× the corpus on the encode
pass (the one leg that is unavoidably corpus-linear).

When the caller only needs the winning CELL (``code_only`` paths), the
(score, cell) lexicographic pair packs losslessly into ONE int64:

    packed = score * 2^s + cell        with s = bits(cell_bound - 1)

given ``0 <= cell < cell_bound`` and ``0 <= score < 2^(63-s)``.  Then
``min(packed)`` — a plain long min: codegen HashAggregate, map-side
partials, NO sort — selects exactly the lexicographic (score, cell)
minimum, and the cell decodes as ``packed & (2^s - 1)``.  Both domain
bounds are asserted per row INSIDE the plan (fail loudly, matching the
engine's other runtime domain guards) so an out-of-range score can never
silently wrap into a wrong argmin.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cell_shift(cell_bound: int) -> int:
    """Bits reserved for the cell id: enough for 0..cell_bound-1, min 1."""
    if cell_bound < 1:
        raise ValueError(f"cell_bound must be >= 1, got {cell_bound}")
    return max(1, (cell_bound - 1).bit_length())


def pack_score_cell(
    score: Column, cell: Column, cell_bound: int, label: str
) -> Column:
    """score * 2^s + cell as int64, with in-plan domain guards.

    ``min`` over the result == lexicographic (score, cell) argmin.
    ``score`` must be a nonnegative int64 below 2^(63-s); ``cell`` an
    int64 in [0, cell_bound).  Violations raise with ``label`` in the
    message instead of wrapping silently.
    """
    s = cell_shift(cell_bound)
    lim = 1 << (63 - s)
    ok = (
        (score >= 0)
        & (score < F.lit(lim))
        & (cell >= 0)
        & (cell < F.lit(cell_bound))
    )
    packed = F.shiftleft(score, s) + cell
    return F.when(
        F.assert_true(
            ok,
            F.concat(
                F.lit(
                    f"{label}: packed ordering domain violated "
                    f"(need 0 <= score < 2^{63 - s} and "
                    f"0 <= cell < {cell_bound}; got score="
                ),
                score.cast("string"),
                F.lit(", cell="),
                cell.cast("string"),
                F.lit(")"),
            ),
        ).isNull(),
        packed,
    )


def unpack_cell(packed: Column, cell_bound: int) -> Column:
    """The cell id back out of a packed ordering key."""
    s = cell_shift(cell_bound)
    return packed.bitwiseAND(F.lit((1 << s) - 1))
