"""Multi-dimensional clustering expressions shared by the table formats.

Z-ordering: quantile-bin each clustering column into 2^bits ranks (one
driver-side approxQuantile pass — no global sort, no single-partition
window), interleave the rank bits into one Z-value, and range-partition
on it. Every output file then covers a small hyper-rectangle of the key
space, so write-time min/max stats are tight on EVERY clustered column
at once — the public Z-ordering design Delta and Iceberg document.
Used by ``sources.write_path.range_layout``, which lays out txlog
OPTIMIZE (zorder_by), Delta OPTIMIZE ZORDER BY and Iceberg rewrites.

Hilbert ordering (2-D): same quantile binning, but the bin ranks map
to a Hilbert space-filling curve index instead of bit interleaving.
The Hilbert curve is CONTIGUOUS — consecutive curve positions are
always grid neighbours, where the Z-curve takes long diagonal jumps at
power-of-two boundaries — so equal-size range slices cover tighter
hyper-rectangles and per-file min/max stats are tighter still (this is
why Delta Lake's liquid clustering moved from Z-order to Hilbert). The
index is computed with the classical per-bit rotation recurrence as
pure Column arithmetic (shifts/xor/when) — JVM-side, codegen'd, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _bucket_rank(dbl: Column, bounds: list[float], lo: int, hi: int) -> Column:
    """rank(v) = |{b in bounds : b <= v}| as a BALANCED when-tree — a
    binary search in log2(len) codegen'd comparisons. The previous form,
    size(filter(literal_array, b -> b <= v)), is a CodegenFallback
    higher-order function: ~255 interpreted element evaluations per row
    per clustering column, ON THE FULL WRITE PATH of every Z-order/
    Hilbert rewrite (and twice — range-partition sampling re-evaluates
    it). Spark orders NaN above every value in comparisons, so NaN lands
    in the top bin on both forms; NULL is handled by the caller."""
    if lo >= hi:
        return F.lit(lo)
    mid = (lo + hi) // 2
    return (
        F.when(dbl < F.lit(float(bounds[mid])), _bucket_rank(dbl, bounds, lo, mid))
        .otherwise(_bucket_rank(dbl, bounds, mid + 1, hi))
    )


def quantile_ranks(
    df: DataFrame, cols: tuple[str, ...], bits: int = 8
) -> list[Column]:
    """Per-column quantile bin rank in [0, 2^bits): ONE approxQuantile
    driver pass for ALL columns (was one full scan per column), NULLs →
    bin 0."""
    n_bins = (1 << bits) - 1
    probs = [i / n_bins for i in range(1, n_bins)]
    names = [f"__q_{i}" for i in range(len(cols))]
    qs_all = df.select(
        *[F.col(c).cast("double").alias(n) for c, n in zip(cols, names)]
    ).approxQuantile(names, probs, 0.01)
    rank_cols = []
    for c, qs in zip(cols, qs_all):
        dbl = F.col(c).cast("double")
        # strictly increasing boundary list (ties collapse bins)
        bounds = sorted(set(qs))
        if not bounds:  # empty / all-NULL column: single bin
            rank_cols.append(F.lit(0).cast("bigint"))
            continue
        rank = _bucket_rank(dbl, bounds, 0, len(bounds))
        rank_cols.append(
            F.when(dbl.isNull(), F.lit(0)).otherwise(rank).cast("bigint")
        )
    return rank_cols


def zorder_column(df: DataFrame, cols: tuple[str, ...], bits: int = 8) -> Column:
    """Interleaved-bit Z-value over ``cols`` (see module docstring)."""
    rank_cols = quantile_ranks(df, cols, bits)
    z = F.lit(0).cast("bigint")
    for bit in range(bits):
        for i, rank in enumerate(rank_cols):
            pos = bit * len(rank_cols) + i
            z = z + F.shiftleft(F.shiftright(rank, bit).bitwiseAND(F.lit(1)), pos)
    return z


def hilbert_index_2d(x: Column, y: Column, bits: int = 8) -> Column:
    """Hilbert curve position of integer grid point (x, y), coordinates
    in [0, 2^bits). The canonical xy2d recurrence (descend from the top
    bit; at each level accumulate the quadrant's curve offset and rotate
    /reflect the frame), unrolled into ``bits`` levels of when/shift/xor
    Column arithmetic — stays inside whole-stage codegen."""
    d = F.lit(0).cast("bigint")
    x, y = x.cast("bigint"), y.cast("bigint")
    for i in reversed(range(bits)):
        s = 1 << i
        rx = F.shiftright(x, i).bitwiseAND(F.lit(1))
        ry = F.shiftright(y, i).bitwiseAND(F.lit(1))
        d = d + F.lit(s) * F.lit(s) * (rx * 3).bitwiseXOR(ry)
        # rotate/reflect the lower quadrant so the curve stays contiguous:
        # ry==0 → (rx==1 → point-reflect) then swap axes
        flip = rx.eqNullSafe(F.lit(1))
        nx = F.when(
            ry.eqNullSafe(F.lit(0)),
            F.when(flip, F.lit(s - 1) - y).otherwise(y),
        ).otherwise(x)
        ny = F.when(
            ry.eqNullSafe(F.lit(0)),
            F.when(flip, F.lit(s - 1) - x).otherwise(x),
        ).otherwise(y)
        x, y = nx, ny
    return d


def attach_hilbert_column(
    df: DataFrame, cols: tuple[str, ...], out: str, bits: int = 8
) -> DataFrame:
    """``df`` plus column ``out`` = Hilbert curve value over exactly two
    clustering columns: quantile bin ranks (shared with Z-order) mapped
    through the xy2d recurrence. For >2 dimensions use ``zorder_column``
    — Z interleaving generalizes trivially where the Hilbert rotation
    bookkeeping does not.

    The recurrence is unrolled across ``bits`` PROJECTIONS (withColumns
    per level), not one nested Column: each level's x/y feed the next
    level twice, so a single expression doubles per bit — 2^bits copies
    of the (large) quantile-rank subtrees blew the driver heap in
    analysis before it ever reached codegen. Named intermediate columns
    pin each level to AttributeReferences; CollapseProject keeps the
    levels separate (multi-use, non-cheap), so plan size stays linear in
    ``bits``."""
    if len(cols) != 2:
        raise ValueError(
            f"hilbert clustering is 2-D (got {len(cols)} cols); "
            "use zorder_column for other dimensionalities"
        )
    rx, ry = quantile_ranks(df, cols, bits)
    out_df = df.withColumns(
        {"__hx": rx, "__hy": ry, out: F.lit(0).cast("bigint")}
    )
    for i in reversed(range(bits)):
        s = 1 << i
        x, y = F.col("__hx"), F.col("__hy")
        rbx = F.shiftright(x, i).bitwiseAND(F.lit(1))
        rby = F.shiftright(y, i).bitwiseAND(F.lit(1))
        flip = rbx.eqNullSafe(F.lit(1))
        upper = rby.eqNullSafe(F.lit(0))
        out_df = out_df.withColumns(
            {
                out: F.col(out) + F.lit(s) * F.lit(s) * (rbx * 3).bitwiseXOR(rby),
                "__hx": F.when(
                    upper, F.when(flip, F.lit(s - 1) - y).otherwise(y)
                ).otherwise(x),
                "__hy": F.when(
                    upper, F.when(flip, F.lit(s - 1) - x).otherwise(x)
                ).otherwise(y),
            }
        )
    return out_df.drop("__hx", "__hy")
