"""Z-order (Morton) layout keys: multi-dimensional data skipping. The
``layout_zorder`` gate computes the key with :func:`zorder_key_col`, its
DuckDB oracle with the SQL twin :func:`zorder_key_sql`."""

from __future__ import annotations


def zorder_key_col(x, y, bits: int = 10):
    """Morton interleave of two non-negative ints (x in even bit positions,
    y in odd): sorting/range-partitioning by this key clusters rows so that
    a predicate on EITHER dimension touches O(sqrt) of the files instead of
    all of them — parquet min/max row-group stats then skip the rest.

    Plain shift/mask arithmetic (2*bits result bits), replayable by any
    engine — see :func:`zorder_key_sql` for the SQL twin. Inputs must be
    pre-bucketed into [0, 2^bits).
    """
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    for k in range(bits):
        z = z + F.shiftleft(F.shiftright(x, k).bitwiseAND(F.lit(1)), 2 * k)
        z = z + F.shiftleft(F.shiftright(y, k).bitwiseAND(F.lit(1)), 2 * k + 1)
    return z.cast("long")


def zorder_key_sql(x: str, y: str, bits: int = 10) -> str:
    """The identical Morton interleave as portable SQL text (DuckDB oracle
    twin of :func:`zorder_key_col`)."""
    # every term fully parenthesized: SQL's << binds LOOSER than +, so an
    # unparenthesized `a << 18 + b` parses as `a << (18 + b)` and overflows
    terms = []
    for k in range(bits):
        terms.append(f"(((({x}) >> {k}) & 1) << {2 * k})")
        terms.append(f"(((({y}) >> {k}) & 1) << {2 * k + 1})")
    return "(" + " + ".join(terms) + ")"
