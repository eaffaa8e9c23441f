"""Z-order (Morton) curve expression, generated as portable SQL text.

The same generated expression string parses in Spark SQL and in the
DuckDB oracle (both use C-style ``>> << & |`` with identical
precedence once fully parenthesized), so an engine query and its
correctness oracle can share one source of truth for the bit
interleave.

Why z-order: range-clustering on a single key (``txlog.compact`` with
``cluster_by``) gives perfect skipping on that key and none on others;
interleaving the bits of several normalized keys gives every file a
small bounding box in ALL cluster dimensions, so parquet min/max stats
prune multi-dimensional box predicates. This is the OPTIMIZE ZORDER BY of
Delta/Iceberg re-expressed as plain column arithmetic + one
repartitionByRange — no table-format dependency.
"""

from __future__ import annotations


def interleave_expr(cols: list[str], bits: int = 16) -> str:
    """SQL expression interleaving the low ``bits`` bits of each input
    expression (round-robin, col0 owns bit positions 0, k, 2k, ...).
    Inputs must already be non-negative integers < 2**bits; see
    :func:`normalize_expr` for mapping raw values into that domain.
    """
    k = len(cols)
    if k < 2:
        raise ValueError("z-order needs at least two columns")
    if k * bits > 63:
        # bit position k*bits-1 would land in (or past) the bigint sign
        # bit, making top-half curve positions negative — silently wrong
        # range clustering. Callers shrink bits instead (zorder_by does).
        raise ValueError(
            f"z-order interleave overflows bigint: {k} cols x {bits} bits "
            f"= {k * bits} > 63; use bits <= {63 // k}"
        )
    terms = [
        f"((({c}) >> {i}) & 1) << {i * k + j}"
        for j, c in enumerate(cols)
        for i in range(bits)
    ]
    return "(" + " | ".join(f"({t})" for t in terms) + ")"


def normalize_expr(col: str, lo: float | None, hi: float | None, bits: int = 16) -> str:
    """SQL expression mapping a numeric column into [0, 2**bits) by
    linear scaling over the [lo, hi] stats range, clamped at the ends
    (values at ``hi`` land in the top cell, out-of-range values clamp
    rather than wrap so late-arriving outliers cannot corrupt the
    curve).

    ``None`` stats (empty table, or an all-NULL column) degrade to the
    constant 0 cell — the dimension contributes nothing to the curve
    instead of crashing the rewrite. NULL values inside a non-degenerate
    column also land in cell 0 (COALESCE), so every row gets a defined,
    deterministic curve position.
    """
    cells = (1 << bits) - 1
    if lo is None or hi is None or hi - lo <= 0:
        return "CAST(0 AS BIGINT)"
    span = hi - lo
    return (
        f"CAST(LEAST({cells}, GREATEST(0, "
        f"FLOOR((COALESCE({col}, {lo!r}) - {lo!r}) * {cells!r} / {span!r}))) AS BIGINT)"
    )


_NUMERIC_PREFIXES = ("tinyint", "smallint", "int", "bigint", "float",
                     "double", "decimal")


def convertible_exprs(df, cols: list[str]) -> list[str]:
    """Per-column SQL converting each cluster column into the DOUBLE
    domain the curve normalization needs — the type handling of the
    ``txlog.compact(zorder=True)`` rewrite:

    - numeric/decimal: plain double cast;
    - date: days since epoch (``CAST(d AS DOUBLE)`` is a disallowed
      cast — it used to abort the rewrite);
    - timestamp: epoch seconds;
    - anything else (string, binary, array, ...): rejected with a
      clear error — under non-ANSI the old blind cast yielded NULL
      stats, silently degrading the dimension to the constant-0 cell
      (with all-string cluster keys, EVERY row got curve position 0
      and the range shuffle collapsed to one giant part)."""
    types = dict(df.dtypes)
    out = []
    for c in cols:
        dt = types.get(c)
        if dt is None:
            raise ValueError(f"z-order: column {c!r} not in frame")
        if dt == "date":
            out.append(f"CAST(datediff(`{c}`, DATE '1970-01-01') AS DOUBLE)")
        elif dt.startswith("timestamp"):
            out.append(f"CAST(unix_timestamp(`{c}`) AS DOUBLE)")
        elif dt.startswith(_NUMERIC_PREFIXES):
            out.append(f"CAST(`{c}` AS DOUBLE)")
        else:
            raise ValueError(
                f"z-order: column {c!r} has type {dt}, which has no "
                "order-preserving numeric embedding for the curve; "
                "cluster on numeric/date/timestamp columns (or derive "
                "one, e.g. a hash bucket column, before clustering)"
            )
    return out


def curve_position(df, cols: list[str], bits: int = 16):
    """The Morton curve position of ``df``'s rows over ``cols`` as a
    pyspark Column — ONE stats job (min/max of each converted
    dimension) plus the interleave expression. A single column needs no
    interleave: its converted value IS the (linear) curve. Used by
    ``txlog.compact(zorder=True)``."""
    from pyspark.sql import functions as F

    conv = convertible_exprs(df, cols)
    if len(conv) == 1:
        return F.expr(conv[0])
    bits = min(bits, 63 // len(conv))
    stats = df.agg(
        *[F.min(F.expr(e)).alias(f"lo_{i}") for i, e in enumerate(conv)],
        *[F.max(F.expr(e)).alias(f"hi_{i}") for i, e in enumerate(conv)],
    ).first()
    cells = [
        normalize_expr(e, stats[f"lo_{i}"], stats[f"hi_{i}"], bits)
        for i, e in enumerate(conv)
    ]
    return F.expr(interleave_expr(cells, bits))
