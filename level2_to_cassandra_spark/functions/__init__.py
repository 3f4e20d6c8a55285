"""Engine scalar-function helpers shared across query modules."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round_half_up(col: Column, scale: int) -> Column:
    """Cross-engine-deterministic rounding: FLOOR(x·10^s + 0.5)/10^s.

    Spark's ``round`` does HALF_UP on the double's shortest decimal
    representation while DuckDB rounds the binary value — they disagree
    whenever the value's repr ends exactly in '5' at the target scale
    (frequent on synthetic data).  This formula uses only IEEE-754 ops,
    so identical inputs give identical outputs in ANY engine; pair it
    with ``round_half_up_sql`` in oracle SQL.
    """
    p = float(10**scale)
    return F.floor(col * F.lit(p) + F.lit(0.5)) / F.lit(p)


def round_half_up_sql(expr: str, scale: int) -> str:
    """DuckDB-side twin of :func:`round_half_up`."""
    p = 10**scale
    return f"FLOOR(({expr}) * {p} + 0.5) / {p}"


def round_signless(col: Column, scale: int) -> Column:
    """``F.round`` with IEEE negative zero normalized to +0.0.

    Spark's ``round`` goes through BigDecimal HALF_UP (no signed zero,
    always emits +0.0) while DuckDB's ``ROUND`` preserves the IEEE sign
    of the input, so a value that rounds to zero from below emits -0.0
    there.  The two are numerically equal — every tolerant compare
    passes — but the driver's order-insensitive VALUE HASH distinguishes
    the representations (r11's q_embed_covariance failure: one 2080-cell
    covariance matrix entry ≈ -3e-8 at sf0.01).  ``x + 0.0`` is the
    IEEE-754 idempotent sign normalization (-0.0 + 0.0 == +0.0 under
    round-to-nearest); apply it on BOTH engine sides via this helper and
    :func:`round_signless_sql` so the representations cannot diverge no
    matter which engine signs its zero.
    """
    return F.round(col, scale) + F.lit(0.0)


def round_signless_sql(expr: str, scale: int) -> str:
    """DuckDB-side twin of :func:`round_signless`."""
    return f"(ROUND({expr}, {scale}) + 0.0)"


def positive_or_none(raw: str | None, name: str) -> int | None:
    """Validate a positive-int setting (trigger caps, staging buckets):
    a positive int, or None/'' for unset; anything else raises a
    ValueError that names the setting.  '0' is a truthy STRING, so
    `int(raw) if raw else None` shipped 0 through to the source, where
    a 0-file/0-offset cap silently stops the stream from progressing
    (ADVICE r07 low).  ONE definition shared by the l2wire source,
    PipelineConfig.from_env and catalog.staging_buckets so the
    surfaces cannot drift (self-review r09)."""
    if raw is None or raw == "":
        return None
    error = ValueError(f"{name} must be a positive integer, got {raw!r}")
    try:
        value = int(raw)
    except ValueError:
        raise error from None
    if value < 1:
        raise error
    return value
