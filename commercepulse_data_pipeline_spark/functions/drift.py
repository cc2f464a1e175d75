"""Schema-drift resolution and canonicalization expressions.

The reference resolves vendor schema drift with per-row Python loops that
try a prioritized list of candidate payload keys (reference
src/transformer.py:52-74 payments, :100-111 refunds) and canonicalize
status strings (src/transformer.py:66-72). Here the same semantics are
pure Catalyst column expressions — JVM-side, whole-stage-codegen'd, no
Python in the hot path.

Pandas-parity note (SURVEY Q10): Python's ``a or b`` coalesce skips falsy
values — empty string, 0, None — while SQL COALESCE only skips NULL.
``coalesce_keys(..., skip_falsy=True)`` reproduces the reference exactly;
the default (NULL-only) is the fixed semantic our gold tables use.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def _falsy_to_null(col: Column) -> Column:
    """NULL out values Python treats as falsy: NULL, '', 0, 0.0."""
    s = col.cast("string")
    return F.when(s.isNull() | (s == "") | (s == "0") | (s == "0.0"), F.lit(None)).otherwise(col)


def coalesce_keys(cols: Sequence[Column], *, skip_falsy: bool = False) -> Column:
    """First usable value among candidate columns (reference F1).

    Reference: src/transformer.py:52-74 — ``payload.get("transaction_id")
    or payload.get("payment_id") or ...``. With ``skip_falsy`` the Python
    ``or``-chain semantics are reproduced bit-for-bit.
    """
    if skip_falsy:
        return F.coalesce(*[_falsy_to_null(c) for c in cols])
    return F.coalesce(*cols)


def json_keys(payload: Column, keys: Sequence[str], *, skip_falsy: bool = False) -> Column:
    """Coalesce over JSON paths of a raw-JSON payload column.

    Drift-proof ingestion keeps ``payload`` as a JSON string (no schema
    lock-in); this extracts the first present candidate key. Nested paths
    like ``order.id`` are supported (vendor_c dialect, FIXTURES §2).
    """
    cols = [F.get_json_object(payload, f"$.{k}") for k in keys]
    return coalesce_keys(cols, skip_falsy=skip_falsy)


# Status canonicalization (reference F2, src/transformer.py:66-72).
_FAILED = ("failed", "fail", "error")
_SUCCESS = ("success", "successful", "completed", "paid")


def canonical_status(col: Column) -> Column:
    """lower(); {failed,fail,error}→failed; {success,successful,completed,
    paid}→success; anything else passes through lowercased."""
    low = F.lower(col)
    return (
        F.when(low.isin(*_FAILED), F.lit("failed"))
        .when(low.isin(*_SUCCESS), F.lit("success"))
        .otherwise(low)
    )


def numeric_or_zero(col: Column) -> Column:
    """``float(x) if x else 0.0`` (reference F7/Q10, src/transformer.py:79).

    try_cast keeps us safe under ANSI mode (the reference would raise on a
    non-numeric string — we coerce to 0.0, the deliberate fix).
    """
    return F.coalesce(col.try_cast("double"), F.lit(0.0))


def safe_divide(num: Column, den: Column) -> Column:
    """NULL on zero/NULL denominator, rounded to 4 places (reference F10,
    src/transformer.py:150-151)."""
    return F.round(F.when(den > 0, num / den), 4)
