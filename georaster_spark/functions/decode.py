"""Value decoders and checked casts — Column algebra only (no UDFs).

Mirrors the reference's ``RasterValue`` conversions:

- Terrarium RGB→elevation: ``(r*256 + g + b/255) - 32768``
  (``src/lib.rs:126-128``); golden ``height(134,65,215) ==
  1601.843137254902`` (``src/lib.rs:202``).
- Mapbox RGB→elevation: ``(r*65536 + g*256 + b)/10 - 10000``
  (``src/lib.rs:130-132``); golden 1598.5294117647063 via the PMTiles
  test (``src/pmtiles.rs:121-133``).
- Checked numeric casts (``TryFrom<RasterValue>``,
  ``src/lib.rs:75-124``): NULL (NoData) never converts; a value
  outside the target family/range yields NULL in the ``try_`` form
  and raises in the strict form.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def terrarium_height(r: Column, g: Column, b: Column) -> Column:
    """NULL in any channel (NoData) → NULL height (reference: NaN,
    ``src/lib.rs:154``; NULL is our NoData spelling)."""
    return (
        r.cast("double") * 256.0 + g.cast("double") + b.cast("double") / 255.0 - 32768.0
    )


def mapbox_height(r: Column, g: Column, b: Column) -> Column:
    return (
        (r.cast("double") * 65536.0 + g.cast("double") * 256.0 + b.cast("double")) / 10.0
        - 10000.0
    )


# per-target source families, matching the reference's TryFrom arms
# exactly: u64::try_from accepts ONLY the unsigned family
# (src/lib.rs:75-88 — U8/U16/U32/U64 arms, everything else is
# ValueRange); i64::try_from accepts every integral family EXCEPT U64
# (src/lib.rs:89-105 — no U64 arm: a u64 may exceed i64::MAX);
# f64::try_from accepts every numeric family (src/lib.rs:106-124).
_U64_SRC_DTYPES = {"u8", "u16", "u32", "u64"}
_I64_SRC_DTYPES = {"u8", "u16", "u32", "i8", "i16", "i32", "i64"}
_INT_DTYPES = _U64_SRC_DTYPES | _I64_SRC_DTYPES
_FLOAT_DTYPES = {"f32", "f64"}


def try_cast_i64(value: Column, dtype: str) -> Column:
    """``i64::try_from(RasterValue)`` analog: integral families except
    u64 cast; u64/float/other families are NULL (the try_ spelling of
    ValueRange — src/lib.rs:89-105 has no U64/F32/F64 arm). NULL input
    (NoData) stays NULL."""
    if dtype in _I64_SRC_DTYPES:
        return value.cast("long")
    return F.lit(None).cast("long")


def try_cast_u64(value: Column, dtype: str) -> Column:
    """``u64::try_from`` analog: ONLY unsigned families convert — a
    signed source is ValueRange regardless of sign (src/lib.rs:75-88
    has U8/U16/U32/U64 arms only). The reference's type system makes
    a negative value under an unsigned dtype unrepresentable; DOUBLE
    storage here does not, so a negative input is treated as data
    corruption and NULLed rather than passed through. U64 full range
    noted as DECIMAL territory (SURVEY.md §7 risk 3) — this LONG form
    is exact to 2^63; ``try_cast_u64_decimal`` carries 2^64."""
    if dtype in _U64_SRC_DTYPES:
        return F.when(value >= 0, value.cast("long"))
    return F.lit(None).cast("long")


def try_cast_u64_decimal(value: Column, dtype: str) -> Column:
    """Full-range u64 conversion: DECIMAL(20,0) holds all of
    0..2^64-1 exactly (src/lib.rs:75-88; SURVEY.md §7 risk 3). Input
    must already be exact (integral/decimal storage, not double)."""
    if dtype in _U64_SRC_DTYPES:
        return F.when(value >= 0, value.cast("decimal(20,0)"))
    return F.lit(None).cast("decimal(20,0)")


def try_cast_f64(value: Column, dtype: str) -> Column:
    """``f64::try_from`` analog: every numeric family converts
    (``src/lib.rs:104-124``); NoData (NULL) does not."""
    if dtype in _INT_DTYPES | _FLOAT_DTYPES:
        return value.cast("double")
    return F.lit(None).cast("double")


def cast_i64_strict(value: Column, dtype: str) -> Column:
    """Strict ``i64::try_from``: a u64- or float-family source RAISES
    at execution (the reference's ValueRange error, src/lib.rs:89-105)
    instead of NULLing. NoData (NULL input) raises too — matching
    ``i64::try_from(NoData)`` being an error."""
    if dtype not in _I64_SRC_DTYPES:
        return F.raise_error(F.lit(f"ValueRange: cannot convert {dtype} to i64"))
    return F.when(
        value.isNull(), F.raise_error(F.lit("ValueRange: NoData does not convert"))
    ).otherwise(value.cast("long"))


def cast_u64_strict(value: Column, dtype: str) -> Column:
    """Strict ``u64::try_from``: any signed or float source raises
    (src/lib.rs:75-88 — only unsigned arms exist), as does NoData.
    A NEGATIVE value stored under an unsigned dtype is unrepresentable
    in the reference's type system, so here it raises as corruption
    (the DOUBLE storage can physically hold it; passing it through as
    a 'u64' would silently launder bad data)."""
    if dtype not in _U64_SRC_DTYPES:
        return F.raise_error(F.lit(f"ValueRange: cannot convert {dtype} to u64"))
    return F.when(
        value.isNull(),
        F.raise_error(F.lit("ValueRange: NoData does not convert to u64")),
    ).when(
        value < 0,
        F.raise_error(
            F.lit(f"ValueRange: negative value under unsigned dtype {dtype} (corrupt data)")
        ),
    ).otherwise(value.cast("long"))


def format_value(value: Column, rgba: Column | None = None) -> Column:
    """``Display for RasterValue`` analog (``src/lib.rs:53-73``):
    scalar → digits, RGB → ``(r,g,b)``, NULL → ``<NoData>``."""
    scalar = F.when(value.isNull(), F.lit("<NoData>")).otherwise(value.cast("string"))
    if rgba is None:
        return scalar
    return F.when(
        rgba.isNotNull(),
        F.concat(F.lit("("), F.array_join(rgba, ","), F.lit(")")),
    ).otherwise(scalar)
