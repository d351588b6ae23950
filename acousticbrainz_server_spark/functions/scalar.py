"""Scalar function kernels (SURVEY.md §2.8, F1-F16) + oracle-stable rounding.

Cross-engine float determinism: Spark's ``round`` and DuckDB's ``round`` can
disagree on half-way ties and both sit downstream of order-dependent float
summation.  ``round_half_up``/``sql_round_half_up`` implement the SAME
floor-based formula in both engines, so after rounding the value hashes match.
Always round any float column that crosses the oracle boundary.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round_half_up(col: Column, digits: int) -> Column:
    """floor(x * 10^d + 0.5) / 10^d — bitwise-identical in Spark and DuckDB."""
    scale = float(10**digits)
    return F.floor(col * F.lit(scale) + F.lit(0.5)) / F.lit(scale)


def sql_round_half_up(expr: str, digits: int) -> str:
    """DuckDB-side twin of :func:`round_half_up`."""
    scale = float(10**digits)
    return f"floor(({expr}) * {scale} + 0.5) / {scale}"


# --- F4: seconds -> MM:SS / H:MM:SS formatting (reference db/data.py:1008-1009,
#     webserver/views/data.py:149-161) -------------------------------------------------
def format_duration(seconds: Column) -> Column:
    """Whole seconds -> 'MM:SS', the reference's
    ``time.strftime("%M:%S", time.gmtime(length))`` (db/data.py:1008-1009):
    minutes zero-padded and taken WITHIN the hour (>=1 h wraps, as strftime
    does)."""
    secs = F.floor(seconds).cast("long")
    return F.concat_ws(
        ":",
        F.lpad(((secs % 3600) / 60).cast("long").cast("string"), 2, "0"),
        F.lpad((secs % 60).cast("string"), 2, "0"),
    )


def sql_format_duration(expr: str) -> str:
    # NB: DuckDB's CAST(double AS BIGINT) ROUNDS; Spark's truncates.  floor()
    # first so both engines agree.
    e = f"CAST(floor({expr}) AS BIGINT)"
    return (
        f"concat(lpad(CAST((({e}) % 3600) // 60 AS VARCHAR), 2, '0'), ':', "
        f"lpad(CAST(({e}) % 60 AS VARCHAR), 2, '0'))"
    )


def format_length_long(seconds: Column) -> Column:
    """Whole seconds -> the reference's display format
    (webserver/views/data.py:149-161 ``_format_length``):
    'H:MM:SS' when >=1 h, 'M:SS' when >=1 min, else '00:SS'."""
    secs = F.floor(seconds).cast("long")
    h = F.floor(secs / 3600).cast("long")
    m = F.floor((secs % 3600) / 60).cast("long")
    s = secs % 60
    ss = F.lpad(s.cast("string"), 2, "0")
    return (
        F.when(h >= 1, F.concat_ws(":", h.cast("string"), F.lpad(m.cast("string"), 2, "0"), ss))
        .when(m >= 1, F.concat_ws(":", m.cast("string"), ss))
        .otherwise(F.concat(F.lit("00:"), ss))
    )


def sql_format_length_long(expr: str) -> str:
    e = f"CAST(floor({expr}) AS BIGINT)"
    h = f"(({e}) // 3600)"
    m = f"((({e}) % 3600) // 60)"
    ss = f"lpad(CAST(({e}) % 60 AS VARCHAR), 2, '0')"
    return (
        f"(CASE WHEN {h} >= 1 THEN concat(CAST({h} AS VARCHAR), ':', lpad(CAST({m} AS VARCHAR), 2, '0'), ':', {ss}) "
        f"WHEN {m} >= 1 THEN concat(CAST({m} AS VARCHAR), ':', {ss}) "
        f"ELSE concat('00:', {ss}) END)"
    )


# --- F3: slugify (reference db/dataset.py:14-21) --------------------------------------
def slugify(col: Column) -> Column:
    """lower, strip non-word chars, collapse whitespace/hyphens to single '-'.

    Scan-side fast path: NFKD->ascii transliteration of the reference is
    approximated with a translate of common latin-1 accents; ``slugify_nfkd``
    below is the full-fidelity Pandas-UDF variant for non-latin input.
    """
    c = F.lower(col)
    c = F.translate(c, "àáâäãåèéêëìíîïòóôöõùúûüñç", "aaaaaaeeeeiiiiooooouuuunc")
    c = F.regexp_replace(c, r"[^\w\s-]", "")
    c = F.regexp_replace(F.trim(c), r"[-\s]+", "-")
    return c


def slugify_py(s: str) -> str:
    """The reference's slugify, byte-for-byte (db/dataset.py:14-21):
    NFKD normalize -> ascii-ignore -> strip non-word -> strip+lower ->
    collapse space/hyphen runs."""
    import re
    import unicodedata

    s = unicodedata.normalize("NFKD", s).encode("ascii", "ignore").decode("ascii")
    s = re.sub(r"[^\w\s-]", "", s).strip().lower()
    return re.sub(r"[-\s]+", "-", s)


def slugify_nfkd(col: Column) -> Column:
    """Full-fidelity slugify via an Arrow-batched Pandas UDF running
    ``slugify_py`` — needed only when names leave the latin-1 range the
    native ``slugify`` covers; same output as the reference for ALL input."""
    import pandas  # noqa: F401  (resolvable annotation for pandas_udf)
    from pyspark.sql.functions import pandas_udf

    def _slug(s: "pandas.Series") -> "pandas.Series":
        return s.map(lambda x: None if x is None else slugify_py(x))

    _slug.__annotations__ = {"s": pandas.Series, "return": pandas.Series}
    return pandas_udf(_slug, "string")(col)
