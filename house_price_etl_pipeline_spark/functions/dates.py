"""Minguo (ROC) calendar handling as native Catalyst expressions.

The reference converts Minguo date strings with a row-at-a-time Python UDF
(`etl_pipeline_spark.py:47`: ``'1100718'`` → ``'2021-07-18'``, ROC year =
all chars except the last 4) and validates dates with a second UDF wrapping
``dateutil.parser.parse`` (`etl_pipeline_spark.py:26-33`). Both break
whole-stage codegen and cost a JVM↔Python round trip per row — at 100 TB
that is the difference between a scan-bound job and a Python-bound one.

Here both are pure column expressions: they stay inside codegen, push no
data to Python, and (deliberately diverging from the reference, SURVEY
§7.4) yield NULL on garbage instead of raising — ``to_date`` semantics,
so one bad row cannot kill a 1000-executor job.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def minguo_to_iso(col: Column | str) -> Column:
    """Minguo digit-string → ISO ``yyyy-MM-dd`` string, NULL if malformed.

    Handles 7-digit (year >= 100), 6-digit (year 10-99) and 5-digit
    (year 1-9, i.e. 1912-1920) forms: the ROC year is everything except
    the trailing 4 chars (MMDD), mirroring reference
    `etl_pipeline_spark.py:47` ``int(date[:-4]) + 1911`` — which accepts
    any length >= 5 (4 or fewer digits leaves an empty year and raises
    there; NULL here). Found by the hypothesis round-trip test.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.trim(c)
    digits = F.when(c.rlike(r"^[0-9]{5,7}$"), c)
    roc_year = F.substring(digits, 1, F.length(digits) - 4)
    greg_year = roc_year.cast("int") + F.lit(1911)
    mm = F.substring(digits, -4, 2)
    dd = F.substring(digits, -2, 2)
    # concat, NOT concat_ws: concat propagates NULL (malformed/NULL in →
    # NULL out, the documented contract), while concat_ws SKIPS NULL
    # arguments and returned '' for garbage — a .isNotNull() filter kept
    # every bad row (review r9, empirically confirmed)
    return F.concat(greg_year.cast("string"), F.lit("-"), mm,
                    F.lit("-"), dd)


def minguo_to_date(col: Column | str) -> Column:
    """Minguo digit-string → DateType, NULL on any invalid input.

    Calendar validation (e.g. ``1100231`` = 2021-02-31 → NULL) replaces
    the reference's check_date UDF + flag-column + filter dance
    (`etl_pipeline_spark.py:26-33,65-67`) with one expression: the
    trimmed string must be 5-7 ASCII digits, ``try_cast`` makes it ONE
    int ``YYYMMDD``, integer division and modulo split it, and
    ``try_make_timestamp_ntz`` validates the calendar date (NULL, never
    an ANSI error, on month 0/13 or Feb 29 of a non-leap year).

    The tree must stay COMPACT: it references the input a constant
    number of times (``n`` three times, the input twice per ``n``). A
    cleaner filters on ``transaction_date IS NOT NULL``, and the
    optimizer substitutes this whole expression into that filter, where
    codegen does not share repeated sub-trees — every reference is
    evaluated per row. A form that split the trimmed string with
    substrings per component and guarded ``make_date`` with a
    month-length/leap rule referenced the input 64 times (128 ``trim(``
    per cleaner plan, 12 here); both cleaners over 160k benchmark rows
    into a ``noop`` sink took 1.81 s with it and 0.54 s with this one
    (best of three warm passes, 4 cores, identical rows out).
    """
    c = F.trim(F.col(col) if isinstance(col, str) else col)
    n = F.when(c.rlike(r"^[0-9]{5,7}$"), c).try_cast("int")
    return F.try_make_timestamp_ntz(
        F.floor(n / 10000) + 1911, F.floor(n / 100) % 100, n % 100,
        F.lit(0), F.lit(0), F.lit(0)).cast("date")


def to_valid_date(col: Column | str) -> Column:
    """Lenient ISO-ish string → DateType, NULL if unparseable.

    Native replacement for the reference's ``check_date`` UDF
    (`etl_pipeline_spark.py:26-33`): instead of mapping to "True"/"False"
    strings and filtering, parse and let NULL mean invalid.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.try_to_timestamp(F.trim(c), F.lit("yyyy-M-d")).cast("date")
