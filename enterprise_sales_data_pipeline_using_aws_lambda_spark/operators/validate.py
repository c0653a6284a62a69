"""Validation operators (reference V1–V5, ``lambda.py:81-121``).

The reference validates a whole file and quarantines it entirely on any
error (all-or-nothing, ``lambda.py:233-236``); a successful date check
also *casts* the date columns in place (``lambda.py:103-109``), so
validation doubles as the date-casting stage.

Two modes:
- :func:`validate_batch` — reference-exact file-level semantics: returns
  the error list plus the (date-cast) DataFrame.  Checks that are pure
  schema checks (V1, V2) run on ``df.schema`` with **zero scans**; the
  data checks (V3 date parse, V4 uniqueness) run in **one** aggregate job
  instead of one pass per rule — at 100 TB you pay a single scan, not
  four.
- :func:`validate_rows` — the engine's finer-grained mode: splits into
  (valid, quarantined-with-reason) row sets in one pass, fixing the
  reference's dropped-reason bug (``lambda.py:123-139``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import (
    SALES_DATE_COLUMNS,
    SALES_DATE_FORMAT,
    SALES_KEY_COLUMN,
    SALES_NUMERIC_COLUMNS,
    SALES_REQUIRED_COLUMNS,
)

_NUMERIC_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)
_TEMPORAL = (T.DateType, T.TimestampType, T.TimestampNTZType)


@dataclass
class ValidationResult:
    """Outcome of file-level validation."""

    df: DataFrame
    errors: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.errors


def validate_batch(
    df: DataFrame,
    required: list[str] | None = None,
    numeric: list[str] | None = None,
    dates: list[str] | None = None,
    key: str | None = SALES_KEY_COLUMN,
    date_format: str = SALES_DATE_FORMAT,
) -> ValidationResult:
    """File-level validation, reference-exact semantics.

    Mirrors ``validate_data`` (``lambda.py:81-121``):
    V1 missing columns → error per column set;
    V2 non-numeric dtype → error per column;
    V3 unparseable date → error per column (success casts to DateType);
    V4 duplicate key → error.
    All data-dependent checks are folded into a single aggregate scan.
    """
    required = SALES_REQUIRED_COLUMNS if required is None else required
    numeric = SALES_NUMERIC_COLUMNS if numeric is None else numeric
    dates = SALES_DATE_COLUMNS if dates is None else dates

    errors: list[str] = []
    cols = set(df.columns)

    missing = [c for c in required if c not in cols]
    if missing:
        errors.append(f"Missing columns: {', '.join(missing)}")

    dtypes = {f.name: f.dataType for f in df.schema.fields}
    for c in numeric:
        if c in dtypes and not isinstance(dtypes[c], _NUMERIC_TYPES):
            # A string column full of numbers still fails, as in pandas
            # dtype checking (lambda.py:96-100).
            errors.append(f"Column {c} must be numeric")

    # One aggregate pass for date-parse failures + key duplicates.
    # Already-temporal date columns (DateType/Timestamp — e.g. a lake
    # frame re-driven through the gate, or validate_batch's own output)
    # are trivially valid: casting them to string yields ISO
    # 'yyyy-MM-dd', which FAILS the M/d/yyyy parse — without the type
    # branch, re-validating an already-validated frame quarantined
    # every row (the pandas reference's to_datetime succeeds on
    # datetime64 regardless of format, so validation is idempotent
    # there).
    aggs: list[Column] = []
    date_checks: list[str] = []
    temporal_dates: set[str] = set()
    for c in dates:
        if c not in cols:
            continue
        date_checks.append(c)
        if isinstance(dtypes[c], _TEMPORAL):
            temporal_dates.add(c)
            continue
        parsed = F.try_to_date(F.col(c).cast("string"), date_format)
        bad = F.col(c).isNotNull() & parsed.isNull()
        aggs.append(F.sum(bad.cast("long")).alias(f"_bad_{c}"))
    check_key = key is not None and key in cols
    if check_key:
        aggs.append(F.count(F.col(key)).alias("_key_count"))
        aggs.append(F.count_distinct(F.col(key)).alias("_key_distinct"))
        # count()/count_distinct() both SKIP nulls, so two NULL keys
        # would slip through the equality check — while the reference's
        # pandas Series.is_unique flags repeated NaN as duplicates
        # (and NULL keys would accumulate forever in the keyed upsert,
        # whose equi anti-join never matches NULL).
        aggs.append(
            F.sum(F.col(key).isNull().cast("long")).alias("_key_nulls")
        )

    if aggs:
        row = df.agg(*aggs).collect()[0]
        for c in date_checks:
            if c in temporal_dates:
                continue
            if (row[f"_bad_{c}"] or 0) > 0:
                errors.append(f"Invalid date format in column {c}")
        if check_key and (
            row["_key_count"] != row["_key_distinct"]
            or (row["_key_nulls"] or 0) > 1
        ):
            errors.append(f"Duplicate {key} values found")

    out = df if errors else cast_dates(df, date_checks, date_format)
    return ValidationResult(df=out, errors=errors)


def cast_dates(
    df: DataFrame,
    dates: list[str] | None = None,
    date_format: str = SALES_DATE_FORMAT,
) -> DataFrame:
    """V3's success cast: every present date column to DateType in
    place, matching the reference's mutate-on-success
    (``lambda.py:107``).  Temporal columns truncate straight to
    DateType; re-parsing their ISO string form with ``M/d/yyyy`` would
    null them."""
    dates = SALES_DATE_COLUMNS if dates is None else dates
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    for c in dates:
        if c in dtypes:
            df = df.withColumn(
                c,
                F.to_date(F.col(c))
                if isinstance(dtypes[c], _TEMPORAL)
                else F.to_date(F.col(c).cast("string"), date_format),
            )
    return df


def row_rules_sales(date_format: str = SALES_DATE_FORMAT) -> dict[str, Column]:
    """The reference's V2–V4 checks re-expressed as row-level predicates
    (True = row violates)."""
    rules: dict[str, Column] = {}
    for c in SALES_NUMERIC_COLUMNS:
        rules[f"non_numeric_{c}"] = F.col(c).cast("double").isNull() & F.col(
            c
        ).isNotNull()
    for c in SALES_DATE_COLUMNS:
        # isNotNull guard: a NULL date is accepted (pandas to_datetime
        # maps NaN → NaT without error, and validate_batch's file-level
        # V3 passes it) — only a non-null unparseable value violates.
        # Without the guard the streaming path would quarantine rows
        # the batch path accepts.
        rules[f"bad_date_{c}"] = F.col(c).isNotNull() & F.try_to_date(
            F.col(c).cast("string"), date_format
        ).isNull()
    rules[f"null_{SALES_KEY_COLUMN}"] = F.col(SALES_KEY_COLUMN).isNull()
    return rules


def validate_rows(
    df: DataFrame, rules: dict[str, Column]
) -> tuple[DataFrame, DataFrame]:
    """Row-level validation: one pass, two outputs.

    ``rules`` maps rule-name → violation predicate.  Returns
    ``(valid_df, quarantine_df)`` where the quarantine side carries
    ``_error_reason`` — the ``; ``-joined names of every violated rule
    (the reference computes exactly this string then drops it,
    ``lambda.py:235`` vs ``lambda.py:123-139``).

    Both outputs derive from one annotated plan, so Catalyst reuses the
    scan; no per-rule job is launched.
    """
    reason = F.concat_ws(
        "; ",
        *[
            F.when(pred, F.lit(name)).otherwise(F.lit(None))
            for name, pred in rules.items()
        ],
    )
    annotated = df.withColumn("_error_reason", reason)
    valid = annotated.filter(F.col("_error_reason") == "").drop("_error_reason")
    quarantined = annotated.filter(F.col("_error_reason") != "")
    return valid, quarantined


def rule_violation_counts(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Aggregate per-rule violation counts in a single scan.

    Output schema: ``rule:string, violations:long`` — one row per rule in
    the given order-insensitive set.  Used as the oracle-checkable face of
    row-level validation.
    """
    # coalesce: sum over ZERO rows is NULL, and an empty batch must
    # report 0 violations per rule, not NULL (a gate asserting == 0
    # would misread a clean empty batch as failing)
    aggs = [
        F.coalesce(F.sum(pred.cast("long")), F.lit(0)).alias(name)
        for name, pred in rules.items()
    ]
    wide = df.agg(*aggs)
    # rule names are caller-supplied and land inside generated SQL:
    # escape quote characters so a name like "bad 'price'" cannot
    # break the stack() parse
    stack_expr = ", ".join(
        "'{}', `{}`".format(n.replace("'", "''"), n.replace("`", "``"))
        for n in rules
    )
    return wide.selectExpr(
        f"stack({len(rules)}, {stack_expr}) as (rule, violations)"
    )
