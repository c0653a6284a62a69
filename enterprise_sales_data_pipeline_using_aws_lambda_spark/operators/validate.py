"""Validation operators (reference V1–V5, ``lambda.py:81-121``).

The reference validates a whole file and quarantines it entirely on any
error (all-or-nothing, ``lambda.py:233-236``); a successful date check
also *casts* the date columns in place (``lambda.py:103-109``), so
validation doubles as the date-casting stage.

Two modes:
- :func:`validate_batch` — reference-exact file-level semantics: returns
  the error list plus the date-cast DataFrame, pinned.  Checks that are
  pure schema checks (V1, V2) run on ``df.schema`` with **zero scans**;
  the data checks (V3 date parse, V4 uniqueness) and the caller's run
  metrics are ``observe`` metrics of the **one** pass that pins the
  date-cast frame (a key-partitioned shuffle plus the pin: two jobs),
  so the sinks downstream reuse the pinned rows instead of re-parsing
  the input, and no rule costs a pass of its own.
- :func:`validate_rows` — the engine's finer-grained mode: splits into
  (valid, quarantined-with-reason) row sets in one pass, fixing the
  reference's dropped-reason bug (``lambda.py:123-139``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import (
    SALES_DATE_COLUMNS,
    SALES_DATE_FORMAT,
    SALES_KEY_COLUMN,
    SALES_NUMERIC_COLUMNS,
    SALES_REQUIRED_COLUMNS,
)
from .materialize import materialize

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
    #: The caller's run metrics (``validate_batch(metrics=...)``),
    #: by alias; empty when V1 or V2 failed.
    metrics: dict = field(default_factory=dict)

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
    metrics: list[Column] | None = None,
) -> ValidationResult:
    """File-level validation, reference-exact semantics.

    Mirrors ``validate_data`` (``lambda.py:81-121``):
    V1 missing columns → error per column set;
    V2 non-numeric dtype → error per column;
    V3 unparseable date → error per column (success casts to DateType);
    V4 duplicate key → error.

    V3 and V4 are metrics of one ``Observation`` on the pass that pins
    the date-cast frame; ``metrics`` (aliased aggregates, e.g. a row
    count) ride the same observation when V1 and V2 pass, and their
    values come back in :attr:`ValidationResult.metrics`.  On success
    ``df`` of the result is that pinned frame; on failure it is the
    input, untouched (the quarantine keeps the raw values).
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

    # Already-temporal date columns (DateType/Timestamp — e.g. a lake
    # frame re-driven through the gate, or validate_batch's own output)
    # are trivially valid: casting them to string yields ISO
    # 'yyyy-MM-dd', which FAILS the M/d/yyyy parse — without the type
    # branch, re-validating an already-validated frame quarantined
    # every row (the pandas reference's to_datetime succeeds on
    # datetime64 regardless of format, so validation is idempotent
    # there).
    date_cols = [c for c in dates if c in cols]
    parsed = {f"_date_{c}": _to_date(c, dtypes[c], date_format)
              for c in date_cols}
    checks = [
        F.sum(
            (F.col(c).isNotNull() & F.col(f"_date_{c}").isNull()).cast("long")
        ).alias(f"_bad_{c}")
        for c in date_cols
        if not isinstance(dtypes[c], _TEMPORAL)
    ]
    checked = df.withColumns(parsed)
    check_key = key is not None and key in cols
    if check_key:
        # A window partition holds every NULL key in one group, so two
        # NULL keys are a duplicate, as the reference's pandas
        # Series.is_unique has it (and NULL keys would accumulate
        # forever in the keyed upsert, whose equi anti-join never
        # matches NULL).
        checked = checked.withColumn(
            "_key_rows", F.count(F.lit(1)).over(Window.partitionBy(key))
        )
        checks.append(
            F.sum((F.col("_key_rows") > 1).cast("long")).alias("_dup_rows")
        )
    # Run metrics only over a schema that passed V1/V2: a sum over a
    # string column would replace the V2 message by a cast error.
    run_metrics = [] if errors else list(metrics or [])
    if not checks and not run_metrics:
        return ValidationResult(df=df, errors=errors)

    # The observation sits ABOVE the window: observed below its
    # exchange, a zero-row batch fails Observation.get.  try_to_date
    # because a plain (ANSI) to_date would raise on a bad date before
    # the V3 verdict is read.
    obs = Observation()
    pinned = materialize(
        checked.observe(obs, *checks, *run_metrics)
        .withColumns({c: F.col(f"_date_{c}") for c in date_cols})
        .drop(*parsed, "_key_rows")
    )
    values = obs.get
    for c in date_cols:
        if (values.get(f"_bad_{c}") or 0) > 0:
            errors.append(f"Invalid date format in column {c}")
    if check_key and (values["_dup_rows"] or 0) > 0:
        errors.append(f"Duplicate {key} values found")
    if errors:
        return ValidationResult(df=df, errors=errors)
    checked_names = {f"_bad_{c}" for c in date_cols} | {"_dup_rows"}
    return ValidationResult(
        df=pinned,
        metrics={k: v for k, v in values.items() if k not in checked_names},
    )


def _to_date(c: str, dtype: T.DataType, date_format: str) -> Column:
    """``c`` as DateType: temporal columns truncate; string columns
    parse with ``date_format``, NULL where they do not parse.
    Re-parsing a temporal column's ISO string form with ``M/d/yyyy``
    would null it."""
    if isinstance(dtype, _TEMPORAL):
        return F.to_date(F.col(c))
    return F.try_to_date(F.col(c).cast("string"), date_format)


def cast_dates(
    df: DataFrame,
    dates: list[str] | None = None,
    date_format: str = SALES_DATE_FORMAT,
) -> DataFrame:
    """V3's success cast: every present date column to DateType in
    place, matching the reference's mutate-on-success
    (``lambda.py:107``).  For rows that passed V3; an unparseable
    value would become NULL."""
    dates = SALES_DATE_COLUMNS if dates is None else dates
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    return df.withColumns(
        {c: _to_date(c, dtypes[c], date_format) for c in dates if c in dtypes}
    )


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
