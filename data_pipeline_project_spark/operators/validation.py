"""Validation core — the reference's largest function, rebuilt columnar.

Reference: ``validate_and_transform_data_strict`` (pipeline.py:85-183):
a per-row ``iterrows`` loop applying predicates F1-F6, building
"Row {n}: 'col' ('val') is ..." error strings (F8), failing the whole
file on the first bad row (F7), then bulk-casting types (P4/P5).

Spark-first re-expression: every predicate is a columnar expression
evaluated in whole-stage codegen; error messages are conditionally-null
string expressions combined with ``concat_ws``; the file-level
all-or-nothing gate is a per-file window flag (``max`` of the row flag
over ``partition by file``), which rides the exchange the per-file
row-number window already pays for. ~150k rows/s pandas becomes
JVM-vectorized and embarrassingly parallel over files/partitions — no
Python in the hot path at all.
"""

from __future__ import annotations

from dataclasses import dataclass
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_pipeline_project_spark.config import (
    METRIC_COLUMNS,
    NA_TOKENS,
    TIMESTAMP_FORMATS,
    ValidationBounds,
)

ERROR_COL = "error_reason"
ROW_COL = "_csv_row"  # CSV line number: header = 1, first data row = 2
REJECT_COL = "_rejected"  # set by flag_rows: the row goes to quarantine


def normalize_na_tokens(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """P3/S5 — map the reference's NA token list ('', '#N/A', 'NULL',
    'NaN', ...; pipeline.py:286) to real nulls. Spark's CSV reader only
    honors a single nullValue, so extra tokens are normalized post-read
    with a columnar isin()."""
    cols = list(cols or df.columns)
    tokens = [t for t in NA_TOKENS if t]  # '' handled separately (trim first)
    return df.withColumns(
        {
            c: F.when(
                F.trim(F.col(c)) == "", F.lit(None).cast("string")
            ).when(F.col(c).isin(tokens), F.lit(None).cast("string")).otherwise(F.col(c))
            for c in cols
        }
    )


def parse_timestamp_lenient(col: Column) -> Column:
    """P4 — pandas ``pd.to_datetime`` format-sniffing parity
    (pipeline.py:124,171): ordered coalesce of try_to_timestamp over the
    formats observed in the reference's data, ending with Spark's
    default parser. Never raises — unparseable → NULL (probe F3)."""
    probes = [F.try_to_timestamp(col, F.lit(fmt)) for fmt in TIMESTAMP_FORMATS]
    probes.append(F.try_to_timestamp(col))
    return F.coalesce(*probes)


def _quoted(col: Column) -> Column:
    """Render a raw cell for an error message: 'val' or the word null."""
    return F.coalesce(F.concat(F.lit("'"), col, F.lit("'")), F.lit("null"))


@dataclass(frozen=True)
class Rule:
    """One validation rule: a per-row failure predicate + message."""

    name: str
    fails: Column  # true ⇒ row is invalid
    message: Column  # error text (evaluated only when fails)


def sensor_rules(bounds: ValidationBounds) -> list[Rule]:
    """F2-F6 as config-driven columnar rules over the all-string frame.

    Message text mirrors the reference's golden strings
    (quarantine/quarantine_log.txt:1-5, pipeline.py:117-159):
      - "'sensor_id' is null."
      - "'timestamp' ('X') is unparsable."  (or "is null.")
      - "'temperature' ('abc') is not a valid number."
      - "'temperature' ('99.0') is out of range [-50.0, 50.0]."
    """
    rules: list[Rule] = []

    sid = F.col("sensor_id")
    rules.append(Rule("null_sensor_id", sid.isNull(), F.lit("'sensor_id' is null.")))

    ts = F.col("timestamp")
    ts_parsed = parse_timestamp_lenient(ts)
    rules.append(
        Rule(
            "bad_timestamp",
            ts.isNull() | ts_parsed.isNull(),
            F.when(ts.isNull(), F.lit("'timestamp' is null.")).otherwise(
                F.concat(F.lit("'timestamp' ("), _quoted(ts), F.lit(") is unparsable."))
            ),
        )
    )

    for metric in METRIC_COLUMNS:
        c = F.col(metric)
        lo, hi = bounds.range_for(metric)
        # try_cast: ANSI mode (Spark 4 default) makes a plain cast THROW
        # on 'abc'; the validation probe needs null-on-malformed.
        num = c.try_cast("double")
        rules.append(
            Rule(
                f"null_{metric}",
                c.isNull(),
                F.concat(F.lit("'"), F.lit(metric), F.lit("' is null.")),
            )
        )
        rules.append(
            Rule(
                f"nonnumeric_{metric}",
                c.isNotNull() & num.isNull(),
                F.concat(
                    F.lit(f"'{metric}' ("), _quoted(c), F.lit(") is not a valid number.")
                ),
            )
        )
        rules.append(
            Rule(
                f"range_{metric}",
                num.isNotNull() & ~num.between(lo, hi),
                F.concat(
                    F.lit(f"'{metric}' ("),
                    _quoted(c),
                    F.lit(f") is out of range [{lo}, {hi}]."),
                ),
            )
        )
    return rules


def with_error_reason(df: DataFrame, rules: Sequence[Rule]) -> DataFrame:
    """F8 — attach ``error_reason``: all failing rules' messages joined
    with '; ' (pipeline.py:162-164); empty string ⇒ row valid. If the
    frame carries a CSV row number column, messages get the reference's
    "Row {n}: " prefix (header = line 1 ⇒ first data row = 2)."""
    parts = [F.when(r.fails, r.message) for r in rules]
    reason = F.concat_ws("; ", *parts)
    if ROW_COL in df.columns:
        prefix = F.concat(F.lit("Row "), F.col(ROW_COL).cast("string"), F.lit(": "))
        reason = F.when(reason != "", F.concat(prefix, reason)).otherwise(reason)
    return df.withColumn(ERROR_COL, reason)


def flag_rows(
    df: DataFrame,
    rules: Sequence[Rule],
    file_col: str | None = None,
    strict: bool = True,
) -> DataFrame:
    """F7/F8 — attach ``error_reason`` and the boolean ``REJECT_COL``.

    strict + file_col: ANY bad row poisons its whole file
    (pipeline.py:161-165), so the flag is ``max(row is bad)`` over a
    window partitioned by file. The per-file row-number window of
    ``read_sensor_csv`` and the stream's batch handler already
    hash-partitions the frame by file, so this window adds no exchange:
    the plan keeps one ``Exchange hashpartitioning(file_name)`` and no
    join.

    lenient (strict=False): the flag is the row's own verdict (the
    historical `MainPipeline` variant).
    """
    flagged = with_error_reason(df, rules)
    rejected = F.col(ERROR_COL) != ""
    if strict and file_col is not None:
        rejected = F.max(rejected).over(Window.partitionBy(file_col))
    return flagged.withColumn(REJECT_COL, rejected)


def split_valid_invalid(flagged: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a ``flag_rows`` frame into (valid, invalid): two plain
    filters on the flag, which is then dropped."""
    rejected = F.col(REJECT_COL)
    return (
        flagged.where(~rejected).drop(REJECT_COL),
        flagged.where(rejected).drop(REJECT_COL),
    )


def cast_validated(df: DataFrame) -> DataFrame:
    """P4/P5 — post-validation bulk casts (pipeline.py:170-173):
    timestamp via the lenient parser, metrics to double."""
    casts = {"timestamp": parse_timestamp_lenient(F.col("timestamp"))}
    casts.update({m: F.col(m).try_cast("double") for m in METRIC_COLUMNS})
    return df.withColumns(casts)


def file_error_summary(invalid: DataFrame, file_col: str) -> DataFrame:
    """K5 — quarantine reason log: one line per poisoned file,
    'Validation failed at row {N}: {first row's reasons}' where N is the
    first failing CSV row (pipeline.py:165, 264-271; golden examples
    quarantine/quarantine_log.txt:1-5)."""
    row_bad = F.col(ERROR_COL) != ""
    order = F.col(ROW_COL) if ROW_COL in invalid.columns else F.monotonically_increasing_id()
    first_bad = (
        invalid.where(row_bad)
        .groupBy(file_col)
        .agg(F.min_by(ERROR_COL, order).alias("first_error"), F.min(order).alias("first_row"))
    )
    return first_bad.select(
        file_col,
        F.concat(
            F.lit("Validation failed at row "),
            F.col("first_row").cast("string"),
            F.lit(": "),
            F.col("first_error"),
        ).alias("quarantine_reason"),
    )
