"""Rule-fusion compiler: RuleSet → one fused DataFrame pass.

The reference re-scans the table once PER RULE with row-wise ``.apply``
lambdas and appends error rows one at a time on the driver
(/root/reference/File_Submission_Object.py:250-253,305,340,446). At 10^12
rows that is O(rules × rows) Python. Here every rule's emissions compile to
``when(cond, struct(...))`` expressions that fuse into a SINGLE projection:

    select row_ref, array_compact(array(e1, e2, ..., eN)) as _v
    where size(_v) > 0
    → explode → violations

One scan, whole-stage codegen end-to-end, violations produced distributed —
never on the driver. Column pruning still applies: Catalyst prunes the scan
to exactly the columns the rules reference.

Driver-side structural checks (missing rule/dependency columns) mirror the
reference's whole-column failures at Row_Index 0
(File_Submission_Object.py:267-274) and are emitted as literal rows without
touching the data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seronet_data_validator_spark.model import (
    ROW_REF_WHOLE_COLUMN,
    SEVERITY_ERROR,
    VIOLATION_SCHEMA,
)
from seronet_data_validator_spark.plans.rules import Rule, RuleSet, dict_flag_col


def _violation_struct(
    table_name: str, row_ref: Column, column_name: str, value: Column,
    severity: Column, rule_id: str, message: Column,
) -> Column:
    return F.struct(
        severity.alias("severity"),
        F.lit(table_name).alias("table_name"),
        row_ref.cast("string").alias("row_ref"),
        F.lit(column_name).alias("column_name"),
        F.coalesce(value.cast("string"), F.lit("NULL")).alias("column_value"),
        F.lit(rule_id).alias("rule_id"),
        message.alias("message"),
    )


def _structural_violations(
    spark: SparkSession, ruleset: RuleSet, present: set[str]
) -> tuple[list[Rule], DataFrame | None]:
    """Split rules into runnable vs structurally-broken (missing columns).

    A rule whose target or dependency column is absent emits ONE whole-column
    Error row (row_ref '0'), exactly the reference's behavior when a
    dependency column is missing (File_Submission_Object.py:267-274)."""
    runnable: list[Rule] = []
    rows = []
    for rule in ruleset.rules:
        missing = [c for c in ({rule.column} | ({rule.precondition.column} if rule.precondition else set())) if c not in present]
        if missing:
            for col in missing:
                rows.append(
                    (
                        SEVERITY_ERROR,
                        ruleset.table_name,
                        ROW_REF_WHOLE_COLUMN,
                        col,
                        "",
                        rule.rule_id,
                        f"Column {col} required by rule {rule.rule_id} is missing from the table",
                    )
                )
        else:
            runnable.append(rule)
    struct_df = spark.createDataFrame(rows, VIOLATION_SCHEMA) if rows else None
    return runnable, struct_df


def compile_ruleset(
    df: DataFrame,
    ruleset: RuleSet,
    *,
    keep_columns: tuple[str, ...] = (),
) -> DataFrame:
    """Compile and apply a RuleSet; returns a violations DataFrame.

    ``keep_columns`` are carried through (e.g. a partition key for
    per-partition verdict aggregation) as extra leading columns.
    """
    spark = df.sparkSession
    runnable, structural = _structural_violations(spark, ruleset, set(df.columns))

    # P7 char normalization (reference File_Submission_Object.py:134,
    # Validation_Rules.py:10): unicode en-dash '–' → '-' in every string cell
    # the rules read, applied INSIDE the same fused projection (translate is
    # a per-char map — no regex engine in the hot path). Violations report
    # the normalized value, matching the reference (it normalizes the table
    # before rule evaluation).
    str_cols = {f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)}
    rule_cols = {r.column for r in runnable} | {
        r.precondition.column for r in runnable if r.precondition
    }
    norm = {c: F.translate(F.col(c), "–", "-") for c in rule_cols & str_cols}
    if norm:
        df = df.withColumns(norm)

    # C11 dictionary rules: stage ONE broadcast left-join per dictionary that
    # defines the rule's membership flag (rules.dict_flag_col). The dim side
    # is distinct-projected (a code dictionary is small by construction:
    # ICD-10 ≈ 70k codes); the fact table gains a boolean column and is never
    # shuffled — the fused projection below consumes the flag like any other
    # Column. Runs AFTER char normalization so lookups see normalized values.
    for rule in runnable:
        if rule.dictionary is not None:
            flag = dict_flag_col(rule.rule_id)
            key = flag + "__key"
            dim = rule.dictionary.df.select(
                F.col(rule.dictionary.value_col).cast("string").alias(key)
            ).distinct()
            df = (
                df.join(
                    F.broadcast(dim),
                    F.col(rule.column).cast("string") == F.col(key),
                    "left",
                )
                .withColumn(flag, F.col(key).isNotNull())
                .drop(key)
            )

    # PreparedCheck hoist: project each rule's declared expensive
    # sub-expressions (parse chains) to real columns BEFORE the fused lane
    # projection, so a 7-way try_to_timestamp coalesce runs once per row, not
    # once per emission lane. CollapseProject never inlines a non-cheap alias
    # referenced more than once, so this staging projection survives
    # optimization (verified: one try_to_timestamp per format in the C8
    # plan's first Project, lanes reference the attribute — PLANS.md §1).
    prep_exprs: dict[str, Column] = {}
    prepared_by_rule: dict[int, dict[str, Column]] = {}
    for i, rule in enumerate(runnable):
        prep_fn = getattr(rule.check, "prep", None)
        if callable(prep_fn):
            target = F.col(rule.column).cast("string")
            refs: dict[str, Column] = {}
            for name, expr in prep_fn(target).items():
                alias = f"_prep_{i}_{name}"
                prep_exprs[alias] = expr
                refs[name] = F.col(alias)
            prepared_by_rule[i] = refs
    if prep_exprs:
        df = df.withColumns(prep_exprs)

    structs: list[Column] = []
    for i, rule in enumerate(runnable):
        value_col = F.col(rule.column)
        for em in rule.emissions(prepared_by_rule.get(i)):
            structs.append(
                F.when(
                    F.coalesce(em.condition, F.lit(False)),
                    _violation_struct(
                        ruleset.table_name,
                        F.col(ruleset.row_ref_column),
                        rule.column,
                        value_col,
                        em.severity,
                        rule.rule_id,
                        em.message,
                    ),
                ).otherwise(F.lit(None))
            )

    if structs:
        # explode_outer, NOT where(size>0)+explode: an inner generate over a
        # computed array lets InferFiltersFromGenerate clone the entire
        # violation-array expression (every rule's parse chain) into a
        # pushed-down per-row filter, evaluating it twice per scanned row
        # (PLANS.md §6 — the 23x fingerprints lesson, reproduced here on
        # C8/C12's try-parse lanes). Outer generate gets no inferred filter,
        # array_compact keeps clean rows at 1 null output row (not one per
        # lane), and the null filter runs on the GENERATED column, which
        # cannot be pushed below the generate. Array expr evaluated once.
        arr = F.array_compact(F.array(*structs))
        fused = (
            df.select(*[F.col(c) for c in keep_columns], arr.alias("_violations"))
            .select(*keep_columns, F.explode_outer("_violations").alias("_v"))
            .where(F.col("_v").isNotNull())
            .select(*keep_columns, "_v.*")
        )
    else:
        fused = None

    pad = [F.lit(None).cast("string").alias(c) for c in keep_columns]
    if structural is not None:
        structural = structural.select(*pad, "*")
        return structural if fused is None else fused.unionByName(structural)
    if fused is not None:
        return fused
    return spark.createDataFrame([], VIOLATION_SCHEMA).select(*pad, "*")


DEDUP_KEY = ["table_name", "row_ref", "column_name", "column_value"]


def union_violation_parts(parts: list[DataFrame]) -> DataFrame:
    """Union violation families tagged with their pass ordinal ``_ord`` (the
    ``order_col`` of :func:`dedup_violations`) as a BALANCED tree: DataFrames
    analyze eagerly, so a left-deep chain re-analyzes its growing left side
    at every step (O(parts²) driver time). `_ord` is a per-part literal, so
    first-writer-wins dedup is identical under any union associativity."""
    if not parts:
        raise ValueError("parts must be non-empty")
    tagged = [p.withColumn("_ord", F.lit(i)) for i, p in enumerate(parts)]
    while len(tagged) > 1:
        nxt = [
            tagged[j].unionByName(tagged[j + 1])
            for j in range(0, len(tagged) - 1, 2)
        ]
        if len(tagged) % 2:
            nxt.append(tagged[-1])
        tagged = nxt
    return tagged[0]


def dedup_violations(violations: DataFrame, *, order_col: str | None = None) -> DataFrame:
    """Reference dedups Error_list on (sheet, row, column, value) keeping the
    FIRST writer (File_Submission_Object.py:255-256), where "first" is rule
    execution order — an ordering the distributed union does not preserve.

    With ``order_col`` (an explicit pass/rule ordinal the runner tags each
    violation source with), first-writer-wins is reproduced deterministically
    via a min-ordinal window; (rule_id, message) break residual ties so the
    result is stable under any partitioning. Without it, plain
    dropDuplicates on the reference's key (arbitrary but sufficient when all
    producers of a key are equivalent)."""
    if order_col is None:
        return violations.dropDuplicates(DEDUP_KEY)
    w = Window.partitionBy(*DEDUP_KEY).orderBy(order_col, "rule_id", "message")
    return (
        violations.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", order_col)
    )
