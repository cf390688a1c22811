"""Uniqueness, referential-integrity, cross-table presence, count
reconciliation — the table-level check suite (C4, C15, C17, C18, C20, J1-J5).

Scale notes (the part the reference, being pandas, never had to solve):

* **Uniqueness (C4)** — ``groupBy(id).count()`` compiles to a partial
  (map-side) + final hash aggregate, so even a pathologically hot id never
  ships more than one partial row per input partition per key. That IS the
  two-phase salted aggregation; no manual salt needed for counts. We filter
  ``count > 1`` AFTER the partial agg, so shuffle volume is one row per
  distinct key per upstream partition, not per input row.

* **Referential (C15/J2)** — dimension registries (codecs, sites) are tiny:
  ``broadcast`` left_anti join, zero shuffle of the fact table. For big-dim
  referential checks, :func:`salted_left_anti` spreads a skewed fact key
  across ``n_salts`` reducers by exploding the dimension — bounded memory per
  task at any skew. AQE skew-join handles the residual cases.

* **Presence matrix (C17)** — the reference chains full-outer merges per
  sheet (File_Submission_Object.py:691-708): O(tables) shuffles. We union
  key projections tagged by source and do ONE groupBy-presence aggregation:
  a single shuffle regardless of table count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seronet_data_validator_spark.model import (
    ROW_REF_CROSS_TABLE,
    ROW_REF_TABLE_DUP,
    SEVERITY_ERROR,
    violation_columns,
)


def duplicate_id_violations(df: DataFrame, id_column: str, table_name: str) -> DataFrame:
    """C4 check_for_dup_ids (File_Submission_Object.py:345-354): one violation
    per duplicated ID value ('N/A' and '' are no IDs), message carries the
    repeat count, row_ref '-3' (the reference's table-level sentinel)."""
    c = F.col(id_column)
    return (
        df.where(c.isNotNull() & ~c.cast("string").isin("N/A", ""))
        .groupBy(id_column)
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > 1)
        .select(*violation_columns(
            SEVERITY_ERROR, table_name, ROW_REF_TABLE_DUP, id_column, c, "C4.dup_id",
            F.concat(F.lit("ID "), c, F.lit(" appears "), F.col("_n").cast("string"),
                     F.lit(" times; IDs must be unique")),
        ))
    )


def referential_violations(
    df: DataFrame,
    dim: DataFrame,
    key: str,
    table_name: str,
    *,
    registry_name: str = "registry",
    row_ref_column: str | None = None,
    keep_columns: tuple[str, ...] = (),
) -> DataFrame:
    """C15 check_assay_special (File_Submission_Object.py:289-300): fact keys
    absent from the registry dimension → one Error per offending row.
    left_anti against a broadcast dim — the fact table never shuffles.

    ``keep_columns`` (e.g. the partition key) are carried through as leading
    columns so violations attribute to their REAL partition — identical to
    the fused inline path's keep_columns, keeping the two C15 strategies
    verdict-equivalent regardless of registry size."""
    return _referential_rows(
        _unregistered(df, dim, key), key, table_name, row_ref_column, "C15.referential",
        f" was not found in {registry_name}", keep_columns,
    )


def _unregistered(fact: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """The C15 referential core: rows of ``fact`` whose non-empty ``key`` is
    absent from ``dim`` (a left_anti join against the broadcast distinct
    keys, so the fact table never shuffles). A string key is compared and
    reported en-dash-normalized (P7, File_Submission_Object.py:134), as the
    inlined C15 rule sees it in the fused pass, so the verdict does not
    depend on the registry's size."""
    if isinstance(fact.schema[key].dataType, T.StringType):
        fact = fact.withColumn(key, F.translate(F.col(key), "–", "-"))
    d = F.broadcast(dim.select(key).dropDuplicates([key]))
    return fact.where(
        F.col(key).isNotNull() & (F.col(key).cast("string") != "")
    ).join(d, key, "left_anti")


def _referential_rows(missing: DataFrame, key: str, table_name: str,
                      row_ref_column: str | None, rule_id: str, suffix: str,
                      keep_columns: tuple[str, ...] = ()) -> DataFrame:
    """One Error per unregistered row: ``Value <key><suffix>``."""
    return missing.select(*keep_columns, *violation_columns(
        SEVERITY_ERROR, table_name,
        F.col(row_ref_column) if row_ref_column else ROW_REF_CROSS_TABLE,
        key, F.col(key), rule_id, F.concat(F.lit("Value "), F.col(key), F.lit(suffix)),
    ))


def salted_left_anti(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    *,
    n_salts: int = 16,
    salt_source: str | None = None,
) -> DataFrame:
    """Explicit skew handling for big-dim anti joins (north_rule): salt the
    fact side deterministically (xxhash64 of ``salt_source`` or the key
    itself), replicate the dim across all salts, anti-join on (key, salt).
    Result rows == plain left_anti; per-reducer load for a hot key drops by
    ``n_salts``. Deterministic — no rand(), safe under task retry."""
    src = F.col(salt_source) if salt_source else F.col(key)
    salted_fact = fact.withColumn("_salt", F.pmod(F.xxhash64(src), F.lit(n_salts)))
    salts = fact.sparkSession.range(n_salts).select(F.col("id").cast("int").alias("_salt"))
    salted_dim = dim.select(key).dropDuplicates([key]).crossJoin(F.broadcast(salts))
    return salted_fact.join(salted_dim, [key, "_salt"], "left_anti").drop("_salt")


def skew_split_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    *,
    how: str = "inner",
    hot_keys: list | None = None,
    top_n: int = 50,
    skew_factor: float = 10.0,
) -> DataFrame:
    """Skew-split equi join — the explicit hot-key mitigation for the
    engine's AQE-off default (AQE's runtime skew split only exists when
    adaptive execution is on; this is the planner-level equivalent).

    The classic two-path composition: rows whose key is HOT join via a
    BROADCAST of the right side's hot slice (no shuffle touches the hot
    keys — the straggler reducer never exists); everything else takes the
    normal shuffled hash join; union the paths. Row-for-row identical to
    the plain join for inner/left joins on an equi key.

    ``hot_keys`` pins the hot set explicitly (feed it `skew_report`
    output); otherwise the left side's top-``top_n`` keys with
    count > ``skew_factor`` × mean are measured inline (one partial-agg
    count + TakeOrdered — ≤ top_n keys to the driver, never the data).
    The right side's hot slice must fit in a broadcast — true by
    construction when skew comes from a hot FACT key hitting a normal
    dimension; a key hot on BOTH sides is a cross-product no join
    strategy fixes."""
    if how not in ("inner", "left"):
        raise ValueError(f"skew_split_join supports inner/left, got {how!r}")
    if hot_keys is None:
        counts = left.groupBy(key).agg(F.count(F.lit(1)).alias("_n"))
        mean = counts.agg(F.avg("_n").alias("_m"))
        hot_rows = (
            counts.crossJoin(F.broadcast(mean))
            .where(F.col("_n") > F.lit(skew_factor) * F.col("_m"))
            .orderBy(F.col("_n").desc())
            .limit(top_n)
            .select(key)
            .collect()
        )
        hot_keys = [r[key] for r in hot_rows]
    if not hot_keys:
        return left.join(right, key, how)
    is_hot = F.col(key).isin(hot_keys)
    hot = left.where(is_hot).join(F.broadcast(right.where(is_hot)), key, how)
    cold = left.where(~is_hot | F.col(key).isNull()).join(
        right.where(~is_hot), key, how
    )
    return hot.unionByName(cold)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Dataset-version diff — the regression check between two runs of the
    same pipeline (did the new extraction add/drop/mutate rows, and in
    which columns?). The reference's update flow re-validates whole files;
    at 10^12 rows you diff snapshots and re-validate the CHANGED slice.

    One full-outer join on ``key`` (zero-Exchange when both snapshots are
    bucketed on it — the staged-table layout), then ONE aggregation
    producing the long-form report: (kind, name, n_rows) with kinds
    ``row`` (name ∈ added/removed/changed/unchanged — partitions the key
    union) and ``column_changed`` (name = column, count of matched rows
    whose value differs). Comparison is NULL-SAFE (`eqNullSafe`: NULL→NULL
    is unchanged, NULL→value is a change). No per-row output materializes
    — re-validate by joining the changed keys back when needed."""
    compare_cols = compare_cols or [
        c for c in old.columns if c != key and c in set(new.columns)
    ]
    # presence flags must not rely on a data column being non-null: tag sides
    o = old.select(
        key, F.lit(True).alias("_in_old"),
        *[F.col(c).alias(f"_o_{c}") for c in compare_cols],
    )
    n = new.select(
        key, F.lit(True).alias("_in_new"),
        *[F.col(c).alias(f"_n_{c}") for c in compare_cols],
    )
    j = o.join(n, key, "full_outer")
    changed_col = [
        (~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))).alias(f"_ch_{c}")
        for c in compare_cols
    ]
    flags = j.select(
        F.coalesce(F.col("_in_old"), F.lit(False)).alias("_io"),
        F.coalesce(F.col("_in_new"), F.lit(False)).alias("_in"),
        *changed_col,
    )
    both = F.col("_io") & F.col("_in")
    any_ch = F.col(f"_ch_{compare_cols[0]}")
    for c in compare_cols[1:]:
        any_ch = any_ch | F.col(f"_ch_{c}")
    agg = flags.agg(
        F.sum(F.when(~F.col("_io") & F.col("_in"), 1).otherwise(0)).alias("added"),
        F.sum(F.when(F.col("_io") & ~F.col("_in"), 1).otherwise(0)).alias("removed"),
        F.sum(F.when(both & any_ch, 1).otherwise(0)).alias("changed"),
        F.sum(F.when(both & ~any_ch, 1).otherwise(0)).alias("unchanged"),
        *[
            F.sum(F.when(both & F.col(f"_ch_{c}"), 1).otherwise(0)).alias(
                f"col_{c}"
            )
            for c in compare_cols
        ],
    )
    rows = [
        F.struct(F.lit("row").alias("kind"), F.lit(m).alias("name"),
                 F.col(m).alias("n_rows"))
        for m in ("added", "removed", "changed", "unchanged")
    ] + [
        F.struct(F.lit("column_changed").alias("kind"), F.lit(c).alias("name"),
                 F.col(f"col_{c}").alias("n_rows"))
        for c in compare_cols
    ]
    return agg.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


def presence_matrix(tables: dict[str, DataFrame], id_column: str) -> DataFrame:
    """C17 get_cross_sheet_ID (File_Submission_Object.py:624-708), Spark-first:
    union tagged key projections → one groupBy(id) presence aggregation.
    Output: (id, in_<table> boolean per table)."""
    parts = []
    for name, df in tables.items():
        parts.append(
            df.where(F.col(id_column).isNotNull() & (F.col(id_column).cast("string") != ""))
            .select(F.col(id_column).alias("_id"))
            .dropDuplicates(["_id"])
            .withColumn("_src", F.lit(name))
        )
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    aggs = [
        F.max(F.when(F.col("_src") == name, F.lit(True)).otherwise(F.lit(False))).alias(f"in_{name}")
        for name in tables
    ]
    return unioned.groupBy(F.col("_id").alias(id_column)).agg(*aggs)


def presence_violations(
    matrix: DataFrame,
    id_column: str,
    *,
    child: str,
    parent: str,
    child_missing_severity: str,
) -> DataFrame:
    """Rules over the presence matrix: ID in child but not parent → Error
    ('id not found in parent'); parent-without-child →
    ``child_missing_severity`` (the reference conditions this on
    Biospecimen_Type == PBMC; File_Submission_Object.py:722-757)."""
    orphan = F.col(f"in_{child}") & ~F.col(f"in_{parent}")
    key = F.col(id_column)

    def either(if_orphan: str, if_childless: str) -> Column:
        return F.when(orphan, F.lit(if_orphan)).otherwise(F.lit(if_childless))

    # BOTH directions in ONE pass over the matrix (a union of two filtered
    # branches would re-run the whole presence aggregation — the expensive
    # part at scale — once per direction): rows where presence differs are
    # violations; severity/rule/table/message are conditional expressions.
    return matrix.where(F.col(f"in_{child}") != F.col(f"in_{parent}")).select(
        *violation_columns(
            either(SEVERITY_ERROR, child_missing_severity), either(child, parent),
            ROW_REF_CROSS_TABLE, id_column, key,
            either("C17.orphan", "C17.childless"),
            F.concat(F.lit("ID "), key, either(f" in {child} not found in {parent}",
                                               f" in {parent} has no rows in {child}")),
        )
    )


def consistency_violations(
    df: DataFrame,
    *,
    group_col: str,
    declared_col: str,
    observed_class: Column,
    table_name: str,
    all_must_match_value: str,
    any_must_match_value: str,
    scope: Column | None = None,
    declared: DataFrame | None = None,
) -> DataFrame:
    """C19 compare_tests (Validation_Rules.py:64-119): per-group semantic
    consistency between a declared status and observed per-row classes.

    The reference loops over participants on the driver
    (Validation_Rules.py:78-97), classifying each confirmatory test's
    interpretation by substring and comparing against the declared prior
    result. Here the whole check is ONE conditional groupBy aggregation —
    a partial+final hash agg, no per-group Python:

    * rows where ``scope`` is false are out of consideration (the reference's
      target-organism filter); a group with ZERO in-scope rows → Error
      ("missing test", Validation_Rules.py:80-84);
    * groups with rows declared ``all_must_match_value`` where NOT ALL such
      rows' observed class equals it → Error (prior Negative with
      non-negative confirms, Validation_Rules.py:86-91);
    * groups with rows declared ``any_must_match_value`` where NO such row's
      observed class equals it → Error (prior Positive with zero positive
      confirms, Validation_Rules.py:92-97).

    ``observed_class`` must evaluate to the same value domain as
    ``declared_col``. Violations carry the cross-table row_ref sentinel '-5'
    (the reference's submission-level Row_Index).

    ``declared`` closes the missing-group blind spot: the reference's
    "missing test" case (Validation_Rules.py:80-84) fires for participants
    with NO observation rows at all — groups that an inner-joined ``df``
    cannot contain. Pass the declared-side table (one row per expected
    group, keyed on ``group_col``) and those absent groups emit
    ``C19.missing`` via a broadcast left join onto the (tiny, post-agg)
    group aggregate. Without it, only groups whose rows are ALL out of
    ``scope`` can fire the missing branch — that caller contract must then
    guarantee every declared group has at least one row in ``df``."""
    in_scope = scope if scope is not None else F.lit(True)
    decl = F.col(declared_col)
    cls = observed_class
    one = F.lit(1)
    agg = df.groupBy(group_col).agg(
        F.sum(F.when(in_scope, one).otherwise(0)).alias("_n_scope"),
        F.sum(F.when(in_scope & (decl == all_must_match_value), one).otherwise(0)).alias("_n_all"),
        F.sum(
            F.when(in_scope & (decl == all_must_match_value) & (cls == all_must_match_value), one).otherwise(0)
        ).alias("_n_all_ok"),
        F.sum(F.when(in_scope & (decl == any_must_match_value), one).otherwise(0)).alias("_n_any"),
        F.sum(
            F.when(in_scope & (decl == any_must_match_value) & (cls == any_must_match_value), one).otherwise(0)
        ).alias("_n_any_ok"),
    )
    if declared is not None:
        # declared-side outer: a group with zero observation rows joins to
        # nothing → its counts coalesce to 0 and C19.missing fires. Both
        # sides are one-row-per-group (post-agg), so this join is tiny
        # relative to the input scan regardless of input size.
        groups = declared.select(group_col).dropDuplicates([group_col])
        agg = groups.join(agg, group_col, "left").na.fill(
            0, ["_n_scope", "_n_all", "_n_all_ok", "_n_any", "_n_any_ok"]
        )
    key = F.col(group_col)

    # ALL rules in ONE pass over the aggregate (the presence_violations
    # pattern): a union of three filtered branches re-runs the whole
    # scan+join+agg subtree once per branch — column pruning specializes
    # each branch's aggregate list, so not even exchange reuse saves it
    # (measured: 3× parquet scans of the fact table per execution).
    # all_mismatch and none_match can co-fire for one group (per-row
    # declared values), so the per-group candidates are an array that is
    # filtered and exploded — the exact multiset the branch union emitted.
    def cand(cond: Column, rule_id: str, message: Column) -> Column:
        return F.when(cond, F.struct(F.lit(rule_id).alias("r"), message.alias("m")))

    fired = F.filter(
        F.array(
            cand(
                F.col("_n_scope") == 0,
                "C19.missing",
                F.concat(F.lit("Group "), key.cast("string"),
                         F.lit(" has no in-scope rows to confirm its declared status")),
            ),
            cand(
                (F.col("_n_all") > 0) & (F.col("_n_all_ok") != F.col("_n_all")),
                "C19.all_mismatch",
                F.concat(
                    F.lit(f"Group declared {all_must_match_value} but "),
                    (F.col("_n_all") - F.col("_n_all_ok")).cast("string"),
                    F.lit(f" of its rows observe a class other than {all_must_match_value}"),
                ),
            ),
            cand(
                (F.col("_n_any") > 0) & (F.col("_n_any_ok") == 0),
                "C19.none_match",
                F.lit(
                    f"Group declared {any_must_match_value} but no row observes class "
                    f"{any_must_match_value}"
                ),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    return agg.select(key.alias("_k"), F.explode(fired).alias("_cv")).select(
        *violation_columns(
            SEVERITY_ERROR, table_name, ROW_REF_CROSS_TABLE, group_col, F.col("_k"),
            # coalesce restores the branch-union's non-nullable rule_id field
            # (struct fields behind when() are nullable; the filter guarantees
            # the value is never actually NULL)
            F.coalesce(F.col("_cv.r"), F.lit("")), F.col("_cv.m"),
        )
    )


def suppressed_referential_violations(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    table_name: str,
    prior_violations: DataFrame,
    *,
    registry_name: str = "registry",
    row_ref_column: str | None = None,
) -> DataFrame:
    """C20 check_map_ids (File_Submission_Object.py:758-784): referential
    check whose candidate violations are anti-joined against keys ALREADY
    reported in the violation table — the violations-table-as-join-input
    pattern (the reference reads its own Error_list as a filter before
    reporting, File_Submission_Object.py:779-781).

    Two broadcast left_anti joins: fact vs dim (the C15 referential core),
    then candidates vs prior violation values for this column. Both anti
    sides are key projections."""
    # violation values are stored as strings — cast back to the fact key's
    # type so the anti-join compares natively (no implicit double coercion)
    key_type = fact.schema[key].dataType
    already = F.broadcast(
        prior_violations.where(F.col("column_name") == key)
        .select(F.col("column_value").cast(key_type).alias(key))
        .dropDuplicates([key])
    )
    return _referential_rows(
        _unregistered(fact, dim, key).join(already, key, "left_anti"), key, table_name,
        row_ref_column, "C20.map_id",
        f" was not found in {registry_name} (not previously reported)",
    )


def count_reconciliation_violations(
    df: DataFrame,
    manifest: DataFrame,
    partition_column: str,
    table_name: str,
) -> DataFrame:
    """C18 get_passing_part_ids (File_Submission_Object.py:654-666): declared
    count (the manifest's ``declared_clip_count``) vs observed count per
    partition. Full outer so both phantom-partition directions surface."""
    declared = F.col("declared_clip_count")
    observed = df.groupBy(partition_column).agg(F.count(F.lit(1)).alias("_observed"))
    joined = observed.join(manifest, partition_column, "full_outer")
    bad = joined.where(
        F.coalesce(F.col("_observed"), F.lit(0)) != F.coalesce(declared, F.lit(-1))
    )
    return bad.select(*violation_columns(
        SEVERITY_ERROR, table_name, ROW_REF_CROSS_TABLE, partition_column,
        F.col(partition_column), "C18.count_mismatch",
        F.concat(
            F.lit("Declared count "), F.coalesce(declared.cast("string"), F.lit("NULL")),
            F.lit(" != observed "), F.coalesce(F.col("_observed").cast("string"), F.lit("0")),
            F.lit(" for partition "), F.coalesce(F.col(partition_column), F.lit("NULL")),
        ),
    ))
