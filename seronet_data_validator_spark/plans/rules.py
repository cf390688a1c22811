"""Rule model: the engine's public validation-check surface.

Each reference check primitive (SURVEY.md §2.7, C1..C16) becomes a *check
builder* — a pure function from the rule's target column (and any dependent
columns) to a list of :class:`Emission` records ``(condition, severity,
message)``. A :class:`Rule` binds a builder to a column plus an optional
:class:`Precondition` (the reference's dependency system, C1/C2:
File_Submission_Object.py:267-287). A :class:`RuleSet` is the per-table
dispatch table (the analog of Validation_Rules(), Validation_Rules.py:4-61).

Rules never execute anything: they produce Column expressions that
plans/compile.py fuses into ONE projection over the table, so a 10^12-row
scan happens once regardless of rule count — the opposite of the reference's
one-.apply()-per-rule re-scan (File_Submission_Object.py:305,340,446).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from seronet_data_validator_spark.functions.casts import (
    as_number,
    as_timestamp,
    is_date,
    is_number,
)
from seronet_data_validator_spark.functions.tristate import is_blank, is_na
from seronet_data_validator_spark.model import (
    SEVERITY_ERROR,
    SEVERITY_NOT_VALIDATED,
    SEVERITY_WARNING,
)


@dataclass(frozen=True)
class Emission:
    """One potential violation class: fire ``condition`` → emit a row."""

    condition: Column
    severity: Column  # Column so conditional severity (C14) is expressible
    message: Column

    @staticmethod
    def of(condition: Column, severity: str | Column, message: str | Column) -> "Emission":
        sev = F.lit(severity) if isinstance(severity, str) else severity
        msg = F.lit(message) if isinstance(message, str) else message
        return Emission(condition, sev, msg)


# A check builder maps the target column expression -> emissions.
CheckFn = Callable[[Column], list[Emission]]


@dataclass(frozen=True)
class PreparedCheck:
    """A check builder that declares its expensive sub-expressions.

    ``prep(target)`` names the parse chains (the try_to_timestamp coalesce,
    the try_cast number lattice) that the emission lanes re-use; the compiler
    projects each one to a real column BEFORE the fused emission projection,
    so the chain evaluates once per row instead of once per lane — the
    PLANS.md §6 "expensive expr inlined into lanes" pitfall applied to rule
    emissions. CollapseProject keeps the staging projection intact because a
    non-cheap alias referenced more than once is never inlined back.

    Calling the check directly (the plain-CheckFn path, used by tests and by
    any caller that skips plans/compile.py) falls back to inline
    expressions — identical semantics, just re-evaluated per lane.
    """

    prep_fn: Callable[[Column], dict[str, Column]]
    build_fn: Callable[[Column, dict[str, Column]], list[Emission]]

    def prep(self, c: Column) -> dict[str, Column]:
        return self.prep_fn(c)

    def build(self, c: Column, prepared: dict[str, Column]) -> list[Emission]:
        return self.build_fn(c, prepared)

    def __call__(self, c: Column) -> list[Emission]:
        return self.build_fn(c, self.prep_fn(c))


@dataclass(frozen=True)
class Precondition:
    """Dependency gate (C1 check_for_dependancy / check_multi_rule).

    The rule applies only to rows where ``column`` satisfies the dependency:
    membership in ``values``, "Is A Number", or "Is A Date"
    (File_Submission_Object.py:37-54,267-274). Rows that satisfy neither the
    dependency nor an exemption get a 'Not Validated' emission instead
    (C2, File_Submission_Object.py:276-287).
    """

    column: str
    values: tuple[str, ...] | None = None  # membership dependency
    kind: str = "in_list"  # in_list | is_number | is_date
    exempt_values: tuple[str, ...] = ()
    emit_not_validated: bool = True

    def __post_init__(self) -> None:
        # list arguments become tuples, so every Rule stays hashable (the
        # compiler memoizes lanes keyed on the Rule value)
        if self.values is not None:
            object.__setattr__(self, "values", tuple(self.values))
        object.__setattr__(self, "exempt_values", tuple(self.exempt_values))

    def gate(self) -> Column:
        c = F.col(self.column).cast("string")
        if self.kind == "is_number":
            return is_number(c)
        if self.kind == "is_date":
            return is_date(c)
        return c.isin(*self.values) if self.values else F.lit(True)

    def exempt(self) -> Column:
        c = F.col(self.column).cast("string")
        out = is_blank(c)
        for v in self.exempt_values:
            out = out | (c == F.lit(v))
        return out

    def not_validated_emission(self, target_column: str) -> Emission:
        c = F.col(self.column).cast("string")
        dep_desc = (
            "Is A Number"
            if self.kind == "is_number"
            else "Is A Date"
            if self.kind == "is_date"
            else str(list(self.values or ()))
        )
        return Emission.of(
            ~self.gate() & ~self.exempt(),
            SEVERITY_NOT_VALIDATED,
            F.concat(
                F.lit(
                    f"Unable to validate {target_column}: dependent column "
                    f"{self.column} = "
                ),
                F.coalesce(c.cast("string"), F.lit("NULL")),
                F.lit(f" (needs {dep_desc})"),
            ),
        )


@dataclass(frozen=True)
class DictionarySpec:
    """C11/F11 external-dictionary membership (check_icd10,
    File_Submission_Object.py:576-583): the valid-code universe is a TABLE
    (ICD-10 is ~70k codes; the analog here is any code dim), not an inline
    list. The compiler stages ONE broadcast left-join per dictionary rule
    that defines a boolean flag column (:func:`dict_flag_col`), so the rule
    itself stays a pure Column expression inside the fused projection — the
    fact table is never shuffled."""

    df: "object"  # pyspark DataFrame; typed loosely to keep dataclass eq/hash sane
    value_col: str


def dict_flag_col(rule_id: str) -> str:
    """Name of the compiler-provided membership flag for a dictionary rule."""
    return "_dict_ok_" + "".join(ch if ch.isalnum() else "_" for ch in rule_id)


@dataclass(frozen=True)
class Rule:
    """One check bound to a column. Hashable: the compiler memoizes each
    rule's lanes on its value, and check builders compare by identity, so a
    Rule built once and reused compiles its lanes once (plans/compile.py)."""

    rule_id: str
    column: str
    check: CheckFn
    precondition: Precondition | None = None
    dictionary: DictionarySpec | None = None

    def emissions(self, prepared: dict[str, Column] | None = None) -> list[Emission]:
        # Rules see a STRING view of the target: the reference's cells are
        # string-loaded (na_filter=False) and typed views come from the cast
        # lattice (functions/casts.py). This also keeps tri-state checks
        # ('' vs N/A vs NULL) well-defined for natively-typed columns.
        # ``prepared`` (compiler-provided) maps a PreparedCheck's prep names
        # to already-projected columns; without it the check inlines them.
        target = F.col(self.column).cast("string")
        if prepared is not None and isinstance(self.check, PreparedCheck):
            ems = self.check.build(target, prepared)
        else:
            ems = self.check(target)
        if self.precondition is not None:
            gate = self.precondition.gate()
            ems = [Emission(e.condition & gate, e.severity, e.message) for e in ems]
            if self.precondition.emit_not_validated:
                ems.append(self.precondition.not_validated_emission(self.column))
        return ems


@dataclass
class RuleSet:
    """All rules for one table; compiled in declaration order (the reference
    dedups violations first-writer-wins, File_Submission_Object.py:255-256,
    so ordering is part of the contract)."""

    table_name: str
    rules: list[Rule] = field(default_factory=list)
    row_ref_column: str = "clip_id"

    def add(self, rule: Rule) -> "RuleSet":
        self.rules.append(rule)
        return self


# ---------------------------------------------------------------------------
# Check builders — each mirrors one reference primitive (cited per builder).
# ---------------------------------------------------------------------------


def _val(c: Column) -> Column:
    """Offending value rendered for the violation row."""
    return F.coalesce(c.cast("string"), F.lit("NULL"))


def check_id_format(
    pattern: str,
    *,
    registry_prefixes: Sequence[str] | None = None,
    prefix_len: int = 2,
    allow_na: bool = False,
) -> CheckFn:
    """C3 check_id_field (File_Submission_Object.py:302-336): regex format
    check plus site-prefix ownership check; '' skipped; optional N/A pass."""

    def build(c: Column) -> list[Emission]:
        in_scope = ~is_blank(c)
        if allow_na:
            in_scope = in_scope & ~is_na(c)
        ems = [
            Emission.of(
                in_scope & ~c.rlike(pattern),
                SEVERITY_ERROR,
                F.concat(F.lit("ID value "), _val(c), F.lit(f" does not match format {pattern}")),
            )
        ]
        if registry_prefixes is not None:
            ems.append(
                Emission.of(
                    in_scope
                    & c.rlike(pattern)
                    & ~F.substring(c, 1, prefix_len).isin(*registry_prefixes),
                    SEVERITY_ERROR,
                    F.concat(
                        F.lit("ID prefix "),
                        F.substring(c, 1, prefix_len),
                        F.lit(" is not an approved site code"),
                    ),
                )
            )
        return ems

    return build


def check_in_list(
    values: Sequence[str],
    *,
    case_insensitive: bool = True,
    na_allowed: bool = False,
) -> CheckFn:
    """C6 check_in_list (File_Submission_Object.py:369-385): categorical
    membership; '' passes (missing handled by C14); reference auto-expands the
    list with lowercased copies → case-insensitive compare here."""

    def build(c: Column) -> list[Emission]:
        if case_insensitive:
            ok = F.lower(c).isin(*[v.lower() for v in values])
        else:
            ok = c.isin(*values)
        if na_allowed:
            ok = ok | is_na(c)
        return [
            Emission.of(
                ~is_blank(c) & ~ok,
                SEVERITY_ERROR,
                F.concat(
                    F.lit("Value "),
                    _val(c),
                    F.lit(f" is not an approved value; expected one of {sorted(set(values))}"),
                ),
            )
        ]

    return build


def check_registry_membership(keys: Sequence[str], registry_name: str) -> CheckFn:
    """C15 check_assay_special (File_Submission_Object.py:289-300) compiled
    INLINE: when the registry dimension is small enough to collect (a few
    thousand keys), the anti-join collapses to a literal isin inside the
    fused rule pass — the fact table is scanned ZERO extra times and there is
    no join stage at all. integrity.referential_violations remains the
    big-dim path. Violation text matches the anti-join operator exactly, so
    the two paths are interchangeable."""

    def build(c: Column) -> list[Emission]:
        cs = c.cast("string")
        # a NULL registry row must not admit the literal string 'None'
        # (str(None)); the anti-join path never equi-matches a null dim key
        valid = [str(k) for k in keys if k is not None]
        in_set = cs.isin(*valid) if valid else F.lit(False)
        return [
            Emission.of(
                c.isNotNull() & (cs != "") & ~in_set,
                SEVERITY_ERROR,
                F.concat(F.lit("Value "), cs,
                         F.lit(f" was not found in {registry_name}")),
            )
        ]

    return build


def check_dictionary(
    rule_id: str,
    *,
    dict_name: str = "dictionary",
    na_allowed: bool = True,
) -> CheckFn:
    """C11 check_icd10 (File_Submission_Object.py:576-583): cell must be a
    member of an external dictionary TABLE, or 'N/A' when allowed; '' passes
    (missing-ness is C14's job). The membership itself is the compiler-staged
    broadcast-join flag (:func:`dict_flag_col`) — pair this builder with a
    :class:`DictionarySpec` on the same Rule."""
    flag = dict_flag_col(rule_id)

    def build(c: Column) -> list[Emission]:
        ok = F.coalesce(F.col(flag), F.lit(False))
        if na_allowed:
            ok = ok | is_na(c)
        return [
            Emission.of(
                ~is_blank(c) & ~ok,
                SEVERITY_ERROR,
                F.concat(
                    F.lit(f"Invalid or unknown {dict_name} code "),
                    _val(c),
                    F.lit(f", Value must be a valid {dict_name} code"
                          + (" or N/A" if na_allowed else "")),
                ),
            )
        ]

    return build


def dictionary_rule(
    rule_id: str,
    column: str,
    dict_df,
    value_col: str,
    *,
    dict_name: str = "dictionary",
    na_allowed: bool = True,
    precondition: Precondition | None = None,
) -> Rule:
    """Convenience constructor binding check_dictionary to its
    DictionarySpec."""
    return Rule(
        rule_id,
        column,
        check_dictionary(rule_id, dict_name=dict_name, na_allowed=na_allowed),
        precondition=precondition,
        dictionary=DictionarySpec(dict_df, value_col),
    )


def check_interpretation(substrings: Sequence[str]) -> CheckFn:
    """C7 check_interpertation (File_Submission_Object.py:387-397): the cell
    must CONTAIN at least one allowed word, case-insensitively."""

    def build(c: Column) -> list[Emission]:
        low = F.lower(c)
        any_hit = F.lit(False)
        for w in substrings:
            any_hit = any_hit | low.contains(w.lower())
        return [
            Emission.of(
                ~is_blank(c) & ~any_hit,
                SEVERITY_ERROR,
                F.concat(
                    F.lit("Value "),
                    _val(c),
                    F.lit(f" must contain one of {sorted(substrings)}"),
                ),
            )
        ]

    return build


def check_date(
    *,
    lower: str = "1900-01-01",
    upper: str | None = None,  # None -> current_date
    na_allowed: bool = False,
    future_is_warning: bool = False,
) -> CheckFn:
    """C8 check_date (File_Submission_Object.py:399-431): must parse as a
    date; optional N/A policy; bounded to [lower, upper]; expiration dates in
    the past/future demote to Warning per the reference's
    'Expiration_Date'/'Calibration_Due_Date' special-casing."""

    def prep(c: Column) -> dict[str, Column]:
        return {"ts": as_timestamp(c)}

    def build(c: Column, prepared: dict[str, Column]) -> list[Emission]:
        ts = prepared["ts"]
        d = F.to_date(ts)
        up = F.current_date() if upper is None else F.to_date(F.lit(upper))
        in_scope = ~is_blank(c) & ~(is_na(c) & F.lit(na_allowed))
        out_of_range = in_scope & ts.isNotNull() & ~d.between(F.to_date(F.lit(lower)), up)
        return [
            Emission.of(
                in_scope & ts.isNull(),
                SEVERITY_ERROR,
                F.concat(F.lit("Value "), _val(c), F.lit(" is not a parseable date")),
            ),
            Emission.of(
                out_of_range,
                SEVERITY_WARNING if future_is_warning else SEVERITY_ERROR,
                F.concat(
                    F.lit("Date "),
                    _val(c),
                    F.lit(f" is outside the allowed range [{lower}, "),
                    up.cast("string"),
                    F.lit("]"),
                ),
            ),
        ]

    return PreparedCheck(prep, build)


def check_number(
    *,
    lower: float,
    upper: float,
    int_only: bool = False,
    na_allowed: bool = False,
) -> CheckFn:
    """C9 check_if_number (File_Submission_Object.py:433-469): numeric parse +
    [lower, upper] range + optional integrality ('decimals not allowed')."""

    def prep(c: Column) -> dict[str, Column]:
        return {"n": as_number(c)}

    def build(c: Column, prepared: dict[str, Column]) -> list[Emission]:
        n = prepared["n"]
        in_scope = ~is_blank(c) & ~(is_na(c) & F.lit(na_allowed))
        ems = [
            Emission.of(
                in_scope & n.isNull(),
                SEVERITY_ERROR,
                F.concat(F.lit("Value "), _val(c), F.lit(" is not a number")),
            ),
            Emission.of(
                in_scope & n.isNotNull() & ~n.between(F.lit(lower), F.lit(upper)),
                SEVERITY_ERROR,
                F.concat(
                    F.lit("Value "),
                    _val(c),
                    F.lit(f" is out of range [{lower}, {upper}]"),
                ),
            ),
        ]
        if int_only:
            ems.append(
                Emission.of(
                    in_scope & n.isNotNull() & (n != F.floor(n)),
                    SEVERITY_ERROR,
                    F.concat(F.lit("Value "), _val(c), F.lit(" must be an integer (decimals not allowed)")),
                )
            )
        return ems

    return PreparedCheck(prep, build)


def check_string(*, na_allowed: bool = False, warning_only: bool = False) -> CheckFn:
    """C10 check_if_string (File_Submission_Object.py:554-574): non-empty,
    non-whitespace, non-'N/A' free text; Comments-style columns demote to
    Warning."""

    sev = SEVERITY_WARNING if warning_only else SEVERITY_ERROR

    def build(c: Column) -> list[Emission]:
        bad = (F.trim(c) == F.lit("")) & ~is_blank(c)  # whitespace-only
        if not na_allowed:
            bad = bad | is_na(c)
        return [
            Emission.of(
                bad,
                sev,
                F.concat(F.lit("Value "), _val(c), F.lit(" is not a valid free-text string")),
            )
        ]

    return build


def check_required(
    *,
    required: str = "Yes",
    conditional_column: str | None = None,
    error_when: str | None = None,
    warning_when: str | None = None,
) -> CheckFn:
    """C14 get_missing_values (File_Submission_Object.py:590-622): blank cells
    are Error when required='Yes', Warning when 'No'; the conditional variants
    ('Yes: SARS-Positive' / 'Yes: SARS-Negative') split severity by the value
    of a dependent column — Error when it equals ``error_when``, Warning when
    ``warning_when``."""

    def build(c: Column) -> list[Emission]:
        blank = is_blank(c)
        if conditional_column is not None:
            dep = F.col(conditional_column).cast("string")
            sev = (
                F.when(dep == F.lit(error_when), F.lit(SEVERITY_ERROR))
                .when(dep == F.lit(warning_when), F.lit(SEVERITY_WARNING))
                .otherwise(F.lit(SEVERITY_WARNING))
            )
            return [Emission.of(blank, sev, "Required value is missing (conditionally required)")]
        sev_lit = SEVERITY_ERROR if required == "Yes" else SEVERITY_WARNING
        return [Emission.of(blank, sev_lit, "Required value is missing")]

    return build


def check_parent_substr(parent_column: str, *, first_n: int | None = None) -> CheckFn:
    """C5 check_if_substr / check_if_substr_2 (File_Submission_Object.py:356-367):
    hierarchical ID containment — parent ID must be a prefix/substring of the
    child ID (full value, or first ``first_n`` chars)."""

    def build(c: Column) -> list[Emission]:
        p = F.col(parent_column).cast("string")
        if first_n is not None:
            ok = F.substring(c, 1, first_n) == F.substring(p, 1, first_n)
        else:
            ok = c.contains(p)
        return [
            Emission.of(
                ~is_blank(c) & ~is_blank(p) & ~ok,
                SEVERITY_ERROR,
                F.concat(
                    F.lit("Child ID "),
                    _val(c),
                    F.lit(f" does not contain parent {parent_column} "),
                    _val(p),
                ),
            )
        ]

    return build


def check_column_compare(
    other_column: str,
    *,
    op: str = "ge",
    message: str | None = None,
) -> CheckFn:
    """C13 compare_total_to_live (File_Submission_Object.py:519-529): plain
    cross-column invariant (e.g. total >= live)."""

    def build(c: Column) -> list[Emission]:
        o = F.col(other_column)
        n, m = as_number(c), as_number(o)
        ok = {
            "ge": n >= m,
            "le": n <= m,
            "gt": n > m,
            "lt": n < m,
            "eq": n == m,
        }[op]
        return [
            Emission.of(
                n.isNotNull() & m.isNotNull() & ~ok,
                SEVERITY_ERROR,
                message
                or F.concat(
                    F.lit(f"Invariant {op} violated between "),
                    _val(c),
                    F.lit(f" and {other_column}="),
                    _val(o),
                ),
            )
        ]

    return build


def check_percent_identity(
    numerator_column: str, denominator_column: str, *, decimals: int = 1
) -> CheckFn:
    """C13 compare_viability (File_Submission_Object.py:531-552): the column
    must equal round(numerator/denominator*100, decimals); denominator==0 ⇒
    value must be N/A (Warning otherwise)."""

    def prep(c: Column) -> dict[str, Column]:
        return {
            "num": as_number(F.col(numerator_column)),
            "den": as_number(F.col(denominator_column)),
            "v": as_number(c),
        }

    def build(c: Column, prepared: dict[str, Column]) -> list[Emission]:
        num, den, v = prepared["num"], prepared["den"], prepared["v"]
        expected = F.round(num / den * 100, decimals)
        return [
            Emission.of(
                den.isNotNull() & (den != 0) & num.isNotNull() & v.isNotNull() & (F.round(v, decimals) != expected),
                SEVERITY_ERROR,
                F.concat(
                    F.lit("Percentage "),
                    _val(c),
                    F.lit(" != round("),
                    _val(F.col(numerator_column)),
                    F.lit("/"),
                    _val(F.col(denominator_column)),
                    F.lit(f"*100, {decimals})"),
                ),
            ),
            Emission.of(
                den.isNotNull() & (den == 0) & ~is_na(c),
                SEVERITY_WARNING,
                "Denominator is 0 — value should be N/A",
            ),
        ]

    return PreparedCheck(prep, build)


def check_duration_triplet(
    unit_column: str,
    year_column: str,
    *,
    units: Sequence[str] = ("Day", "Week", "Month", "Year"),
    min_year: int = 1900,
) -> CheckFn:
    """C12 check_duration_rules + compare_dates_to_curr
    (File_Submission_Object.py:471-517): (duration, unit, year) consistency —
    tri-state N/A linkage (all three N/A or none), unit membership, year range
    [1900, current year], and duration+year must not land in the future."""

    def prep(c: Column) -> dict[str, Column]:
        return {
            "dur": as_number(c),
            "yr": as_number(F.col(year_column).cast("string")),
        }

    def build(c: Column, prepared: dict[str, Column]) -> list[Emission]:
        dur, unit, year = (
            prepared["dur"],
            F.col(unit_column).cast("string"),
            F.col(year_column).cast("string"),
        )
        yr = prepared["yr"]
        na_dur, na_unit, na_year = is_na(c), is_na(unit), is_na(year)
        any_na = na_dur | na_unit | na_year
        all_na = na_dur & na_unit & na_year
        curr_year = F.year(F.current_date())
        curr_month = F.month(F.current_date())
        months_ahead = (
            F.when(F.lower(unit) == "year", dur * 12)
            .when(F.lower(unit) == "month", dur)
            .otherwise(F.lit(0))
        )
        days_ahead = (
            F.when(F.lower(unit) == "day", dur)
            .when(F.lower(unit) == "week", dur * 7)
            .otherwise(F.lit(0))
        )
        days_elapsed_this_year = F.datediff(
            F.current_date(), F.make_date(curr_year, F.lit(1), F.lit(1))
        )
        future = (
            (yr * 12 + months_ahead > curr_year * 12 + curr_month)
            | ((yr == curr_year) & (days_ahead > days_elapsed_this_year))
        )
        return [
            Emission.of(
                any_na & ~all_na,
                SEVERITY_ERROR,
                "Duration/unit/year must be all N/A or none N/A",
            ),
            Emission.of(
                ~any_na & ~is_blank(unit) & ~F.lower(unit).isin(*[u.lower() for u in units]),
                SEVERITY_ERROR,
                F.concat(F.lit("Duration unit "), _val(unit), F.lit(f" not in {sorted(units)}")),
            ),
            Emission.of(
                ~any_na & yr.isNotNull() & ~yr.between(F.lit(min_year), curr_year),
                SEVERITY_ERROR,
                F.concat(F.lit("Year "), _val(year), F.lit(" out of range")),
            ),
            Emission.of(
                ~any_na & dur.isNotNull() & yr.isNotNull() & future,
                SEVERITY_ERROR,
                "Duration extends into the future",
            ),
        ]

    return PreparedCheck(prep, build)


def check_regex(pattern: str, *, message: str | None = None, skip_blank: bool = True) -> CheckFn:
    """Generic F1 regex rule (Validation_Rules.py:132-161 patterns)."""

    def build(c: Column) -> list[Emission]:
        cond = ~c.rlike(pattern)
        if skip_blank:
            cond = cond & ~is_blank(c)
        return [
            Emission.of(
                cond,
                SEVERITY_ERROR,
                message
                or F.concat(F.lit("Value "), _val(c), F.lit(f" does not match {pattern}")),
            )
        ]

    return build


def check_speech_rate(
    duration_ms_column: str,
    *,
    max_wps: float,
    min_wps: float | None = None,
) -> CheckFn:
    """C13b cross-modal rate invariant (beyond-reference audio analog of the
    duration-vs-calendar math, File_Submission_Object.py:519-529 family):
    words-per-second = word_count(transcript) / (duration_ms / 1000) must
    not exceed ``max_wps`` (nor fall below ``min_wps`` when set) — the cheap
    metadata-level screen for transcript/audio mispairings that the full
    decoded-PCM pass (C13a) confirms at far higher cost. Blank and N/A
    transcripts are skipped (C14/C10 own those); NULL or non-positive
    durations are skipped (C9 owns those). Pure Column arithmetic inside
    the fused pass — no tokenizer UDF."""

    def build(c: Column) -> list[Emission]:
        dur = as_number(F.col(duration_ms_column))
        txt = F.trim(c)
        applicable = (
            c.isNotNull()
            & (txt != "")
            & (F.upper(txt) != "N/A")
            & dur.isNotNull()
            & (dur > 0)
        )
        words = F.size(F.split(txt, r"\s+"))
        wps = words / (dur / F.lit(1000.0))
        rate_str = F.round(wps, 1).cast("string")
        ems = [
            Emission.of(
                applicable & (wps > max_wps),
                SEVERITY_ERROR,
                F.concat(
                    F.lit("Speech rate "),
                    rate_str,
                    F.lit(
                        f" words/sec exceeds {max_wps} "
                        f"(transcript vs {duration_ms_column})"
                    ),
                ),
            )
        ]
        if min_wps is not None:
            ems.append(
                Emission.of(
                    applicable & (wps < min_wps),
                    SEVERITY_ERROR,
                    F.concat(
                        F.lit("Speech rate "),
                        rate_str,
                        F.lit(
                            f" words/sec below {min_wps} "
                            f"(transcript vs {duration_ms_column})"
                        ),
                    ),
                )
            )
        return ems

    return build
