"""The compiler's per-rule lane memo (plans/compile._rule_lanes): a Rule's
prep projections and emission structs are built once and reused on every
later input, with the same rows and the same analyzed plan. The QC1
expansion (operators/qc.qc1_violations) is memoized the same way."""

import re
from collections import Counter

import pytest

from seronet_data_validator_spark.plans.compile import _rule_lanes, compile_ruleset
from seronet_data_validator_spark.plans.rules import (
    Precondition,
    Rule,
    RuleSet,
    check_date,
    check_duration_triplet,
    check_in_list,
    check_percent_identity,
)
from seronet_data_validator_spark.rulesets import clips_ruleset
from seronet_data_validator_spark.operators.qc import qc1_violations
from seronet_data_validator_spark.runner import validate_clips, violation_families
from seronet_data_validator_spark.sources.clips import codec_registry_df, generate_clips

# PLANS §12 parse chains: C8 date, C12 duration triplet, C13 percent identity
PARSE_RULES = (
    Rule("C8.date", "d", check_date(lower="1900-01-01", upper="2030-01-01", na_allowed=True)),
    Rule("C12.duration", "dur", check_duration_triplet("unit", "yr")),
    Rule("C13.percent", "pct", check_percent_identity("live", "total")),
)
PARSE_ROWS = [
    ("1", "2020-01-01", "2", "Month", "2020", "50.0", "5", "10"),
    ("2", "not-a-date", "N/A", "Month", "2020", "49.0", "5", "10"),
    ("3", "1850-01-01", "2", "Fortnight", "1800", "N/A", "0", "0"),
    ("4", "N/A", "500", "Year", "2020", "", "", "0"),
]
PARSE_SCHEMA = ("id string, d string, dur string, unit string, yr string, "
                "pct string, live string, total string")


def _clips(spark, seed=7):
    return generate_clips(spark, 120, seed=seed, bad=True)


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


def _plan(df):
    """Analyzed plan with expression ids stripped."""
    return re.sub(r"#\d+", "", df._jdf.queryExecution().analyzed().toString())


CASES = {
    "default": (lambda spark: _clips(spark), clips_ruleset),
    "parse_chain": (
        lambda spark: spark.createDataFrame(PARSE_ROWS, PARSE_SCHEMA),
        lambda: RuleSet("t", list(PARSE_RULES), row_ref_column="id"),
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_second_compile_builds_no_lanes(spark, case):
    make_input, make_rules = CASES[case]
    _rule_lanes.cache_clear()
    first = compile_ruleset(make_input(spark), make_rules())
    misses = _rule_lanes.cache_info().misses
    assert misses == len(make_rules().rules)

    # a new input handle and a new RuleSet over the same Rule values
    second = compile_ruleset(make_input(spark), make_rules())
    assert _rule_lanes.cache_info().misses == misses
    assert _rows(first)
    assert _rows(second) == _rows(first)
    assert _plan(second) == _plan(first)


def test_extra_rule_gets_its_emissions(spark):
    compile_ruleset(_clips(spark), clips_ruleset())
    misses = _rule_lanes.cache_info().misses
    extra = Rule("X.codec_lossless", "codec", check_in_list(["pcm_s16le", "flac"]))

    df = _clips(spark)
    out = compile_ruleset(df, clips_ruleset().add(extra))
    assert _rule_lanes.cache_info().misses == misses + 1

    base = compile_ruleset(df, clips_ruleset())
    only_extra = compile_ruleset(df, RuleSet("clips", [extra], "clip_id"))
    assert _rows(only_extra)
    assert Counter(_rows(out)) == Counter(_rows(base)) + Counter(_rows(only_extra))


def test_clips_ruleset_add_does_not_leak():
    first = clips_ruleset()
    n = len(first.rules)
    first.add(Rule("X.extra", "codec", check_in_list(["pcm_s16le"])))

    later = clips_ruleset()
    assert len(later.rules) == n
    assert all(a is b for a, b in zip(first.rules, later.rules))
    assert clips_ruleset(site_registry=["11"]).rules[0] != later.rules[0]


def test_families_reuse_the_inlined_registry_rule(spark):
    registry = codec_registry_df(spark)

    def families(seed):
        return violation_families(
            _clips(spark, seed), clips_ruleset(), codec_registry=registry,
            run_audio_pass=False, run_qc_pass=False,
        )

    families(7)
    misses = _rule_lanes.cache_info().misses
    families(8)
    assert _rule_lanes.cache_info().misses == misses


def test_lifecycle_reuses_the_qc1_expansion(spark):
    """The QC1 expansion (qc.qc1_violations) is built once per table name:
    a second lifecycle call with the QC pass builds nothing new."""

    def call(seed):
        validate_clips(spark, _clips(spark, seed), run_audio_pass=False,
                       run_qc_pass=True).close()

    call(7)
    info = qc1_violations.cache_info()
    call(8)
    assert qc1_violations.cache_info().misses == info.misses
    assert qc1_violations.cache_info().hits > info.hits


def test_list_valued_precondition_is_hashable(spark):
    listed = Precondition("kind", values=["a", "b"], exempt_values=["skip"])
    assert listed == Precondition("kind", values=("a", "b"), exempt_values=("skip",))
    rule = Rule("r", "v", check_in_list(["x"]), precondition=listed)
    hash(rule)

    df = spark.createDataFrame(
        [("1", "a", "y"), ("2", "c", "y"), ("3", "skip", "y"), ("4", "b", "x")],
        "id string, kind string, v string",
    )
    out = compile_ruleset(df, RuleSet("t", [rule], row_ref_column="id")).collect()
    assert sorted((r["row_ref"], r["severity"]) for r in out) == [
        ("1", "Error"), ("2", "Not Validated"),
    ]
