"""Unit tests per check primitive (SURVEY.md §5 test plan level 1)."""

import pytest
from pyspark.sql import functions as F

from seronet_data_validator_spark.model import (
    SEVERITY_ERROR,
    SEVERITY_NOT_VALIDATED,
    SEVERITY_WARNING,
)
from seronet_data_validator_spark.plans.compile import compile_ruleset, dedup_violations
from seronet_data_validator_spark.plans.rules import (
    Precondition,
    Rule,
    RuleSet,
    check_column_compare,
    check_date,
    check_duration_triplet,
    check_id_format,
    check_in_list,
    check_interpretation,
    check_number,
    check_parent_substr,
    check_percent_identity,
    check_regex,
    check_required,
    check_string,
    dictionary_rule,
)


def run_rule(spark, rows, schema, rule, table="t", row_ref="id"):
    df = spark.createDataFrame(rows, schema)
    rs = RuleSet(table_name=table, row_ref_column=row_ref)
    rs.add(rule)
    return compile_ruleset(df, rs).collect()


def test_check_id_format_and_prefix(spark):
    rows = [("11_123456_001",), ("XX-bad",), ("",), ("99_123456_001",)]
    out = run_rule(
        spark, rows, "id string",
        Rule("r", "id", check_id_format(r"^[0-9]{2}_[0-9]{6}_[0-9]{3}$",
                                        registry_prefixes=["11", "22"])),
    )
    msgs = {(v["row_ref"], v["rule_id"]) for v in out}
    assert len(out) == 2  # format error + prefix error; '' skipped
    assert any("format" in v["message"] for v in out)
    assert any("site code" in v["message"] for v in out)


def test_check_in_list_case_insensitive_blank_passes(spark):
    rows = [("1", "Positive"), ("2", "NEGATIVE"), ("3", "maybe"), ("4", "")]
    out = run_rule(spark, rows, "id string, v string",
                   Rule("r", "v", check_in_list(["Positive", "Negative"])))
    assert [v["row_ref"] for v in out] == ["3"]


def test_check_number_range_and_int_only(spark):
    rows = [("1", "5"), ("2", "500"), ("3", "5.5"), ("4", "abc"), ("5", "N/A"), ("6", "")]
    out = run_rule(spark, rows, "id string, v string",
                   Rule("r", "v", check_number(lower=1, upper=100, int_only=True)))
    got = {v["row_ref"]: v["message"] for v in out}
    assert "out of range" in got["2"]
    assert "decimals" in got["3"]
    assert "not a number" in got["4"]
    assert "not a number" in got["5"]  # N/A not allowed here
    assert "6" not in got  # blank handled by required rule, not number rule
    assert "1" not in got


def test_check_number_na_allowed(spark):
    rows = [("1", "N/A")]
    out = run_rule(spark, rows, "id string, v string",
                   Rule("r", "v", check_number(lower=0, upper=10, na_allowed=True)))
    assert out == []


def test_check_date_parse_and_range(spark):
    rows = [("1", "2020-05-01"), ("2", "1850-01-01"), ("3", "notadate"), ("4", "6/15/2021")]
    out = run_rule(spark, rows, "id string, v string",
                   Rule("r", "v", check_date(lower="1900-01-01", upper="2030-01-01")))
    got = {v["row_ref"]: v["message"] for v in out}
    assert "outside the allowed range" in got["2"]
    assert "not a parseable date" in got["3"]
    assert "1" not in got and "4" not in got


def test_check_string_whitespace_and_na(spark):
    rows = [("1", "ok text"), ("2", "   "), ("3", "N/A"), ("4", "")]
    out = run_rule(spark, rows, "id string, v string", Rule("r", "v", check_string()))
    assert {v["row_ref"] for v in out} == {"2", "3"}


def test_check_required_severity_split(spark):
    rows = [("1", "", "Positive"), ("2", "", "Negative"), ("3", "x", "Positive")]
    out = run_rule(
        spark, rows, "id string, v string, pcr string",
        Rule("r", "v", check_required(conditional_column="pcr",
                                      error_when="Positive", warning_when="Negative")),
    )
    got = {v["row_ref"]: v["severity"] for v in out}
    assert got == {"1": SEVERITY_ERROR, "2": SEVERITY_WARNING}


def test_precondition_gates_and_not_validated(spark):
    # rule applies only when dep == 'Yes'; dep='Maybe' -> Not Validated
    rows = [("1", "bad", "Yes"), ("2", "bad", "No"), ("3", "bad", "Maybe")]
    pre = Precondition(column="dep", values=("Yes",), exempt_values=("No",))
    out = run_rule(spark, rows, "id string, v string, dep string",
                   Rule("r", "v", check_in_list(["good"]), precondition=pre))
    got = {v["row_ref"]: v["severity"] for v in out}
    assert got == {"1": SEVERITY_ERROR, "3": SEVERITY_NOT_VALIDATED}


def test_missing_dependency_column_whole_column_error(spark):
    rows = [("1", "x")]
    pre = Precondition(column="nonexistent", values=("Yes",))
    out = run_rule(spark, rows, "id string, v string",
                   Rule("r", "v", check_in_list(["x"]), precondition=pre))
    assert len(out) == 1
    assert out[0]["row_ref"] == "0" and out[0]["severity"] == SEVERITY_ERROR


def test_check_parent_substr(spark):
    rows = [("11_000001_001", "11_000001"), ("22_000002_001", "99_999999")]
    out = run_rule(spark, rows, "child string, parent string",
                   Rule("r", "child", check_parent_substr("parent")), row_ref="child")
    assert [v["row_ref"] for v in out] == ["22_000002_001"]


def test_check_column_compare_and_percent(spark):
    rows = [("1", "10", "5", "50.0"), ("2", "5", "10", "200.0"), ("3", "10", "5", "49.0")]
    df_schema = "id string, total string, live string, viability string"
    out1 = run_rule(spark, rows, df_schema,
                    Rule("r", "total", check_column_compare("live", op="ge")))
    assert [v["row_ref"] for v in out1] == ["2"]
    out2 = run_rule(spark, rows, df_schema,
                    Rule("r", "viability", check_percent_identity("live", "total")))
    assert {v["row_ref"] for v in out2} == {"3"}


def test_check_duration_triplet(spark):
    rows = [
        ("1", "2", "Month", "2020"),      # ok
        ("2", "N/A", "Month", "2020"),    # mixed N/A
        ("3", "2", "Fortnight", "2020"),  # bad unit
        ("4", "2", "Year", "1800"),       # year out of range
        ("5", "500", "Year", "2020"),     # lands in the future
        ("6", "N/A", "N/A", "N/A"),       # all N/A ok
    ]
    out = run_rule(spark, rows, "id string, dur string, unit string, yr string",
                   Rule("r", "dur", check_duration_triplet("unit", "yr")))
    got = {}
    for v in out:
        got.setdefault(v["row_ref"], []).append(v["message"])
    assert set(got) == {"2", "3", "4", "5"}


def test_check_interpretation(spark):
    rows = [("1", "Reactive result"), ("2", "inconclusive finding")]
    out = run_rule(spark, rows, "id string, v string",
                   Rule("r", "v", check_interpretation(["reactive", "negative"])))
    assert [v["row_ref"] for v in out] == ["2"]


def test_check_regex_and_dedup(spark):
    rows = [("1", "AAA"), ("1", "AAA")]
    out_df_rows = run_rule(spark, rows, "id string, v string",
                           Rule("r", "v", check_regex(r"^[0-9]+$")))
    assert len(out_df_rows) == 2
    df = spark.createDataFrame(out_df_rows).withColumn("_ord", F.lit(0))
    assert dedup_violations(df, order_col="_ord").count() == 1


def test_int_typed_column_rules_fire(spark):
    # regression: rules must work on natively-typed (non-string) columns
    rows = [(1, 12345), (2, 8000)]
    out = run_rule(spark, rows, "id int, sr int",
                   Rule("r", "sr", check_in_list(["8000", "16000"], case_insensitive=False)))
    assert [v["row_ref"] for v in out] == ["1"]


def test_check_dictionary_broadcast_membership(spark):
    # C11: membership against an external dictionary TABLE (ICD-10 analog),
    # staged as a broadcast-join flag inside the fused pass. 'N/A' and ''
    # pass; unknown codes and the en-dash variant (normalized first) error.
    dict_df = spark.createDataFrame(
        [("A01.1",), ("B20-2",), ("C03.9",)], "code string")
    rows = [("1", "A01.1"), ("2", "Z99.9"), ("3", "N/A"), ("4", ""),
            ("5", "B20–2")]  # en-dash → '-' normalization, then lookup
    out = run_rule(
        spark, rows, "id string, v string",
        dictionary_rule("C11", "v", dict_df, "code", dict_name="ICD10"),
    )
    got = {v["row_ref"]: v["message"] for v in out}
    assert set(got) == {"2"}
    assert "Invalid or unknown ICD10 code Z99.9" in got["2"]


def test_check_dictionary_na_disallowed_and_precondition(spark):
    dict_df = spark.createDataFrame([("X1",)], "code string")
    rows = [("1", "N/A", "Yes"), ("2", "X1", "Yes"), ("3", "bad", "No")]
    out = run_rule(
        spark, rows, "id string, v string, dep string",
        dictionary_rule("C11b", "v", dict_df, "code", na_allowed=False,
                        precondition=Precondition("dep", ("Yes",))),
    )
    got = {v["row_ref"]: v["severity"] for v in out}
    # row 1: gated in, N/A not allowed → Error; row 3: dep fails → Not Validated
    assert got == {"1": SEVERITY_ERROR, "3": SEVERITY_NOT_VALIDATED}


def test_check_speech_rate_band_and_skips(spark):
    from seronet_data_validator_spark.plans.rules import check_speech_rate

    rows = [
        ("1", "three short words", "1000"),   # 3 wps — in band
        ("2", " ".join(["w"] * 50), "100"),   # 500 wps — above max
        ("3", "slow", "10000"),               # 0.1 wps — below min
        ("4", "", "100"),                     # blank: C14's problem, skipped
        ("5", "N/A", "100"),                  # N/A: C10's problem, skipped
        ("6", "words here", None),            # NULL duration: skipped
        ("7", "words here", "0"),             # non-positive duration: skipped
    ]
    out = run_rule(
        spark, rows, "id string, transcript string, dur_ms string",
        Rule("C13b", "transcript",
             check_speech_rate("dur_ms", max_wps=240.0, min_wps=0.5)),
    )
    got = {v["row_ref"]: v["message"] for v in out}
    assert set(got) == {"2", "3"}
    assert "exceeds 240.0" in got["2"] and "500.0" in got["2"]
    assert "below 0.5" in got["3"] and "0.1" in got["3"]


def test_flatten_json_typed_and_malformed(spark):
    from pyspark.sql import functions as F

    from seronet_data_validator_spark.functions.casts import flatten_json

    df = spark.createDataFrame(
        [('{"k": 7, "tags": ["a","b"]}',), ('{"k": "not-an-int"}',),
         ("not json at all",), (None,)],
        "props string",
    )
    out = flatten_json(df, "props", "k long, tags array<string>").collect()
    assert out[0]["k"] == 7 and out[0]["tags"] == ["a", "b"]
    assert out[1]["k"] is None          # declared-type failure -> NULL
    assert out[2]["k"] is None          # malformed JSON -> NULL
    assert out[3]["k"] is None
    # raw column retained for quarantine
    assert "props" in {f.name for f in flatten_json(df, "props", "k long").schema.fields}


def test_ruleset_from_json_compiles_and_matches_programmatic(spark):
    import json as _json

    from seronet_data_validator_spark.plans.compile import compile_ruleset
    from seronet_data_validator_spark.plans.config import (
        ruleset_from_dict,
        ruleset_from_json,
    )
    from seronet_data_validator_spark.plans.rules import (
        Precondition,
        Rule,
        RuleSet,
        check_in_list,
        check_number,
    )

    pack = {
        "table": "t",
        "row_ref": "id",
        "rules": [
            {"rule_id": "C6.lang", "column": "lang", "check": "in_list",
             "params": {"values": ["en", "de"]}},
            {"rule_id": "C9.n", "column": "n", "check": "number",
             "params": {"lower": 0, "upper": 10, "int_only": True},
             "depends_on": {"column": "has_n", "values": ["Yes"]}},
        ],
    }
    df = spark.createDataFrame(
        [("1", "en", "3", "Yes"), ("2", "xx", "3", "Yes"),
         ("3", "en", "11", "Yes"), ("4", "en", "11", "No")],
        "id string, lang string, n string, has_n string",
    )
    declared = compile_ruleset(df, ruleset_from_dict(pack))
    got = {(r["row_ref"], r["rule_id"]) for r in declared.collect()}
    prog_rs = RuleSet(table_name="t", row_ref_column="id")
    prog_rs.add(Rule("C6.lang", "lang", check_in_list(("en", "de"))))
    prog_rs.add(Rule("C9.n", "n", check_number(lower=0, upper=10, int_only=True),
                     precondition=Precondition(column="has_n", values=("Yes",))))
    prog = {(r["row_ref"], r["rule_id"]) for r in compile_ruleset(df, prog_rs).collect()}
    assert got == prog
    assert ("2", "C6.lang") in got and ("3", "C9.n") in got
    # row 4 fails the dependency -> the C2 'Not Validated' emission fires
    # under the same rule_id, not the range violation
    msgs = {r["row_ref"]: r["message"] for r in declared.collect()
            if r["rule_id"] == "C9.n"}
    assert "Unable to validate" in msgs["4"]
    assert "Unable to validate" not in msgs["3"]
    # json string round-trip
    rs2 = ruleset_from_json(_json.dumps(pack))
    got2 = {(r["row_ref"], r["rule_id"]) for r in compile_ruleset(df, rs2).collect()}
    assert got2 == got


def test_ruleset_from_dict_fails_fast_on_bad_packs():
    import pytest as _pytest

    from seronet_data_validator_spark.plans.config import ruleset_from_dict

    with _pytest.raises(ValueError, match="unknown check"):
        ruleset_from_dict({"table": "t", "rules": [
            {"rule_id": "X", "column": "c", "check": "nope"}]})
    with _pytest.raises(ValueError, match="bad params"):
        ruleset_from_dict({"table": "t", "rules": [
            {"rule_id": "X", "column": "c", "check": "number",
             "params": {"lower": 0}}]})  # missing upper
