"""Round-6 optimization regression tests: every validate_clips call builds
its plan from its current inputs, the banded Hamming probe skip, and the
Arrow-backed local fixture helper."""

from __future__ import annotations

from seronet_data_validator_spark import runner as R
from seronet_data_validator_spark.model import VIOLATION_SCHEMA
from seronet_data_validator_spark.plans.rules import Rule, check_in_list
from seronet_data_validator_spark.rulesets import clips_ruleset
from seronet_data_validator_spark.sources.clips import (
    codec_registry_df,
    generate_clips,
)
from seronet_data_validator_spark.sources.local import local_df


def _sorted_rows(df):
    cols = df.columns
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_validate_clips_builds_its_plan_from_current_inputs(spark, tmp_path):
    """A call on the same input objects sees what changed in them since the
    last call: a rule added to the RuleSet reports its rows, and a codec
    INSERTed into the registry table is no longer reported by C15. A call on
    a different DataFrame with identical content returns identical rows."""
    spark.sql("DROP TABLE IF EXISTS plan_inputs_registry")
    spark.sql("CREATE TABLE plan_inputs_registry (codec string, container string, "
              f"lossy string) USING parquet LOCATION '{tmp_path / 'registry'}'")
    codec_registry_df(spark).write.insertInto("plan_inputs_registry")
    reg = spark.table("plan_inputs_registry")
    rs = clips_ruleset()
    clips = generate_clips(spark, 300, seed=43, bad=True)
    rule_id, value = (VIOLATION_SCHEMA.names.index(c) for c in ("rule_id", "column_value"))

    def rows(df, rule=None):
        with R.validate_clips(spark, df, codec_registry=reg, ruleset=rs,
                              run_audio_pass=False) as res:
            return [r for r in _sorted_rows(res.violations)
                    if rule is None or r[rule_id] == rule]

    before = rows(clips)
    assert rows(generate_clips(spark, 300, seed=43, bad=True)) == before

    rs.add(Rule("X1.opus_only", "codec", check_in_list(["opus"])))
    assert rows(clips, "X1.opus_only")

    c15 = [r for r in before if r[rule_id] == "C15.referential"]
    new_codec = c15[0][value]
    spark.sql(f"INSERT INTO plan_inputs_registry VALUES ('{new_codec}', 'x', 'F')")
    assert rows(clips, "C15.referential") == [r for r in c15 if r[value] != new_codec]
    spark.sql("DROP TABLE plan_inputs_registry")


def test_banded_hamming_input_rows_bound_is_exact(spark):
    """input_rows_bound <= max_bucket_size skips the probe job but must
    return the identical pair set; a larger bound keeps the guard armed."""
    from seronet_data_validator_spark.operators.dedup import (
        banded_hamming_pairs,
        simhash,
    )

    docs = local_df(
        spark,
        [(i, f"tok{i % 7} tok{(i * 3) % 11} tok{(i * 5) % 13} common a b") for i in range(120)],
        "doc_id long, text string",
    )
    sig = simhash(docs, signatures_only=True)
    kw = dict(total_bits=64, max_hamming=3, n_bands=4)
    probed = banded_hamming_pairs(sig, ["simhash"], "doc_id",
                                  max_bucket_size=8, **kw)
    skipped = banded_hamming_pairs(sig, ["simhash"], "doc_id",
                                   max_bucket_size=200, input_rows_bound=120, **kw)
    armed = banded_hamming_pairs(sig, ["simhash"], "doc_id",
                                 max_bucket_size=8, input_rows_bound=121, **kw)
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    assert rows(probed) == rows(skipped) == rows(armed)


def test_local_df_matches_classic_createDataFrame(spark):
    """local_df (Arrow path) must be value- and schema-identical to the
    pickled-RDD createDataFrame for the row shapes the fixtures use."""
    rows = [
        ("a", bytearray(b"\x00\x01\xff"), 1, 2.5, None),
        ("b", bytearray(b""), -7, -0.0, "x"),
    ]
    schema = "s string, b binary, i int, d double, n string"
    classic = spark.createDataFrame(rows, schema)
    arrowed = local_df(spark, rows, schema)
    assert arrowed.schema == classic.schema
    assert _sorted_rows(arrowed) == _sorted_rows(classic)
