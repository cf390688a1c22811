"""Round-3 fix tests: numeric violation sort (W1), manifest compaction and
the verdict reader over the manifest, JDBC key-list hygiene (S4), static
parallelism probe, C19 declared-side missing groups."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from seronet_data_validator_spark.checkpoint import RunManifest
from seronet_data_validator_spark.operators.integrity import consistency_violations
from seronet_data_validator_spark.plans.rules import Rule, RuleSet, check_required
from seronet_data_validator_spark.runner import validate_clips


def test_violation_files_sorted_numerically(spark, tmp_path):
    """W1: the reference sorts error files by NUMERIC Row_Index
    (File_Submission_Object.py:796-799) — '2' before '10'; non-numeric refs
    follow, lexicographic. Assert per output file (the sort is
    within-partition by design — no global shuffle)."""
    rows = [("10", "", "s1"), ("2", "", "s1"), ("1", "", "s1"),
            ("x", "", "s1"), ("9", "", "s1")]
    df = spark.createDataFrame(rows, "id string, val string, site string")
    rs = RuleSet(table_name="t_sort", row_ref_column="id")
    rs.add(Rule("C14.val_required", "val", check_required(required="Yes")))
    res = validate_clips(
        spark, df, ruleset=rs, run_id="r", output_root=str(tmp_path),
        run_audio_pass=False,
    )
    assert res.violations.count() == 5
    files = glob.glob(str(tmp_path / "violations" / "r" / "**" / "*.parquet"),
                      recursive=True)
    assert files
    seen = []
    for f in files:
        refs = pq.read_table(f, columns=["row_ref"]).column("row_ref").to_pylist()
        seen += refs

        def key(r):
            try:
                return (0, int(r), r)
            except ValueError:
                return (1, 0, r)

        assert refs == sorted(refs, key=key), f"file {f} not numerically sorted"
    assert sorted(seen) == ["1", "10", "2", "9", "x"]


def test_manifest_commit_appends_one_file_per_run(spark, tmp_path):
    """checkpoint hygiene: commit() appends one file per run, and every run
    still reads back its own committed partition."""
    m = RunManifest(spark, str(tmp_path))
    for i in range(5):
        m.commit(f"run-{i}", [{"partition_key": "p1", "pass": True, "n_rows": 1,
                               "n_errors": 0, "n_warnings": 0, "wall_ms": 1}])
    path = os.path.join(str(tmp_path), "run_manifest")
    assert len(glob.glob(os.path.join(path, "*.parquet"))) == 5
    for i in range(5):
        assert m.completed_partitions(f"run-{i}") == ["p1"]
        assert m.prior_verdicts(f"run-{i}") == {"p1": True}


def test_partition_verdicts_reads_the_manifest(spark, tmp_path):
    """The run_manifest row is each partition's one verdict of record:
    partition_verdicts() returns exactly the verdicts of every committed run,
    and no second verdict table is written."""
    from seronet_data_validator_spark.checkpoint import partition_verdicts
    from seronet_data_validator_spark.model import PARTITION_VERDICT_SCHEMA
    from seronet_data_validator_spark.sources.clips import generate_clips

    root = str(tmp_path)
    assert partition_verdicts(spark, root).count() == 0
    clips = generate_clips(spark, 40, seed=2)
    expected = []
    for i in range(3):
        res = validate_clips(spark, clips, run_id=f"r{i}", output_root=root,
                             run_audio_pass=False)
        expected += [tuple(v.values()) for v in res.verdicts]
    assert len(expected) == 3 * 4
    df = partition_verdicts(spark, root)
    assert df.schema.names == PARTITION_VERDICT_SCHEMA.names
    assert [f.dataType for f in df.schema.fields] == [
        f.dataType for f in PARTITION_VERDICT_SCHEMA.fields]
    assert sorted(tuple(r) for r in df.collect()) == sorted(expected)
    assert not os.path.exists(os.path.join(root, "partition_verdicts"))


def test_manifest_corrupt_read_raises_not_swallows(spark, tmp_path):
    """A corrupt manifest must raise, not silently return {} (which would
    let a previously-failed dataset resume as passed)."""
    path = tmp_path / "run_manifest"
    path.mkdir()
    (path / "part-0000.parquet").write_bytes(b"not a parquet file")
    m = RunManifest(spark, str(tmp_path))
    with pytest.raises(Exception):
        m.completed_partitions("r")


def test_jdbc_empty_keys_raises(spark):
    from seronet_data_validator_spark.sources.jdbc import jdbc_gap_fill

    with pytest.raises(ValueError, match="at least one key"):
        jdbc_gap_fill(spark, "jdbc:postgresql://db/x", "t", "k", [], dry_run=True)


def test_jdbc_large_key_list_chunks(spark):
    from seronet_data_validator_spark.sources.jdbc import jdbc_gap_fill

    keys = [f"k{i}" for i in range(25)]
    opts = jdbc_gap_fill(
        spark, "jdbc:postgresql://db/x", "t", "k", keys,
        max_keys_per_query=10, dry_run=True,
    )
    assert isinstance(opts, list) and len(opts) == 3
    assert "'k0'" in opts[0]["dbtable"] and "'k0'" not in opts[1]["dbtable"]
    assert "'k24'" in opts[2]["dbtable"]


def test_ensure_parallelism_static_probe(spark, tmp_path):
    """_ensure_parallelism must not convert to RDD (eager AQE stage
    materialization); single-file parquet inputs spread, generated inputs
    pass through."""
    from seronet_data_validator_spark.operators.dedup import _ensure_parallelism

    p = str(tmp_path / "one_file")
    spark.range(100).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    spread = _ensure_parallelism(df, 4)
    assert "Repartition" in spread._jdf.queryExecution().logical().toString() or \
        spread.rdd.getNumPartitions() >= 4
    gen = spark.range(100, numPartitions=8)
    assert _ensure_parallelism(gen, 4) is gen


def test_consistency_declared_side_missing_group(spark):
    """C19 blind spot (reference Validation_Rules.py:80-84): a declared
    group with NO observation rows at all must emit C19.missing when the
    declared side is passed — an inner-joined observation frame cannot
    contain it."""
    obs = spark.createDataFrame(
        [("g1", "Positive", "Positive")],
        "grp string, declared string, observed string",
    )
    declared = spark.createDataFrame([("g1",), ("g2",)], "grp string")
    v = consistency_violations(
        obs,
        group_col="grp",
        declared_col="declared",
        observed_class=F.col("observed"),
        table_name="t",
        all_must_match_value="Negative",
        any_must_match_value="Positive",
        declared=declared,
    )
    got = {(r["rule_id"], r["column_value"]) for r in v.collect()}
    assert got == {("C19.missing", "g2")}
