"""Unit tests for the table-level integrity operators added/wired in round 2:
C19 consistency, C20 suppression, C18 count reconciliation, C17 presence
violations, salted anti-join skew path, P7 normalization, C22 ordered dedup,
truncated-WAV decode."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from seronet_data_validator_spark.model import SEVERITY_WARNING
from seronet_data_validator_spark.operators.audio import audio_violations
from seronet_data_validator_spark.operators.dedup import exact_duplicates
from seronet_data_validator_spark.operators.integrity import (
    consistency_violations,
    count_reconciliation_violations,
    presence_matrix,
    presence_violations,
    salted_left_anti,
    suppressed_referential_violations,
)
from seronet_data_validator_spark.plans.compile import compile_ruleset, dedup_violations
from seronet_data_validator_spark.plans.rules import Rule, RuleSet, check_in_list
from seronet_data_validator_spark.sources.clips import generate_clips, wav_bytes


def test_consistency_violations_golden(spark):
    """Mirror of reference compare_tests (Validation_Rules.py:64-119):
    g1 declared Negative, all confirms negative -> clean;
    g2 declared Negative, one confirm positive -> C19.all_mismatch;
    g3 declared Positive, zero positive confirms -> C19.none_match;
    g4 has only out-of-scope rows -> C19.missing;
    g5 declared Positive with one positive confirm -> clean."""
    rows = [
        ("g1", "Negative", "Negative", True),
        ("g1", "Negative", "Negative", True),
        ("g2", "Negative", "Negative", True),
        ("g2", "Negative", "Positive", True),
        ("g3", "Positive", "Negative", True),
        ("g3", "Positive", "Negative", True),
        ("g4", "Positive", "Positive", False),
        ("g5", "Positive", "Negative", True),
        ("g5", "Positive", "Positive", True),
    ]
    df = spark.createDataFrame(rows, "grp string, declared string, observed string, in_scope boolean")
    v = consistency_violations(
        df,
        group_col="grp",
        declared_col="declared",
        observed_class=F.col("observed"),
        table_name="t",
        all_must_match_value="Negative",
        any_must_match_value="Positive",
        scope=F.col("in_scope"),
    )
    got = {(r["rule_id"], r["column_value"]) for r in v.collect()}
    assert got == {
        ("C19.all_mismatch", "g2"),
        ("C19.none_match", "g3"),
        ("C19.missing", "g4"),
    }


def test_suppressed_referential_skips_already_reported(spark):
    """C20 check_map_ids (File_Submission_Object.py:758-784): a key already
    present in the violation table is NOT re-reported by the referential
    check; a fresh orphan key is."""
    fact = spark.createDataFrame([("k1",), ("k2",), ("k3",)], "key string")
    dim = spark.createDataFrame([("k3",)], "key string")
    prior = spark.createDataFrame(
        [("Error", "t", "1", "key", "k1", "C3.x", "already reported")],
        "severity string, table_name string, row_ref string, column_name string, "
        "column_value string, rule_id string, message string",
    )
    v = suppressed_referential_violations(fact, dim, "key", "t", prior)
    got = {r["column_value"] for r in v.collect()}
    assert got == {"k2"}  # k1 suppressed, k3 in registry
    assert v.collect()[0]["rule_id"] == "C20.map_id"


def test_count_reconciliation_full_outer_join_has_no_broadcast_hint(spark):
    """C18 joins observed and declared counts full outer, which Spark cannot
    build as a broadcast: the plan carries no broadcast hint, and both
    directions of a mismatch surface."""
    df = spark.createDataFrame([("a",), ("a",), ("b",), (None,)], "site string")
    manifest = spark.createDataFrame(
        [("a", 2), ("b", 2), ("c", 1)], "site string, declared_clip_count long")
    out = count_reconciliation_violations(df, manifest, "site", "clips")
    assert "broadcast" not in out._jdf.queryExecution().analyzed().toString()
    assert sorted(tuple(r) for r in out.collect()) == [
        ("Error", "clips", "-5", "site", "NULL", "C18.count_mismatch",
         "Declared count NULL != observed 1 for partition NULL"),
        ("Error", "clips", "-5", "site", "b", "C18.count_mismatch",
         "Declared count 2 != observed 1 for partition b"),
        ("Error", "clips", "-5", "site", "c", "C18.count_mismatch",
         "Declared count 1 != observed 0 for partition c"),
    ]


def test_presence_violations_both_directions(spark):
    """C17 orphan + childless rules over the presence matrix
    (File_Submission_Object.py:722-757)."""
    child = spark.createDataFrame([("a",), ("b",)], "id string")
    parent = spark.createDataFrame([("b",), ("c",)], "id string")
    m = presence_matrix({"child": child, "parent": parent}, "id")
    v = presence_violations(
        m, "id", child="child", parent="parent",
        child_missing_severity=SEVERITY_WARNING,
    )
    got = {(r["rule_id"], r["column_value"], r["severity"]) for r in v.collect()}
    assert got == {
        ("C17.orphan", "a", "Error"),
        ("C17.childless", "c", "Warning"),
    }


def test_salted_left_anti_matches_plain_on_skewed_key(spark):
    """Explicit skew handling (north_rule): the salted anti-join returns the
    same rows as the plain anti-join on a hot-key fact table (82%-skewed
    codec, the generator's deliberate hot key)."""
    clips = generate_clips(spark, 300, seed=5).select("clip_id", "codec")
    dim = spark.createDataFrame([("pcm_s16le",), ("flac",)], "codec string")
    plain = clips.join(dim, "codec", "left_anti")
    salted = salted_left_anti(clips, dim, "codec", n_salts=8)
    assert salted.count() == plain.count()
    assert (
        salted.select("clip_id").exceptAll(plain.select("clip_id")).count() == 0
    )


def test_endash_normalization_in_fused_pass(spark):
    """P7 (reference File_Submission_Object.py:134, Validation_Rules.py:10):
    unicode en-dash is normalized to '-' before rule evaluation, so a
    membership rule accepts 'a–b' where 'a-b' is allowed — and the
    reported value for a real violation is the normalized form."""
    rs = RuleSet(table_name="t", row_ref_column="id")
    rs.add(Rule("C6.m", "val", check_in_list(["a-b"], case_insensitive=False)))
    df = spark.createDataFrame(
        [("1", "a–b"), ("2", "x–y")], "id string, val string"
    )
    v = compile_ruleset(df, rs).collect()
    assert len(v) == 1
    assert v[0]["row_ref"] == "2"
    assert v[0]["column_value"] == "x-y"  # normalized value reported


def test_dedup_violations_first_writer_by_order(spark):
    """C22 (File_Submission_Object.py:255-256): with an explicit order
    column, the LOWEST-ordinal writer survives per dedup key."""
    rows = [
        ("Error", "t", "1", "c", "v", "B.rule", "second writer", 1),
        ("Error", "t", "1", "c", "v", "A.rule", "first writer", 0),
        ("Error", "t", "2", "c", "v", "B.rule", "only writer", 1),
    ]
    df = spark.createDataFrame(
        rows,
        "severity string, table_name string, row_ref string, column_name string, "
        "column_value string, rule_id string, message string, _ord int",
    )
    out = {r["row_ref"]: r["rule_id"] for r in dedup_violations(df, order_col="_ord").collect()}
    assert out == {"1": "A.rule", "2": "B.rule"}


def test_truncated_wav_is_decode_violation(spark):
    """A buffer whose declared data-chunk size exceeds the payload must fail
    decode (ADVICE: no silent clamping), even with NULL dur_ms."""
    full = wav_bytes(np.zeros(1000, dtype=np.int16), 16000)
    rows = [
        ("ok", full, 16000, None),
        ("trunc", full[:-9], 16000, None),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary, sr_hz int, dur_ms int")
    df = df.withColumn("transcript", F.lit("x"))
    v = audio_violations(df).collect()
    assert {r["row_ref"] for r in v} == {"trunc"}
    assert v[0]["rule_id"] == "C13a.decode"
    assert "truncated" in v[0]["message"]


def test_negative_declared_sr_is_violation_not_skipped(spark):
    """ADVICE: a negative declared sr_hz/dur_ms must flag a mismatch, not
    silently skip the check (the old -1 NULL sentinel conflated the two)."""
    full = wav_bytes(np.zeros(1600, dtype=np.int16), 16000)
    df = spark.createDataFrame(
        [("neg", full, -1, -5)], "clip_id string, bytes binary, sr_hz int, dur_ms int"
    ).withColumn("transcript", F.lit("x"))
    got = {r["rule_id"] for r in audio_violations(df).collect()}
    assert got == {"C13a.sr_mismatch", "C13a.dur_mismatch"}


def test_exact_duplicates_bounded_sample(spark):
    """dup_ids is a bounded sample; n still counts the whole group."""
    rows = [(i, "same text") for i in range(50)] + [(100, "unique")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = exact_duplicates(df, max_dup_ids=10).collect()
    assert len(out) == 1
    assert out[0]["n"] == 50
    assert out[0]["keep_id"] == 0
    assert len(out[0]["dup_ids"]) == 10
    assert out[0]["dup_ids"] == sorted(out[0]["dup_ids"])


def test_jdbc_gap_fill_pushes_key_filter(spark):
    """S4 (File_Submission_Object.py:812-867): the key IN-filter is folded
    into the dbtable subquery (database-side), and the read is partitioned."""
    from seronet_data_validator_spark.sources.jdbc import jdbc_gap_fill

    opts = jdbc_gap_fill(
        spark, "jdbc:postgresql://db/x", "equipment", "biospecimen_id",
        ["a'b", "c"], partition_column="id", num_partitions=4, dry_run=True,
    )
    assert "WHERE biospecimen_id IN ('a''b', 'c')" in opts["dbtable"]
    assert opts["numPartitions"] == "4"
    assert opts["url"].startswith("jdbc:")


def test_audio_fast_path_equals_full_decode(spark):
    """The identity fast path (headers-only IPC for bit-identical payloads)
    must produce EXACTLY the violations of the forced full-decode path on a
    corrupted fixture — it is an execution strategy, not a semantics change."""
    from seronet_data_validator_spark.sources.clips import (
        generate_clips,
        reference_clips,
    )

    clips = generate_clips(spark, 300, seed=43, bad=True)
    refs = reference_clips(spark, 300, seed=43)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    fast = rows(audio_violations(clips, refs))
    full = rows(audio_violations(clips, refs, force_full_decode=True))
    assert fast == full
    assert len(fast) > 0


def test_normalize_headers_and_blank_rows(spark):
    """F4 header normalization (clean_up_column_names,
    File_Submission_Object.py:9-19) + P6 blank-row cleanup (cleanup_table,
    File_Submission_Object.py:125-138)."""
    from seronet_data_validator_spark.schema import (
        drop_blank_rows,
        normalize_header,
        normalize_headers,
    )

    assert normalize_header("Volume (mL)") == "Volume"
    assert normalize_header("Storage Temp°C") == "Storage Temp"
    assert normalize_header("-80 Freezer-ID") == "80 Freezer_ID"

    df = spark.createDataFrame(
        [("a", "x"), ("", None), (None, ""), ("b", "")],
        ["Dur (min)", "Lot-Number"],
    )
    out = normalize_headers(df)
    assert out.columns == ["Dur", "Lot_Number"]
    # rows 2 and 3 are all-blank ('' / NULL in every cell) -> dropped;
    # row 4 keeps: one non-blank cell is content
    kept = drop_blank_rows(out).collect()
    assert sorted(r["Dur"] for r in kept) == ["a", "b"]


def test_skew_split_join_matches_plain_join(spark):
    from pyspark.sql import functions as F

    from seronet_data_validator_spark.operators.integrity import skew_split_join

    left = spark.createDataFrame(
        [("hot", i) for i in range(200)] + [(f"k{i}", i) for i in range(20)]
        + [(None, 999)],
        "k string, v int",
    )
    right = spark.createDataFrame(
        [("hot", "H"), ("k3", "A"), ("k7", "B"), ("zzz", "Z")], "k string, t string"
    )
    for how in ("inner", "left"):
        plain = left.join(right, "k", how)
        split = skew_split_join(left, right, "k", how=how)
        key = lambda t: tuple(map(repr, t))  # noqa: E731 — None-safe ordering
        assert sorted(map(tuple, split.collect()), key=key) == sorted(
            map(tuple, plain.collect()), key=key
        )
    # auto-detection finds the hot key and routes it through a broadcast join
    split = skew_split_join(left, right, "k", how="inner")
    plan = split._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # pinned hot set: no measurement pass
    pinned = skew_split_join(left, right, "k", how="inner", hot_keys=["hot"])
    assert pinned.count() == left.join(right, "k", "inner").count()


def test_snapshot_diff_report(spark):
    from seronet_data_validator_spark.operators.integrity import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", None), (4, "d", 40)],
        "k long, s string, v int",
    )
    new = spark.createDataFrame(
        [(1, "a", 10),        # unchanged
         (2, "B", 20),        # s changed
         (3, "c", 30),        # v changed (NULL -> value is a change)
         (5, "e", 50)],       # added; key 4 removed
        "k long, s string, v int",
    )
    out = {(r["kind"], r["name"]): r["n_rows"]
           for r in snapshot_diff(old, new, "k").collect()}
    assert out[("row", "added")] == 1
    assert out[("row", "removed")] == 1
    assert out[("row", "changed")] == 2
    assert out[("row", "unchanged")] == 1
    assert out[("column_changed", "s")] == 1
    assert out[("column_changed", "v")] == 1
    # single-column compare path
    out_s = {(r["kind"], r["name"]): r["n_rows"]
             for r in snapshot_diff(old, new, "k", compare_cols=["s"]).collect()}
    assert out_s[("row", "changed")] == 1 and out_s[("row", "unchanged")] == 2


def test_g711_clip_through_invariant_pass(spark):
    """A µ-law WAV rides the full decoded-PCM invariant suite: header
    sample-count math (1 byte/sample) feeds the dur check, and a wrong
    declared duration flags C13a.dur_mismatch exactly as for PCM16."""
    import struct

    codes = bytes(range(256)) * 32  # 8192 samples @ 8 kHz = 1024 ms
    hdr = (
        b"RIFF" + struct.pack("<I", 36 + len(codes)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 7, 1, 8000, 8000, 1, 8)
        + b"data" + struct.pack("<I", len(codes))
    )
    blob = bytearray(hdr + codes)
    rows = [
        ("ok", blob, 8000, 1024, "hello"),
        ("bad_dur", blob, 8000, 500, "hello"),
    ]
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, transcript string"
    )
    got = {(r["row_ref"], r["rule_id"]) for r in audio_violations(df).collect()}
    assert got == {("bad_dur", "C13a.dur_mismatch")}
