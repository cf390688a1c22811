"""Round-6 optimization regression tests: prepared-plan reuse in
validate_clips and the Arrow-backed local fixture helper."""

from __future__ import annotations

from pyspark.sql import functions as F

from seronet_data_validator_spark import runner as R
from seronet_data_validator_spark.sources.clips import (
    codec_registry_df,
    generate_clips,
    reference_clips,
)
from seronet_data_validator_spark.sources.local import local_df


def _sorted_rows(df):
    cols = df.columns
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_validate_clips_plan_cache_hits_and_results_identical(spark):
    """Two calls with the SAME input objects reuse the compiled plan and
    return identical violations; a different DataFrame object (same
    content) misses the cache and still validates correctly."""
    R._PLAN_CACHE.clear()
    clips = generate_clips(spark, 300, seed=43, bad=True)
    reg = codec_registry_df(spark)
    refs = reference_clips(spark, 300, seed=43)

    res1 = R.validate_clips(spark, clips, codec_registry=reg,
                            reference_clips=refs, run_id="a")
    rows1 = _sorted_rows(res1.violations)
    assert len(R._PLAN_CACHE) == 1
    res2 = R.validate_clips(spark, clips, codec_registry=reg,
                            reference_clips=refs, run_id="b")
    rows2 = _sorted_rows(res2.violations)
    assert len(R._PLAN_CACHE) == 1  # hit, no new entry
    assert rows1 == rows2
    assert res1.passed == res2.passed
    assert [v["partition_key"] for v in res1.verdicts] == [
        v["partition_key"] for v in res2.verdicts
    ]

    # different input object (identical content): must MISS and recompute
    clips_b = generate_clips(spark, 300, seed=43, bad=True)
    res3 = R.validate_clips(spark, clips_b, codec_registry=reg,
                            reference_clips=refs, run_id="c")
    assert len(R._PLAN_CACHE) == 2
    assert _sorted_rows(res3.violations) == rows1
    for res in (res1, res2, res3):
        res.close()


def test_validate_clips_plan_cache_skips_durable_runs(tmp_path, spark):
    """output_root (durable/resume) runs interact with external state per
    call — they must never be served from the plan cache."""
    R._PLAN_CACHE.clear()
    clips = generate_clips(spark, 200, seed=43, bad=True)
    res = R.validate_clips(spark, clips, codec_registry=codec_registry_df(spark),
                           run_id="d", output_root=str(tmp_path / "out"))
    assert not R._PLAN_CACHE
    assert res.verdicts
    spark.catalog.clearCache()


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
