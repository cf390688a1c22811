"""WebDataset-style tar sharding for binary clip corpora.

Large audio/vision training pipelines ship corpora as fixed-size tar
shards (sequential reads, no per-file open cost, trivially resumable).
This module provides the three pieces Spark-side:

  * ``shard_assignments`` — deterministic shard layout from metadata only
    (byte footprints through the pack_documents start-offset rule: ONE
    shuffle; pass ``group_col`` at scale so each group's running sum
    distributes);
  * ``tar_shard_blobs`` — materialize each shard as one deterministic
    USTAR archive blob (applyInPandas per shard — shards are the natural
    Arrow batch, and a shard is built by streaming members into an
    in-memory tarfile with zeroed metadata so bytes are reproducible);
  * ``untar_members`` — explode shard blobs back into (member, bytes).

The tar footprint arithmetic is spec-fixed (POSIX ustar): every member
costs 512 B header + payload rounded up to 512; the archive ends with two
zero blocks and pads to the 10240-B record size. That determinism is what
lets the driver contract value-check the whole pipeline — shard ids,
member counts AND final archive byte lengths — from a metadata recipe
(``__spark_entry__.q_tar_shards``).

Reference parity: the reference submits folders of loose files
(S3 folder protocol, SURVEY.md §2.1 S3); shard layout + manifest resume is
this engine's catalog-native replacement at 10^12-clip scale.
"""

from __future__ import annotations

import io
import tarfile
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seronet_data_validator_spark.operators.sampling import pack_documents

_BLOCK = 512


def member_footprint(bytes_col: str = "bytes") -> F.Column:
    """Spec-fixed USTAR cost of one member: 512-B header + payload padded
    to a 512-B block."""
    sz = F.length(F.col(bytes_col)).cast("long")
    return (F.lit(_BLOCK) + F.ceil(sz / _BLOCK).cast("long") * _BLOCK).cast("long")


def shard_assignments(
    clips: DataFrame,
    *,
    shard_budget_bytes: int,
    group_col: str | None = None,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Deterministic shard layout: members in ``id_col`` order join the
    shard their START offset falls into (pack_documents' one-window rule —
    a shard can overflow by at most one member, the standard streaming
    layout compromise). Adds ``shard_id`` and ``shard_offset``."""
    df = clips.withColumn("_tar_fp", member_footprint(bytes_col))
    out = pack_documents(
        df,
        budget_tokens=shard_budget_bytes,
        group_col=group_col,
        id_col=id_col,
        tokens_col="_tar_fp",
    )
    return (
        out.withColumnRenamed("pack_id", "shard_id")
        .withColumnRenamed("pack_offset", "shard_offset")
        .drop("_tar_fp")
    )


def _deterministic_info(name: str, size: int) -> tarfile.TarInfo:
    info = tarfile.TarInfo(name=name)
    info.size = size
    info.mtime = 0
    info.uid = info.gid = 0
    info.uname = info.gname = ""
    info.mode = 0o644
    return info


def tar_shard_blobs(
    assigned: DataFrame,
    *,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    suffix: str = ".wav",
    group_col: str | None = None,
) -> DataFrame:
    """One row per shard: (shard_id, n_members, tar_bytes). Members are
    laid out in ``id_col`` order inside a USTAR archive with zeroed
    metadata — archives are byte-reproducible across runs and engines.
    applyInPandas groups by shard (plus ``group_col`` when the layout was
    grouped), so each task holds exactly one shard's members."""
    keys = ([group_col] if group_col else []) + ["shard_id"]
    schema_fields = (
        ([T.StructField(group_col, T.StringType())] if group_col else [])
        + [
            T.StructField("shard_id", T.LongType()),
            T.StructField("n_members", T.LongType()),
            T.StructField("tar_bytes", T.BinaryType()),
        ]
    )
    out_schema = T.StructType(schema_fields)

    def build(pdf):
        import pandas as pd

        pdf = pdf.sort_values(id_col)
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
            for name, payload in zip(pdf[id_col], pdf[bytes_col]):
                body = bytes(payload)
                tf.addfile(_deterministic_info(str(name) + suffix, len(body)),
                           io.BytesIO(body))
        row = {
            "shard_id": [int(pdf["shard_id"].iloc[0])],
            "n_members": [len(pdf)],
            "tar_bytes": [buf.getvalue()],
        }
        if group_col:
            row[group_col] = [pdf[group_col].iloc[0]]
        return pd.DataFrame(row)[[f.name for f in schema_fields]]

    return assigned.groupBy(*keys).applyInPandas(build, schema=out_schema)


UNTAR_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.LongType()),
        T.StructField("member", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
    ]
)


def untar_members(shards: DataFrame, *, bytes_col: str = "tar_bytes") -> DataFrame:
    """Explode shard archives back into (shard_id, member, bytes) — the
    read side of the shard pipeline. Narrow mapInArrow; archive payloads
    never leave the task that read them."""
    # Not on operators.arrow_rows._decoded_map: this is the reference
    # decoder of the shard writer, kept as plain Python bytes and tarfile.
    src = shards.select("shard_id", bytes_col)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            sids, names, blobs = [], [], []
            ids = batch.column(0).to_pylist()
            payloads = batch.column(1).to_pylist()
            for sid, payload in zip(ids, payloads):
                if payload is None:
                    continue
                with tarfile.open(fileobj=io.BytesIO(payload), mode="r:") as tf:
                    for m in tf.getmembers():
                        f = tf.extractfile(m)
                        sids.append(sid)
                        names.append(m.name)
                        blobs.append(f.read() if f is not None else None)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(sids, pa.int64()),
                    pa.array(names, pa.string()),
                    pa.array(blobs, pa.binary()),
                ],
                names=["shard_id", "member", "bytes"],
            )

    return src.mapInArrow(run, schema=UNTAR_SCHEMA)
