"""Tar-shard archives: the WebDataset layout for LLM training corpora.

Large-scale training pipelines do not store billions of tiny documents
as individual objects — list/open overhead kills throughput. The
standard layout (WebDataset, tfrecord's tar cousin) packs ~thousands of
samples per POSIX-tar shard; readers stream whole shards sequentially
and the shard becomes the unit of parallelism, shuffling, and resume.

This module implements both directions executor-side:

* ``tar_write`` — canonical ustar writer (POSIX.1-1988 header layout:
  512-byte blocks, octal size fields, 8-space-seeded checksum, two
  zero blocks as EOT). Pure bytes in/out, no filesystem.
* ``tar_members`` — independent spec-derived parser (header checksum
  verified, size-octal walk, padding skip) — deliberately NOT the
  writer run backwards, so round-trip tests adjudicate both sides
  against the spec rather than against each other.

Scale design: shard assignment is a pure column expression
(``doc_id // DOCS_PER_SHARD``), so packing is one keyed shuffle and the
tar bytes never move again; parsing is mapInPandas over shard rows —
embarrassingly parallel, zero cross-row state, payload bytes stay
inside the Arrow batch. At 100 TB both directions stream: no shard is
ever materialized driver-side.

Reference parity: the reference job has no archive handling at all
(glue_rds_to_redshift.py reads JDBC rows); this is part of the
LLM-pipeline extension mandate (BASELINE.json:6).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from ..session import fan_out_compute, pickle_module_by_value
from ..sources.io import load_table

DOCS_PER_SHARD = 64

_BLOCK = 512


def tar_write(members: list[tuple[str, bytes]]) -> bytes:
    """Serialize ``members`` (name, payload) into a POSIX ustar archive."""
    out = bytearray()
    for name, payload in members:
        nb = name.encode("utf-8")
        if len(nb) > 100:
            raise ValueError(f"member name too long for ustar: {name!r}")
        if len(payload) > 0o77777777777:  # 11 octal digits = 8 GiB - 1
            raise ValueError(
                f"payload too large for a ustar size field: {len(payload)} bytes"
            )
        hdr = bytearray(_BLOCK)
        hdr[0 : len(nb)] = nb  # name
        hdr[100:108] = b"0000644\x00"  # mode
        hdr[108:116] = b"0000000\x00"  # uid
        hdr[116:124] = b"0000000\x00"  # gid
        hdr[124:136] = ("%011o" % len(payload)).encode() + b"\x00"  # size
        hdr[136:148] = b"00000000000\x00"  # mtime (fixed: determinism)
        hdr[148:156] = b" " * 8  # checksum seed per spec
        hdr[156] = ord("0")  # typeflag: regular file
        hdr[257:263] = b"ustar\x00"  # magic
        hdr[263:265] = b"00"  # version
        chk = sum(hdr)
        hdr[148:156] = ("%06o" % chk).encode() + b"\x00 "
        out += hdr
        out += payload
        pad = (-len(payload)) % _BLOCK
        out += b"\x00" * pad
    out += b"\x00" * (2 * _BLOCK)  # end-of-archive
    return bytes(out)


def tar_members(buf: bytes) -> list[tuple[str, bytes]]:
    """Parse a ustar archive into (name, payload) members.

    Spec-derived walk: a header block of all zeros terminates the
    archive; every other header must carry a valid checksum (sum of the
    block with the checksum field read as 8 spaces). Only regular-file
    entries are returned; any other typeflag is skipped by size.
    """
    members = []
    off = 0
    while off + _BLOCK <= len(buf):
        hdr = buf[off : off + _BLOCK]
        if hdr == b"\x00" * _BLOCK:
            break
        stored = int(hdr[148:156].split(b"\x00")[0].strip() or b"0", 8)
        actual = sum(hdr[:148]) + 8 * 0x20 + sum(hdr[156:])
        if stored != actual:
            raise ValueError(f"tar header checksum mismatch at offset {off}")
        name = hdr[0:100].split(b"\x00")[0].decode("utf-8")
        # USTAR prefix field (bytes 345-500): long paths split as
        # prefix '/' name — honor it so spec-valid archives round-trip
        prefix = hdr[345:500].split(b"\x00")[0].decode("utf-8")
        if prefix:
            name = f"{prefix}/{name}"
        size = int(hdr[124:136].split(b"\x00")[0].strip() or b"0", 8)
        typeflag = hdr[156:157]
        data_off = off + _BLOCK
        if typeflag in (b"0", b"\x00"):
            members.append((name, buf[data_off : data_off + size]))
        off = data_off + size + ((-size) % _BLOCK)
    return members


def pack_shards(docs: DataFrame, docs_per_shard: int = DOCS_PER_SHARD) -> DataFrame:
    """Pack documents into tar shards: (shard_id, shard blob, n_members).

    Shard assignment is the pure expression ``doc_id // docs_per_shard``
    so the layout is deterministic under any input partitioning; one
    keyed shuffle co-locates each shard's members.
    """
    with_shard = docs.withColumn(
        "shard_id", (F.col("doc_id") / F.lit(docs_per_shard)).cast("bigint")
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        # bind as locals: executor pythons do not have the repo on sys.path
        _write = tar_write
        pdf = pdf.sort_values("doc_id")
        members = [
            ("%012d.txt" % did, txt.encode("utf-8"))
            for did, txt in zip(pdf["doc_id"], pdf["text"])
        ]
        return pd.DataFrame(
            {
                "shard_id": [int(pdf["shard_id"].iloc[0])],
                "shard": [_write(members)],
                "n_members": [len(members)],
            }
        )

    return with_shard.groupBy("shard_id").applyInPandas(
        build, schema="shard_id bigint, shard binary, n_members int"
    )


def unpack_shards(shards: DataFrame) -> DataFrame:
    """Stream shard blobs back into per-member rows (mapInPandas —
    payloads never leave the Arrow batch)."""

    def parse(batches):
        _members = tar_members
        for pdf in batches:
            rows = {"shard_id": [], "member_name": [], "member_bytes": [], "member_text": []}
            for sid, blob in zip(pdf["shard_id"], pdf["shard"]):
                for name, payload in _members(bytes(blob)):
                    rows["shard_id"].append(int(sid))
                    rows["member_name"].append(name)
                    rows["member_bytes"].append(len(payload))
                    rows["member_text"].append(payload.decode("utf-8"))
            yield pd.DataFrame(rows)

    return shards.mapInPandas(
        parse,
        schema="shard_id bigint, member_name string, member_bytes bigint, member_text string",
    )


@query(
    "archive_tar_webdataset",
    oracle="""
    SELECT COUNT(DISTINCT doc_id // 64) AS n_shards,
           COUNT(*) AS n_members,
           CAST(SUM(strlen(text)) AS BIGINT) AS payload_bytes,
           CAST(SUM(length(text)) AS BIGINT) AS payload_chars,
           MIN(printf('%012d.txt', doc_id)) AS first_member,
           MAX(printf('%012d.txt', doc_id)) AS last_member,
           TRUE AS roundtrip_exact
    FROM documents WHERE text IS NOT NULL
    """,
)
def q_archive_tar_webdataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack the document corpus into WebDataset tar shards, parse every
    shard back, and verify the round trip member-for-member.

    ``roundtrip_exact`` is a real full-corpus equality check (parsed
    member text joined back to the source rows on the derived doc_id,
    compared string-for-string — a distributed anti-join count, not a
    sample), and the remaining columns are recomputed by the oracle
    directly from ``documents``: shard count from the assignment
    expression, byte/char payload totals, lexical member-name range.
    """
    # NULL-content rows have no shard member to write (modality absent)
    docs = fan_out_compute(
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    shards = pack_shards(docs)
    members = unpack_shards(shards).withColumn(
        "parsed_doc_id", F.regexp_extract("member_name", r"^(\d+)\.txt$", 1).cast("bigint")
    )
    mismatches = (
        members.join(docs, members.parsed_doc_id == docs.doc_id, "full")
        .where(
            F.col("doc_id").isNull()
            | F.col("parsed_doc_id").isNull()
            | (F.col("member_text") != F.col("text"))
        )
        .count()
    )
    return members.agg(
        F.countDistinct("shard_id").alias("n_shards"),
        F.count("*").alias("n_members"),
        F.sum("member_bytes").alias("payload_bytes"),
        F.sum(F.length("member_text")).alias("payload_chars"),
        F.min("member_name").alias("first_member"),
        F.max("member_name").alias("last_member"),
    ).withColumn("roundtrip_exact", F.lit(mismatches == 0))


pickle_module_by_value(__name__)
