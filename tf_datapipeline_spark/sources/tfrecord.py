"""Native TFRecord container I/O (reference S6/S7) — pure stdlib, Spark-first.

Rounds 1-2 substituted Parquet for the reference's TFRecord container
(columnar, splittable, pushdown-able — sources/etl.py, justified by the
driver contract). This module ADDITIONALLY implements the real container
so a user of the reference can read and write their existing .tfrecord
shards with this engine, closing the last §2A inventory gap:

- **TFRecord framing** — `[len u64le][masked crc32c(len) u32le][data]
  [masked crc32c(data) u32le]` per record (the public TensorFlow file
  format). CRC32C (Castagnoli, RFC 3720 polynomial) is a table-driven
  software implementation — no external deps.
- **tf.train.Example protobuf** — a minimal hand-rolled encoder/decoder
  for the wire format (varints, length-delimited fields) covering
  BytesList, packed/unpacked Int64List, and packed FloatList — the
  exact feature schema the reference writes (make_tf_record.py:85-92:
  image/encoded, image/format, image/class/label, image/height,
  image/width) plus anything else those three list types can carry.
- **Spark plumbing** — the writer fans out by (split, shard) with
  applyInPandas, one task per shard file, using the reference's
  `flowers_%s_%05d-of-%05d.tfrecord` naming (make_tf_record.py:94-97,
  P7); the reader scans shards via binaryFile and parses each shard's
  frames in `functions/rows.map_rows` (the queue-free form of S7's
  filename-queue + TFRecordReader, data_queue.py:10-36).

Scale notes: writer parallelism = number of (split, shard) groups — at
100 TB raise n_shards, never task size; on read, binaryFile materializes
whole shard files, so shard size at write time bounds executor memory at
read time (the same operating constraint the reference's record reader
has, managed by the same knob). The pure-Python CRC is the per-byte hot
loop; a production deployment would drop in a native crc32c wheel behind
the same function signature.
"""

from __future__ import annotations

import os
import struct
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tf_datapipeline_spark.functions.rows import map_rows
from tf_datapipeline_spark.sources.etl import N_SHARDS

# --------------------------------------------------------------------------
# CRC32C (Castagnoli) + TFRecord's CRC masking.
# --------------------------------------------------------------------------


def _crc32c_table() -> list[int]:
    poly = 0x82F63B78  # reflected Castagnoli polynomial (RFC 3720)
    table = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ poly if c & 1 else c >> 1
        table.append(c)
    return table


_TABLE = _crc32c_table()


def crc32c(data: bytes) -> int:
    c = 0xFFFFFFFF
    for b in data:
        c = _TABLE[(c ^ b) & 0xFF] ^ (c >> 8)
    return c ^ 0xFFFFFFFF


def masked_crc32c(data: bytes) -> int:
    """TFRecord stores CRCs rotated+offset so a CRC over raw CRCs can't
    collide with a CRC over data."""
    c = crc32c(data)
    return (((c >> 15) | (c << 17)) + 0xA282EAD8) & 0xFFFFFFFF


# --------------------------------------------------------------------------
# Minimal protobuf wire format for tf.train.Example.
#   Example{1: Features} ; Features{1: map<string, Feature>} ;
#   Feature{1: BytesList | 2: FloatList | 3: Int64List} ;
#   *List{1: repeated value} (Int64List/FloatList packed on the wire).
# --------------------------------------------------------------------------


def _varint(n: int) -> bytes:
    if n < 0:
        raise ValueError("plain varint cannot be negative (tags/lengths)")
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


_U64 = 1 << 64
_I64_MAX = (1 << 63) - 1


def _varint_s64(n: int) -> bytes:
    """Int64List value varint: negatives use the standard protobuf
    encoding — 64-bit two's complement emitted as a (10-byte) unsigned
    varint — so external TFRecord readers decode them correctly."""
    if not -(1 << 63) <= n <= _I64_MAX:
        raise ValueError(f"int64 feature out of range: {n}")
    return _varint(n & (_U64 - 1))


def _sign_extend_s64(v: int) -> int:
    """Interpret an accumulated varint as a signed int64: standard
    encoders emit negatives as 64-bit two's complement, so mask to 64
    bits and sign-extend (v - 2**64 when the sign bit is set)."""
    v &= _U64 - 1
    return v - _U64 if v > _I64_MAX else v


def _ld(field: int, payload: bytes) -> bytes:
    """A length-delimited (wire type 2) field."""
    return _varint((field << 3) | 2) + _varint(len(payload)) + payload


def encode_example(features: dict[str, bytes | str | int | list]) -> bytes:
    """Encode one tf.train.Example. bytes/str -> BytesList, int/list[int]
    -> packed Int64List (negatives as two's-complement varints, the
    standard wire form), list with ANY float -> packed FloatList (so a
    mixed [1, 2.5] never silently truncates to ints). Keys are emitted
    sorted so the byte layout is deterministic (stable shard files under
    retries)."""
    entries = bytearray()
    for key in sorted(features):
        v = features[key]
        if isinstance(v, str):
            v = v.encode()
        if isinstance(v, bytes):
            feat = _ld(1, _ld(1, v))
        elif isinstance(v, list) and any(isinstance(x, float) for x in v):
            feat = _ld(2, _ld(1, struct.pack(f"<{len(v)}f", *(float(x) for x in v))))
        elif isinstance(v, float):
            feat = _ld(2, _ld(1, struct.pack("<f", v)))
        else:
            vals = v if isinstance(v, list) else [int(v)]
            feat = _ld(3, _ld(1, b"".join(_varint_s64(int(x)) for x in vals)))
        entries += _ld(1, _ld(1, key.encode()) + _ld(2, feat))
    return _ld(1, bytes(entries))


def _read_varint(buf, i: int) -> tuple[int, int]:
    shift = n = 0
    while True:
        b = buf[i]
        i += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, i
        shift += 7


def _iter_fields(buf) -> Iterator[tuple[int, int, object]]:
    """Yield (field_number, wire_type, value); value is bytes for
    length-delimited/fixed fields and int for varints."""
    i = 0
    while i < len(buf):
        tag, i = _read_varint(buf, i)
        field, wire = tag >> 3, tag & 7
        if wire == 2:  # length-delimited
            ln, i = _read_varint(buf, i)
            yield field, wire, buf[i : i + ln]
            i += ln
        elif wire == 0:  # varint
            v, i = _read_varint(buf, i)
            yield field, wire, v
        elif wire == 5:  # fixed32
            yield field, wire, buf[i : i + 4]
            i += 4
        elif wire == 1:  # fixed64
            yield field, wire, buf[i : i + 8]
            i += 8
        else:
            raise ValueError(f"unsupported protobuf wire type {wire}")


def _decode_feature(feat: bytes) -> list:
    """Feature{1: BytesList | 2: FloatList | 3: Int64List}; each *List is
    a message whose field 1 holds the values — packed (one wire-type-2
    blob) or unpacked (one tagged value each); both forms are legal on
    the wire and both are handled."""
    vals: list = []
    for f, _, payload in _iter_fields(feat):
        if f == 1:  # BytesList
            vals += [bytes(v) for n, _, v in _iter_fields(payload) if n == 1]
        elif f == 3:  # Int64List
            for n, wire, v in _iter_fields(payload):
                if n != 1:
                    continue
                if wire == 0:  # unpacked varint
                    vals.append(_sign_extend_s64(v))
                else:  # packed varints
                    i = 0
                    while i < len(v):
                        x, i = _read_varint(v, i)
                        vals.append(_sign_extend_s64(x))
        elif f == 2:  # FloatList
            for n, wire, v in _iter_fields(payload):
                if n != 1:
                    continue
                if wire == 5:  # unpacked fixed32
                    vals.append(struct.unpack("<f", bytes(v))[0])
                else:  # packed fixed32s
                    vals += struct.unpack(f"<{len(v) // 4}f", bytes(v))
    return vals


def decode_example(buf: bytes) -> dict[str, list]:
    """Decode one tf.train.Example to {feature name: list of values}."""
    out: dict[str, list] = {}
    for f, _, features_msg in _iter_fields(buf):
        if f != 1:
            continue
        for f2, _, entry in _iter_fields(features_msg):
            if f2 != 1:
                continue
            key, feat = "", b""
            for f3, _, v in _iter_fields(entry):
                if f3 == 1:
                    key = bytes(v).decode()
                elif f3 == 2:
                    feat = v
            out[key] = _decode_feature(feat)
    return out


# --------------------------------------------------------------------------
# Record-framed file I/O.
# --------------------------------------------------------------------------


def write_tfrecord_file(path: str, payloads: Iterable[bytes]) -> tuple[int, int]:
    """Write framed records; returns (n_records, file_bytes)."""
    n = total = 0
    with open(path, "wb") as fh:
        for p in payloads:
            hdr = struct.pack("<Q", len(p))
            fh.write(hdr)
            fh.write(struct.pack("<I", masked_crc32c(hdr)))
            fh.write(p)
            fh.write(struct.pack("<I", masked_crc32c(p)))
            n += 1
            total += 16 + len(p)
    return n, total


def iter_tfrecord_frames(buf: bytes) -> Iterator[bytes]:
    """Yield record payloads, verifying both CRCs per frame (corruption
    surfaces as an error, not silent bad records)."""
    i = 0
    while i < len(buf):
        (ln,) = struct.unpack_from("<Q", buf, i)
        hdr = buf[i : i + 8]
        (hcrc,) = struct.unpack_from("<I", buf, i + 8)
        if masked_crc32c(hdr) != hcrc:
            raise ValueError(f"TFRecord length CRC mismatch at offset {i}")
        data = bytes(buf[i + 12 : i + 12 + ln])
        (dcrc,) = struct.unpack_from("<I", buf, i + 12 + ln)
        if masked_crc32c(data) != dcrc:
            raise ValueError(f"TFRecord data CRC mismatch at offset {i}")
        yield data
        i += 16 + ln


# --------------------------------------------------------------------------
# Spark surface.
# --------------------------------------------------------------------------

SHARD_NAME = "flowers_%s_%05d-of-%05d.tfrecord"  # make_tf_record.py:94-97

_MANIFEST_SCHEMA = (
    "split string, shard bigint, file string, n_records bigint, n_bytes bigint"
)

_RECORD_SCHEMA = (
    "split string, shard bigint, image_encoded binary, image_format string, "
    "label bigint, height bigint, width bigint"
)


def write_tfrecords(
    records: DataFrame, out_dir: str, n_shards: int = N_SHARDS
) -> DataFrame:
    """records (etl.records_with_split schema) -> one reference-named
    .tfrecord shard file per (split, shard), written by one applyInPandas
    task each (no driver bottleneck; parallelism == shard count). Rows
    sort by path inside a shard so the file bytes are deterministic.
    Returns the manifest DataFrame (split, shard, file, n_records,
    n_bytes).

    Deployment note: shards are written with plain ``open()`` inside the
    executor task, so ``out_dir`` must be a filesystem every executor
    shares (local FS in this single-JVM harness; NFS/FUSE-mounted object
    store on a cluster). For HDFS/S3-native output, swap
    ``write_tfrecord_file`` for a Hadoop-FS writer behind the same
    signature; the framing/encoding layers are path-agnostic. The dir is
    created inside each task (not only driver-side) so per-executor
    local paths fail fast with a clear error rather than a missing-dir
    one."""

    def write_shard(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        split, shard = str(key[0]), int(key[1])
        os.makedirs(out_dir, exist_ok=True)
        pdf = pdf.sort_values("path")
        name = SHARD_NAME % (split, shard, n_shards)

        def payloads() -> Iterator[bytes]:
            for r in pdf.itertuples():
                yield encode_example(
                    {
                        "image/encoded": bytes(r.image_encoded),
                        "image/format": str(r.image_format),
                        "image/class/label": int(r.label),
                        "image/height": int(r.height),
                        "image/width": int(r.width),
                    }
                )

        n, total = write_tfrecord_file(os.path.join(out_dir, name), payloads())
        return pd.DataFrame(
            [(split, shard, name, n, total)],
            columns=["split", "shard", "file", "n_records", "n_bytes"],
        )

    return records.groupBy("split", "shard").applyInPandas(
        write_shard, schema=_MANIFEST_SCHEMA
    )


def read_tfrecords(spark: SparkSession, out_dir: str) -> DataFrame:
    """Scan a directory of reference-named shards back to record rows:
    binaryFile enumerates/parallelizes the shard files, mapInPandas
    parses frames + Examples executor-side. split/shard come from the
    shard filename (the reference's P7 naming is the partition metadata)."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.tfrecord")
        .load(out_dir)
        .select("path", "content")
    )

    def parse(path: str, content: bytes) -> list[tuple]:
        stem = os.path.basename(path)[: -len(".tfrecord")]
        parts = stem.split("_")  # flowers_<split>_<i>-of-<n>
        split = parts[1]
        shard = int(parts[2].split("-")[0])
        rows = []
        for frame in iter_tfrecord_frames(bytes(content)):
            ex = decode_example(frame)
            rows.append(
                (
                    split,
                    shard,
                    ex["image/encoded"][0],
                    ex["image/format"][0].decode(),
                    ex["image/class/label"][0],
                    ex["image/height"][0],
                    ex["image/width"][0],
                )
            )
        return rows

    return map_rows(files, parse, _RECORD_SCHEMA)
