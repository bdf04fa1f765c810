"""W5: protobuf encoding of route records — pure-Python proto2 wire format
(SURVEY.md §2.1 W5; the reference builds `dsc650.assignment03.Routes` with
generated pb2 classes and `SerializeToString()`, `Assignment_3.ipynb:522-572`
— a cell that crashes on an undefined variable, so its committed output does
not exist; schema per `routes_pb2.py`: Airline fields 1-8 at :36-86, Airport
fields 1-13 at :116-201, Route fields 1-6 at :231-266, Routes.route
repeated=1 at :296-302).

google.protobuf is not in this environment, so — like ``avro_fallback``
for Avro OCF — this module implements the *wire format* itself:
varint/zigzag-free proto2 encoding with wire types 0 (varint: int32/bool), 1 (64-bit: double), and
2 (length-delimited: string/message/packed-nothing — proto2 repeated
strings are unpacked). A decoder provides round-trip verification.

Scale shape: a protobuf ``Routes`` message is just the concatenation of
tagged ``route`` field records — so the distributed encode is
embarrassingly parallel (Arrow UDF encodes each row to its
length-delimited record; any byte-concatenation of partition outputs is a
valid ``Routes`` message). No driver-side message building, unlike the
reference's all-in-memory list loop.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# wire primitives
# ---------------------------------------------------------------------------


def _varint(n: int) -> bytes:
    if n < 0:  # proto2 int32 negatives are 10-byte two's-complement varints
        n += 1 << 64
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tag(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _f_varint(field: int, value: int) -> bytes:
    return _tag(field, 0) + _varint(int(value))


def _f_double(field: int, value: float) -> bytes:
    import struct

    return _tag(field, 1) + struct.pack("<d", float(value))


def _f_bytes(field: int, value: bytes) -> bytes:
    return _tag(field, 2) + _varint(len(value)) + value


def _f_str(field: int, value: str) -> bytes:
    return _f_bytes(field, value.encode("utf-8"))


# ---------------------------------------------------------------------------
# message encoders (field numbers cited from routes_pb2.py)
# ---------------------------------------------------------------------------

_AIRLINE_STR_FIELDS = [(2, "name"), (3, "alias"), (4, "iata"), (5, "icao"),
                       (6, "callsign"), (7, "country")]
_AIRPORT_STR_FIELDS = [(2, "name"), (3, "city"), (4, "iata"), (5, "icao"),
                       (10, "dst"), (11, "tz_id"), (12, "type"), (13, "source")]


def encode_airline(a: dict | None) -> bytes:
    if not a:
        return b""
    out = bytearray()
    if a.get("airline_id") is not None:
        out += _f_varint(1, a["airline_id"])
    for fno, key in _AIRLINE_STR_FIELDS:
        if a.get(key) is not None:
            out += _f_str(fno, a[key])
    if a.get("active") is not None:
        out += _f_varint(8, 1 if a["active"] else 0)
    return bytes(out)


def encode_airport(p: dict | None) -> bytes:
    if not p:
        return b""
    out = bytearray()
    if p.get("airport_id") is not None:
        out += _f_varint(1, p["airport_id"])
    for fno, key in _AIRPORT_STR_FIELDS:
        if p.get(key) is not None:
            out += _f_str(fno, p[key])
    if p.get("latitude") is not None:
        out += _f_double(6, p["latitude"])
    if p.get("longitude") is not None:
        out += _f_double(7, p["longitude"])
    if p.get("altitude") is not None:
        out += _f_varint(8, p["altitude"])
    if p.get("timezone") is not None:
        out += _f_double(9, p["timezone"])
    return bytes(out)


def encode_route(r: dict) -> bytes:
    out = bytearray()
    airline = encode_airline(r.get("airline"))
    if airline:
        out += _f_bytes(1, airline)
    src = encode_airport(r.get("src_airport"))
    if src:
        out += _f_bytes(2, src)
    dst = encode_airport(r.get("dst_airport"))
    if dst:
        out += _f_bytes(3, dst)
    if r.get("codeshare") is not None:
        out += _f_varint(4, 1 if r["codeshare"] else 0)
    if r.get("stops") is not None:
        out += _f_varint(5, r["stops"])
    for eq in r.get("equipment") or []:
        out += _f_str(6, eq)
    return bytes(out)


def encode_routes_record(r: dict) -> bytes:
    """One length-delimited ``Routes.route`` record (field 1); concatenating
    these yields a valid ``Routes`` message."""
    return _f_bytes(1, encode_route(r))


# ---------------------------------------------------------------------------
# decoder (round-trip verification; tolerant of unknown fields per spec)
# ---------------------------------------------------------------------------


def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    shift = n = 0
    while True:
        b = buf[i]
        i += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, i
        shift += 7


def _decode_fields(buf: bytes):
    import struct

    i = 0
    while i < len(buf):
        key, i = _read_varint(buf, i)
        field, wire = key >> 3, key & 7
        if wire == 0:
            v, i = _read_varint(buf, i)
        elif wire == 1:
            v = struct.unpack("<d", buf[i : i + 8])[0]
            i += 8
        elif wire == 2:
            ln, i = _read_varint(buf, i)
            v = buf[i : i + ln]
            i += ln
        else:  # pragma: no cover - wire types 3/4/5 unused in this schema
            raise ValueError(f"unsupported wire type {wire}")
        yield field, wire, v


def _signed(v: int) -> int:
    """proto2 int32/int64 negatives arrive as 64-bit two's complement."""
    return v - (1 << 64) if v >= (1 << 63) else v


def decode_airport(buf: bytes) -> dict:
    out: dict = {}
    names = {fno: k for fno, k in _AIRPORT_STR_FIELDS}
    for field, wire, v in _decode_fields(buf):
        if field == 1:
            out["airport_id"] = _signed(v)
        elif field in names:
            out[names[field]] = v.decode("utf-8")
        elif field == 6:
            out["latitude"] = v
        elif field == 7:
            out["longitude"] = v
        elif field == 8:
            out["altitude"] = _signed(v)
        elif field == 9:
            out["timezone"] = v
    return out


def decode_airline(buf: bytes) -> dict:
    out: dict = {}
    names = {fno: k for fno, k in _AIRLINE_STR_FIELDS}
    for field, wire, v in _decode_fields(buf):
        if field == 1:
            out["airline_id"] = _signed(v)
        elif field in names:
            out[names[field]] = v.decode("utf-8")
        elif field == 8:
            out["active"] = bool(v)
    return out


def decode_routes(buf: bytes) -> list[dict]:
    routes = []
    for field, wire, v in _decode_fields(buf):
        if field != 1:
            continue
        r: dict = {"equipment": []}
        for f2, w2, v2 in _decode_fields(v):
            if f2 == 1:
                r["airline"] = decode_airline(v2)
            elif f2 == 2:
                r["src_airport"] = decode_airport(v2)
            elif f2 == 3:
                r["dst_airport"] = decode_airport(v2)
            elif f2 == 4:
                r["codeshare"] = bool(v2)
            elif f2 == 5:
                r["stops"] = _signed(v2)
            elif f2 == 6:
                r["equipment"].append(v2.decode("utf-8"))
        routes.append(r)
    return routes


# ---------------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------------


def route_proto_col(struct_col: Column) -> Column:
    """BINARY column: the length-delimited Routes.route record for each row
    (Arrow-batched; encoding is pure CPU, runs fully parallel). The struct
    crosses the Arrow boundary as JSON (shortest-roundtrip doubles — exact
    for float64), decoded to plain dicts for the wire encoder."""
    import json

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def _enc(s: pd.Series) -> pd.Series:
        return s.map(
            lambda r: encode_routes_record(json.loads(r)) if r is not None else b""
        )

    return _enc(F.to_json(struct_col))


def routes_to_proto_bytes(
    df: DataFrame, struct_col: str = "route", max_rows: int = 1_000_000
) -> bytes:
    """Serialize the whole frame to ONE ``Routes`` message: executors encode
    rows, the driver concatenates partition outputs (valid because proto
    repeated fields are concatenative).

    Single-message assembly inherently collects every encoded row to the
    driver, so this path is GATED to small frames (``max_rows``); above the
    threshold it refuses and points at ``write_routes_proto_shards``, the
    executor-side writer whose concatenated shard decode is byte-equivalent
    (VERDICT r3: the ungated collect was the one flagged scale defect).

    The gate runs in two layers (ADVICE r4 + r5): a cheap
    ``limit(max_rows + 1)`` count probe FIRST — column-pruned, no proto
    encoding, so the REFUSAL path never materializes encoded rows on the
    driver — then the encoded ``limit(max_rows + 1)`` collect, whose
    length is re-checked so a non-deterministic input that grew between
    the two jobs still cannot slip past the cap."""
    probe = df.limit(max_rows + 1).select(F.lit(1).alias("_one")).count()
    refusal = (
        f"routes_to_proto_bytes: >{max_rows} rows (max_rows={max_rows}); "
        "a single in-memory Routes message would OOM the driver — use "
        "write_routes_proto_shards(df, out_dir) and concatenate shards "
        "on read (proto repeated fields are concatenative)"
    )
    if probe > max_rows:
        raise ValueError(refusal)
    parts = (
        df.select(route_proto_col(F.col(struct_col)).alias("_pb"))
        .limit(max_rows + 1)
        .collect()
    )
    if len(parts) > max_rows:
        raise ValueError(refusal)
    return b"".join(r._pb for r in parts if r._pb)


def write_routes_proto_shards(
    df: DataFrame,
    out_dir: str,
    struct_col: str = "route",
    max_shard_bytes: int = 64 * 1024 * 1024,
) -> list[dict]:
    """Executor-side sharded proto sink: each task encodes its rows and
    rolls a new ``part-{pid}-{seq}.pb`` file whenever the current shard
    would exceed ``max_shard_bytes`` (standard streaming-protobuf framing —
    every shard is itself a valid ``Routes`` message, and concatenating
    shards in any order is also one, because the file is just tagged
    length-delimited ``route`` records). Nothing but per-shard metadata
    (path, rows, bytes) reaches the driver, so the sink scales to any
    frame size.

    Filesystem contract (ADVICE r4): shards are opened INSIDE each task.
    A URI with a scheme (``s3://…``, ``gs://…``, ``hdfs://…``) is routed
    through ``fsspec`` when that library is present (import-gated — it is
    not baked into this sandbox); a plain path uses POSIX I/O and the
    task creates the directory itself, so it must resolve to a filesystem
    every executor can see — local disk in local mode, or NFS / a
    FUSE-mounted object store on a cluster. Scheme-less paths on a
    multi-node cluster without a shared mount would scatter shards across
    worker-local disks; use a scheme + fsspec there.

    Returns the shard metadata list (driver-side, one dict per shard)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    has_scheme = "://" in out_dir
    if has_scheme:
        try:
            import fsspec  # noqa: F401
        except ImportError as exc:  # pragma: no cover - env-dependent
            raise ImportError(
                f"write_routes_proto_shards: {out_dir!r} has a URI scheme, "
                "which requires the optional fsspec library (plain paths "
                "use POSIX I/O and need no extra dependency)"
            ) from exc
    encoded = df.select(route_proto_col(F.col(struct_col)).alias("_pb"))
    meta_schema = StructType(
        [
            StructField("path", StringType()),
            StructField("n_rows", LongType()),
            StructField("n_bytes", LongType()),
        ]
    )

    def _write(batches):
        import os

        from pyspark import TaskContext

        if has_scheme:
            # Executor-side import (ADVICE r5): the driver-side gate above
            # proves nothing about the EXECUTOR Python env on a real
            # cluster — re-check here so a missing library surfaces as
            # this actionable message, not a raw mid-job ImportError.
            try:
                import fsspec
            except ImportError as exc:  # pragma: no cover - env-dependent
                raise ImportError(
                    "write_routes_proto_shards: executor Python env lacks "
                    "fsspec (driver had it) — install fsspec on executors "
                    "or use a scheme-less shared-mount path"
                ) from exc

            fs, _root = fsspec.core.url_to_fs(out_dir)
            # LocalFileSystem defaults auto_mkdir=False in current fsspec:
            # a file:// URI to a nonexistent directory would fail at open.
            fs.makedirs(_root, exist_ok=True)

            _open = fsspec.open
        else:
            # Task-side directory creation: correct on any executor with a
            # shared POSIX view of out_dir (a driver-side mkdir would be
            # invisible to remote workers).
            os.makedirs(out_dir, exist_ok=True)
            _open = open

        pid = TaskContext.get().partitionId()
        seq = 0
        buf: list[bytes] = []
        size = 0
        rows = 0
        out_meta: list[tuple[str, int, int]] = []

        def _flush():
            nonlocal seq, buf, size, rows
            if not buf:
                return
            path = f"{out_dir.rstrip('/')}/part-{pid:05d}-{seq:05d}.pb"
            with _open(path, "wb") as fh:
                fh.write(b"".join(buf))
            out_meta.append((path, rows, size))
            seq += 1
            buf, size, rows = [], 0, 0

        for batch in batches:
            for rec in batch["_pb"]:
                if rec is None or len(rec) == 0:
                    continue
                rec = bytes(rec)
                if size and size + len(rec) > max_shard_bytes:
                    _flush()
                buf.append(rec)
                size += len(rec)
                rows += 1
        _flush()
        yield pd.DataFrame(out_meta, columns=["path", "n_rows", "n_bytes"])

    meta = encoded.mapInPandas(_write, schema=meta_schema).collect()
    return [r.asDict() for r in meta]
