"""JSON-lines document data source with pushdown, inference and typed decode.

Reference parity map (mongodb-labs/mongo-arrow, bindings/python/...):
- partitioned scan + Arrow batches   ≈ lib.pyx:296-311 process_bson_stream
- first-non-null schema inference,
  int32→int64 widening               ≈ lib.pyx:157-210, :248-255
- strict vs permissive (allow_invalid) value coercion
                                     ≈ builders' append_raw, lib.pyx:452-455
- NaN → null                         ≈ lib.pyx:113-121
- filter pushdown (query forwarded)  ≈ api.py:175
- schema-driven projection           ≈ schema.py:68-85 (declare a narrower
                                       schema → only those fields decoded)

Scale design: partitions are byte-ranges of the input files (newline
aligned), so parallelism = total bytes / partition_bytes regardless of file
count; with ``pushdown=true`` filters are applied before Arrow conversion
so non-matching documents never allocate (OPT-IN: Spark 4.1.2 shares one
cached read plan per loaded relation, so accepted pushdown is only safe
in load-per-query patterns — see DocumentsReader.__init__); batches are
Arrow RecordBatches (vectorized ingest path, no per-row Python→JVM
crossing).

Compressed dumps (``mongodump --gzip`` writes ``.bson.gz``; log shippers
emit ``.jsonl.gz``) are first-class: any input may carry a ``.gz`` /
``.bz2`` / ``.xz`` suffix. Those streams are not byte-splittable, so each
compressed file is decoded whole by one task; small files are bin-packed
into size-balanced multi-file partitions (first-fit decreasing on
estimated decompressed size) so a directory of many little ``.gz`` parts
still fans out evenly instead of producing one task per tiny file.

Hive-style directory partitioning (r6): ``partitionBy=col[,col2]`` on the
sink writes ``col=value/`` layouts with partition columns excluded from
the payload; the reader recovers them as typed columns from the path
(Spark-style type inference when schemaless) and, under ``pushdown=true``,
prunes whole files at LISTING time for filters on partition columns — the
jsonl analog of parquet partition pruning, which is the single biggest
scan lever at 100 TB (a date-partitioned corpus filtered to one day reads
1/365th of the files, no decode, no I/O).
"""

from __future__ import annotations

import json
import math
import os
import uuid
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql import types as T

from mongo_arrow_spark.bson_types import METADATA_KEY as _BSON_TYPE_KEY
from mongo_arrow_spark.errors import SchemaError
from mongo_arrow_spark.execution import WRITE_MAX_BYTES
from mongo_arrow_spark.sources.files import (
    FileReader,
    FileStreamReader,
    FilesSplit,
    Split,
    byte_ranges,
    expand,
)

DEFAULT_SAMPLE_SIZE = 1000
# reference write caps: 48 MB - 16 KB and 100k ops (api.py:91-95)
WRITE_MAX_DOCS = 100_000


# --------------------------------------------------------- compression

#: suffix → opener. gzip dominates in the wild (mongodump --gzip); bz2/xz
#: ride along for free via the stdlib. ``.zst`` is ALWAYS listed (r7,
#: advisor fix): a runtime without the zstandard wheel must fail loudly
#: at planning (_require_zstd below) rather than silently omit .zst
#: files from the listing and return partial reads. The wheel gate only
#: decides whether decode/write can proceed, never what exists.
def _zstd_module():
    try:
        import zstandard

        return zstandard
    except ImportError:
        return None


_HAS_ZSTD = _zstd_module() is not None
_COMPRESSION_SUFFIXES = (".gz", ".bz2", ".xz", ".zst")


def _require_zstd(paths) -> None:
    """Driver-side early failure: .zst inputs on a wheel-less runtime
    abort at planning with the fix spelled out, instead of a worker-side
    stack later (or, worse, the pre-r7 silent omission)."""
    if _HAS_ZSTD:
        return
    bad = next((p for p in paths if p.endswith(".zst")), None)
    if bad is not None:
        raise SchemaError(
            f".zst input listed ({bad}) but the zstandard wheel is not "
            "importable in this runtime — install zstandard, or re-write "
            "the corpus with compression=gzip (SCALE.md 'zstd frame-level "
            "splits')"
        )


#: file names the source lists in a directory: .jsonl / .bson, plain or
#: compressed
_SUFFIXES = tuple(
    f".{base}{c}" for base in ("jsonl", "bson") for c in ("",) + _COMPRESSION_SUFFIXES
)


def _is_compressed(path: str) -> bool:
    return path.endswith(_COMPRESSION_SUFFIXES)


def _logical_name(path: str) -> str:
    """Path with any compression suffix stripped — format dispatch looks
    at the logical name, so ``dump.bson.gz`` routes to the BSON decoder."""
    for s in _COMPRESSION_SUFFIXES:
        if path.endswith(s):
            return path[: -len(s)]
    return path


def _open_decompressed(path: str):
    """Binary read handle with transparent decompression by suffix."""
    if path.endswith(".gz"):
        import gzip

        return gzip.open(path, "rb")
    if path.endswith(".bz2"):
        import bz2

        return bz2.open(path, "rb")
    if path.endswith(".xz"):
        import lzma

        return lzma.open(path, "rb")
    if path.endswith(".zst"):
        zstd = _zstd_module()
        if zstd is None:
            raise SchemaError(
                ".zst input requires the zstandard wheel (not in this "
                "runtime); see SCALE.md 'zstd frame-level splits'"
            )
        # stream_reader decompresses incrementally — whole-file today;
        # the frame-level split plan (seekable-format frames as
        # byte-splittable partitions) is written up in SCALE.md and
        # activates here when implemented
        return zstd.ZstdDecompressor().stream_reader(
            open(path, "rb"), closefd=True
        )
    return open(path, "rb")


def _is_bson(path: str) -> bool:
    return _logical_name(path).endswith(".bson")


# ------------------------------------------------ hive-style partitioning

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"  # Spark/Hive's null marker


def _hive_encode(v) -> str:
    """Partition value → path segment (URL-quoted like Spark's
    ExternalCatalogUtils so separators/equals in values stay unambiguous)."""
    import urllib.parse

    if v is None:
        return _HIVE_NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return urllib.parse.quote(str(v), safe="")


def _hive_parts(path: str, root: str | None = None) -> dict:
    """``name=value`` directory segments of a file path → {name: raw str}
    (None for the hive null marker). Segments are taken RELATIVE to the
    reader's base path (r7, advisor fix): a corpus rooted under e.g.
    ``/data/exp=3/corpus/`` must not grow a phantom ``exp`` column —
    Spark likewise restricts partition discovery to below basePath."""
    import urllib.parse

    rel = os.path.relpath(path, root) if root else path
    out: dict = {}
    for seg in os.path.dirname(rel).split(os.sep):
        if seg in (os.curdir, os.pardir):
            continue
        if "=" in seg and not seg.startswith("="):
            k, _, raw = seg.partition("=")
            out[k] = None if raw == _HIVE_NULL else urllib.parse.unquote(raw)
    return out


def _glob_root(p: str) -> str:
    """Longest real-directory prefix of a path/glob — the hive base for
    non-directory inputs (`/data/c/year=*/part.jsonl` → `/data/c`)."""
    head = p
    while head and (
        any(ch in os.path.basename(head) for ch in "*?[")
        or not os.path.isdir(head)
    ):
        nxt = os.path.dirname(head)
        if nxt == head:
            break
        head = nxt
    return head


def _hive_roots(paths) -> list[str]:
    """Hive base path for each user-supplied input."""
    if isinstance(paths, str):
        paths = [paths]
    return [
        p if os.path.isdir(p) else _glob_root(p) for p in (paths or [])
    ]


def _root_for(path: str, roots: list[str]) -> str:
    """Deepest configured base containing ``path`` (fallback: its own
    directory, i.e. no partition segments)."""
    best = None
    for r in roots:
        if path == r or path.startswith(r.rstrip(os.sep) + os.sep):
            if best is None or len(r) > len(best):
                best = r
    return best if best is not None else os.path.dirname(path)


def _coerce_partition(raw: str | None, dt: T.DataType):
    """Typed decode of one hive path value. Partition dirs are layout
    metadata, not data — an unparsable value is a structural error, so
    this raises rather than nulling."""
    if raw is None:
        return None
    try:
        if isinstance(dt, (T.LongType, T.IntegerType)):
            return int(raw)
        if isinstance(dt, (T.DoubleType, T.FloatType)):
            return float(raw)
        if isinstance(dt, T.BooleanType):
            return {"true": True, "false": False}[raw.lower()]
        if isinstance(dt, T.StringType):
            return raw
        if isinstance(dt, T.DateType):
            import datetime as dtm

            return dtm.date.fromisoformat(raw)
        if isinstance(dt, T.TimestampType):
            import datetime as dtm

            return dtm.datetime.fromisoformat(raw)
    except (ValueError, KeyError) as exc:
        raise SchemaError(f"bad partition value {raw!r} for {dt}: {exc}")
    raise SchemaError(f"unsupported partition column type: {dt}")


def _infer_partition_type(values) -> T.DataType:
    """Spark-style partition type inference: all-int → long, all-float →
    double, else string (nulls ignored)."""
    seen = [v for v in values if v is not None]
    if not seen:
        return T.StringType()
    for caster, t in ((int, T.LongType()), (float, T.DoubleType())):
        try:
            for v in seen:
                caster(v)
            return t
        except ValueError:
            continue
    return T.StringType()


# ------------------------------------------------------------- inference


def _infer_value(v):
    return _infer_field(v)[0]


def _infer_field(v) -> tuple:
    """(DataType, field metadata) for one observed value. Metadata tags
    BSON extension scalars so schemaless .bson reads produce the same
    typed columns the declared-schema path does — mirroring the
    reference's extension-typed inference (lib.pyx:157-210), which emits
    ObjectId/Decimal128 extension columns, not strings."""
    import datetime as _dtm
    import decimal as _decimal

    if v is None:
        return T.NullType(), {}
    if isinstance(v, bool):
        return T.BooleanType(), {}
    # BSON-decoded scalars (the .bson read path yields these natively)
    if isinstance(v, _dtm.datetime):
        return T.TimestampType(), {}
    from mongo_arrow_spark.bson_values import Decimal128 as _D128
    from mongo_arrow_spark.bson_values import ObjectId as _OID

    if isinstance(v, _OID):
        # 12-byte binary + tag (reference ObjectIdType, types.py:87-107)
        return T.BinaryType(), {_BSON_TYPE_KEY: "objectid"}
    if isinstance(v, _D128):
        # lossless 16-byte BID carrier + tag (reference Decimal128Type,
        # lib.pyx:740-762) — same column the declared Decimal128(raw=True)
        # spelling produces, so schemaless == declared
        return T.BinaryType(), {_BSON_TYPE_KEY: "decimal128[bid]"}
    if isinstance(v, (bytes, bytearray)):
        return T.BinaryType(), {}
    if isinstance(v, _decimal.Decimal):
        return T.DoubleType(), {}
    if isinstance(v, int):
        # reference infers int32 first and widens (lib.pyx:248-255); we
        # record the narrow type and widen on later evidence
        return (
            T.IntegerType() if -(2**31) <= v < 2**31 else T.LongType()
        ), {}
    if isinstance(v, float):
        return T.DoubleType(), {}
    if isinstance(v, str):
        return T.StringType(), {}
    if isinstance(v, list):
        elem: T.DataType = T.NullType()
        emeta: dict = {}
        for e in v:
            et, em = _infer_field(e)
            elem = _merge_types(elem, et)
            emeta = emeta or em
        return T.ArrayType(elem), emeta
    if isinstance(v, dict):
        u = _unwrap_ext_json(v)
        if u is not v:  # Extended-JSON wrapper: infer from the native value
            return _infer_field(u)
        fields = []
        for k, x in v.items():
            ft, fm = _infer_field(x)
            fields.append(T.StructField(k, ft, True, metadata=fm))
        return T.StructType(fields), {}
    if hasattr(v, "time") and hasattr(v, "inc"):
        # BSON internal timestamp → struct<time, inc> carrier
        return (
            T.StructType(
                [
                    T.StructField("time", T.LongType(), True),
                    T.StructField("inc", T.LongType(), True),
                ]
            ),
            {},
        )
    return T.StringType(), {}


def _merge_types(a: T.DataType, b: T.DataType) -> T.DataType:
    if isinstance(a, T.NullType):
        return b
    if isinstance(b, T.NullType):
        return a
    if a == b:
        return a
    ints = (T.IntegerType(), T.LongType())
    if a in ints and b in ints:
        return T.LongType()  # int32→int64 widening (lib.pyx:248-255)
    if {type(a), type(b)} <= {T.IntegerType, T.LongType, T.DoubleType}:
        return T.DoubleType()
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(_merge_types(a.elementType, b.elementType))
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        fields: dict[str, T.DataType] = {f.name: f.dataType for f in a.fields}
        metas: dict[str, dict] = {f.name: f.metadata or {} for f in a.fields}
        for f in b.fields:
            if f.name in fields:
                fields[f.name] = _merge_types(fields[f.name], f.dataType)
                metas[f.name] = metas[f.name] or f.metadata or {}
            else:
                fields[f.name] = f.dataType
                metas[f.name] = f.metadata or {}
        return T.StructType(
            [
                T.StructField(k, v, True, metadata=metas[k])
                for k, v in fields.items()
            ]
        )
    # heterogeneous, non-coercible: keep the first-seen type; other values
    # null out in permissive decode (reference test_arrow.py:765-773)
    return a


def infer_schema(
    paths: list[str] | str,
    sample_size: int = DEFAULT_SAMPLE_SIZE,
    drop_corrupt: bool = False,
    base_path: str | None = None,
) -> T.StructType:
    """First-non-null sampling inference over the head of the files.
    ``base_path`` overrides the hive-partition discovery root (Spark's
    ``basePath`` option): name=value segments are taken relative to it,
    letting a user read ``root/year=2024/`` alone while still recovering
    the ``year`` column."""
    import io

    fields: dict[str, T.DataType] = {}
    metas: dict[str, dict] = {}

    def _observe(k, v):
        t, m = _infer_field(v)
        fields[k] = _merge_types(fields.get(k, T.NullType()), t)
        if k not in metas:
            metas[k] = m
        elif (
            not metas[k]
            and m
            and isinstance(fields[k], (T.NullType, T.BinaryType, T.ArrayType))
        ):
            # first observation(s) were null, so the meta slot was pinned
            # to {}: adopt the tagged-carrier metadata now that a typed
            # value appeared — otherwise a null-first Decimal128/ObjectId
            # column infers as plain binary and decodes to NULL silently
            metas[k] = m
        elif metas[k] and not isinstance(fields[k], (T.BinaryType, T.ArrayType)):
            metas[k] = {}  # type diverged from the tagged carrier: drop tag

    listed = expand(paths, _SUFFIXES)
    seen = 0
    for path in listed:
        if _is_bson(path):
            try:
                from bson import decode_file_iter
            except ImportError:
                from mongo_arrow_spark.bson_codec import decode_file_iter
            with _open_decompressed(path) as bfh:
                for doc in decode_file_iter(bfh):
                    for k, v in doc.items():
                        _observe(k, v)
                    seen += 1
                    if seen >= sample_size:
                        break
            if seen >= sample_size:
                break
            continue
        with io.TextIOWrapper(
            _open_decompressed(path), encoding="utf-8", errors="replace"
        ) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                try:
                    doc = json.loads(line)
                except json.JSONDecodeError:
                    if drop_corrupt:
                        continue
                    raise SchemaError(f"corrupt JSON line in {path}")
                if not isinstance(doc, dict):
                    if drop_corrupt:
                        continue
                    raise SchemaError(f"non-document line in {path}")
                for k, v in doc.items():
                    _observe(k, v)
                seen += 1
                if seen >= sample_size:
                    break
        if seen >= sample_size:
            break
    # hive partition columns: discovered from the path layout, typed by
    # Spark-style inference (all-int → long, all-float → double, else
    # string); a payload field of the same name keeps its doc-inferred
    # type (the partition value overrides it at read, like Spark)
    pobserved: dict[str, list] = {}
    hroots = [base_path] if base_path else _hive_roots(paths)
    for path in listed:
        for k, v in _hive_parts(path, _root_for(path, hroots)).items():
            pobserved.setdefault(k, []).append(v)
    for k, vals in pobserved.items():
        if k not in fields:
            fields[k] = _infer_partition_type(vals)
            metas[k] = {}
    if not fields:
        raise SchemaError("cannot infer schema from empty input")
    return T.StructType(
        [
            T.StructField(
                k,
                v if not isinstance(v, T.NullType) else T.StringType(),
                True,
                metadata=metas.get(k) or {},
            )
            for k, v in fields.items()
        ]
    )


# -------------------------------------------------- extended JSON (v2)

#: mongoexport writes MongoDB Extended JSON v2: typed values wrapped as
#: single-key objects. Decode unwraps them to the same native carriers
#: the .bson path yields, so a mongoexport .jsonl and a mongodump .bson
#: of one collection produce identical typed columns.
_EXT_JSON_KEYS = frozenset(
    {
        "$oid",
        "$date",
        "$numberInt",
        "$numberLong",
        "$numberDouble",
        "$numberDecimal",
        "$binary",
        "$timestamp",
        "$code",
        "$uuid",
        "$minKey",
        "$maxKey",
        "$regularExpression",
    }
)


def _unwrap_ext_json(v: dict):
    """One Extended-JSON wrapper dict → native python value; the input
    unchanged if it isn't a recognized wrapper. Canonical AND relaxed
    spellings accepted ({"$date": "ISO"} and {"$date": {"$numberLong":
    "ms"}})."""
    if not (isinstance(v, dict) and v and set(v) <= _EXT_JSON_KEYS | {"$scope"}):
        return v
    try:
        if "$oid" in v:
            from mongo_arrow_spark.bson_values import ObjectId

            return ObjectId(v["$oid"])
        if "$date" in v:
            import datetime as dtm

            d = v["$date"]
            if isinstance(d, dict) and "$numberLong" in d:
                d = int(d["$numberLong"])
            if isinstance(d, (int, float)):
                return dtm.datetime.fromtimestamp(
                    d / 1000.0, tz=dtm.timezone.utc
                ).replace(tzinfo=None)
            parsed = dtm.datetime.fromisoformat(str(d).replace("Z", "+00:00"))
            if parsed.tzinfo is not None:
                # convert offset-bearing dates to UTC before stripping the
                # tzinfo — {"$date": "...T05:00:00+05:00"} is 00:00 UTC,
                # matching the bson path's epoch-millis decode
                parsed = parsed.astimezone(dtm.timezone.utc)
            return parsed.replace(tzinfo=None)
        if "$numberInt" in v:
            return int(v["$numberInt"])
        if "$numberLong" in v:
            return int(v["$numberLong"])
        if "$numberDouble" in v:
            s = str(v["$numberDouble"])
            return float({"Infinity": "inf", "-Infinity": "-inf", "NaN": "nan"}.get(s, s))
        if "$numberDecimal" in v:
            import decimal

            from mongo_arrow_spark.bson_values import _DEC128_CTX, Decimal128

            return Decimal128(_DEC128_CTX.create_decimal(str(v["$numberDecimal"])))
        if "$binary" in v:
            import base64

            b = v["$binary"]
            if isinstance(b, dict):
                return base64.b64decode(b["base64"])
            return base64.b64decode(b)
        if "$uuid" in v:
            import uuid as _uuidm

            return _uuidm.UUID(v["$uuid"]).bytes
        if "$timestamp" in v:
            from mongo_arrow_spark.bson_codec import Timestamp

            return Timestamp(int(v["$timestamp"]["t"]), int(v["$timestamp"]["i"]))
        if "$code" in v:
            return str(v["$code"])
        if "$regularExpression" in v:
            rx = v["$regularExpression"]
            return str(rx.get("pattern", ""))
    except (ValueError, KeyError, TypeError, ArithmeticError):
        return v  # malformed wrapper: fall through to normal handling
    return v  # $minKey/$maxKey carry no columnar value


# ----------------------------------------------------------------- decode


def _coerce(v, dt: T.DataType, strict: bool, path: str, meta: dict | None = None):
    """Typed decode of one JSON value (reference append_raw semantics:
    strict raises TypeError, permissive nulls; NaN→null; bool/int/double
    coercions follow lib.pyx:524-598).

    ``meta`` is the column's schema metadata: a ``decimal128[bid]``
    binary column decodes numeric/decimal-string/extended-JSON values to
    the lossless 16-byte BID carrier (reference lib.pyx:740-762)."""
    if v is None:
        return None
    if isinstance(v, dict):
        # mongoexport Extended JSON v2 wrappers → native carriers (the
        # same values the .bson decode path yields)
        v = _unwrap_ext_json(v)
        if v is None:
            return None
    if (
        meta
        and meta.get(_BSON_TYPE_KEY) == "decimal128[bid]"
        and isinstance(dt, T.BinaryType)
    ):
        return _coerce_bid(v, strict, path)
    try:
        if isinstance(dt, T.BooleanType):
            if isinstance(v, bool):
                return v
        elif isinstance(dt, (T.LongType, T.IntegerType)):
            if isinstance(v, bool):
                return int(v)
            if isinstance(v, int):
                return v
            if isinstance(v, float):
                if math.isnan(v):
                    return None
                if v.is_integer():
                    return int(v)
                if strict:
                    # INTENTIONAL divergence from the reference: its
                    # Int64Builder appends bson_iter_as_int64 for
                    # BSON_TYPE_DOUBLE unconditionally (silent truncation
                    # even with allow_invalid=False, lib.pyx:558-574); we
                    # treat a lossy double→int as a strict-mode error
                    # because silent truncation is a data bug at corpus
                    # scale. Permissive mode matches the reference.
                    raise TypeError(
                        f"lossy double→int for {v!r} at {path!r} (strict mode)"
                    )
                return int(v)  # permissive: truncate toward zero
        elif isinstance(dt, (T.DoubleType, T.FloatType)):
            # FloatType shares the double path (r8 fix: a declared
            # array<float> embedding column silently nulled every
            # element before — floats fell through to permissive-null);
            # Spark narrows the python double to float32 on ingest.
            if isinstance(v, bool):
                return float(v)
            if isinstance(v, (int, float)):
                f = float(v)
                return None if math.isnan(f) else f
        elif isinstance(dt, T.StringType):
            if isinstance(v, str):
                return v
            from mongo_arrow_spark.bson_values import Decimal128 as _D128
            from mongo_arrow_spark.bson_values import ObjectId as _OID

            # BSON scalar classes from the .bson decode path: their
            # canonical string forms (hex oid / decimal string)
            if isinstance(v, (_OID, _D128)):
                return str(v)
        elif isinstance(dt, T.TimestampType):
            import datetime as dtm

            if isinstance(v, dtm.datetime):
                return v  # .bson path decodes datetimes natively
            if isinstance(v, str):
                parsed = dtm.datetime.fromisoformat(v.replace("Z", "+00:00"))
                if parsed.tzinfo is not None:
                    parsed = parsed.astimezone(dtm.timezone.utc).replace(
                        tzinfo=None
                    )
                return parsed
            if isinstance(v, (int, float)):
                # integer epoch-millis, the BSON datetime carrier
                return dtm.datetime.fromtimestamp(
                    v / 1000.0, tz=dtm.timezone.utc
                ).replace(tzinfo=None)
        elif isinstance(dt, T.ArrayType):
            if isinstance(v, list):
                return [_coerce(e, dt.elementType, strict, path + "[]", meta) for e in v]
        elif isinstance(dt, T.StructType):
            if isinstance(v, dict):
                return tuple(
                    _coerce(v.get(f.name), f.dataType, strict, f"{path}.{f.name}", f.metadata)
                    for f in dt.fields
                )
            # BSON internal timestamp (type 0x11) → struct<time, inc>
            # carrier ($tsSecond/$tsIncrement read these fields)
            if hasattr(v, "time") and hasattr(v, "inc"):
                parts = {"time": v.time, "inc": v.inc}
                return tuple(
                    _coerce(parts.get(f.name), f.dataType, strict, f"{path}.{f.name}", f.metadata)
                    for f in dt.fields
                )
        elif isinstance(dt, T.DecimalType):
            import decimal

            if isinstance(v, dict) and "$numberDecimal" in v:
                v = v["$numberDecimal"]  # extended-JSON carrier
            from mongo_arrow_spark.bson_values import Decimal128 as _D128c

            if isinstance(v, _D128c):  # .bson decode path: native carrier
                v = str(v.to_decimal())
            if isinstance(v, (int, float, str)) and not isinstance(v, bool):
                d = decimal.Decimal(str(v))
                if not d.is_finite():
                    return None  # DecimalType cannot carry NaN/Inf
                # quantize to the declared scale (the documented,
                # configurable truncation; raw=True keeps full fidelity);
                # explicit context: default prec=28 < DecimalType's 38
                return d.quantize(
                    decimal.Decimal(1).scaleb(-dt.scale),
                    rounding=decimal.ROUND_HALF_EVEN,
                    context=decimal.Context(prec=dt.precision),
                )
        elif isinstance(dt, T.BinaryType):
            from mongo_arrow_spark.bson_values import ObjectId as _OIDc

            if isinstance(v, _OIDc):  # .bson decode path: 12 raw bytes
                return v.binary
            if isinstance(v, str):
                import base64

                if meta and meta.get(_BSON_TYPE_KEY) == "objectid" and len(v) == 24:
                    return bytes.fromhex(v)  # canonical hex oid spelling
                return base64.b64decode(v)
            if isinstance(v, (bytes, bytearray)):
                return bytes(v)
    except (ValueError, OverflowError, ArithmeticError):
        pass
    if strict:
        raise TypeError(f"Got unexpected type {type(v).__name__!r} at {path!r}")
    return None


def _coerce_bid(v, strict: bool, path: str):
    """Decode one value to 16 BID bytes: extended JSON
    ({"$numberDecimal": ...}), decimal strings (incl. NaN/±Infinity),
    numbers, base64 of a 16-byte BID (our writer's round-trip form)."""
    import base64
    import decimal

    from mongo_arrow_spark.bson_values import (
        _DEC128_CTX,
        Decimal128,
        decimal128_to_bid,
    )

    if isinstance(v, Decimal128):  # .bson decode path: carrier passthrough
        return v.bid
    if isinstance(v, dict) and "$numberDecimal" in v:
        v = v["$numberDecimal"]
    if isinstance(v, (bytes, bytearray)) and len(v) == 16:
        return bytes(v)
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return decimal128_to_bid(decimal.Decimal(str(v)))
    if isinstance(v, str):
        try:
            return decimal128_to_bid(_DEC128_CTX.create_decimal(v))
        except (decimal.DecimalException, ValueError):
            try:
                raw = base64.b64decode(v, validate=True)
                if len(raw) == 16:
                    return raw
            except Exception:
                pass
    if strict:
        raise TypeError(f"Got unexpected type {type(v).__name__!r} at {path!r}")
    return None


#: Leaf types whose pushed-filter comparison is exact after _coerce().
#: Timestamp/binary/array/struct filters are yielded back to Spark
#: (post-scan re-check) — comparing those against raw JSON carriers
#: (str/int epoch-millis, base64 str) would be wrong or raise.
_FILTERABLE_TYPES = (
    T.StringType,
    T.BooleanType,
    T.LongType,
    T.IntegerType,
    T.DoubleType,
    T.FloatType,
)


def _attr_type(schema: T.StructType, attr) -> T.DataType | None:
    """Resolve a pushed filter's (possibly dotted) attribute to its
    declared leaf type; None if the path doesn't resolve to a field."""
    cur: T.DataType = schema
    for part in attr:
        if not isinstance(cur, T.StructType):
            return None
        try:
            cur = cur[part].dataType
        except KeyError:
            return None
    return cur


def _filter_fn(filters: list[Filter], schema: T.StructType):
    """Compile pushed filters into a python predicate over raw docs —
    evaluated BEFORE Arrow conversion, so filtered docs cost only a
    json parse (the decode-skip the reference gets from server-side
    $match, api.py:175).

    Values are _coerce()d to the declared field type before comparing,
    so the filter sees exactly what the decoded column will contain
    (raw 3.7 under an int field filters as 3, matching the decode)."""

    types = {f.attribute: _attr_type(schema, f.attribute) for f in filters}

    def _get(doc, attr):
        cur = doc
        for part in attr:
            if not isinstance(cur, dict):
                return None
            cur = cur.get(part)
        dt = types.get(attr)
        return _coerce(cur, dt, False, ".".join(attr)) if dt is not None else cur

    def pred(doc) -> bool:
        for f in filters:
            a = f.attribute
            if isinstance(f, EqualTo):
                if _get(doc, a) != f.value:
                    return False
            elif isinstance(f, GreaterThan):
                v = _get(doc, a)
                if v is None or not v > f.value:
                    return False
            elif isinstance(f, GreaterThanOrEqual):
                v = _get(doc, a)
                if v is None or not v >= f.value:
                    return False
            elif isinstance(f, LessThan):
                v = _get(doc, a)
                if v is None or not v < f.value:
                    return False
            elif isinstance(f, LessThanOrEqual):
                v = _get(doc, a)
                if v is None or not v <= f.value:
                    return False
            elif isinstance(f, In):
                # the datasource API field is `value` (a tuple) — r6 fix:
                # `f.values` raised AttributeError on the first pushed In
                if _get(doc, a) not in f.value:
                    return False
            elif isinstance(f, IsNull):
                if _get(doc, a) is not None:
                    return False
            elif isinstance(f, IsNotNull):
                if _get(doc, a) is None:
                    return False
        return True

    return pred


_SUPPORTED_FILTERS = (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    LessThan,
    LessThanOrEqual,
    In,
    IsNull,
    IsNotNull,
)


class DocumentsReader(FileReader):
    suffixes = _SUFFIXES

    def __init__(self, schema: T.StructType, options):
        super().__init__(schema, options)
        base = options.get("basepath")
        self.hive_roots = [base] if base else _hive_roots(options.get("path"))
        self.strict = str(options.get("mode", "PERMISSIVE")).upper() == "FAILFAST"
        self.filters: list[Filter] = []

    def partitions(self):
        _require_zstd(self.paths)
        return super().partitions()

    def _ranges(self, path: str, size: int) -> int:
        if _is_compressed(path):
            return 0  # not byte-splittable: decode whole, bin-pack for balance
        if path.endswith(".bson"):
            return 1  # length-prefixed: no byte splits
        return byte_ranges(size, self.partition_bytes)

    def read(self, part) -> Iterator:
        import pyarrow as pa

        from pyspark.sql.pandas.types import to_arrow_schema

        if isinstance(part, Split) and not part.path:
            return
        arrow_schema = to_arrow_schema(self.schema)
        pred = _filter_fn(self.filters, self.schema)
        fields = self.schema.fields
        cols: list[list] = [[] for _ in fields]
        n = 0
        for doc, pv in self._docs_with_pvals(part):
            if pv:
                doc.update(pv)  # typed values: pred sees them like payload
            if self.filters and not pred(doc):
                continue
            for i, f in enumerate(fields):
                if pv and f.name in pv:
                    # partition columns come from the path, pre-typed —
                    # never through the payload coercion
                    cols[i].append(pv[f.name])
                else:
                    cols[i].append(
                        _coerce(doc.get(f.name), f.dataType, self.strict, f.name, f.metadata)
                    )
            n += 1
            if n >= self.batch_size:
                yield _to_batch(pa, arrow_schema, cols)
                cols = [[] for _ in fields]
                n = 0
        if n:
            yield _to_batch(pa, arrow_schema, cols)

    def _pvals_for(self, path: str) -> dict:
        """Typed hive partition values of one file, restricted to schema
        fields (unknown segments are ignored — they may be user dirs)."""
        raw = _hive_parts(path, _root_for(path, self.hive_roots))
        if not raw:
            return {}
        return {
            f.name: _coerce_partition(raw[f.name], f.dataType)
            for f in self.schema.fields
            if f.name in raw
        }

    def _docs_with_pvals(self, part) -> Iterator[tuple]:
        """(doc, partition-values) pairs for one split — pvals resolved
        per FILE, since bin-packed FilesSplit groups may span dirs."""
        if isinstance(part, FilesSplit):
            for path in part.paths:
                pv = self._pvals_for(path)
                for doc in self._whole_file_docs(path):
                    yield doc, pv
            return
        pv = self._pvals_for(part.path)
        for doc in self._raw_docs(part):
            yield doc, pv

    def _raw_docs(self, part: Split) -> Iterator[dict]:
        """Raw document stream for one split, before filter/coerce."""
        if _is_bson(part.path):
            yield from self._whole_file_docs(part.path)
            return
        # plain .jsonl byte-range. Binary mode: a byte-offset seek on a
        # text-mode handle can land mid multi-byte UTF-8 char and
        # readline() then raises UnicodeDecodeError; on bytes the seek is
        # safe and each complete line decodes independently (offsets
        # align with getsize/tell)
        with open(part.path, "rb") as fh:
            fh.seek(part.start)
            if part.start > 0:
                fh.readline()  # skip the partial line owned by the previous split
            while fh.tell() <= part.end:
                raw = fh.readline()
                if not raw:
                    break
                doc = self._parse_line(raw, part.path, f"byte {fh.tell()}")
                if doc is not None:
                    yield doc

    def _whole_file_docs(self, path: str) -> Iterator[dict]:
        """Decode one entire file (the only option for compressed input;
        also the .bson shape — length-prefixed docs can't split on
        newlines). BSON dump support is the reference's native format —
        its core kernel IS BSON-stream decode (lib.pyx:296-311);
        pymongo's C decoder is preferred when installed, else the pure-
        Python spec codec (bson_codec.py) decodes the same stream."""
        if _is_bson(path):
            try:
                from bson import decode_file_iter
            except ImportError:
                from mongo_arrow_spark.bson_codec import decode_file_iter
            with _open_decompressed(path) as fh:
                yield from decode_file_iter(fh)
            return
        with _open_decompressed(path) as fh:
            for lineno, raw in enumerate(fh, 1):
                doc = self._parse_line(raw, path, f"line {lineno}")
                if doc is not None:
                    yield doc

    def _parse_line(self, raw: bytes, path: str, where: str) -> dict | None:
        """One JSON line → dict, honoring corruptMode. None = skip."""
        try:
            line = raw.decode("utf-8").strip()
            if not line:
                return None
            doc = json.loads(line)
        except (UnicodeDecodeError, json.JSONDecodeError) as exc:
            if self.corrupt_mode == "drop":
                return None
            raise ValueError(
                f"corrupt document line in {path} near {where}: {exc}"
            ) from exc
        if not isinstance(doc, dict):
            if self.corrupt_mode == "drop":
                return None
            raise ValueError(
                f"corrupt document line in {path} near {where}: top-level "
                f"JSON must be an object, got {type(doc).__name__}"
            )
        return doc


class DocumentsPushdownReader(DocumentsReader):
    """Decode-skip filter pushdown variant, selected only for pushdown=true.

    Kept as a SEPARATE class because Spark 4.1 hard-raises
    [DATA_SOURCE_PUSHDOWN_DISABLED] at scan init whenever a reader merely
    *defines* ``pushFilters()`` while ``spark.sql.python.filterPushdown
    .enabled`` is false — the base reader must not carry the method, or
    the source breaks under any session conf it doesn't control.

    Pushdown is OPT-IN because Spark 4.1.2 caches one readInfo per
    python-datasource RELATION (PythonDataSourceV2.getOrCreateReadInfo)
    and PythonScanBuilder.pushFilters overwrites that shared cache, so a
    filterless re-scan of the same loaded DataFrame after a filtered
    query silently reuses the filter-poisoned read plan and DROPS ROWS.
    Accepting pushed filters is therefore only safe in load-per-query
    patterns (one query shape per load()). The default reader keeps
    every scan correct: Spark evaluates all filters post-scan.
    """

    def pushFilters(self, filters: list[Filter]):
        for f in filters:
            leaf = (
                _attr_type(self.schema, f.attribute)
                if hasattr(f, "attribute")
                else None
            )
            if isinstance(f, _SUPPORTED_FILTERS) and isinstance(
                leaf, _FILTERABLE_TYPES
            ):
                self.filters.append(f)
            else:
                # unsupported class OR a leaf type (timestamp/binary/
                # nested) whose raw-JSON comparison isn't exact →
                # Spark re-evaluates post-scan
                yield f

    def partitions(self):
        """Hive partition pruning: accepted filters that reference a
        file's partition columns are evaluated against the PATH values,
        so whole files (and whole bin-packed groups' members) are
        skipped before a single byte is read or decoded — the
        listing-level analog of parquet partition pruning. Row-level
        evaluation of the same filters stays in read() for payload
        columns; partition columns are injected into each doc, so a
        claimed partition filter is also correct row-wise."""
        splits = super().partitions()
        if not self.filters:
            return splits

        def keep(path: str) -> bool:
            if not path:
                return True
            pv = self._pvals_for(path)
            if not pv:
                return True
            sub = [
                f
                for f in self.filters
                if len(getattr(f, "attribute", ())) == 1
                and f.attribute[0] in pv
            ]
            return not sub or _filter_fn(sub, self.schema)(pv)

        out: list[InputPartition] = []
        for s in splits:
            if isinstance(s, FilesSplit):
                kept = tuple(p for p in s.paths if keep(p))
                if kept:
                    out.append(FilesSplit(kept))
            elif keep(s.path):
                out.append(s)
        return out or [Split("", 0, 0)]


def _to_batch(pa, arrow_schema, cols):
    arrays = [
        pa.array(c, type=arrow_schema.field(i).type) for i, c in enumerate(cols)
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)


# ------------------------------------------------------------------ writer


@dataclass
class _WriteResult(WriterCommitMessage):
    files: list
    docs: int


#: single-column schema name used by the pre-serialized fast path — the
#: caller builds the complete JSON line JVM-side (F.to_json) and the writer
#: only streams bytes to disk (api.write() sets this up automatically).
PRESERIALIZED_COL = "__json_line__"


class DocumentsWriter(DataSourceArrowWriter):
    """Vectorized JSON-lines sink with the reference's byte/count caps
    (api.py:91-95): each task rolls to a new part file at 48 MB − 16 KB or
    100k docs; ``excludeNone`` mirrors write(exclude_none=True)
    (api.py:553-575).

    Data arrives as Arrow RecordBatches (DataSourceArrowWriter), never as
    Python Rows. Two paths:

    - **pre-serialized** (the hot path, used by ``api.write``): the input
      is one string column named ``__json_line__`` whose values are
      complete JSON documents built JVM-side by ``F.to_json`` — the writer
      computes per-line byte lengths from the Arrow buffer offsets,
      vectorized, and streams slices to disk. No Python-per-document work
      at all, so sink throughput scales with executor count at 100 TB.
    - **generic** (direct ``df.write.format("documents")`` users): the
      batch is pivoted via ``to_pylist()`` (columnar Arrow→Python, no Spark
      Row objects) and serialized with the same special-value codecs the
      reader round-trips (``_json_default``).
    """

    def __init__(self, schema: T.StructType, options, overwrite: bool):
        self.schema = schema
        self.path = options.get("path")
        self.exclude_none = str(options.get("excludenone", "false")).lower() == "true"
        self.max_bytes = int(options.get("maxbytes", WRITE_MAX_BYTES))
        self.max_docs = int(options.get("maxdocs", WRITE_MAX_DOCS))
        self.preserialized = (
            str(options.get("preserialized", "false")).lower() == "true"
        )
        self.file_format = str(options.get("fileformat", "jsonl")).lower()
        if self.file_format not in ("jsonl", "bson"):
            raise SchemaError(
                f"fileFormat must be 'jsonl' or 'bson', got {self.file_format!r}"
            )
        if self.file_format == "bson" and self.preserialized:
            raise SchemaError("fileFormat=bson is incompatible with preserialized")
        # compression=gzip|bz2|xz appends the matching suffix and wraps the
        # part-file handle; the roll caps (maxBytes/maxDocs) count
        # UNCOMPRESSED bytes — the reference's 48 MB cap is a payload cap
        # (api.py:91-95), and payload size is what the reader's
        # whole-file decode partitions must bound.
        self.compression = str(options.get("compression", "none")).lower()
        allowed = ("none", "gzip", "bz2", "xz") + (("zstd",) if _HAS_ZSTD else ())
        if self.compression not in allowed:
            raise SchemaError(
                f"compression must be one of {'|'.join(allowed)}, got "
                f"{self.compression!r}"
            )
        # extendedJson=true emits MongoDB Extended JSON v2 wrappers for
        # typed values (datetime → $date, binary → $binary, decimal →
        # $numberDecimal) — mongoimport-compatible, and this source reads
        # the wrappers back into the same typed columns (type-faithful
        # jsonl round-trip without a declared schema)
        self.extended_json = (
            str(options.get("extendedjson", "false")).lower() == "true"
        )
        if self.extended_json and self.preserialized:
            raise SchemaError("extendedJson is incompatible with preserialized")
        if self.extended_json and self.file_format == "bson":
            raise SchemaError("extendedJson applies to fileFormat=jsonl only")
        # partitionBy=col[,col2]: hive-style directory layout
        # (col=value/...), partition columns excluded from the payload —
        # read back as columns by this source, and EqualTo/In filters on
        # them prune whole files at listing time (pushdown=true)
        self.partition_by = [
            c.strip()
            for c in str(options.get("partitionby", "")).split(",")
            if c.strip()
        ]
        if self.partition_by:
            if self.preserialized:
                raise SchemaError(
                    "partitionBy is incompatible with preserialized (the "
                    "payload is already serialized with every column)"
                )
            known = {f.name for f in schema.fields}
            missing = [c for c in self.partition_by if c not in known]
            if missing:
                raise SchemaError(f"partitionBy columns not in schema: {missing}")
            if len(self.partition_by) == len(schema.fields):
                raise SchemaError("partitionBy cannot cover every column")
        if overwrite and self.path:
            # the writer is built on the driver before any write task
            # runs: drop the previous write's part files (hive
            # subdirectories included) and its _SUCCESS marker; other
            # files under the path are not ours and stay
            for root, _dirs, names in os.walk(self.path):
                for name in names:
                    if name.startswith("part-") or (
                        root == self.path and name == "_SUCCESS"
                    ):
                        os.remove(os.path.join(root, name))

    def write(self, iterator) -> _WriteResult:
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        os.makedirs(self.path, exist_ok=True)
        files, docs = [], 0
        #: per-partition-dir open-file state: reldir -> [fh, nbytes, ndocs]
        state: dict = {}
        #: bounded open handles for high-cardinality partitionBy — evicted
        #: dirs simply roll a fresh part file on their next write (no
        #: appends, so compressed streams stay single-member)
        max_open = 64

        _ext = {"gzip": ".gz", "bz2": ".bz2", "xz": ".xz", "zstd": ".zst"}.get(
            self.compression, ""
        )

        def _open_part(name):
            if self.compression == "gzip":
                import gzip

                return gzip.open(name, "wb")
            if self.compression == "bz2":
                import bz2

                return bz2.open(name, "wb")
            if self.compression == "xz":
                import lzma

                return lzma.open(name, "wb")
            if self.compression == "zstd":
                return _zstd_module().ZstdCompressor().stream_writer(
                    open(name, "wb"), closefd=True
                )
            return open(name, "wb")

        def roll(reldir: str):
            st = state.get(reldir)
            if st and st[0]:
                st[0].close()
            if len(state) >= max_open and reldir not in state:
                # evict the dir with the most bytes written (closest to a
                # natural roll anyway)
                victim = max(state, key=lambda k: state[k][1])
                state[victim][0].close()
                del state[victim]
            d = os.path.join(self.path, reldir) if reldir else self.path
            os.makedirs(d, exist_ok=True)
            name = os.path.join(
                d, f"part-{uuid.uuid4().hex}.{self.file_format}{_ext}"
            )
            files.append(name)
            state[reldir] = [_open_part(name), 0, 0]

        def emit(chunk: bytes, blen: int, n: int, reldir: str = ""):
            # chunk is ≤ one roll unit by construction of the callers
            nonlocal docs
            st = state.get(reldir)
            if (
                st is None
                or st[1] + blen > self.max_bytes
                or st[2] + n > self.max_docs
            ):
                roll(reldir)  # lazy first open: empty partitions write no files
                st = state[reldir]
            st[0].write(chunk)
            st[1] += blen
            st[2] += n
            docs += n

        for batch in iterator:
            if self.preserialized and batch.num_columns == 1:
                arr = batch.column(0)
                if isinstance(arr, pa.ChunkedArray):  # pragma: no cover
                    arr = arr.combine_chunks()
                # every line with its newline, as one Arrow data buffer:
                # a slice of lines is a slice of that buffer, cut at the
                # value offsets — no Python string per document
                if not len(arr):
                    continue
                lined = pc.binary_join_element_wise(arr, "\n", "")
                _, off_buf, data = lined.buffers()
                width = np.int64 if pa.types.is_large_string(lined.type) else np.int32
                offs = np.frombuffer(off_buf, dtype=width)[
                    lined.offset : lined.offset + len(lined) + 1
                ]
                csum = offs[1:] - offs[0]
                start = 0
                while start < len(arr):
                    base = csum[start - 1] if start else 0
                    # longest prefix fitting both caps
                    stop = int(
                        np.searchsorted(csum, base + self.max_bytes, side="right")
                    )
                    stop = min(max(stop, start + 1), start + self.max_docs, len(arr))
                    # pad to a fresh file when the current one can't take
                    # even one more doc of this run
                    chunk = memoryview(data)[offs[start] : offs[stop]]
                    emit(chunk, int(csum[stop - 1] - base), stop - start)
                    start = stop
            elif self.file_format == "bson":
                # mongodump-format sink: length-prefixed BSON documents
                # (readable back by this source or any BSON tool)
                from mongo_arrow_spark.bson_codec import encode_document

                for doc in batch.to_pylist():
                    reldir = self._reldir(doc)
                    if self.exclude_none:
                        doc = {k: v for k, v in doc.items() if v is not None}
                    data = encode_document(doc)
                    emit(data, len(data), 1, reldir)
            else:
                default = (
                    _ext_json_default if self.extended_json else _json_default
                )
                for doc in batch.to_pylist():
                    reldir = self._reldir(doc)
                    if self.exclude_none:
                        doc = {k: v for k, v in doc.items() if v is not None}
                    data = (json.dumps(doc, default=default) + "\n").encode(
                        "utf-8"
                    )
                    emit(data, len(data), 1, reldir)
        for st in state.values():
            if st[0]:
                st[0].close()
        return _WriteResult(files=files, docs=docs)

    def _reldir(self, doc: dict) -> str:
        """Hive-style relative dir for a doc; POPS the partition columns
        out of the payload (hive convention: values live in the path)."""
        if not self.partition_by:
            return ""
        return os.sep.join(
            f"{c}={_hive_encode(doc.pop(c, None))}" for c in self.partition_by
        )

    def commit(self, messages):
        total = sum(m.docs for m in messages if m)
        marker = os.path.join(self.path, "_SUCCESS")
        with open(marker, "w") as fh:
            fh.write(str(total))

    def abort(self, messages):
        for m in messages:
            if m:
                for f in m.files:
                    try:
                        os.remove(f)
                    except OSError:
                        pass


def _json_default(v):
    import base64
    import datetime as dtm
    import decimal

    if isinstance(v, (dtm.datetime, dtm.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode("ascii")
    if isinstance(v, decimal.Decimal):
        return float(v)
    raise TypeError(f"unserializable {type(v)}")


def _ext_json_default(v):
    """Extended JSON v2 (relaxed) wrappers — what mongoexport emits and
    what this source's reader unwraps back into typed columns."""
    import base64
    import datetime as dtm
    import decimal

    if isinstance(v, dtm.datetime):
        return {"$date": v.isoformat()}
    if isinstance(v, dtm.date):
        return {"$date": v.isoformat()}
    if isinstance(v, (bytes, bytearray)):
        return {
            "$binary": {
                "base64": base64.b64encode(bytes(v)).decode("ascii"),
                "subType": "00",
            }
        }
    if isinstance(v, decimal.Decimal):
        return {"$numberDecimal": str(v)}
    raise TypeError(f"unserializable {type(v)}")


class DocumentsStreamReader(FileStreamReader):
    """``spark.readStream.format("documents")`` over a drop directory
    (see :class:`~mongo_arrow_spark.sources.files.FileStreamReader`)."""

    batch_reader = DocumentsReader


_DDL_TYPES = {
    "boolean": T.BooleanType(),
    "tinyint": T.ByteType(),
    "smallint": T.ShortType(),
    "int": T.IntegerType(),
    "integer": T.IntegerType(),
    "bigint": T.LongType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "binary": T.BinaryType(),
    "date": T.DateType(),
    "timestamp": T.TimestampType(),
}


def _split_top(s: str, sep: str = ",") -> list[str]:
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == sep and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def _parse_type(s: str) -> T.DataType:
    s = s.strip()
    low = s.lower()
    if low in _DDL_TYPES:
        return _DDL_TYPES[low]
    if low.startswith("decimal"):
        if "(" in s:
            p, sc = s[s.index("(") + 1 : s.rindex(")")].split(",")
            return T.DecimalType(int(p), int(sc))
        return T.DecimalType(10, 0)
    if low.startswith("array<") and s.endswith(">"):
        return T.ArrayType(_parse_type(s[6:-1]))
    if low.startswith("map<") and s.endswith(">"):
        k, v = _split_top(s[4:-1])
        return T.MapType(_parse_type(k), _parse_type(v))
    if low.startswith("struct<") and s.endswith(">"):
        # field lists accept both `name:type` and `name type` forms,
        # like Spark's own DDL parser
        return _parse_ddl(s[7:-1])
    raise SchemaError(f"cannot parse DDL type: {s!r}")


def _parse_ddl(ddl: str) -> T.StructType:
    """Minimal session-free DDL schema parser ("a bigint, b array<int>")."""
    fields = []
    for part in _split_top(ddl):
        part = part.strip()
        if ":" in part and " " not in part.split(":")[0]:
            name, _, t = part.partition(":")
        else:
            name, _, t = part.partition(" ")
        fields.append(T.StructField(name.strip(), _parse_type(t), True))
    return T.StructType(fields)


# ------------------------------------------------------------- data source


class DocumentsDataSource(DataSource):
    """``spark.read.format("documents")`` — register with
    :func:`register`. Options: path, basePath, mode=PERMISSIVE|FAILFAST,
    corruptMode=fail|drop, pushdown, declaredSchema, sampleSize,
    partitionBytes, batchSize; ``readStream`` adds stableFileMs (admit a
    drop-directory file once its mtime is ≥ N ms old or its size/mtime
    held still across two listings; default 0, the atomic-rename
    contract); writer adds excludeNone,
    maxBytes, maxDocs, fileFormat=jsonl|bson, compression=none|gzip|
    bz2|xz, extendedJson=true|false. Inputs may be ``.jsonl`` /
    ``.bson``, optionally suffixed ``.gz`` / ``.bz2`` / ``.xz``
    (mongodump --gzip dumps read natively); Extended JSON v2 wrappers
    in jsonl (mongoexport output) decode to typed columns."""

    @classmethod
    def name(cls) -> str:
        return "documents"

    def schema(self):
        declared = self.options.get("declaredschema")
        if declared:
            # runs in the Python worker: no SparkSession, so parse DDL
            # locally (session-free)
            return _parse_ddl(declared)
        return infer_schema(
            self.options.get("path"),
            int(self.options.get("samplesize", DEFAULT_SAMPLE_SIZE)),
            drop_corrupt=str(self.options.get("corruptmode", "fail")).lower()
            == "drop",
            base_path=self.options.get("basepath"),
        )

    def reader(self, schema: T.StructType) -> DocumentsReader:
        # pushdown=true selects the subclass that defines pushFilters();
        # the default class omits the method entirely so scans work under
        # sessions where spark.sql.python.filterPushdown.enabled is false
        # (Spark 4.1 raises DATA_SOURCE_PUSHDOWN_DISABLED otherwise).
        if str(self.options.get("pushdown", "false")).lower() == "true":
            return DocumentsPushdownReader(schema, self.options)
        return DocumentsReader(schema, self.options)

    def writer(self, schema: T.StructType, overwrite: bool) -> DocumentsWriter:
        return DocumentsWriter(schema, self.options, overwrite)

    def streamReader(self, schema: T.StructType) -> DocumentsStreamReader:
        return DocumentsStreamReader(schema, self.options)


def register(spark) -> None:
    spark.dataSource.register(DocumentsDataSource)
