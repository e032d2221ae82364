"""The benchmark's workloads: one pass of ops each, with their checks.

An op is one public call of the program plus its terminal action. The
run loop times each op from outside and checks its result against the
oracle after the timer stops. In a traced run the ``Tracer`` puts each
phase of an op under its own Spark job group and times it, and
``probe`` runs the layer probes (plan forcing, the bare ``toPandas``,
the ``noop`` scan) after the op's timer has stopped.
"""

from __future__ import annotations

import math
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import functions as F

import mongo_arrow_spark.api as api
from mongo_arrow_spark.operators import curate as curate_ops
from mongo_arrow_spark.operators import packing, text

import oracles


class Tracer:
    """Job groups and layer timers of the traced run; inert when off."""

    def __init__(self, spark, on: bool):
        self.sc = spark.sparkContext
        self.on = on
        self.begin_pass("")

    def begin_pass(self, prefix: str) -> None:
        self.prefix = prefix
        self.op = ""
        self.times: dict[str, float] = defaultdict(float)

    @contextmanager
    def phase(self, name: str, metric: str | None = None):
        if not self.on:
            yield
            return
        self.sc.setLocalProperty("spark.jobGroup.id", f"{self.prefix}{self.op}/{name}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if metric:
                self.times[metric] += time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", "untracked")


def _py(v):
    """A numpy/pandas scalar as a plain Python value; NaN and NA as None."""
    if hasattr(v, "item") and not isinstance(v, (bytes, str)):
        v = v.item()
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if type(v).__name__ in ("NAType", "NaTType"):
        return None
    return v


def _records(res) -> list[dict]:
    return res.to_pylist() if hasattr(res, "to_pylist") else res.to_dict("records")


def dir_bytes(path: str, suffixes=("",)) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path`` ending in a suffix."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")) and n.endswith(suffixes):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size, files


class Workload:
    """Base: ``ops()`` lists one pass. ``check`` raises on a wrong in-memory
    result and returns a file check for the oracle subprocess, or None.
    Each op writes under ``state["out"]``, a directory of its own pass."""

    name = ""
    PREREQS: tuple[str, ...] = ()  # ops whose state later ops read
    # untimed passes before the measured ones; the JIT keeps compiling
    # after the first: on crawl_curate the pass after it took 35 CPU
    # seconds, the next 24
    WARM_PASSES = 2
    MIN_PASSES = 1  # measured passes in an untraced run, whatever the time

    def __init__(self, spark, manifest: dict, expected):
        self.spark = spark
        self.m = manifest
        self.files = manifest["files"]
        self.expected = expected

    def ops(self) -> list[tuple[str, callable]]:
        raise NotImplementedError

    def check(self, op: str, result, state: dict) -> dict | None:
        raise NotImplementedError

    def out_bytes(self, op: str, result, state: dict) -> int:
        """Bytes the op's sink wrote."""
        return 0

    def probe(self, op: str, state: dict, tr: Tracer) -> dict | None:
        """Traced-run layer probes for ``op``, outside its timed region;
        returns a file check like ``check`` does."""

    def pass_probe(self, tr: Tracer) -> None:
        """Traced-run probes run once after each pass."""


# ------------------------------------------------------------ doc_io

_FILTER = {"qty": {"$gte": 50}, "cat": {"$in": list(oracles.EXPORT_FILTER_CATS)}}
_FILTER_PROJ = {"_id": 0, "n": 1, "qty": 1, "cat": 1, "sub.score": 1}
_GROUP = [
    {"$group": {"_id": "$cat", "n": {"$sum": 1}, "qty": {"$sum": "$qty"},
                "score": {"$avg": "$sub.score"}, "last": {"$max": "$ts"}}},
    {"$sort": {"_id": 1}},
]
_UNWIND = [
    {"$unwind": "$tags"},
    {"$group": {"_id": "$tags", "n": {"$sum": 1}}},
    {"$sort": {"n": -1, "_id": 1}},
    {"$limit": 5},
]
_WINDOW = [
    {"$setWindowFields": {
        "partitionBy": "$cat",
        "sortBy": {"n": 1},
        "output": {
            "cum_qty": {"$sum": "$qty", "window": {"documents": ["unbounded", "current"]}},
            "rnk": {"$rank": {}},
        },
    }},
    {"$match": {"rnk": {"$lte": 50}}},
    {"$project": {"_id": 0, "n": 1, "cat": 1, "cum_qty": 1, "rnk": 1}},
]
_LOOKUP = [
    {"$lookup": {"from": "cats", "localField": "cat", "foreignField": "_id", "as": "info"}},
    {"$unwind": "$info"},
    {"$group": {"_id": "$info.label", "n": {"$sum": 1}, "w": {"$sum": "$info.weight"}}},
    {"$sort": {"_id": 1}},
]


def _row_filter(r):
    return (r["n"], _py(r["qty"]), r["cat"], _py((r["sub"] or {}).get("score")))


def _row_bson(r):
    price = _py(r["price"])
    return (_py(r["n"]), str(r["_id"]), None if price is None else str(price), oracles.ms(r["ts"]))


def _row_group(r):
    return (r["_id"], _py(r["n"]), _py(r["qty"]), _py(r["score"]), oracles.ms(r["last"]))


_WRITES = [
    # (op, input, format, options, timer)
    ("write_pandas_documents", "pdf", "documents", {}, "api.write_documents_s"),
    ("write_arrow_documents_gzip", "table", "documents", {"compression": "gzip"}, "api.write_documents_gzip_s"),
    ("write_pandas_parquet", "pdf", "parquet", {}, "api.write_parquet_s"),
]
DOCUMENT_WRITES = tuple(w[0] for w in _WRITES if w[2] == "documents")


class DocIO(Workload):
    """Both halves of the reference. Read side: Extended-JSON documents
    decoded through ``find``/``aggregate`` into Arrow and pandas, from one
    file (byte-range splits) and from gz parts (bin-packing). Write side:
    a pandas DataFrame and a pyarrow Table bulk-written by ``api.write``
    as documents, gzip documents and parquet."""

    name = "doc_io"
    PREREQS = ("load", "load_parts")
    # its 11 distinct ops take longer to compile: the second pass took
    # 16-20 CPU seconds, the third 12-15
    WARM_PASSES = 3
    # one measured pass still varied from 10.7 to 14.1 CPU seconds between
    # runs, mostly in JIT compilation; two passes average some of it out
    MIN_PASSES = 2

    def __init__(self, spark, manifest, expected):
        super().__init__(spark, manifest, expected)
        import pyarrow.parquet as pq

        self.inputs = {"table": pq.read_table(self.files["table"])}
        self.inputs["pdf"] = self.inputs["table"].to_pandas()
        self.writes = {w[0]: w[1:] for w in _WRITES}
        half = self.m["export_docs"] // 2
        q = [
            # (op, frame, terminal call, spec, kwargs, oracle key, row mapper)
            ("find_filter_arrow", "single", api.find_arrow_all, _FILTER, {"projection": _FILTER_PROJ},
             "find_filter", _row_filter),
            ("find_bson_pandas", "single", api.find_pandas_all, {"status": "A", "n": {"$lt": half}},
             {"projection": {"_id": 1, "n": 1, "price": 1, "ts": 1}}, "find_bson", _row_bson),
            ("unwind_pandas", "single", api.aggregate_pandas_all, _UNWIND, {}, "unwind",
             lambda r: (r["_id"], _py(r["n"]))),
            ("window_arrow", "single", api.aggregate_arrow_all, _WINDOW, {}, "window",
             lambda r: (r["n"], r["cat"], _py(r["cum_qty"]) or 0, _py(r["rnk"]))),
            ("lookup_pandas", "single", api.aggregate_pandas_all, _LOOKUP, {"collections": "cats"},
             "lookup", lambda r: (r["_id"], _py(r["n"]), _py(r["w"]))),
            ("group_parts_pandas", "parts", api.aggregate_pandas_all, _GROUP, {}, "group", _row_group),
        ]
        self.queries = {name: spec for name, *spec in q}

    def ops(self):
        by_frame = {f: [n for n, (frame, *_) in self.queries.items() if frame == f] for f in ("single", "parts")}
        ops = [("load", lambda st, tr: self._load(st, tr, "single"))]
        ops += [(name, self._query_op(name)) for name in by_frame["single"]]
        ops += [("load_parts", lambda st, tr: self._load(st, tr, "parts"))]
        ops += [(name, self._query_op(name)) for name in by_frame["parts"]]
        ops += [(w[0], self._write_op(w[0])) for w in _WRITES]
        return ops

    def _load(self, st, tr, which):
        with tr.phase("infer", "documents.infer_s"):
            st[which] = self.spark.read.format("documents").load(self.files[which])
        return st[which].schema

    @staticmethod
    def _kwargs(st, kwargs):
        """The call's keyword arguments, with the lookup collection resolved."""
        return {"collections": {"cats": st["cats"]}} if kwargs.get("collections") == "cats" else kwargs

    def _query_op(self, name):
        frame, call, spec, kwargs, _, _ = self.queries[name]
        metric = "api.to_arrow_s" if "arrow" in call.__name__ else "api.to_pandas_s"

        def op(st, tr):
            if kwargs.get("collections") == "cats":
                st["cats"] = self.spark.read.format("documents").load(self.files["cats"])
            with tr.phase("collect", metric):
                return call(st[frame], spec, **self._kwargs(st, kwargs))

        return op

    def _write_op(self, name):
        src, fmt, options, metric = self.writes[name]

        def op(st, tr):
            with tr.phase("write", metric):
                return api.write(self.inputs[src], os.path.join(st["out"], name), format=fmt,
                                 mode="overwrite", spark=self.spark, **options)

        return op

    def check(self, op, result, state):
        if op in self.writes:
            if result.inserted_count != self.expected["import"]["rows"]:
                raise oracles.OracleMismatch(f"{op}: insertedCount {result.inserted_count}")
            return {"kind": "import", "path": os.path.join(state["out"], op), "fmt": self.writes[op][1]}
        if op.startswith("load"):
            names = {f.name for f in result.fields}
            want = {"_id", "n", "qty", "cat", "status", "ts", "price", "sub", "tags"}
            if names != want:
                raise oracles.OracleMismatch(f"{op}: inferred fields {sorted(names)}")
            return None
        _, _, _, _, key, row = self.queries[op]
        oracles.expect_rows([row(r) for r in _records(result)], self.expected["export"][key], op,
                            ordered=(key == "unwind"))
        return None

    def out_bytes(self, op, result, state):
        """Bytes the sinks wrote; query results are not sink output."""
        return dir_bytes(os.path.join(state["out"], op))[0] if op in self.writes else 0

    def probe(self, op, st, tr):
        if op not in self.queries:
            return None
        frame, call, spec, kwargs, _, _ = self.queries[op]
        lazy = api.find if call.__name__.startswith("find") else api.aggregate
        kw = self._kwargs(st, kwargs)
        with tr.phase("translate", "mql.translate_s"):
            df = lazy(st[frame], spec, **kw)
        with tr.phase("plan", "mql.plan_s"):
            df._jdf.queryExecution().executedPlan()
        if call is api.find_pandas_all:
            with tr.phase("to_pandas", "api.bare_to_pandas_s"):
                df.toPandas()
            with tr.phase("find_pandas_all", "api.find_pandas_all_s"):
                call(st[frame], spec, **kw)
        return None

    def pass_probe(self, tr):
        tr.op = "documents_scan"
        with tr.phase("noop", "documents.scan_s"):
            self.spark.read.format("documents").load(self.files["single"]).write.format("noop").mode(
                "overwrite").save()


# ---------------------------------------------------------- crawl_curate


class CrawlCurate(Workload):
    """The LLM-data path: WARC ingest, text extraction and curation against
    a holdout, collected to the driver. The traced run also times the
    ingest and extraction on their own and writes token-balanced training
    shards from the curated corpus."""

    name = "crawl_curate"

    def ops(self):
        return [("curate", self._curate)]

    def _curate(self, st, tr):
        with tr.phase("build", "curate.build_s"):
            docs = self._docs(self.spark.read.format("warc").load(self.files["warc"]))
            holdout = self.spark.read.format("documents").load(self.files["holdout"])
            st["curated"] = curate_ops.curate(docs, holdout, url_col="url")
        with tr.phase("action", "curate.action_s"):
            return st["curated"].select("doc_id", "split", F.md5("text"), F.octet_length("text")).collect()

    @staticmethod
    def _docs(raw):
        return raw.select(
            F.regexp_extract("record_id", r"urn:mas:(\d+)", 1).cast("bigint").alias("doc_id"),
            F.col("target_uri").alias("url"),
            text.extract_text("payload", "http_content_type").alias("text"),
        )

    def check(self, op, result, state):
        oracles.expect_rows([tuple(r[:3]) for r in result], self.expected["curate"], op)
        return None

    def out_bytes(self, op, result, state):
        """The curated corpus's text bytes: what the crawl yields. The oracle
        fixes every curated text, so at a given seed this cannot change
        while the run passes; the traced run measures the shard sink."""
        return sum(r[3] for r in result)

    def probe(self, op, st, tr):
        tr.op = "warc"
        with tr.phase("scan", "warc.scan_s"):
            raw = self.spark.read.format("warc").load(self.files["warc"])
            n = raw.count()
        if n != self.expected["records"]:
            raise oracles.OracleMismatch(f"warc scan: {n} records, oracle has {self.expected['records']}")
        tr.times["warc.records"] = n
        tr.op = "extract"
        with tr.phase("build", "text.build_s"):
            docs = self._docs(raw)
        with tr.phase("action", "text.action_s"):
            rows = docs.select("doc_id", F.md5("text")).collect()
        oracles.expect_rows([tuple(r) for r in rows], self.expected["extract"], "extract")
        tr.op = "pack"
        path = os.path.join(st["out"], "shards")
        with tr.phase("write", "pack.write_s"):
            packing.write_training_shards(st["curated"].select("doc_id", "text", "split"), path,
                                          self.expected["tokens_per_shard"])
        tr.op = op
        return {"kind": "shards", "path": path}


WORKLOADS = {w.name: w for w in (DocIO, CrawlCurate)}
