"""Streaming tests: documents stream source → watermark/window/session/
stateful ops, validated against batch equivalents (availableNow trigger +
memory sink keeps it deterministic)."""

import json
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR

from mongo_arrow_spark.streaming import (
    read_document_stream,
    running_totals_stateful,
    sessionized,
    stream_dedup_within_watermark,
    windowed_aggregate,
)

SCHEMA_DDL = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory, spark, tables):
    """Split the events table into 4 jsonl 'arrival' files."""
    d = tmp_path_factory.mktemp("stream")
    ev = tables["events"].orderBy("event_id").collect()
    chunk = max(1, len(ev) // 4)
    for i in range(4):
        rows = ev[i * chunk : (i + 1) * chunk if i < 3 else len(ev)]
        if not rows:
            continue
        with open(d / f"batch-{i:04d}.jsonl", "w") as fh:
            for r in rows:
                fh.write(
                    json.dumps(
                        {
                            "event_id": r["event_id"],
                            "ts": r["ts"].isoformat(),
                            "user_id": r["user_id"],
                            "event_type": r["event_type"],
                            "value": r["value"],
                        }
                    )
                    + "\n"
                )
    return str(d)


def _run_stream(spark, df, name, mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_stream_source_counts(spark, stream_dir, tables):
    stream = read_document_stream(spark, stream_dir, SCHEMA_DDL)
    assert stream.isStreaming
    name = f"t_{uuid.uuid4().hex[:8]}"
    out = _run_stream(spark, stream, name)
    assert out.count() == tables["events"].count()


def test_windowed_aggregate_matches_batch(spark, stream_dir, tables):
    stream = read_document_stream(spark, stream_dir, SCHEMA_DDL)
    agg = windowed_aggregate(stream, window="1 hour", keys=["event_type"])
    name = f"t_{uuid.uuid4().hex[:8]}"
    # complete mode: append would hold back windows the watermark hasn't
    # passed at end-of-stream (correct streaming behavior, wrong for a
    # final-state comparison)
    out = _run_stream(spark, agg, name, mode="complete").collect()
    batch = (
        tables["events"]
        .groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    got = {(r["window_start"], r["event_type"]): r["n"] for r in out}
    want = {(r["h"], r["event_type"]): r["n"] for r in batch}
    assert got == want


def test_session_window_runs(spark, stream_dir):
    stream = read_document_stream(spark, stream_dir, SCHEMA_DDL)
    sess = sessionized(stream, gap="30 minutes")
    name = f"t_{uuid.uuid4().hex[:8]}"
    out = _run_stream(spark, sess, name, mode="complete")
    assert out.count() > 0
    row = out.first()
    assert row["session_end"] > row["session_start"]


def test_stream_dedup(spark, stream_dir, tmp_path):
    # duplicate one arrival file wholesale → dedup must restore the count
    dup_dir = tmp_path / "dup"
    shutil.copytree(stream_dir, dup_dir)
    files = sorted(dup_dir.glob("*.jsonl"))
    shutil.copy(files[0], dup_dir / "zz-dup.jsonl")
    stream = read_document_stream(spark, str(dup_dir), SCHEMA_DDL)
    dedup = stream_dedup_within_watermark(stream, ["event_id"], watermark="10 days")
    name = f"t_{uuid.uuid4().hex[:8]}"
    out = _run_stream(spark, dedup, name)
    n_with_dups = sum(1 for f in dup_dir.glob("*.jsonl") for _ in open(f))
    assert out.count() < n_with_dups
    assert out.select("event_id").distinct().count() == out.count()


def test_running_totals_stateful(spark, stream_dir, tables):
    stream = read_document_stream(spark, stream_dir, SCHEMA_DDL)
    totals = running_totals_stateful(stream)
    name = f"t_{uuid.uuid4().hex[:8]}"
    out = _run_stream(spark, totals, name, mode="update")
    # last update per user must equal the batch totals
    batch = (
        tables["events"]
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    )
    want = {r["user_id"]: r["n_events"] for r in batch}
    got = {}
    for r in out.collect():  # memory sink appends every update; keep max
        got[r["user_id"]] = max(got.get(r["user_id"], 0), r["n_events"])
    assert got == want


def test_corpus_ops_compose_with_streams(spark, tmp_path):
    """The corpus quality/PII/chunk/split operators are pure projections,
    so they must compose with readStream unchanged — streaming filter
    pipelines are how these run in production ingest."""
    import uuid as _uuid

    from mongo_arrow_spark.operators import quality

    d = tmp_path / "docs_stream"
    d.mkdir()
    with open(d / "b0.jsonl", "w") as fh:
        fh.write(json.dumps({"doc_id": 1, "text": ("contact a@b.com now " + "word " * 60).strip()}) + "\n")
        fh.write(json.dumps({"doc_id": 2, "text": "short"}) + "\n")
    stream = read_document_stream(spark, str(d), "doc_id bigint, text string")
    assert stream.isStreaming
    flagged = quality.gopher_quality_flags(stream, min_tokens=10)
    redacted = flagged.withColumn("text", quality.pii_redact("text"))
    out = quality.train_split(redacted, id_col="doc_id")
    name = f"corpus_stream_{_uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["doc_id"]: r for r in spark.table(name).collect()}
    assert rows[1]["q_keep"] is True and rows[2]["q_keep"] is False
    assert "[PII]" in rows[1]["text"] and "@" not in rows[1]["text"]
    assert rows[1]["split"] in ("train", "val", "test")


def test_sessionize_stateful_timers(spark, stream_dir, tables):
    """transformWithStateInPandas sessionization: with a zero gap every
    key's timer expires between microbatches, emitting sessions whose
    totals equal the batch aggregates.

    Skips when google.protobuf is absent: Spark 4's transformWithState
    state-server protocol needs it, it isn't in this container, and
    installs are disallowed — the operator validates automatically once
    the wheel lands (same contract as the polars mirror)."""
    pytest.importorskip("google.protobuf")
    from mongo_arrow_spark.streaming import sessionize_stateful

    stream = read_document_stream(spark, stream_dir, SCHEMA_DDL)
    sessions = sessionize_stateful(stream, gap_seconds=0)
    name = f"t_{uuid.uuid4().hex[:8]}"
    out = _run_stream(spark, sessions, name)
    got = {
        r["user_id"]: r
        for r in out.groupBy("user_id")
        .agg(
            F.sum("n_events").alias("n"),
            F.min("session_start").alias("t0"),
            F.max("session_end").alias("t1"),
        )
        .collect()
    }
    batch = (
        tables["events"]
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ts").alias("t0"),
            F.max("ts").alias("t1"),
        )
        .collect()
    )
    want = {r["user_id"]: r for r in batch}
    # every key that got flushed matches its batch totals; keys whose
    # timer never fired before shutdown may be absent (append semantics)
    assert got, "no sessions emitted"
    for uid, row in got.items():
        assert row["n"] == want[uid]["n"]
        assert row["t0"] == want[uid]["t0"] and row["t1"] == want[uid]["t1"]


def test_stream_reads_bson_and_gzip_arrivals(spark, tmp_path):
    """The streaming source lists mongodump-shaped (.bson, .bson.gz) and
    gzipped jsonl arrivals alongside plain jsonl — one growing dump
    directory, four arrival formats, one stream."""
    import gzip

    from mongo_arrow_spark.bson_codec import encode_document

    d = tmp_path / "arrivals"
    d.mkdir()
    with open(d / "a.jsonl", "w") as fh:
        fh.write(json.dumps({"k": 1}) + "\n")
    with gzip.open(d / "b.jsonl.gz", "wt") as fh:
        fh.write(json.dumps({"k": 2}) + "\n")
    with open(d / "c.bson", "wb") as fh:
        fh.write(encode_document({"k": 3}))
    with gzip.open(d / "e.bson.gz", "wb") as fh:
        fh.write(encode_document({"k": 4}))
    stream = read_document_stream(spark, str(d), "k bigint")
    name = f"t_{uuid.uuid4().hex[:8]}"
    out = _run_stream(spark, stream, name)
    assert sorted(r["k"] for r in out.collect()) == [1, 2, 3, 4]


def test_pq_encode_streaming_parity(spark, tmp_path):
    """pq_encode with a PREFIT model is a map-only literal projection —
    append-legal, so it composes with readStream unchanged and a finite
    replay equals the batch encoding row-for-row (the scorer-parity
    contract: the model is driver state, nothing re-fits per batch)."""
    from mongo_arrow_spark.operators.similarity import fit_pq, pq_encode

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    model = fit_pq(emb, m=8, codes=4, iters=1, dim=64)

    d = tmp_path / "emb_stream"
    d.mkdir()
    rows = emb.select("vec_id", "embedding").limit(60).collect()
    for b in range(3):  # three arrival files
        with open(d / f"b{b}.jsonl", "w") as fh:
            for r in rows[b * 20:(b + 1) * 20]:
                fh.write(json.dumps(
                    {"vec_id": r["vec_id"],
                     "embedding": [float(x) for x in r["embedding"]]}
                ) + "\n")
    stream = read_document_stream(
        spark, str(d), "vec_id bigint, embedding array<float>"
    )
    out = pq_encode(stream, model)
    name = f"pq_stream_{uuid.uuid4().hex[:8]}"
    _run_stream(spark, out, name)
    got = {r["vec_id"]: list(r["pq_codes"]) for r in spark.table(name).collect()}
    batch_df = spark.createDataFrame(
        [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in rows],
        "vec_id long, embedding array<float>",
    )
    want = {r["vec_id"]: list(r["pq_codes"])
            for r in pq_encode(batch_df, model).collect()}
    assert got == want and len(got) == 60


# ------------------------------------------- drop-directory stream reader
#
# One reader (sources/files.py FileStreamReader) serves both file
# sources; the behaviours they share run over both.


class _Source:
    """A file source as its stream tests see it: the stream reader, a
    schema, and the bytes of one small file holding record ``i``."""

    def __init__(self, name):
        from pyspark.sql import types as T

        self.name = name
        if name == "documents":
            from mongo_arrow_spark.sources.documents import DocumentsStreamReader

            self.reader = DocumentsStreamReader
            self.schema = T.StructType([T.StructField("k", T.LongType())])
            self.ext = ".jsonl"
        else:
            from mongo_arrow_spark.sources.warc import WARC_SCHEMA, WarcStreamReader

            self.reader = WarcStreamReader
            self.schema = WARC_SCHEMA
            self.ext = ".warc"

    def record(self, i):
        if self.name == "documents":
            return (json.dumps({"k": i}) + "\n").encode()
        from mongo_arrow_spark.sources.warc import build_warc_record

        return build_warc_record(f"<urn:mas:{i}>", f"https://x/{i}", b"b%d" % i)

    def open(self, d, **opts):
        return self.reader(self.schema, {"path": str(d), **opts})


@pytest.fixture(params=["documents", "warc"])
def source(request):
    return _Source(request.param)


def test_stream_offsets_survive_late_sorting_file(source, tmp_path):
    """Name-set offsets: a file that sorts BEFORE already-committed ones
    must be picked up as new, and committed files must not be re-read
    (positional offsets skipped/re-read on re-sorted listings)."""
    import os

    d = tmp_path / "stream"
    d.mkdir()
    (d / f"m{source.ext}").write_bytes(source.record(1))
    reader = source.open(d)
    start = reader.initialOffset()
    mid = reader.latestOffset()
    first = [p.path for p in reader.partitions(start, mid)]
    assert [os.path.basename(p) for p in first] == [f"m{source.ext}"]
    # late-arriving file that sorts before m
    (d / f"a{source.ext}").write_bytes(source.record(2))
    end = reader.latestOffset()
    second = [p.path for p in reader.partitions(mid, end)]
    assert [os.path.basename(p) for p in second] == [f"a{source.ext}"]
    # replay of the first range is unchanged by the new arrival
    replay = [p.path for p in reader.partitions(start, mid)]
    assert replay == first


def test_stream_offset_legacy_index_migration(tmp_path):
    """A legacy {"index": N} checkpoint offset translates to the first N
    names of the sorted listing — committed files are NOT reprocessed
    across the offset-format upgrade."""
    from pyspark.sql import types as T

    from mongo_arrow_spark.sources.documents import DocumentsStreamReader

    d = tmp_path / "arrivals"
    d.mkdir()
    for name in ("0001.jsonl", "0002.jsonl"):
        with open(d / name, "w") as fh:
            fh.write(json.dumps({"i": int(name[:4])}) + "\n")
    reader = DocumentsStreamReader(
        T.StructType([T.StructField("i", T.LongType())]), {"path": str(d)}
    )
    end = reader.latestOffset()
    parts = reader.partitions({"index": 1}, end)
    paths = [p.path for p in parts if p.path]
    assert paths == [str(d / "0002.jsonl")]  # only the uncommitted file
    # and a fully-caught-up legacy offset yields no work
    parts2 = reader.partitions({"index": 2}, end)
    assert [p.path for p in parts2 if p.path] == []


def test_stream_offset_legacy_index_too_short_fails_loudly(tmp_path):
    """If committed files were deleted/renamed since a legacy
    {"index": N} checkpoint, the prefix translation is ambiguous
    — fail loudly instead of silently re-processing/skipping records."""
    from pyspark.sql import types as T

    from mongo_arrow_spark.sources.documents import DocumentsStreamReader

    d = tmp_path / "arrivals"
    d.mkdir()
    with open(d / "0002.jsonl", "w") as fh:
        fh.write(json.dumps({"i": 2}) + "\n")
    reader = DocumentsStreamReader(
        T.StructType([T.StructField("i", T.LongType())]), {"path": str(d)}
    )
    end = reader.latestOffset()
    with pytest.raises(ValueError, match="legacy streaming offset"):
        reader.partitions({"index": 2}, end)  # checkpoint saw 2 files


def test_stream_offset_legacy_index_translation_warns(tmp_path):
    """The successful legacy translation announces its assumption."""
    import warnings as w

    from pyspark.sql import types as T

    from mongo_arrow_spark.sources.documents import DocumentsStreamReader

    d = tmp_path / "arrivals"
    d.mkdir()
    for name in ("0001.jsonl", "0002.jsonl"):
        with open(d / name, "w") as fh:
            fh.write(json.dumps({"i": int(name[:4])}) + "\n")
    reader = DocumentsStreamReader(
        T.StructType([T.StructField("i", T.LongType())]), {"path": str(d)}
    )
    end = reader.latestOffset()
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        parts = reader.partitions({"index": 1}, end)
    assert any("legacy streaming offset" in str(x.message) for x in caught)
    assert [p.path for p in parts if p.path] == [str(d / "0002.jsonl")]


def test_stream_stable_file_admission(source, tmp_path):
    """stableFileMs: a freshly-written (possibly still-growing) file is
    NOT admitted until its mtime is old enough or its (size, mtime) held
    still across two listings — so a producer mid-write can't have its
    tail permanently lost to the seen-file-set offset model."""
    import os
    import time as _t

    a, b, c = (f"{n}{source.ext}" for n in "abc")
    d = tmp_path / "drop"
    d.mkdir()
    (d / a).write_bytes(source.record(1))

    rdr = source.open(d, stablefilems="60000")
    # first listing: file is brand new (mtime age < 60s), never seen -> held back
    assert rdr.latestOffset() == {"seen": []}
    # second listing, unchanged stat -> admitted
    assert rdr.latestOffset() == {"seen": [a]}
    # a file that keeps growing between listings stays held back
    g = d / b
    g.write_bytes(source.record(2)[:8])
    assert b not in rdr.latestOffset()["seen"]
    _t.sleep(0.02)
    g.write_bytes(source.record(2))
    assert b not in rdr.latestOffset()["seen"]  # stat changed
    assert b in rdr.latestOffset()["seen"]  # now stable
    # old files (mtime age >= threshold) admit on first sight
    h = d / c
    h.write_bytes(source.record(3))
    os.utime(h, (_t.time() - 120, _t.time() - 120))
    fresh = source.open(d, stablefilems="60000")
    assert c in fresh.latestOffset()["seen"]
    # default (0) keeps the atomic-rename contract: everything lists
    dflt = source.open(d)
    assert sorted(dflt.latestOffset()["seen"]) == [a, b, c]


def test_stream_stable_offset_monotone(source, tmp_path):
    """With stableFileMs>0 the offset is MONOTONE — a file already
    admitted (hence possibly ingested) that is later appended/touched
    must NOT drop out of `seen` while unstable, or its re-entry once
    stable would make partitions(start, end)'s set difference re-ingest
    the whole file (duplicate records)."""
    import time as _t

    a = f"a{source.ext}"
    d = tmp_path / "drop"
    d.mkdir()
    f = d / a
    f.write_bytes(source.record(1))

    rdr = source.open(d, stablefilems="60000")
    start = rdr.initialOffset()
    rdr.latestOffset()  # first sight: held back
    mid = rdr.latestOffset()  # stat held still -> admitted
    assert mid["seen"] == [a]
    assert len(rdr.partitions(start, mid)) >= 1  # ingested once
    # producer appends to the already-ingested file -> stat changes, the
    # file is momentarily unstable — but it must STAY in the offset
    _t.sleep(0.02)
    with open(f, "ab") as fh:
        fh.write(source.record(2))
    end = rdr.latestOffset()
    assert a in end["seen"], "admitted file dropped out of offset"
    # and the set difference re-ingests nothing (only the empty
    # placeholder split Spark requires)
    assert [p.path for p in rdr.partitions(mid, end) if p.path] == []
    # once stable again it still re-enters nothing new
    end2 = rdr.latestOffset()
    assert a in end2["seen"]
    assert [p.path for p in rdr.partitions(end, end2) if p.path] == []


def test_stream_stable_offset_monotone_across_restart(source, tmp_path):
    """A RESTARTED driver (fresh in-memory state): a checkpointed file
    that is stable at the first post-restart listing re-enters the
    offset (excluded from the diff by the checkpoint), and when it is
    touched AFTERWARDS it must stay in every later offset — the
    monotone set rebuilds from the stable listing plus the offsets
    partitions() sees, so no re-ingest."""
    import os
    import time as _t

    a = f"a{source.ext}"
    d = tmp_path / "drop"
    d.mkdir()
    f = d / a
    f.write_bytes(source.record(1))
    os.utime(f, (_t.time() - 120, _t.time() - 120))  # old -> stable
    checkpointed = {"seen": [a]}  # admitted before the restart

    fresh = source.open(d, stablefilems="60000")
    end = fresh.latestOffset()
    assert end["seen"] == [a]  # stable at restart -> re-listed
    assert [
        p.path for p in fresh.partitions(checkpointed, end) if p.path
    ] == []  # excluded by the checkpoint diff
    # producer touches the already-ingested file post-restart
    _t.sleep(0.02)
    with open(f, "ab") as fh:
        fh.write(source.record(2))
    end2 = fresh.latestOffset()
    assert a in end2["seen"]  # monotone across the restart
    assert [p.path for p in fresh.partitions(end, end2) if p.path] == []


def _rows(reader, parts):
    return [
        row
        for part in parts
        for batch in reader.read(part)
        for row in batch.to_pylist()
    ]


def test_documents_stream_read_lists_nothing(tmp_path, monkeypatch):
    """Reading a planned documents stream partition globs nothing: the
    task decodes the files the driver planned instead of re-listing the
    whole drop directory."""
    import glob

    from mongo_arrow_spark.sources.documents import DocumentsStreamReader
    from pyspark.sql import types as T

    d = tmp_path / "drop"
    d.mkdir()
    (d / "a.jsonl").write_text('{"k": 1}\n{"k": 2}\n')
    reader = DocumentsStreamReader(
        T.StructType([T.StructField("k", T.LongType())]), {"path": str(d)}
    )
    parts = reader.partitions(reader.initialOffset(), reader.latestOffset())
    calls = []
    real = glob.glob
    monkeypatch.setattr(
        glob, "glob", lambda *a, **k: calls.append(a) or real(*a, **k)
    )
    assert _rows(reader, parts) == [{"k": 1}, {"k": 2}]
    assert calls == []


def test_documents_stream_splits_big_arrival(tmp_path):
    """Arrivals go through the batch reader's split planning: with a
    small partitionBytes a big ``.jsonl`` byte-splits inside its
    micro-batch and the splits together read exactly its rows once;
    small ``.gz`` arrivals bin-pack into one task."""
    import gzip

    from mongo_arrow_spark.sources.documents import DocumentsStreamReader
    from pyspark.sql import types as T

    d = tmp_path / "drop"
    d.mkdir()
    with open(d / "big.jsonl", "w") as fh:
        fh.writelines(json.dumps({"k": i}) + "\n" for i in range(500))
    schema = T.StructType([T.StructField("k", T.LongType())])
    reader = DocumentsStreamReader(schema, {"path": str(d), "partitionbytes": "1024"})
    start, mid = reader.initialOffset(), reader.latestOffset()
    parts = reader.partitions(start, mid)
    assert len(parts) > 1 and {p.path for p in parts} == {str(d / "big.jsonl")}
    assert sorted(r["k"] for r in _rows(reader, parts)) == list(range(500))
    for i in range(3):
        (d / f"s{i}.jsonl.gz").write_bytes(
            gzip.compress(json.dumps({"k": 1000 + i}).encode() + b"\n")
        )
    end = reader.latestOffset()
    small = reader.partitions(mid, end)
    assert [len(p.paths) for p in small] == [3]
    assert sorted(r["k"] for r in _rows(reader, small)) == [1000, 1001, 1002]
