"""The file layer under the ``documents`` and ``warc`` sources: listing
and split planning. JVM-free: planning reads only file names and sizes,
so the fixtures are bytes of chosen lengths, not decodable files."""

import os

from pyspark.sql import types as T

from mongo_arrow_spark.sources.documents import DocumentsReader
from mongo_arrow_spark.sources.warc import WARC_SCHEMA, WarcReader


def _file(path, size):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_bytes(b"x" * size)


def _plan(reader):
    """partitions() as plain tuples: ("range", name, start, end) for a
    byte range, ("files", names...) for a bin-packed group."""
    out = []
    for s in reader.partitions():
        if hasattr(s, "paths"):
            out.append(("files",) + tuple(os.path.basename(p) for p in s.paths))
        else:
            out.append(("range", os.path.basename(s.path), s.start, s.end))
    return out


def _docs(path, **opts):
    return _plan(DocumentsReader(T.StructType(), {"path": str(path), **opts}))


def _warc(path, **opts):
    return _plan(WarcReader(WARC_SCHEMA, {"path": str(path), **opts}))


def test_batch_plans_are_pinned(tmp_path):
    """The split plans of the shapes the benchmark reads — one ``.jsonl``
    in byte ranges, ``.jsonl.gz`` parts bin-packed, a ``.bson`` whole,
    and a directory of small ``.warc.gz`` plus one big one — are pinned
    exactly: the same inputs give the same splits in the same order.
    Every pack target here is below the 1 MB floor, so no plan depends
    on the planning host's core count."""
    _file(tmp_path / "coll.jsonl", 30_000)
    for i in range(16):
        _file(tmp_path / "parts" / f"part-{i:02d}.jsonl.gz", 500 + 100 * i)
    _file(tmp_path / "dump.bson", 5_000)
    for i in range(5):
        _file(tmp_path / "warc" / f"crawl-{i:05d}.warc.gz", 1_000 + 10 * i)
    _file(tmp_path / "warc" / "crawl-big.warc.gz", 40_000)

    # default partitionBytes (64 MB): the benchmark's loads
    assert _docs(tmp_path / "coll.jsonl") == [("range", "coll.jsonl", 0, 30_000)]
    assert _docs(tmp_path / "parts") == [
        ("files",) + tuple(f"part-{i:02d}.jsonl.gz" for i in range(15, -1, -1))
    ]
    assert _docs(tmp_path / "dump.bson") == [("range", "dump.bson", 0, 5_000)]
    assert _warc(tmp_path / "warc") == [
        ("files", "crawl-big.warc.gz")
        + tuple(f"crawl-{i:05d}.warc.gz" for i in range(4, -1, -1))
    ]

    # small partitionBytes: byte ranges, first-fit-decreasing groups
    assert _docs(tmp_path / "coll.jsonl", partitionbytes="4096") == [
        ("range", "coll.jsonl", 3750 * i, 3750 * (i + 1)) for i in range(8)
    ]
    assert _docs(tmp_path / "parts", partitionbytes="16384") == [
        ("files", "part-15.jsonl.gz", "part-14.jsonl.gz"),
        ("files", "part-13.jsonl.gz", "part-12.jsonl.gz", "part-00.jsonl.gz"),
        ("files", "part-11.jsonl.gz", "part-10.jsonl.gz", "part-04.jsonl.gz"),
        ("files", "part-09.jsonl.gz", "part-08.jsonl.gz", "part-07.jsonl.gz"),
        ("files", "part-06.jsonl.gz", "part-05.jsonl.gz", "part-03.jsonl.gz", "part-02.jsonl.gz"),
        ("files", "part-01.jsonl.gz"),
    ]
    assert _docs(tmp_path / "dump.bson", partitionbytes="1024") == [
        ("range", "dump.bson", 0, 5_000)
    ]
    assert _warc(tmp_path / "warc", partitionbytes="16384") == [
        ("range", "crawl-big.warc.gz", 0, 13_334),
        ("range", "crawl-big.warc.gz", 13_334, 26_668),
        ("range", "crawl-big.warc.gz", 26_668, 40_000),
        ("files", "crawl-00004.warc.gz", "crawl-00003.warc.gz", "crawl-00002.warc.gz", "crawl-00000.warc.gz"),
        ("files", "crawl-00001.warc.gz"),
    ]
    # corruptMode=drop with no sidecar index: the big archive decodes whole
    assert _warc(tmp_path / "warc", partitionbytes="16384", corruptmode="drop") == [
        ("files", "crawl-big.warc.gz"),
        ("files", "crawl-00004.warc.gz", "crawl-00003.warc.gz", "crawl-00002.warc.gz", "crawl-00000.warc.gz"),
        ("files", "crawl-00001.warc.gz"),
    ]

    # one directory of every documents shape: ranges in listing order,
    # then the packed groups
    assert _docs(tmp_path, partitionbytes="16384") == [
        ("range", "coll.jsonl", 0, 15_000),
        ("range", "coll.jsonl", 15_000, 30_000),
        ("range", "dump.bson", 0, 5_000),
    ] + _docs(tmp_path / "parts", partitionbytes="16384")
    # and an empty input plans one empty placeholder split
    (tmp_path / "empty").mkdir()
    assert _docs(tmp_path / "empty") == [("range", "", 0, 0)]
