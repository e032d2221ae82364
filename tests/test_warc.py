"""WARC ingest source: record parsing, HTTP envelope stripping,
byte-split boundary ownership (incl. payload-embedded fake markers),
gz whole-file groups, corrupt policies, and the distributed write →
read round trip."""

import gzip
import os

import pytest

from mongo_arrow_spark.sources.warc import (
    build_warc_record,
    register_warc,
    write_warc,
)

from conftest import SF_DIR  # noqa: F401  (spark fixture wiring)


def _mk_warc(path, records, compress=False):
    blob = b"".join(records)
    if compress:
        with gzip.open(path, "wb") as fh:
            fh.write(blob)
    else:
        with open(path, "wb") as fh:
            fh.write(blob)
    return path


def _info_record():
    return (
        b"WARC/1.0\r\n"
        b"WARC-Type: warcinfo\r\n"
        b"WARC-Record-ID: <urn:info:0>\r\n"
        b"Content-Type: application/warc-fields\r\n"
        b"Content-Length: 10\r\n\r\n"
        b"robots: ok" + b"\r\n\r\n"
    )


def _read(spark, path, **opts):
    register_warc(spark)
    r = spark.read.format("warc")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load(path)


def test_basic_records_and_http_strip(spark, tmp_path):
    p = str(tmp_path / "a.warc")
    _mk_warc(
        p,
        [
            _info_record(),
            build_warc_record("<urn:mas:1>", "https://x.org/1", b"<p>hi</p>"),
            build_warc_record(
                "<urn:mas:2>", "https://x.org/2", b"body2",
                http_content_type="text/plain",
            ),
        ],
    )
    rows = {r["record_id"]: r.asDict() for r in _read(spark, p).collect()}
    # default warcTypes=response filters the warcinfo record out
    assert set(rows) == {"<urn:mas:1>", "<urn:mas:2>"}
    r1 = rows["<urn:mas:1>"]
    assert r1["target_uri"] == "https://x.org/1"
    assert bytes(r1["payload"]) == b"<p>hi</p>"  # HTTP envelope stripped
    assert r1["http_status"] == 200
    assert r1["http_content_type"] == "text/html"
    assert r1["warc_type"] == "response"
    assert rows["<urn:mas:2>"]["http_content_type"] == "text/plain"
    # warcTypes=* keeps the warcinfo record, envelope intact w/o strip
    allr = _read(spark, p, warcTypes="*", stripHttp="false").collect()
    assert len(allr) == 3
    resp = next(r for r in allr if r["record_id"] == "<urn:mas:1>")
    assert bytes(resp["payload"]).startswith(b"HTTP/1.1 200")
    assert resp["http_status"] is None


def test_byte_splits_cover_exactly_once(spark, tmp_path):
    p = str(tmp_path / "big.warc")
    recs = [
        build_warc_record(
            f"<urn:mas:{i}>", f"https://x.org/{i}", (b"x" * 50) + str(i).encode()
        )
        for i in range(200)
    ]
    _mk_warc(p, recs)
    whole = sorted(
        r["record_id"] for r in _read(spark, p).collect()
    )
    # force many byte splits, far smaller than the file
    split = sorted(
        r["record_id"]
        for r in _read(spark, p, partitionBytes="500").collect()
    )
    assert split == whole and len(whole) == 200


def test_fake_marker_in_payload_does_not_desync(spark, tmp_path):
    p = str(tmp_path / "fake.warc")
    fake = b"AAAA\r\n\r\nWARC/1.0\r\nnot a real header block zzz\r\n" + b"B" * 400
    recs = [
        build_warc_record(f"<urn:mas:{i}>", f"https://x.org/{i}", fake)
        for i in range(40)
    ]
    _mk_warc(p, recs)
    whole = sorted(r["record_id"] for r in _read(spark, p).collect())
    split = sorted(
        r["record_id"]
        for r in _read(spark, p, partitionBytes="700").collect()
    )
    assert split == whole and len(whole) == 40


def test_gz_groups_and_concatenated_members(spark, tmp_path):
    # Common Crawl shape: each record its own gzip member, concatenated
    p = str(tmp_path / "cc.warc.gz")
    with open(p, "wb") as fh:
        for i in range(5):
            fh.write(
                gzip.compress(
                    build_warc_record(
                        f"<urn:mas:{i}>", f"https://x.org/{i}", b"hi"
                    )
                )
            )
    rows = _read(spark, p).collect()
    assert sorted(r["record_id"] for r in rows) == [
        f"<urn:mas:{i}>" for i in range(5)
    ]


def test_corrupt_modes(spark, tmp_path):
    good = build_warc_record("<urn:mas:1>", "https://x.org/1", b"ok")
    truncated = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Record-ID: <urn:mas:2>\r\n"
        b"Content-Type: application/http\r\nContent-Length: 999\r\n\r\nshort"
    )
    p = str(tmp_path / "bad.warc")
    _mk_warc(p, [good, truncated])
    with pytest.raises(Exception, match="truncated"):
        _read(spark, p).collect()
    kept = _read(spark, p, corruptMode="drop").collect()
    assert [r["record_id"] for r in kept] == ["<urn:mas:1>"]
    with pytest.raises(Exception, match="corruptMode"):
        _read(spark, p, corruptMode="nope").collect()


def test_write_read_round_trip(spark, tmp_path):
    out = str(tmp_path / "corpus_warc")
    df = spark.createDataFrame(
        [(i, f"text {i} é") for i in range(50)],
        "doc_id long, text string",
    )
    write_warc(df.repartition(4), out)
    back = _read(spark, out + "/*.warc.gz")
    got = {
        int(r["record_id"].split(":")[-1].rstrip(">")): bytes(
            r["payload"]
        ).decode("utf-8")
        for r in back.collect()
    }
    assert got == {i: f"text {i} é" for i in range(50)}
    assert back.count() == 50


def test_html_to_text_extraction(spark):
    from pyspark.sql import functions as F

    from mongo_arrow_spark.operators.text import html_to_text

    cases = [
        (
            "<html><head><title>Chrome</title><script>var a=1;</script>"
            "</head><body><p>Hello   <b>world</b></p>"
            "<!-- hidden --><style>p{}</style>x &amp; y &lt;z&gt;</body></html>",
            "Hello world x & y <z>",
        ),
        # double-escaped entity unescapes exactly one level
        ("&amp;lt;", "&lt;"),
        # script block spanning lines, case-insensitive close tag
        ("<SCRIPT>\nmulti\nline\n</Script>after", "after"),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(cases)], "i int, html string"
    )
    got = {
        r["i"]: r["out"]
        for r in df.select("i", html_to_text("html").alias("out")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i])
    # binary payloads cast through UTF-8
    bdf = spark.createDataFrame(
        [(bytearray("<p>été</p>".encode("utf-8")),)], "b binary"
    )
    assert bdf.select(html_to_text(F.col("b")).alias("o")).first()["o"] == "été"


def test_directory_load_and_overwrite_semantics(spark, tmp_path):
    out = str(tmp_path / "dir")
    df8 = spark.createDataFrame(
        [(i, f"t{i}") for i in range(40)], "doc_id long, text string"
    )
    write_warc(df8.repartition(8), out)
    # loading the DIRECTORY (no glob) finds the archives
    assert _read(spark, out).count() == 40
    # rewrite with fewer partitions clears stale part files
    df2 = spark.createDataFrame(
        [(i, f"u{i}") for i in range(10)], "doc_id long, text string"
    )
    write_warc(df2.repartition(2), out)
    back = _read(spark, out)
    assert back.count() == 10
    assert sorted(
        bytes(r["payload"]).decode() for r in back.collect()
    ) == sorted(f"u{i}" for i in range(10))


def test_lf_only_http_envelope_and_unsplittable(spark, tmp_path):
    lf_env = b"HTTP/1.1 404 Not Found\nContent-Type: text/plain\n\nbody-lf"
    no_sep = b"HTTP/1.1 200 OK"  # no separator at all: keep body intact
    recs = []
    for i, body in enumerate((lf_env, no_sep)):
        head = (
            f"WARC/1.0\r\nWARC-Type: response\r\n"
            f"WARC-Record-ID: <urn:mas:{i}>\r\n"
            f"Content-Type: application/http\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode()
        recs.append(head + body + b"\r\n\r\n")
    p = str(tmp_path / "lf.warc")
    _mk_warc(p, recs)
    rows = {r["record_id"]: r.asDict() for r in _read(spark, p).collect()}
    r0 = rows["<urn:mas:0>"]
    assert bytes(r0["payload"]) == b"body-lf"
    assert (r0["http_status"], r0["http_content_type"]) == (404, "text/plain")
    r1 = rows["<urn:mas:1>"]
    assert bytes(r1["payload"]) == no_sep  # not silently dropped
    assert r1["http_status"] is None


def test_html_to_text_header_tag_is_not_head(spark):
    from mongo_arrow_spark.operators.text import html_to_text

    html = (
        "<body><header>nav</header><p>prose stays</p>"
        "trailing</head>after</body>"
    )
    df = spark.createDataFrame([(html,)], "h string")
    out = df.select(html_to_text("h").alias("o")).first()["o"]
    assert "prose stays" in out and "after" in out


def test_numeric_drift_integral_column_float_bounds(spark):
    from mongo_arrow_spark.operators.profile import numeric_drift

    df = spark.createDataFrame([(i,) for i in range(10)], "x long")
    rep = numeric_drift(df, df, "x", n_buckets=2, bounds=(0.0, 9.0)).collect()
    assert sum(r["n_left"] for r in rep) == 10  # no analyzer crash


# ------------------------------------------------- round-11 advice fixes


def test_drop_mode_contains_mangled_gzip_member(spark, tmp_path):
    """A truncated/garbage gzip member raises EOFError/BadGzipFile from
    the stream itself (not WarcCorruptError); corruptMode=drop must end
    that stream and keep the other files in the group alive."""
    good = str(tmp_path / "good.warc.gz")
    _mk_warc(
        good,
        [build_warc_record("<urn:mas:ok>", "https://x.org/ok", b"fine")],
        compress=True,
    )
    # truncated member: valid gzip header, body cut mid-stream
    blob_src = _mk_warc(
        str(tmp_path / "tmp.bin"),
        [build_warc_record("<urn:mas:cut>", "https://x.org/c", b"x" * 4096)],
    )
    with open(blob_src, "rb") as fh:
        raw = fh.read()
    full = gzip.compress(raw)
    trunc = str(tmp_path / "trunc.warc.gz")
    with open(trunc, "wb") as fh:
        fh.write(full[: len(full) // 2])
    # garbage member: not gzip at all under a .gz name
    garbage = str(tmp_path / "garbage.warc.gz")
    with open(garbage, "wb") as fh:
        fh.write(b"\x00\x01not-gzip-at-all" * 32)

    got = _read(spark, str(tmp_path / "*.warc.gz"), corruptMode="drop")
    ids = sorted(r["record_id"] for r in got.collect())
    assert ids == ["<urn:mas:ok>"]
    # fail mode still raises, wrapped with file context
    with pytest.raises(Exception):
        _read(spark, trunc, corruptMode="fail").collect()


def test_lf_envelope_with_crlf_in_body_keeps_prefix(spark, tmp_path):
    """Separator is chosen by earliest position: an LF-delimited
    envelope whose BODY contains \\r\\n\\r\\n must not partition at the
    body's CRLFCRLF and silently drop the payload prefix."""
    from mongo_arrow_spark.sources.warc import _split_http

    body = b"HTTP/1.1 200 OK\nContent-Type: text/plain\n\nAAA\r\n\r\nBBB"
    status, ctype, _cenc, _tenc, payload = _split_http(body)
    assert (status, ctype) == (200, "text/plain")
    assert payload == b"AAA\r\n\r\nBBB"
    # CRLF envelope unaffected
    body2 = b"HTTP/1.1 200 OK\r\nContent-Type: a/b\r\n\r\nreal\n\nbody"
    assert _split_http(body2)[4] == b"real\n\nbody"


def test_boundary_probe_rejects_oversized_content_length(tmp_path):
    """The bounded boundary probe validates Content-Length against the
    file size instead of reading the full body — a fake marker claiming
    a body larger than the file is rejected without a giant read, and
    byte-split reads still see each record exactly once."""
    from mongo_arrow_spark.sources.warc import (
        _probe_record_at,
        _seek_record_start,
    )

    real = build_warc_record("<urn:mas:r>", "https://x.org/r", b"y" * 100)
    fake = (
        b"\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\n"
        b"Content-Length: 99999999\r\n\r\n"
    )
    p = str(tmp_path / "fake_cl.warc")
    _mk_warc(
        p,
        [
            build_warc_record(
                "<urn:mas:a>", "https://x.org/a", b"A" * 50 + fake + b"tail"
            ),
            real,
        ],
    )
    size = os.path.getsize(p)
    with open(p, "rb") as fh:
        # candidate at the embedded fake marker: bounded probe rejects
        with open(p, "rb") as probe_fh:
            data = probe_fh.read()
        cand = data.find(fake) + 4
        assert not _probe_record_at(fh, cand, size)
        # a candidate at the REAL second record validates
        real_start = data.find(b"\r\n\r\nWARC/", cand) 
        while real_start >= 0:
            if _probe_record_at(fh, real_start + 4, size):
                break
            real_start = data.find(b"\r\n\r\nWARC/", real_start + 1)
        assert real_start >= 0
        assert _seek_record_start(fh, cand, p)
        assert fh.tell() == real_start + 4


# --------------------------------------------- round-11: splittable gz


def _mk_member_warc(path, records):
    """Member-per-record gz archive (Common Crawl layout)."""
    with open(path, "wb") as fh:
        for rec in records:
            fh.write(gzip.compress(rec, 6, mtime=0))
    return path


def test_gz_byte_splits_cover_exactly_once(spark, tmp_path):
    """A member-per-record archive read under byte-splits must see
    every record exactly once, for any partitionBytes — including cuts
    landing mid-member and mid-magic."""
    recs = [
        build_warc_record(
            f"<urn:mas:{i}>", f"https://x.org/{i}", (f"body-{i}-" * 40).encode()
        )
        for i in range(40)
    ]
    p = str(tmp_path / "cc.warc.gz")
    _mk_member_warc(p, recs)
    size = os.path.getsize(p)
    want = sorted(f"<urn:mas:{i}>" for i in range(40))
    # small partitionBytes forces many intra-file splits
    for pb in (size // 7, size // 3, 1024, size + 10):
        got = sorted(
            r["record_id"]
            for r in _read(spark, p, partitionBytes=str(pb)).collect()
        )
        assert got == want, f"partitionBytes={pb}"


def test_gz_split_fake_magic_in_payload_does_not_desync(spark, tmp_path):
    """Compressed payloads can contain the 3-byte gzip magic; the
    boundary probe requires a valid deflate stream yielding a WARC/
    prefix, so a fake magic cannot start a phantom member."""
    evil = b"A" * 50 + b"\x1f\x8b\x08\x00junkjunk" * 20 + b"B" * 50
    recs = [
        build_warc_record(f"<urn:mas:{i}>", f"https://x.org/{i}", evil)
        for i in range(12)
    ]
    p = str(tmp_path / "evil.warc.gz")
    _mk_member_warc(p, recs)
    size = os.path.getsize(p)
    got = sorted(
        r["record_id"]
        for r in _read(spark, p, partitionBytes=str(size // 5)).collect()
    )
    assert got == sorted(f"<urn:mas:{i}>" for i in range(12))
    # payloads intact
    rows = _read(spark, p, partitionBytes=str(size // 5)).collect()
    assert all(bytes(r["payload"]) == evil for r in rows)


def test_gz_single_member_archive_degrades_to_one_task(spark, tmp_path):
    """An archive compressed as ONE member (the old writer layout) has
    no interior boundaries: byte-split reading still returns every
    record exactly once (one productive task streams the member)."""
    recs = [
        build_warc_record(f"<urn:mas:{i}>", None, b"x" * 500, http=False)
        for i in range(10)
    ]
    p = str(tmp_path / "single.warc.gz")
    with gzip.open(p, "wb") as fh:
        for rec in recs:
            fh.write(rec)
    size = os.path.getsize(p)
    got = sorted(
        r["record_id"]
        for r in _read(spark, p, partitionBytes=str(max(64, size // 4))).collect()
    )
    assert got == sorted(f"<urn:mas:{i}>" for i in range(10))


def test_write_warc_member_per_record_and_deterministic(spark, tmp_path):
    """The compressed writer emits one gzip member per record with
    mtime=0: re-writing identical data yields identical bytes, and a
    written archive contains multiple member boundaries."""
    df = spark.createDataFrame(
        [(i, f"text {i}") for i in range(20)], "doc_id long, text string"
    ).coalesce(1)
    d1, d2 = str(tmp_path / "w1"), str(tmp_path / "w2")
    write_warc(df, d1)
    write_warc(df, d2)
    f1 = os.path.join(d1, os.listdir(d1)[0])
    f2 = os.path.join(d2, os.listdir(d2)[0])
    b1 = open(f1, "rb").read()
    assert b1 == open(f2, "rb").read()
    assert b1.count(b"\x1f\x8b\x08") >= 21  # warcinfo + 20 records
    # and the split reader round-trips it
    got = _read(spark, f1, partitionBytes="512").count()
    assert got == 20


def test_gz_split_corrupt_member_drop_vs_fail(spark, tmp_path):
    """A damaged interior member under byte-splits: drop ends that
    file's stream without killing the read; fail raises."""
    recs = [
        build_warc_record(f"<urn:mas:{i}>", f"https://x.org/{i}", b"z" * 200)
        for i in range(6)
    ]
    members = [gzip.compress(r, 6, mtime=0) for r in recs]
    # mangle the 4th member's deflate body
    bad = bytearray(members[3])
    for k in range(12, min(40, len(bad))):
        bad[k] ^= 0xFF
    members[3] = bytes(bad)
    p = str(tmp_path / "dmg.warc.gz")
    with open(p, "wb") as fh:
        fh.write(b"".join(members))
    # one split: drop keeps the records before the damage at least
    got = {
        r["record_id"]
        for r in _read(
            spark, p, corruptMode="drop",
            partitionBytes=str(os.path.getsize(p) + 1),
        ).collect()
    }
    assert {f"<urn:mas:{i}>" for i in range(3)} <= got
    assert "<urn:mas:3>" not in got
    with pytest.raises(Exception):
        _read(spark, p, corruptMode="fail").collect()


# ------------------------------------------- round-11: streaming ingest


def test_warc_stream_equals_batch_on_finite_replay(spark, tmp_path):
    """readStream over an archive drop directory == the batch read on
    the same finite archives (availableNow drains everything seen)."""
    import uuid

    from mongo_arrow_spark.sources.warc import read_warc_stream

    drop = str(tmp_path / "drop")
    os.makedirs(drop)
    for a in range(3):
        _mk_member_warc(
            os.path.join(drop, f"crawl-{a}.warc.gz"),
            [
                build_warc_record(
                    f"<urn:mas:{a}-{i}>", f"https://x.org/{a}/{i}",
                    f"payload {a}-{i}".encode(),
                )
                for i in range(5)
            ],
        )
    name = f"warc_stream_{uuid.uuid4().hex[:8]}"
    (
        read_warc_stream(spark, drop)
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got = {
        (r["record_id"], bytes(r["payload"]))
        for r in spark.table(name).collect()
    }
    want = {
        (r["record_id"], bytes(r["payload"]))
        for r in _read(spark, drop).collect()
    }
    assert got == want and len(got) == 15


def test_warc_stream_incremental_arrivals(spark, tmp_path):
    """New archives landing between offsets are planned exactly once —
    including a late arrival whose name sorts FIRST (the seen-set
    offset contract), and a large arrival still byte-splits within
    the microbatch."""
    from mongo_arrow_spark.sources.warc import WARC_SCHEMA, WarcStreamReader

    drop = tmp_path / "drop2"
    drop.mkdir()

    def arrive(name, tag, n, body=b"x"):
        _mk_member_warc(
            str(drop / name),
            [
                build_warc_record(
                    f"<urn:mas:{tag}-{i}>", None, body, http=False
                )
                for i in range(n)
            ],
        )

    arrive("m-mid.warc.gz", "first", 4)
    reader = WarcStreamReader(WARC_SCHEMA, {"path": str(drop)})
    start = reader.initialOffset()
    mid = reader.latestOffset()
    first = [p for p in reader.partitions(start, mid)]
    assert sorted(
        os.path.basename(getattr(p, "paths", (getattr(p, "path", ""),))[0])
        for p in first
    ) == ["m-mid.warc.gz"]
    # late arrival sorting BEFORE the committed file is still new
    arrive("a-early.warc.gz", "late", 3)
    end = reader.latestOffset()
    second = reader.partitions(mid, end)
    names = {
        os.path.basename(getattr(p, "paths", (getattr(p, "path", ""),))[0])
        for p in second
    }
    assert names == {"a-early.warc.gz"}
    # replay of the committed range is unchanged by the new arrival
    replay = reader.partitions(start, mid)
    assert [
        getattr(p, "paths", getattr(p, "path", None)) for p in replay
    ] == [getattr(p, "paths", getattr(p, "path", None)) for p in first]
    # a big arrival byte-splits within its microbatch
    arrive("z-big.warc.gz", "big", 40, body=b"B" * 4096)
    big = reader.partitions(end, reader.latestOffset())
    small_reader = WarcStreamReader(
        WARC_SCHEMA, {"path": str(drop), "partitionbytes": "2048"}
    )
    big_split = small_reader.partitions(end, small_reader.latestOffset())
    assert len(big) == 1 and len(big_split) > 1
    # and the split reads union to exactly the file's records
    got = sorted(
        headers.get("warc-record-id")
        for p in big_split
        for _, headers, _ in _collect_records(small_reader, p)
    )
    assert got == sorted(f"<urn:mas:big-{i}>" for i in range(40))


def _collect_records(reader, part):
    out = []
    for batch in reader.read(part):
        for i in range(batch.num_rows):
            out.append(
                (None, {"warc-record-id": batch.column(0)[i].as_py()}, None)
            )
    return out


# ------------------------------------- round-11: main-content extraction


def test_html_main_text_drops_boilerplate(spark):
    from mongo_arrow_spark.operators.text import html_main_text

    html = (
        "<html><head><title>t</title></head><body>"
        "<header><h1>Site name</h1></header>"
        "<nav><ul><li><a href='/'>Home</a></li>"
        "<li><a href='/a'>About us page</a></li></ul></nav>"
        "<article><p>This is the actual prose of the page, long enough"
        " to survive the segment filter.</p></article>"
        "<div class='links'><a href='/1'>one</a> <a href='/2'>two</a>"
        " <a href='/3'>three</a></div>"
        "<footer>&copy; 2026 Example Corp</footer>"
        "</body></html>"
    )
    df = spark.createDataFrame([(html,)], "h string")
    out = df.select(html_main_text("h").alias("o")).first()["o"]
    assert "actual prose" in out
    assert "Home" not in out and "Site name" not in out
    assert "one" not in out and "Example Corp" not in out


def test_html_main_text_link_density_and_length(spark):
    from mongo_arrow_spark.operators.text import html_main_text

    # long but link-dense segment dropped; prose with a MINOR inline
    # link kept (its link density is low)
    html = (
        "<body><div>"
        "<a href='/x'>A long navigation label here</a> "
        "<a href='/y'>another long navigation label</a></div>"
        "<p>Real content sentence mentioning <a href='/r'>a ref</a> "
        "inline and carrying on with enough prose to pass.</p>"
        "<p>short</p></body>"
    )
    df = spark.createDataFrame([(html,)], "h string")
    out = df.select(html_main_text("h").alias("o")).first()["o"]
    assert "Real content sentence" in out and "a ref" in out
    assert "navigation label" not in out
    assert "short" not in out  # below min_text_chars
    # dials: raising density tolerance keeps the nav block
    loose = df.select(
        html_main_text("h", max_link_density=1.0).alias("o")
    ).first()["o"]
    assert "navigation label" in loose


def test_html_main_text_no_surviving_segment_is_empty(spark):
    from mongo_arrow_spark.operators.text import html_main_text

    df = spark.createDataFrame(
        [("<body><nav><a href='/'>Home</a></nav></body>",), (None,)],
        "h string",
    )
    got = [r["o"] for r in df.select(html_main_text("h").alias("o")).collect()]
    assert got[0] == ""
    assert got[1] is None


def test_html_main_text_is_udf_free(spark):
    from mongo_arrow_spark.operators.text import html_main_text

    df = spark.createDataFrame([("<p>x</p>",)], "h string")
    plan = (
        df.select(html_main_text("h"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan and "Exchange" not in plan


# -------------------------------------------- r11 review-finding fixes


def test_gz_seek_is_bounded_to_range(tmp_path):
    """A boundary-less range returns None without scanning past its
    end (single-member archives used to cost O(n_splits x size))."""
    from mongo_arrow_spark.sources.warc import _seek_gz_member

    p = str(tmp_path / "one.warc.gz")
    with gzip.open(p, "wb") as fh:
        fh.write(build_warc_record("<urn:mas:0>", None, b"x" * 100_000, http=False))
    size = os.path.getsize(p)

    class CountingFile:
        def __init__(self, fh):
            self.fh = fh
            self.read_bytes = 0
        def read(self, n=-1):
            b = self.fh.read(n)
            self.read_bytes += len(b)
            return b
        def __getattr__(self, a):
            return getattr(self.fh, a)

    with open(p, "rb") as raw:
        cf = CountingFile(raw)
        start, end = size // 4, size // 4 + 2048
        assert _seek_gz_member(cf, start, p, end) is None
        # bounded: ~ (range + one chunk), never the rest of the file
        assert cf.read_bytes <= (end - start) + (1 << 20)


def test_probe_accepts_folded_and_giant_headers(tmp_path):
    """A record with folded continuation headers and one with a header
    block larger than the probe cap are both found at split
    boundaries (tristate probe + full-parse fallback)."""
    from mongo_arrow_spark.sources.warc import (
        _MAX_PROBE_HEADER_BYTES,
        _probe_record_at,
        _seek_record_start,
    )

    folded = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Target-URI: https://x.org/a\r\n"
        b"  folded-continuation-line\r\n"
        b"Content-Length: 4\r\n\r\nBODY\r\n\r\n"
    )
    giant_header = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        + b"X-Big: " + b"v" * (_MAX_PROBE_HEADER_BYTES + 100) + b"\r\n"
        + b"Content-Length: 4\r\n\r\nBODY\r\n\r\n"
    )
    first = build_warc_record("<urn:mas:first>", None, b"y" * 64, http=False)
    p = str(tmp_path / "hdr.warc")
    _mk_warc(p, [first, folded, giant_header])
    size = os.path.getsize(p)
    off_folded = len(first)
    off_giant = len(first) + len(folded)
    with open(p, "rb") as fh:
        assert _probe_record_at(fh, off_folded, size) is True
        assert _probe_record_at(fh, off_giant, size) is None  # undecided
        # the seek (with fallback) still lands on them
        assert _seek_record_start(fh, off_folded - 1, p)
        assert fh.tell() == off_folded
        assert _seek_record_start(fh, off_giant - 1, p)
        assert fh.tell() == off_giant


def test_drop_mode_propagates_plain_oserror(tmp_path):
    """corruptMode=drop contains CORRUPTION (BadGzipFile/EOFError/
    zlib.error) but not infrastructure failures: a transient OSError
    must propagate for task retry, not silently drop data."""
    from mongo_arrow_spark.sources.warc import _iter_records

    class FlakyFile:
        def __init__(self):
            self.calls = 0
        def tell(self):
            return 0
        def readline(self, *a):
            raise OSError(5, "Input/output error")

    with pytest.raises(OSError):
        list(_iter_records(FlakyFile(), "flaky", "drop"))


def test_split_gz_false_forces_whole_file(spark, tmp_path):
    recs = [
        build_warc_record(f"<urn:mas:{i}>", None, b"z" * 2000, http=False)
        for i in range(30)
    ]
    p = str(tmp_path / "nosplit.warc.gz")
    _mk_member_warc(p, recs)
    got = _read(
        spark, p, splitGz="false", partitionBytes="1024", warcTypes="*"
    )
    assert got.count() == 30


# --------------------------------------------- r11: CDX sidecar indexes


def test_write_warc_index_and_indexed_split_read(spark, tmp_path):
    """index=True writes one .cdxj per archive with exact offsets;
    byte-split reads position via the index (no scanning) and still
    cover every record exactly once."""
    import json

    df = spark.createDataFrame(
        [(i, f"text {i} " * 30) for i in range(50)],
        "doc_id long, text string",
    ).coalesce(1)
    d = str(tmp_path / "idx")
    write_warc(df, d, index=True)
    archives = [f for f in os.listdir(d) if f.endswith(".warc.gz")]
    sidecars = [f for f in os.listdir(d) if f.endswith(".cdxj")]
    assert len(archives) == 1 and len(sidecars) == 1
    f = os.path.join(d, archives[0])
    entries = [
        json.loads(line)
        for line in open(os.path.join(d, sidecars[0]))
        if line.strip()
    ]
    assert len(entries) == 51  # warcinfo + 50
    # offsets are exact member starts: offset+length chains and the
    # last entry reaches EOF
    entries.sort(key=lambda e: e["offset"])
    for a, b in zip(entries, entries[1:]):
        assert a["offset"] + a["length"] == b["offset"]
    assert entries[-1]["offset"] + entries[-1]["length"] == os.path.getsize(f)
    got = sorted(
        r["doc_id"]
        for r in _read(spark, f, partitionBytes="2048")
        .select(
            __import__("pyspark.sql.functions", fromlist=["F"]).regexp_extract(
                "record_id", r"urn:mas:(\d+)", 1
            ).cast("long").alias("doc_id")
        )
        .collect()
    )
    assert got == list(range(50))


def test_index_defeats_phantom_member(spark, tmp_path):
    """An archive whose payload embeds a REAL .warc.gz compressed with
    stored deflate blocks (level 0) reproduces the embedded member
    bytes verbatim: the scan path can validate a phantom boundary, the
    index path cannot be fooled. Both modes must agree with the
    whole-file read; useIndex (default) must be exact."""
    inner = gzip.compress(
        build_warc_record("<urn:mas:phantom>", None, b"EVIL", http=False),
        6,
        mtime=0,
    )
    # outer members at level 0 => stored blocks, inner bytes verbatim
    recs = [
        build_warc_record(f"<urn:mas:{i}>", None, b"pad " * 200 + inner, http=False)
        for i in range(8)
    ]
    d = str(tmp_path / "ph")
    os.makedirs(d)
    f = os.path.join(d, "part-00000.warc.gz")
    import json

    with open(f, "wb") as fh, open(f + ".cdxj", "w") as idx:
        pos = 0
        for i, rec in enumerate(recs):
            blob = gzip.compress(rec, 0, mtime=0)
            idx.write(json.dumps({"offset": pos, "length": len(blob),
                                  "id": f"<urn:mas:{i}>", "uri": None,
                                  "type": "response"}) + "\n")
            fh.write(blob)
            pos += len(blob)
    # sanity: the embedded magic is really present in the raw bytes
    raw = open(f, "rb").read()
    assert raw.count(b"\x1f\x8b\x08") > len(recs)
    whole = sorted(
        r["record_id"] for r in _read(spark, f, warcTypes="*").collect()
    )
    split_indexed = sorted(
        r["record_id"]
        for r in _read(
            spark, f, warcTypes="*", partitionBytes=str(len(raw) // 5)
        ).collect()
    )
    assert split_indexed == whole
    assert "<urn:mas:phantom>" not in split_indexed


def test_use_index_false_falls_back_to_scan(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, "w " * 50) for i in range(30)], "doc_id long, text string"
    ).coalesce(1)
    d = str(tmp_path / "fb")
    write_warc(df, d, index=True)
    f = os.path.join(
        d, [x for x in os.listdir(d) if x.endswith(".warc.gz")][0]
    )
    n1 = _read(spark, f, partitionBytes="1024").count()
    n2 = _read(spark, f, partitionBytes="1024", useIndex="false").count()
    assert n1 == n2 == 30
    # and with no sidecar at all, scanning still works
    os.remove(f + ".cdxj")
    assert _read(spark, f, partitionBytes="1024").count() == 30


# --------------------------------- r11: provenance offsets + random access


def test_source_offset_round_trips_every_layout(spark, tmp_path):
    """Every reader row's (source_file, source_offset) must fetch the
    SAME record via read_warc_record — across plain byte-split,
    gz byte-split, and whole-file gz decode."""
    from mongo_arrow_spark.sources.warc import read_warc_record

    recs = [
        build_warc_record(
            f"<urn:mas:{i}>", f"https://x.org/{i}", f"payload-{i}".encode()
        )
        for i in range(15)
    ]
    plain = _mk_warc(str(tmp_path / "p.warc"), recs)
    member_gz = _mk_member_warc(str(tmp_path / "m.warc.gz"), recs)
    whole_gz = _mk_warc(str(tmp_path / "w.warc.gz"), recs, compress=True)
    for path, opts in (
        (plain, {"partitionBytes": "512"}),
        (member_gz, {"partitionBytes": "512"}),
        (whole_gz, {}),  # single-member: whole-file or degraded split
    ):
        rows = _read(spark, path, **opts).collect()
        assert len(rows) == 15, path
        for r in rows:
            fetched = read_warc_record(path, r["source_offset"])
            assert fetched["record_id"] == r["record_id"], path
            assert fetched["payload"] == bytes(r["payload"]), path
            assert fetched["http_status"] == r["http_status"]


def test_read_warc_record_bad_offset_raises(tmp_path):
    from mongo_arrow_spark.sources.warc import (
        WarcCorruptError,
        read_warc_record,
    )

    p = _mk_warc(
        str(tmp_path / "b.warc"),
        [build_warc_record("<urn:mas:0>", None, b"x" * 100, http=False)],
    )
    with pytest.raises(WarcCorruptError):
        read_warc_record(p, 17)


def test_foreign_and_partial_cdxj_sidecars(spark, tmp_path):
    """Standard CDXJ lines (SURT + timestamp before the JSON) parse;
    an index that does not chain contiguously over the archive is
    IGNORED (scan fallback) rather than trusted or fatal."""
    import json

    from mongo_arrow_spark.sources.warc import _load_index_offsets

    recs = [
        build_warc_record(f"<urn:mas:{i}>", None, b"q" * 300, http=False)
        for i in range(6)
    ]
    d = tmp_path / "foreign"
    d.mkdir()
    f = str(d / "part-00000.warc.gz")
    offs = []
    with open(f, "wb") as fh:
        pos = 0
        for rec in recs:
            blob = gzip.compress(rec, 6, mtime=0)
            offs.append((pos, len(blob)))
            fh.write(blob)
            pos += len(blob)
    # pywb-style cdxj: surt key + timestamp, then the JSON blob
    with open(f + ".cdxj", "w") as idx:
        for (o, ln), i in zip(offs, range(len(offs))):
            idx.write(
                f"org,example)/{i} 20260101000000 "
                + json.dumps({"offset": o, "length": ln, "status": "200"})
                + "\n"
            )
    assert _load_index_offsets(f) == [o for o, _ in offs]
    assert _read(spark, f, warcTypes="*", partitionBytes="512").count() == 6
    # partial index (first record missing): rejected -> scan fallback
    with open(f + ".cdxj", "w") as idx:
        for (o, ln) in offs[1:]:
            idx.write(json.dumps({"offset": o, "length": ln}) + "\n")
    assert _load_index_offsets(f) is None
    assert _read(spark, f, warcTypes="*", partitionBytes="512").count() == 6
    # garbage sidecar: ignored, not fatal
    with open(f + ".cdxj", "w") as idx:
        idx.write("not an index at all\n")
    assert _load_index_offsets(f) is None
    assert _read(spark, f, warcTypes="*").count() == 6


def test_wet_shape_conversion_records(spark, tmp_path):
    """Common Crawl WET files are WARC archives of `conversion`
    records (extracted text, no HTTP envelope) — the reader handles
    them with warcTypes=conversion, no new code path."""
    recs = [_info_record()] + [
        build_warc_record(
            f"<urn:mas:wet:{i}>",
            f"https://x.org/{i}",
            f"extracted plain text {i}".encode(),
            warc_type="conversion",
            http=False,
            http_content_type="text/plain",
        )
        for i in range(5)
    ]
    p = str(tmp_path / "seg.warc.gz")
    _mk_member_warc(p, recs)
    rows = _read(spark, p, warcTypes="conversion").collect()
    assert len(rows) == 5
    assert all(r["warc_type"] == "conversion" for r in rows)
    assert bytes(rows[0]["payload"]).startswith(b"extracted plain text")
    assert rows[0]["http_status"] is None  # nothing to strip


def test_gz_split_exactly_once_randomized(spark, tmp_path):
    """Property sweep: random record counts/sizes (incl. empty bodies
    and bodies full of gzip magic + CRLF WARC markers), random
    partitionBytes — byte-split union must equal the whole-file read
    for every seed."""
    import random

    for seed in (7, 23, 91):
        rng = random.Random(seed)
        recs = []
        for i in range(rng.randint(5, 60)):
            size = rng.choice((0, 3, 50, 700, 5000))
            body = bytes(rng.getrandbits(8) for _ in range(min(size, 64)))
            body = body * (size // max(1, len(body)) + 1) if size else b""
            body = body[:size]
            if rng.random() < 0.3:
                body += b"\r\n\r\nWARC/1.0\r\n" + b"\x1f\x8b\x08"
            recs.append(
                build_warc_record(
                    f"<urn:mas:{seed}-{i}>", f"https://x/{i}", body,
                    http=rng.random() < 0.5,
                )
            )
        p = str(tmp_path / f"r{seed}.warc.gz")
        _mk_member_warc(p, recs)
        size = os.path.getsize(p)
        whole = {
            (r["record_id"], bytes(r["payload"]))
            for r in _read(spark, p, warcTypes="*").collect()
        }
        pb = rng.choice((512, 2048, max(1, size // rng.randint(2, 9))))
        split = {
            (r["record_id"], bytes(r["payload"]))
            for r in _read(
                spark, p, warcTypes="*", partitionBytes=str(pb)
            ).collect()
        }
        assert split == whole and len(whole) == len(recs), (seed, pb)


def test_parser_and_probe_accept_same_header_shapes(tmp_path):
    """_read_one and _is_header_line MUST agree (r11 ADVICE medium): a
    record the serial parser accepts is never rejected by the split-
    boundary probe (silent drop), and a header shape the probe rejects
    fails the parser loudly with WarcCorruptError (fail/drop policy)."""
    import io

    from mongo_arrow_spark.sources.warc import (
        WarcCorruptError,
        _is_header_line,
        _probe_record_at,
        _read_one,
    )

    def record_with(header_line: bytes) -> bytes:
        return (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            + header_line
            + b"Content-Length: 4\r\n\r\nBODY\r\n\r\n"
        )

    cases = [
        (b"X-Ok: value\r\n", True),
        (b"  folded continuation\r\n", True),
        (b"\tfolded tab continuation\r\n", True),
        (b"a-colon-less-line\r\n", False),        # no ':' at all
        (b"Bad Name: value\r\n", False),          # space inside the name
        (b"Non\xc3\xa9Ascii: v\r\n", False),      # non-token name bytes
        (b": empty-name\r\n", False),             # colon first
    ]
    for hline, ok in cases:
        blob = record_with(hline)
        # serial parse
        fh = io.BytesIO(blob)
        if ok:
            v, hdrs, body = _read_one(fh, "t", 0)
            assert body == b"BODY"
        else:
            with pytest.raises(WarcCorruptError):
                _read_one(fh, "t", 0)
        # shape predicate agrees line-by-line
        assert _is_header_line(hline) is ok, hline
        # boundary probe agrees on the whole record (file-backed: the
        # probe checks Content-Length against the file size)
        p = tmp_path / "agree.warc"
        p.write_bytes(blob)
        with open(p, "rb") as real:
            assert _probe_record_at(real, 0, len(blob)) is ok, hline


def test_folded_header_value_is_joined(tmp_path):
    """A folded continuation extends the PREVIOUS header's value."""
    import io

    from mongo_arrow_spark.sources.warc import _read_one

    blob = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"X-Long: part one\r\n"
        b"  part two\r\n"
        b"Content-Length: 4\r\n\r\nBODY\r\n\r\n"
    )
    _, hdrs, body = _read_one(io.BytesIO(blob), "t", 0)
    assert hdrs["x-long"] == "part one part two"
    assert body == b"BODY"


def _embedded_archive_fixture(tmp_path, n_outer=8):
    """Outer member-per-record archive where one record's PAYLOAD is a
    complete inner .warc.gz, and the outer member is compressed with
    STORED deflate blocks (level 0) so the inner archive's bytes appear
    VERBATIM in the raw outer file — the documented phantom-member
    shape: a boundary scan entering mid-payload validates the embedded
    member and would emit the inner (phantom) records."""
    inner = gzip.compress(
        build_warc_record("<urn:mas:PHANTOM>", "https://evil/x", b"inner"),
        6,
        mtime=0,
    )
    recs = [
        build_warc_record(f"<urn:mas:{i}>", f"https://x/{i}", b"p" * 200)
        for i in range(n_outer)
    ]
    evil = build_warc_record("<urn:mas:evil>", "https://x/evil", inner)
    p = str(tmp_path / "embed.warc.gz")
    with open(p, "wb") as fh:
        for i, rec in enumerate(recs):
            fh.write(gzip.compress(rec, 6, mtime=0))
            if i == n_outer // 2:
                fh.write(gzip.compress(evil, 0, mtime=0))  # stored blocks
    want = {f"<urn:mas:{i}>" for i in range(n_outer)} | {"<urn:mas:evil>"}
    return p, want


def test_gz_drop_mode_default_defeats_stored_deflate_phantom(spark, tmp_path):
    """corruptMode=drop + default splitGz: an unindexed large gz is NOT
    boundary-scanned (whole-file decode) so the embedded archive stays
    payload — no phantom records, no silent mid-range stop (r11 ADVICE
    fix). With a trusted index sidecar the file still byte-splits
    offset-exact under drop. Explicit splitGz=true keeps the documented
    opt-in behavior."""
    import json

    p, want = _embedded_archive_fixture(tmp_path)
    size = os.path.getsize(p)
    pb = str(max(64, size // 5))

    def ids(**opts):
        return sorted(
            r["record_id"]
            for r in _read(spark, p, partitionBytes=pb, **opts).collect()
        )

    # default splitGz under drop, no index: whole-file, exact, no phantom
    got = ids(corruptMode="drop")
    assert got == sorted(want), got
    assert "<urn:mas:PHANTOM>" not in got
    # a trusted (chain-complete) index re-enables byte-splits under drop
    offs = []
    with open(p, "rb") as fh:
        raw = fh.read()
    pos = 0
    import zlib as _z
    while pos < len(raw):
        d = _z.decompressobj(31)
        d.decompress(raw[pos:])
        nxt = len(raw) - len(d.unused_data)
        offs.append((pos, nxt - pos))
        pos = nxt
    with open(p + ".cdxj", "w") as fh:
        for off, length in offs:
            fh.write(json.dumps({"offset": off, "length": length}) + "\n")
    got_idx = ids(corruptMode="drop")
    assert got_idx == sorted(want), got_idx
    # a GARBAGE index under drop degrades to whole-file (range-0 task
    # owns everything), still exact, still no phantom
    with open(p + ".cdxj", "w") as fh:
        fh.write(json.dumps({"offset": 7, "length": 1}) + "\n")
    got_bad = ids(corruptMode="drop")
    assert got_bad == sorted(want), got_bad
    os.remove(p + ".cdxj")
    # fail mode still byte-splits without an index and is LOUD on the
    # phantom chain (either a clean exact read or a WarcCorruptError —
    # never silent duplicates): here the scan may enter the embedded
    # member; accept loud failure or exact result
    from mongo_arrow_spark.sources.warc import WarcCorruptError  # noqa: F401
    try:
        got_fail = ids(corruptMode="fail")
        assert got_fail == sorted(want), got_fail
    except Exception:
        pass
    # explicit splitGz=true under drop: documented opt-in, may emit the
    # phantom — assert only that every TRUE record is still present
    got_opt = ids(corruptMode="drop", splitGz="true")
    assert set(want) <= set(got_opt)


def _http_record(rid, body, extra_headers=b""):
    """WARC response record with a hand-built HTTP envelope."""
    env = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        + extra_headers
        + b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
        + body
    )
    head = (
        f"WARC/1.0\r\nWARC-Type: response\r\n"
        f"WARC-Record-ID: {rid}\r\n"
        f"WARC-Target-URI: https://x/e\r\n"
        f"WARC-Date: 2026-01-01T00:00:00Z\r\n"
        f"Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(env)}\r\n\r\n"
    ).encode()
    return head + env + b"\r\n\r\n"


def test_decode_content_encoding_matches_identity_twin(spark, tmp_path):
    """decodeContentEncoding=true: gzip / deflate (zlib AND raw) /
    chunked / combined chunked+gzip responses read byte-identical to an
    identity-encoded twin archive; default (false) keeps wire bytes."""
    import zlib as _z

    prose = ("The quick brown fox jumps over the lazy dog. " * 40).encode()

    def chunked(b, n=100):
        out = b""
        for i in range(0, len(b), n):
            c = b[i:i + n]
            out += hex(len(c))[2:].encode() + b"\r\n" + c + b"\r\n"
        return out + b"0\r\n\r\n"

    gz_prose = gzip.compress(prose, mtime=0)
    encoded = [
        _http_record("<urn:e:gzip>", gz_prose,
                     b"Content-Encoding: gzip\r\n"),
        _http_record("<urn:e:zlibdef>", _z.compress(prose),
                     b"Content-Encoding: deflate\r\n"),
        _http_record("<urn:e:rawdef>",
                     _z.compressobj(9, _z.DEFLATED, -15).compress(prose)
                     + _z.compressobj(9, _z.DEFLATED, -15).flush(),
                     b"Content-Encoding: deflate\r\n"),
        _http_record("<urn:e:chunk>", chunked(prose),
                     b"Transfer-Encoding: chunked\r\n"),
        _http_record("<urn:e:both>", chunked(gz_prose),
                     b"Content-Encoding: gzip\r\n"
                     b"Transfer-Encoding: chunked\r\n"),
        _http_record("<urn:e:plain>", prose),
    ]
    # raw-deflate compressobj above: flush on a fresh object returns the
    # empty-stream tail; rebuild properly
    co = _z.compressobj(9, _z.DEFLATED, -15)
    raw_deflate = co.compress(prose) + co.flush()
    encoded[2] = _http_record("<urn:e:rawdef>", raw_deflate,
                              b"Content-Encoding: deflate\r\n")
    identity = [
        _http_record(rid, prose)
        for rid in ("<urn:e:gzip>", "<urn:e:zlibdef>", "<urn:e:rawdef>",
                    "<urn:e:chunk>", "<urn:e:both>", "<urn:e:plain>")
    ]
    pe = str(tmp_path / "enc.warc")
    pi = str(tmp_path / "ident.warc")
    _mk_warc(pe, encoded)
    _mk_warc(pi, identity)

    got = {
        r["record_id"]: bytes(r["payload"])
        for r in _read(spark, pe, decodeContentEncoding="true").collect()
    }
    want = {
        r["record_id"]: bytes(r["payload"])
        for r in _read(spark, pi).collect()
    }
    assert got == want and all(v == prose for v in got.values())
    # default: wire bytes untouched
    raw = {
        r["record_id"]: bytes(r["payload"])
        for r in _read(spark, pe).collect()
    }
    assert raw["<urn:e:gzip>"] == gz_prose
    assert raw["<urn:e:plain>"] == prose


def test_decode_content_encoding_corrupt_modes(spark, tmp_path):
    """A truncated gzip body under decodeContentEncoding: fail raises,
    drop skips THAT record and keeps the rest of the file."""
    prose = b"hello world " * 50
    gz_p = gzip.compress(prose, mtime=0)
    recs = [
        _http_record("<urn:c:bad>", gz_p[:20],
                     b"Content-Encoding: gzip\r\n"),
        _http_record("<urn:c:good>", gz_p,
                     b"Content-Encoding: gzip\r\n"),
    ]
    p = str(tmp_path / "trunc.warc")
    _mk_warc(p, recs)
    with pytest.raises(Exception):
        _read(spark, p, decodeContentEncoding="true",
              corruptMode="fail").collect()
    rows = _read(spark, p, decodeContentEncoding="true",
                 corruptMode="drop").collect()
    assert [r["record_id"] for r in rows] == ["<urn:c:good>"]
    assert bytes(rows[0]["payload"]) == prose


def test_read_warc_record_decodes_content_encoding(tmp_path):
    from mongo_arrow_spark.sources.warc import read_warc_record

    prose = b"audit me " * 30
    p = str(tmp_path / "one.warc")
    gz_p = gzip.compress(prose, mtime=0)
    _mk_warc(p, [_http_record("<urn:a:1>", gz_p,
                              b"Content-Encoding: gzip\r\n")])
    assert read_warc_record(p, 0, decode_content_encoding=True)[
        "payload"] == prose
    assert read_warc_record(p, 0)["payload"] == gz_p


def test_wet_write_read_round_trip_with_provenance(spark, tmp_path):
    """write_wet -> read(warcTypes=conversion): text round-trips as
    text/plain conversion records; WARC-Refers-To surfaces as the
    refers_to column; WARC-Source-File/Offset provenance extension
    headers are audit-fetchable via read_warc_record."""
    from mongo_arrow_spark.sources.warc import (
        read_warc_record,
        write_warc,
        write_wet,
    )

    # source archive first, so the provenance actually points somewhere
    src_dir = str(tmp_path / "src")
    df = spark.createDataFrame(
        [(i, f"extracted text {i} é") for i in range(40)],
        "doc_id long, text string",
    )
    write_warc(df.repartition(2), src_dir, index=True)
    raw = _read(spark, src_dir).select(
        "record_id", "payload", "source_file", "source_offset"
    )
    from pyspark.sql import functions as F2

    extracted = raw.select(
        F2.regexp_extract("record_id", r"urn:mas:(\d+)", 1)
        .cast("long")
        .alias("doc_id"),
        F2.col("payload").cast("string").alias("text"),
        F2.col("record_id").alias("src_id"),
        "source_file",
        "source_offset",
    )
    out = str(tmp_path / "wet")
    write_wet(
        extracted.repartition(2),
        out,
        refers_to_col="src_id",
        source_file_col="source_file",
        source_offset_col="source_offset",
        index=True,
    )
    import glob

    files = sorted(glob.glob(out + "/part-*.warc.wet.gz"))
    assert files and all(glob.glob(f + ".cdxj") for f in files)
    back = _read(spark, out, warcTypes="conversion")
    rows = back.collect()
    assert len(rows) == 40
    assert all(r["content_type"] == "text/plain" for r in rows)
    got = {
        r["refers_to"]: bytes(r["payload"]).decode() for r in rows
    }
    assert got == {
        f"<urn:mas:{i}>": f"extracted text {i} é" for i in range(40)
    }
    # audit fetch: conversion record -> headers -> source archive bytes
    one = rows[0]
    wet_rec = read_warc_record(
        out + "/" + one["source_file"], one["source_offset"]
    )
    hdrs = wet_rec["headers"]
    assert hdrs["warc-refers-to"] == one["refers_to"]
    src_rec = read_warc_record(
        src_dir + "/" + hdrs["warc-source-file"],
        int(hdrs["warc-source-offset"]),
    )
    assert src_rec["record_id"] == one["refers_to"]
    assert src_rec["payload"].decode() == bytes(one["payload"]).decode()
    # overwrite semantics: rewriting with fewer rows clears stale parts
    write_wet(extracted.limit(5).repartition(1), out)
    assert _read(spark, out, warcTypes="conversion").count() == 5


def test_decode_content_encoding_transfer_gzip_and_unknown(spark, tmp_path):
    """r12 review fixes: (a) 'Transfer-Encoding: gzip' (RFC 9112) is
    decoded, never silently returned as compressed bytes; (b) an
    unavailable/unknown codec ('br' without the brotli wheel, bogus
    tokens) is contained by corruptMode — drop skips THAT record, the
    rest of the file survives."""
    prose = b"the quick brown fox " * 30
    gz = gzip.compress(prose, mtime=0)
    recs = [
        _http_record("<urn:t:tgzip>", gz, b"Transfer-Encoding: gzip\r\n"),
        _http_record("<urn:t:br>", b"\x0b\x02\x80junk",
                     b"Content-Encoding: br\r\n"),
        _http_record("<urn:t:bogus>", prose,
                     b"Content-Encoding: frobnicate\r\n"),
        _http_record("<urn:t:plain>", prose),
    ]
    p = str(tmp_path / "te.warc")
    _mk_warc(p, recs)
    rows = {
        r["record_id"]: bytes(r["payload"])
        for r in _read(
            spark, p, decodeContentEncoding="true", corruptMode="drop"
        ).collect()
    }
    # transfer-gzip decoded; br (no wheel) and bogus dropped; plain kept
    assert rows == {"<urn:t:tgzip>": prose, "<urn:t:plain>": prose}
    with pytest.raises(Exception):
        _read(spark, p, decodeContentEncoding="true",
              corruptMode="fail").collect()


def test_write_wet_null_offset_omits_header(spark, tmp_path):
    """A NULL source_offset (NaN through pandas) omits the provenance
    header instead of killing the task (r12 review fix)."""
    from mongo_arrow_spark.sources.warc import read_warc_record, write_wet

    df = spark.createDataFrame(
        [(1, "text one", "a.warc.gz", 100), (2, "text two", None, None)],
        "doc_id long, text string, sf string, so long",
    )
    out = str(tmp_path / "wetnull")
    write_wet(
        df.coalesce(1), out,
        source_file_col="sf", source_offset_col="so",
    )
    back = _read(spark, out, warcTypes="conversion").collect()
    assert len(back) == 2
    by_id = {r["record_id"]: r for r in back}
    rec1 = read_warc_record(
        out + "/" + by_id["<urn:mas:wet:1>"]["source_file"],
        by_id["<urn:mas:wet:1>"]["source_offset"],
    )
    assert rec1["headers"]["warc-source-offset"] == "100"
    rec2 = read_warc_record(
        out + "/" + by_id["<urn:mas:wet:2>"]["source_file"],
        by_id["<urn:mas:wet:2>"]["source_offset"],
    )
    assert "warc-source-offset" not in rec2["headers"]
    assert "warc-source-file" not in rec2["headers"]


def test_filter_urls_drops_nulls_unconditionally(spark):
    from mongo_arrow_spark.operators.url import filter_urls

    df = spark.createDataFrame(
        [(0, "https://ok.org/x"), (1, None)], "doc_id long, url string"
    )
    assert [r["doc_id"] for r in filter_urls(df).collect()] == [0]
    assert [
        r["doc_id"]
        for r in filter_urls(df, block_domains=["b.org"]).collect()
    ] == [0]


def test_extract_text_content_type_routing(spark):
    """r12 verdict #6: twin records — identical payload bytes, one
    declared text/plain and one text/html. The plain record passes
    through VERBATIM (prose mentioning <angle brackets> is not
    tag-stripped); the HTML record extracts exactly as html_to_text
    would. Undeclared content types fall to the payload probe."""
    from mongo_arrow_spark.operators.text import extract_text, html_to_text

    payload = "code: if a <b> c &amp; d </b> done"
    rows = [
        ("plain", "text/plain; charset=utf-8", payload),
        ("html", "text/html; charset=utf-8", payload),
        ("none_tagfree", None, "just prose, 1 < 2 at most"),
        ("none_tagged", None, "<p>hello <b>world</b></p>"),
        ("other_tagged", "application/octet-stream", "<p>hi</p>"),
        ("null_payload", "text/plain", None),
    ]
    df = spark.createDataFrame(rows, "rid string, ct string, payload string")
    got = {
        r["rid"]: r["out"]
        for r in df.select(
            "rid",
            extract_text("payload", "ct").alias("out"),
        ).collect()
    }
    assert got["plain"] == payload  # verbatim, including <b> and &amp;
    expected_html = df.filter("rid = 'html'").select(
        html_to_text("payload").alias("t")
    ).first()["t"]
    assert got["html"] == expected_html
    assert "<b>" not in got["html"] and "&amp;" not in got["html"]
    assert got["none_tagfree"] == "just prose, 1 < 2 at most"
    assert got["none_tagged"] == "hello world"
    assert got["other_tagged"] == "hi"
    assert got["null_payload"] is None


def test_extract_text_main_routing_and_udf_free(spark):
    """main=True routes to html_main_text for HTML and still passes
    text/plain through verbatim; the whole routed expression stays a
    JVM projection (no Python eval in the plan)."""
    from mongo_arrow_spark.operators.text import extract_text

    html = (
        "<html><body><nav>a b c d e f g h i j k l m n o p</nav>"
        "<p>This paragraph is long enough to survive the segment "
        "filter with room to spare.</p></body></html>"
    )
    df = spark.createDataFrame(
        [("h", "text/html", html), ("p", "text/plain", html)],
        "rid string, ct string, payload string",
    )
    out = df.select(
        "rid", extract_text("payload", "ct", main=True).alias("t")
    )
    got = {r["rid"]: r["t"] for r in out.collect()}
    assert got["h"].startswith("This paragraph")
    assert "nav" not in got["h"].split("This")[0]
    assert got["p"] == html  # declared plain: verbatim even with tags
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_write_warc_scheme_uri_via_pyarrow_fs(spark, tmp_path):
    """r12 verdict #3: a ``scheme://`` output path routes through
    pyarrow.fs instead of executor-local ``open()``. ``file://``
    deliberately takes that branch, so the full round trip (overwrite
    cleanup, streaming append, index sidecar, empty-partition removal)
    exercises the object-store code path against a real FS."""
    from mongo_arrow_spark.sources import register_warc, write_warc

    d = tmp_path / "scheme_out"
    uri = "file://" + str(d)
    df = spark.createDataFrame(
        [(i, f"doc number {i}") for i in range(20)], "doc_id long, text string"
    ).repartition(4)
    # pre-plant a stale part that the overwrite contract must remove
    d.mkdir()
    (d / "part-99999.warc.gz").write_bytes(b"stale")
    write_warc(df, uri, index=True)
    assert not (d / "part-99999.warc.gz").exists()
    assert sorted(p.name for p in d.glob("*.cdxj"))  # sidecars written
    register_warc(spark)
    back = spark.read.format("warc").load(str(d))
    assert back.count() == 20
    got = sorted(
        r["record_id"] for r in back.select("record_id").collect()
    )
    assert got[0] == "<urn:mas:0>"


def test_write_wet_scheme_uri_via_pyarrow_fs(spark, tmp_path):
    from mongo_arrow_spark.sources import register_warc, write_wet

    d = tmp_path / "wet_scheme_out"
    uri = "file://" + str(d)
    df = spark.createDataFrame(
        [(1, "extracted text one"), (2, "extracted text two")],
        "doc_id long, text string",
    ).repartition(2)
    write_wet(df, uri)
    register_warc(spark)
    back = (
        spark.read.format("warc")
        .option("warcTypes", "conversion")
        .load(str(d))
    )
    rows = {
        r["record_id"]: bytes(r["payload"]).decode()
        for r in back.collect()
    }
    assert rows == {
        "<urn:mas:wet:1>": "extracted text one",
        "<urn:mas:wet:2>": "extracted text two",
    }
