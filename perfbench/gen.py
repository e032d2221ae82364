"""Seeded input generator for the benchmark workloads.

Uses only the standard library, numpy and pyarrow, never the program's
own sinks (``write_warc``, ``api.write``), so a defect in a sink cannot
hide inside its own input. The same seed gives byte-identical files.

    python3 perfbench/gen.py <workload> <seed> <out_dir>

Writes the workload's files under ``out_dir`` plus ``manifest.json``,
which records the file layout, the input sizes and the shares the
generator planted (near-duplicates, refetches, holdout overlap).
"""

from __future__ import annotations

import gzip
import io
import json
import os
import random
import sys

# Sizes are set by the run budget, not by realism: every run pays a cold
# JVM start and a warm-up pass, and one pass must fit a few seconds so a
# run measures several. See perfbench/README.md for the numbers.
EXPORT_DOCS = 2000
EXPORT_PARTS = 16
EXPORT_CATS = 12
IMPORT_ROWS = 6000
CRAWL_RECORDS = 300
CRAWL_ARCHIVES = 4
CRAWL_NEAR_DUP_SHARE = 0.20
CRAWL_REFETCH_SHARE = 0.10
CRAWL_EXACT_DUP_SHARE = 0.03
CRAWL_SHORT_SHARE = 0.05
CRAWL_PII_SHARE = 0.10
CRAWL_HOLDOUT_FRESH = 30
CRAWL_HOLDOUT_OVERLAP_SHARE = 0.02
CRAWL_SHARDS = 6


def _gz_bytes(data: bytes) -> bytes:
    """gzip with a zero mtime, so equal input gives equal bytes."""
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", compresslevel=6, mtime=0) as fh:
        fh.write(data)
    return buf.getvalue()


# ------------------------------------------------------------ doc_io: export side


def _export_doc(rnd: random.Random, n: int) -> dict:
    doc = {
        "_id": {"$oid": "%024x" % rnd.getrandbits(96)},
        "n": n,
        "qty": rnd.randrange(100),
        "cat": "c%02d" % rnd.randrange(EXPORT_CATS),
        "status": rnd.choice("AAABBC"),
        "ts": {
            "$date": "2024-%02d-%02dT%02d:%02d:%02d.%03dZ"
            % (
                1 + rnd.randrange(12),
                1 + rnd.randrange(28),
                rnd.randrange(24),
                rnd.randrange(60),
                rnd.randrange(60),
                rnd.randrange(1000),
            )
        },
        "price": {"$numberDecimal": "%d.%02d" % (rnd.randrange(5000), rnd.randrange(100))},
        "sub": {
            "region": "r%d" % rnd.randrange(5),
            "score": round(rnd.random(), 6),
            "level": rnd.randrange(10),
        },
        "tags": ["t%02d" % rnd.randrange(20) for _ in range(rnd.randrange(5))],
    }
    # about 5% of documents miss each optional field
    for key in ("qty", "price", "tags"):
        if rnd.random() < 0.05:
            del doc[key]
    if rnd.random() < 0.05:
        del doc["sub"]["score"]
    return doc


def _gen_export(seed: int, out: str) -> dict:
    rnd = random.Random(seed)
    lines = [json.dumps(_export_doc(rnd, n), separators=(",", ":")) + "\n" for n in range(EXPORT_DOCS)]
    single = os.path.join(out, "coll.jsonl")
    with open(single, "w") as fh:
        fh.writelines(lines)
    parts_dir = os.path.join(out, "parts")
    os.makedirs(parts_dir)
    per = -(-EXPORT_DOCS // EXPORT_PARTS)
    for i in range(EXPORT_PARTS):
        chunk = "".join(lines[i * per:(i + 1) * per]).encode()
        with open(os.path.join(parts_dir, "part-%02d.jsonl.gz" % i), "wb") as fh:
            fh.write(_gz_bytes(chunk))
    cats = os.path.join(out, "cats.jsonl")
    with open(cats, "w") as fh:
        for c in range(EXPORT_CATS):
            fh.write(json.dumps({"_id": "c%02d" % c, "label": "L%d" % (c % 4), "weight": 1 + rnd.randrange(9)}) + "\n")
    return {
        "export_docs": EXPORT_DOCS,
        "export_bytes": os.path.getsize(single),
        "parts_bytes": sum(os.path.getsize(os.path.join(parts_dir, f)) for f in os.listdir(parts_dir)),
        "files": {"single": single, "parts": parts_dir, "cats": cats},
    }


# ------------------------------------------------------------ doc_io: import side


def _gen_import(seed: int, out: str) -> dict:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = IMPORT_ROWS
    qty = rng.integers(0, 1000, n).astype(np.int32)
    x = np.round(rng.random(n) * 1000.0, 6)
    names = ["name-%d" % v for v in rng.integers(0, n // 2, n)]
    ts = (1_700_000_000_000_000 + rng.integers(0, 10**13, n)).astype("datetime64[us]")
    sub_a = rng.integers(0, 10_000, n)
    sub = [{"a": int(a), "b": "b%d" % (a % 11)} for a in sub_a]
    ntags = rng.integers(0, 4, n)
    tags = [["t%d" % ((i + j) % 17) for j in range(k)] for i, k in enumerate(ntags)]
    oids = [bytes(row) for row in rng.integers(0, 256, (n, 12), dtype=np.uint8)]
    table = pa.table(
        {
            "id": pa.array(np.arange(n, dtype=np.int64)),
            "qty": pa.array(qty),
            "x": pa.array(x),
            "name": pa.array(names),
            "ts": pa.array(ts),
            "flag": pa.array(rng.random(n) < 0.5),
            "sub": pa.array(sub),
            "tags": pa.array(tags, type=pa.list_(pa.string())),
            # raw 12-byte ObjectIds: the BSON-typed column
            "oid": pa.array(oids, type=pa.binary()),
        }
    )
    path = os.path.join(out, "table.parquet")
    pq.write_table(table, path)
    return {
        "import_rows": n,
        "import_bytes": table.nbytes,
        "files": {"table": path},
        "expect": {
            "rows": n,
            "sum_id": int(n * (n - 1) // 2),
            "sum_qty": int(qty.sum()),
            "sum_x": float(x.sum()),
            "distinct_names": len(set(names)),
            "n_tags": int(ntags.sum()),
            "sum_sub_a": int(sub_a.sum()),
            "flags": int(table.column("flag").to_numpy().sum()),
        },
    }


def gen_doc_io(seed: int, out: str) -> dict:
    export, imp = _gen_export(seed, out), _gen_import(seed, out)
    manifest = {**export, **imp, "files": {**export["files"], **imp["files"]}}
    manifest.update(
        # documents read plus rows written in one pass
        docs=EXPORT_DOCS + IMPORT_ROWS,
        # the sinks' input: the in-memory table the writes consume
        in_bytes=imp["import_bytes"],
        layout="one Extended-JSON .jsonl, the same documents as %d .jsonl.gz parts, a %d-document "
        "lookup collection, and one parquet file read into a pyarrow Table and a pandas DataFrame "
        "before timing" % (EXPORT_PARTS, EXPORT_CATS),
    )
    return manifest


# ---------------------------------------------------------- crawl_curate


def _vocab(rnd: random.Random, size: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < size:
        words.add("".join(rnd.choice(letters) for _ in range(rnd.randint(3, 9))))
    return sorted(words)


def _messy(url: str, rnd: random.Random) -> str:
    """A refetch spelling of ``url`` that canonicalizes back to it: scheme
    and host case, the default port, a trailing slash, tracking
    parameters and a fragment."""
    scheme, rest = url.split("://", 1)
    host, _, path = rest.partition("/")
    host = "".join(ch.upper() if rnd.random() < 0.5 else ch for ch in host)
    out = "%s://%s:443/%s/" % (scheme.upper(), host, path)
    out += rnd.choice(["?utm_source=feed&utm_medium=rss", "?utm_campaign=x", "?fbclid=abc"])
    return out + rnd.choice(["", "#top", "#c1"])


def gen_crawl_curate(seed: int, out: str) -> dict:
    rnd = random.Random(seed)
    vocab = _vocab(rnd, 3000)
    weights = [1.0 / (r + 1) for r in range(len(vocab))]
    cum = []
    acc = 0.0
    for w in weights:
        acc += w
        cum.append(acc)

    def text(lo: int, hi: int) -> str:
        return " ".join(rnd.choices(vocab, cum_weights=cum, k=rnd.randint(lo, hi)))

    def pii(t: str) -> str:
        words = t.split(" ")
        words.insert(rnd.randrange(len(words)), rnd.choice(
            ["user%d@mail%d.example.com" % (rnd.randrange(999), rnd.randrange(9)),
             "555-%03d-%04d" % (rnd.randrange(1000), rnd.randrange(10000))]
        ))
        return " ".join(words)

    # exact counts of each kind, shuffled, so the work a pass does barely
    # varies between seeds; the first records are fresh, so copies have a source
    n = CRAWL_RECORDS
    lead = 10
    kinds = []
    for kind, share in (("refetch", CRAWL_REFETCH_SHARE), ("near_dup", CRAWL_NEAR_DUP_SHARE),
                        ("exact_dup", CRAWL_EXACT_DUP_SHARE), ("short", CRAWL_SHORT_SHARE),
                        ("pii", CRAWL_PII_SHARE)):
        kinds += [kind] * round(n * share)
    kinds += ["fresh"] * (n - lead - len(kinds))
    rnd.shuffle(kinds)
    kinds = ["fresh"] * lead + kinds

    records = []  # (doc_id, url, url_key, text)
    bases = []  # fresh documents, the sources of every copy
    for doc_id, kind in enumerate(kinds):
        if kind == "refetch":
            src = records[rnd.choice(bases)]
            records.append((doc_id, _messy(src[1], rnd), src[2], src[3]))
            continue
        url = "https://news%d.example%d.org/a/%d" % (rnd.randrange(12), rnd.randrange(3), doc_id)
        if kind == "near_dup":
            words = records[rnd.choice(bases)][3].split(" ")
            for _ in range(max(1, len(words) // 20)):
                words[rnd.randrange(len(words))] = rnd.choice(vocab)
            body = " ".join(words)
        elif kind == "exact_dup":
            body = records[rnd.choice(bases)][3]
        elif kind == "short":
            body = text(5, 15)
        else:
            body = text(40, 160)
            if kind == "pii":
                body = pii(body)
            bases.append(doc_id)
        records.append((doc_id, url, url, body))

    warc_dir = os.path.join(out, "warc")
    os.makedirs(warc_dir)
    per = -(-n // CRAWL_ARCHIVES)
    for a in range(CRAWL_ARCHIVES):
        with open(os.path.join(warc_dir, "crawl-%05d.warc.gz" % a), "wb") as fh:
            for doc_id, url, _key, body in records[a * per:(a + 1) * per]:
                payload = body.encode()
                http = (
                    b"HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8\r\n"
                    b"Content-Length: %d\r\n\r\n" % len(payload)
                ) + payload
                head = (
                    "WARC/1.0\r\nWARC-Type: response\r\n"
                    "WARC-Record-ID: <urn:mas:%d>\r\nWARC-Target-URI: %s\r\n"
                    "WARC-Date: 2024-05-01T00:00:00Z\r\n"
                    "Content-Type: application/http; msgtype=response\r\n"
                    "Content-Length: %d\r\n\r\n" % (doc_id, url, len(http))
                ).encode()
                fh.write(_gz_bytes(head + http + b"\r\n\r\n"))

    holdout = [text(40, 160) for _ in range(CRAWL_HOLDOUT_FRESH)]
    overlap = rnd.sample(bases, max(1, round(n * CRAWL_HOLDOUT_OVERLAP_SHARE)))
    holdout += [records[i][3] for i in overlap]
    holdout_path = os.path.join(out, "holdout.jsonl")
    with open(holdout_path, "w") as fh:
        for i, t in enumerate(holdout):
            fh.write(json.dumps({"doc_id": 10_000_000 + i, "text": t}) + "\n")
    truth_path = os.path.join(out, "truth.jsonl")
    with open(truth_path, "w") as fh:
        for doc_id, url, key, body in records:
            fh.write(json.dumps({"doc_id": doc_id, "url": url, "url_key": key, "text": body}) + "\n")
    in_bytes = sum(os.path.getsize(os.path.join(warc_dir, f)) for f in os.listdir(warc_dir))
    total_tokens = sum(len(r[3].split(" ")) for r in records)
    return {
        "docs": n,
        "in_bytes": in_bytes,
        "files": {"warc": warc_dir, "holdout": holdout_path, "truth": truth_path},
        "layout": "%d gzip-membered .warc.gz archives of text/plain response records, "
        "a holdout .jsonl and an oracle-only truth .jsonl" % CRAWL_ARCHIVES,
        "shares": {
            "near_dup": CRAWL_NEAR_DUP_SHARE,
            "refetch": CRAWL_REFETCH_SHARE,
            "exact_dup": CRAWL_EXACT_DUP_SHARE,
            "short": CRAWL_SHORT_SHARE,
            "holdout_overlap": CRAWL_HOLDOUT_OVERLAP_SHARE,
        },
        "holdout_docs": len(holdout),
        "tokens_per_shard": max(1, total_tokens // CRAWL_SHARDS),
    }


GENERATORS = {"doc_io": gen_doc_io, "crawl_curate": gen_crawl_curate}


def main(argv: list[str]) -> None:
    workload, seed, out = argv[0], int(argv[1]), argv[2]
    os.makedirs(out, exist_ok=True)
    manifest = GENERATORS[workload](seed, out)
    manifest.update({"workload": workload, "seed": seed})
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)


if __name__ == "__main__":
    main(sys.argv[1:])
