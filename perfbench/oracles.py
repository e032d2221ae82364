"""Independent oracles: DuckDB over the generated files, plus the values
the generator recorded. Nothing here imports the program, and every check
runs outside the timed region. DuckDB runs in a subprocess, so its memory
never counts toward the driver's peak RSS:

    python3 perfbench/oracles.py expect <input_dir>
        writes <input_dir>/expected.json
    python3 perfbench/oracles.py verify <input_dir> <tasks.json>
        checks the files the sinks wrote; prints the failures as JSON
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import sys

_EPOCH = dt.datetime(1970, 1, 1)

EXPORT_FILTER_CATS = ("c01", "c03", "c05", "c07")

_EXPORT_COLUMNS = (
    "{'_id': 'STRUCT(\"$oid\" VARCHAR)', 'n': 'BIGINT', 'qty': 'BIGINT', "
    "'cat': 'VARCHAR', 'status': 'VARCHAR', 'ts': 'STRUCT(\"$date\" VARCHAR)', "
    "'price': 'STRUCT(\"$numberDecimal\" VARCHAR)', "
    "'sub': 'STRUCT(region VARCHAR, score DOUBLE, level BIGINT)', 'tags': 'VARCHAR[]'}"
)


class OracleMismatch(AssertionError):
    pass


def ms(value) -> int | None:
    """Epoch milliseconds of a naive-UTC datetime or pandas Timestamp."""
    if value is None or (isinstance(value, float) and math.isnan(value)):
        return None
    if hasattr(value, "to_pydatetime"):
        if value != value:  # NaT
            return None
        value = value.to_pydatetime()
    return (value.replace(tzinfo=None) - _EPOCH) // dt.timedelta(milliseconds=1)


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def expect_rows(got: list, exp: list, what: str, ordered: bool = False) -> None:
    """Row lists must match (sorted unless ``ordered``); floats by tolerance."""
    if not ordered:
        key = lambda r: tuple((v is None, "" if v is None else v) for v in r)  # noqa: E731
        got, exp = sorted(got, key=key), sorted(exp, key=key)
    if len(got) != len(exp):
        raise OracleMismatch(f"{what}: {len(got)} rows, oracle has {len(exp)}")
    for g, e in zip(got, exp):
        if len(g) != len(e) or not all(_same(x, y) for x, y in zip(g, e)):
            raise OracleMismatch(f"{what}: row {g!r} != oracle {e!r}")


# ------------------------------------------------------------ doc_io: export side


def _connect():
    import duckdb  # imported here: the driver uses this module without DuckDB

    return duckdb.connect()


def export_expected(files: dict, docs: int) -> dict[str, list]:
    con = _connect()
    con.execute(
        f"""CREATE TABLE coll AS SELECT
              _id."$oid" AS oid, n, qty, cat, status,
              epoch_ms(CAST(replace(ts."$date", 'Z', '') AS TIMESTAMP)) AS ts_ms,
              price."$numberDecimal" AS price, sub.score AS score, tags
            FROM read_json('{files["single"]}', format='newline_delimited',
                           columns={_EXPORT_COLUMNS})"""
    )
    con.execute(
        f"CREATE TABLE cats AS SELECT * FROM read_json('{files['cats']}', "
        "format='newline_delimited', columns={'_id': 'VARCHAR', 'label': 'VARCHAR', 'weight': 'BIGINT'})"
    )
    cats = ", ".join(f"'{c}'" for c in EXPORT_FILTER_CATS)
    sql = {
        "find_filter": f"SELECT n, qty, cat, score FROM coll WHERE qty >= 50 AND cat IN ({cats})",
        "find_bson": f"SELECT n, oid, price, ts_ms FROM coll WHERE status = 'A' AND n < {docs // 2}",
        "group": "SELECT cat, count(*), sum(qty), avg(score), max(ts_ms) FROM coll GROUP BY cat",
        "unwind": "SELECT t, count(*) AS c FROM (SELECT unnest(tags) AS t FROM coll) "
        "GROUP BY t ORDER BY c DESC, t LIMIT 5",
        "window": """SELECT n, cat, cum_qty, rnk FROM (
              SELECT n, cat,
                coalesce(sum(qty) OVER (PARTITION BY cat ORDER BY n
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS cum_qty,
                rank() OVER (PARTITION BY cat ORDER BY n) AS rnk
              FROM coll) WHERE rnk <= 50""",
        "lookup": "SELECT label, count(*), sum(weight) FROM coll JOIN cats ON coll.cat = cats._id GROUP BY label",
    }
    return {k: [list(r) for r in con.execute(q).fetchall()] for k, q in sql.items()}


# ------------------------------------------------------------ doc_io: import side


def check_import(path: str, fmt: str, expect: dict) -> None:
    """The written files, read back by DuckDB, hold the generated table."""
    if fmt == "parquet":
        src = f"read_parquet('{path}/*.parquet')"
        oid_len = "octet_length(oid)"
    else:
        cols = (
            "{'id': 'BIGINT', 'qty': 'BIGINT', 'x': 'DOUBLE', 'name': 'VARCHAR', "
            "'ts': 'VARCHAR', 'flag': 'BOOLEAN', 'sub': 'STRUCT(a BIGINT, b VARCHAR)', "
            "'tags': 'VARCHAR[]', 'oid': 'VARCHAR'}"
        )
        src = f"read_json('{path}/*.jsonl*', format='newline_delimited', columns={cols})"
        oid_len = "octet_length(from_base64(oid))"
    row = _connect().execute(
        f"""SELECT count(*), sum(id), sum(qty), sum(x), count(DISTINCT name),
                   sum(len(tags)), sum(sub.a), sum(CAST(flag AS INT)),
                   count(ts), sum({oid_len}) FROM {src}"""
    ).fetchone()
    got = dict(zip(
        ("rows", "sum_id", "sum_qty", "sum_x", "distinct_names", "n_tags", "sum_sub_a", "flags", "ts", "oid_bytes"),
        row,
    ))
    want = dict(expect, ts=expect["rows"], oid_bytes=12 * expect["rows"])
    for k, v in want.items():
        if not _same(got[k], v):
            raise OracleMismatch(f"{fmt} output {k}: {got[k]!r} != {v!r}")


# ---------------------------------------------------------- crawl_curate

_TOKS = "string_split(text, ' ')"
_MAX_DF = 1000  # curate()'s default decontamination posting cap


def _shingles(table: str) -> str:
    return (
        f"SELECT doc_id, list_distinct(list_transform(range(1, greatest(len({_TOKS}) - 1, 2)), "
        f"i -> array_to_string({_TOKS}[i:i+2], ' '))) AS grams FROM {table}"
    )


def crawl_expected(files: dict, tokens_per_shard: int) -> dict:
    """The crawl chain restated stage by stage in DuckDB: URL dedup on the
    generator's canonical key, Gopher gate, exact dedup, banded MinHash
    fuzzy dedup with recursive reachability, decontamination against the
    holdout, PII redaction and the md5 split. Each stage is its own table:
    inlined as one WITH chain, DuckDB re-evaluates the shingle lists for
    every reference and takes ~30x longer."""
    con = _connect()
    con.execute(
        f"CREATE TABLE truth AS SELECT * FROM read_json('{files['truth']}', format='newline_delimited', "
        "columns={'doc_id': 'BIGINT', 'url': 'VARCHAR', 'url_key': 'VARCHAR', 'text': 'VARCHAR'})"
    )
    con.execute(
        f"CREATE TABLE hold AS SELECT * FROM read_json('{files['holdout']}', format='newline_delimited', "
        "columns={'doc_id': 'BIGINT', 'text': 'VARCHAR'})"
    )
    stages = [
        ("base", "SELECT doc_id, text FROM truth WHERE doc_id IN (SELECT min(doc_id) FROM truth GROUP BY url_key)"),
        ("gate", f"""SELECT doc_id, text FROM (
            SELECT doc_id, text, len({_TOKS}) AS n_tok,
                   (length(text) - len({_TOKS}) + 1) * 1.0 / len({_TOKS}) AS mwl,
                   length(regexp_replace(text, '[^#…]', '', 'g')) * 1.0 / len({_TOKS}) AS swr
            FROM base)
          WHERE n_tok BETWEEN 20 AND 100000 AND mwl BETWEEN 2.0 AND 10.0 AND swr <= 0.1"""),
        ("e", "SELECT gate.* FROM gate JOIN (SELECT min(doc_id) AS doc_id FROM gate GROUP BY md5(text)) USING (doc_id)"),
        ("shl", _shingles("e")),
        ("sigs", """SELECT doc_id, b, min(md5(CAST(2*b AS VARCHAR) || ':' || g))
                      || min(md5(CAST(2*b+1 AS VARCHAR) || ':' || g)) AS sig
                    FROM shl, unnest(grams) AS t(g), range(16) AS r(b) GROUP BY doc_id, b"""),
        ("cand", """SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM sigs a JOIN sigs b
                    ON a.b = b.b AND a.sig = b.sig AND a.doc_id < b.doc_id"""),
        ("pairs", """SELECT id_a, id_b FROM cand JOIN shl sa ON id_a = sa.doc_id JOIN shl sb ON id_b = sb.doc_id
                     WHERE len(list_intersect(sa.grams, sb.grams)) * 1.0
                       / (len(sa.grams) + len(sb.grams) - len(list_intersect(sa.grams, sb.grams))) >= 0.3"""),
        ("edges", "SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs"),
        ("comp", """WITH RECURSIVE reach AS (
                      SELECT src AS v, src AS r FROM edges
                      UNION SELECT e2.src, reach.r FROM edges e2 JOIN reach ON e2.dst = reach.v)
                    SELECT v AS doc_id, min(r) AS component FROM reach GROUP BY v"""),
        ("f", """SELECT e.* FROM e LEFT JOIN comp USING (doc_id)
                 WHERE comp.component IS NULL OR doc_id = comp.component"""),
        ("hsh", f"SELECT doc_id, unnest(grams) AS s FROM ({_shingles('hold')})"),
        ("fsh", "SELECT shl.doc_id, unnest(shl.grams) AS s FROM shl JOIN f USING (doc_id)"),
        ("hsz", "SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM hsh GROUP BY doc_id"),
        ("fsz", "SELECT doc_id, CAST(len(grams) AS BIGINT) AS sz FROM shl JOIN f USING (doc_id)"),
        ("xhot", f"""SELECT s FROM (SELECT * FROM fsh UNION ALL SELECT * FROM hsh)
                     GROUP BY s HAVING count(*) > {_MAX_DF}"""),
        ("xinter", """SELECT a.doc_id AS id_l, b.doc_id AS id_r, CAST(count(*) AS BIGINT) AS i
                      FROM (SELECT * FROM fsh ANTI JOIN xhot USING (s)) a
                      JOIN (SELECT * FROM hsh ANTI JOIN xhot USING (s)) b ON a.s = b.s GROUP BY 1, 2"""),
        ("contaminated", """SELECT DISTINCT id_l AS doc_id FROM xinter
                            JOIN fsz ON id_l = fsz.doc_id JOIN hsz ON id_r = hsz.doc_id
                            WHERE i * 1.0 / (fsz.sz + hsz.sz - i) >= 0.8"""),
        ("final", r"""SELECT doc_id,
            regexp_replace(regexp_replace(regexp_replace(text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[PII]', 'g'),
              '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[PII]', 'g'),
              '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b', '[PII]', 'g') AS text
            FROM (SELECT f.* FROM f ANTI JOIN contaminated USING (doc_id))"""),
    ]
    for name, sql in stages:
        con.execute(f"CREATE TABLE {name} AS {sql}")
    curated = con.execute(
        f"""SELECT doc_id,
             CASE WHEN substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 4) < '{int(0.8 * 65536):04x}'
                  THEN 'train'
                  WHEN substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 4) < '{int(0.9 * 65536):04x}'
                  THEN 'val' ELSE 'test' END,
             md5(text)
           FROM final"""
    ).fetchall()
    return {
        "records": con.execute("SELECT count(*) FROM truth").fetchone()[0],
        "extract": [list(r) for r in con.execute("SELECT doc_id, md5(text) FROM truth").fetchall()],
        "curate": [list(r) for r in curated],
        "tokens": con.execute(f"SELECT sum(len({_TOKS})) FROM final").fetchone()[0],
        "tokens_per_shard": tokens_per_shard,
    }


def check_shards(path: str, expect: dict) -> None:
    """Every curated row, with its split and text digest, is in exactly one
    shard, and each row's token count is the whitespace token count."""
    con = _connect()
    src = f"read_parquet('{path}/*/*.parquet', hive_partitioning=1)"
    rows = [list(r) for r in con.execute(f"SELECT doc_id, split, md5(text) FROM {src}").fetchall()]
    expect_rows(rows, expect["curate"], "training shards")
    bad, tokens = con.execute(
        f"SELECT count(*) FILTER (WHERE n_tokens <> len({_TOKS})), sum(n_tokens) FROM {src}"
    ).fetchone()
    if bad or tokens != expect["tokens"]:
        raise OracleMismatch(f"training shards: {bad} rows with a wrong n_tokens, {tokens} tokens != {expect['tokens']}")


def expected(manifest: dict) -> dict:
    files = manifest["files"]
    if manifest["workload"] == "doc_io":
        return {"export": export_expected(files, manifest["export_docs"]), "import": manifest["expect"]}
    return crawl_expected(files, manifest["tokens_per_shard"])


def verify(manifest: dict, expect: dict, tasks: list[dict]) -> list[dict]:
    """Run the file checks; one ``{"op", "error"}`` per failed task."""
    failures = []
    for t in tasks:
        try:
            if t["kind"] == "import":
                check_import(t["path"], t["fmt"], manifest["expect"])
            else:
                check_shards(t["path"], expect)
        except Exception as exc:  # report every failure, keep checking the rest
            failures.append({"op": t["op"], "error": f"{type(exc).__name__}: {exc}"})
    return failures


def main(argv: list[str]) -> int:
    with open(os.path.join(argv[1], "manifest.json")) as fh:
        manifest = json.load(fh)
    path = os.path.join(argv[1], "expected.json")
    if argv[0] == "expect":
        with open(path, "w") as fh:
            json.dump(expected(manifest), fh)
    else:
        with open(path) as fh, open(argv[2]) as tasks:
            print(json.dumps(verify(manifest, json.load(fh), json.load(tasks))))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
