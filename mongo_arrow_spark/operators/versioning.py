"""Corpus versioning: delta-only writes + time-travel reads.

Training-data pipelines re-release corpora (a new crawl folded in, a
dedup pass re-run, a licensing takedown applied) and then need BOTH the
new version and the ability to reproduce any model trained on an old
one. Rewriting 100 TB per release is not a plan; this module stores
version N as the DIFF against version N−1 — added/changed payloads plus
removed ids — and reconstructs any version by folding the chain.
The mini-lakehouse pattern (Delta/Iceberg snapshots), expressed as
plain parquet + DataFrame plans, for corpora whose sink is this repo's
document/parquet layout rather than a table format.

Scale design:

- A release writes ONLY its delta: one digest-keyed full-outer join
  between the incoming frame and the latest reconstruction (digests are
  md5 of the null-tagged payload serialization — 16 bytes per row cross
  the shuffle, payloads never move except the added rows being written).
- Reconstruction folds ``(base ⟕ anti-join removed) ∪ added`` per
  delta — each step is one broadcast-sized anti-join (removed ids are
  digest-only) plus a union. The chain length is bounded by
  ``checkpoint=True`` releases, which materialize a full copy and become
  the new fold origin (the Delta-checkpoint idea) — readers start from
  the nearest checkpoint at or below the requested version.
- Version metadata is a per-version ``_meta.json`` (counts, flags,
  column contract) — driver-sized, never scanned.

No reference counterpart: mongo-arrow reads live collections; change
streams (`streaming/changes.py`) cover the ROW-level CDC story, this
covers the RELEASE-level one. ``profile.snapshot_diff`` reports what
changed between corpus versions; this module is the storage layout that
makes keeping every version affordable.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


from mongo_arrow_spark.operators.layout import payload_digest as _digest


def _vdir(path: str, v: int) -> str:
    return os.path.join(path, f"v={v}")


def _write_contract(vdir: str, report: list[dict] | None) -> None:
    """Persist the verified contract report next to the version's data
    (r10) — the audit trail of WHAT was checked when the release
    shipped. Written before ``_meta.json``: an uncommitted directory is
    invisible, so no atomicity dance is needed here; visibility stays
    meta-gated."""
    p = os.path.join(vdir, "_contract.json")
    if not report:
        # an UNGATED commit must not inherit a contract file orphaned
        # by a crashed earlier gated attempt at the same version number
        # (payload dirs are overwritten on retry; this must be too, or
        # contract_report would attribute the stale report to data it
        # never checked)
        if os.path.exists(p):
            os.remove(p)
        return
    os.makedirs(vdir, exist_ok=True)
    with open(p, "w") as fh:
        json.dump(report, fh)


def contract_report(path: str, version: int) -> list[dict] | None:
    """The contract report recorded with a committed release, or
    ``None`` when the release shipped ungated."""
    p = os.path.join(_vdir(path, version), "_contract.json")
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def _commit_meta(vdir: str, meta: dict) -> None:
    """Atomically (re)place ``vdir/_meta.json``. The meta file's
    existence IS commit visibility, so it must never be observable
    half-written: write a temp sibling in the same directory and
    ``os.replace`` it onto the final name (atomic on POSIX). A crash
    before the replace leaves only the temp file, which
    ``list_versions`` ignores; a crash after leaves the complete new
    meta. This is the one spot where a truncating ``open('w')`` could
    wedge the whole store (r9 verdict/advice fix)."""
    tmp = os.path.join(os.path.dirname(vdir), f".{os.path.basename(vdir)}._meta.tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(vdir, "_meta.json"))


def list_versions(path: str) -> list[dict]:
    """All committed versions, ascending — each dict is the version's
    ``_meta.json`` plus ``version``. Uncommitted (crashed) writes have
    no ``_meta.json`` and are ignored. A corrupt (unparseable) meta is
    skipped with a warning rather than wedging the whole store — with
    atomic commits it can only mean external damage, and one damaged
    version should not make every other version unreadable."""
    if not os.path.isdir(path):
        return []
    out = []
    for d in os.listdir(path):
        if not d.startswith("v="):
            continue
        meta_p = os.path.join(path, d, "_meta.json")
        if not os.path.exists(meta_p):
            continue
        try:
            with open(meta_p) as fh:
                meta = json.load(fh)
        except (json.JSONDecodeError, OSError) as e:
            import warnings

            warnings.warn(
                f"skipping corrupt version meta {meta_p}: {e}",
                RuntimeWarning,
                stacklevel=2,
            )
            continue
        meta["version"] = int(d[2:])
        out.append(meta)
    return sorted(out, key=lambda m: m["version"])


def _check_ids(df: DataFrame, id_col: str) -> None:
    """Release semantics: one non-NULL row per document id. A NULL id
    would silently fall out of every delta's semi-join; a duplicate
    makes the version ambiguous — both raise before anything commits."""
    bad = (
        df.groupBy(id_col)
        .count()
        .filter((F.col("count") > 1) | F.col(id_col).isNull())
        .limit(1)
        .collect()
    )
    if bad:
        r = bad[0]
        if r[id_col] is None:
            raise ValueError(f"NULL {id_col} in input")
        raise ValueError(f"duplicate {id_col} in input: {r[id_col]!r}")


def _check_distribution_drift(
    df: DataFrame,
    spark,
    path: str,
    versions: list[dict],
    max_psi: dict | None,
    max_js: float | None,
    js_text_col: str,
) -> None:
    """Distribution-drift release gate (r11, the heavyweight sibling of
    the ``max_row_delta_frac`` row-count guard): refuse the commit when
    the incoming frame's distributions moved too far from the PREVIOUS
    release. ``max_psi={"col": bound}`` bounds the numeric population
    stability index per column (``profile.numeric_drift``; ≳0.1 is the
    industry "moderate shift" line); ``max_js`` bounds the lexical
    Jensen–Shannon divergence of ``js_text_col``
    (``text.js_divergence``, nats). Costs one reconstruction of the
    previous release (pinned via localCheckpoint so the fold chain
    replays once, not per guard) plus bounded aggregations — strictly
    opt-in. No-op on the first version and on an empty previous
    release (nothing to drift from). NOTE for per-batch callers
    (``append_version``/``write_version_stream``): a small batch's
    empirical distribution is NOISY against a large standing corpus —
    size thresholds for the batch regime, or gate full releases only."""
    if (not max_psi and max_js is None) or not versions:
        return
    if versions[-1]["n_rows"] <= 0:
        return
    prev = read_version(spark, path, versions[-1]["version"]).localCheckpoint(
        eager=True
    )
    try:
        for col, bound in (max_psi or {}).items():
            from mongo_arrow_spark.operators.profile import numeric_drift

            rep = numeric_drift(prev, df, col)
            psi = rep.agg(F.sum("psi_term").alias("s")).first()["s"] or 0.0
            if psi > float(bound):
                raise ValueError(
                    f"release drifted: PSI({col}) = {psi:.4f} exceeds "
                    f"max_psi[{col!r}] = {bound} vs "
                    f"v{versions[-1]['version']} — refusing to commit; "
                    "raise the bound (or drop the guard) if the move "
                    "is intended"
                )
        if max_js is not None:
            from mongo_arrow_spark.operators.text import js_divergence

            js = js_divergence(prev, df, js_text_col)
            if js > float(max_js):
                raise ValueError(
                    f"release drifted: JS({js_text_col}) = {js:.4f} "
                    f"exceeds max_js = {max_js} vs "
                    f"v{versions[-1]['version']} — refusing to commit; "
                    "raise the bound (or drop the guard) if the move "
                    "is intended"
                )
    finally:
        prev.unpersist()


def write_version(
    df: DataFrame,
    path: str,
    payload_cols: list[str] | None = None,
    id_col: str = "doc_id",
    checkpoint: bool = False,
    expect: list[dict] | None = None,
    max_row_delta_frac: float | None = None,
    max_psi: dict | None = None,
    max_js: float | None = None,
    js_text_col: str = "text",
) -> dict:
    """Commit ``df`` as the next corpus version. The first version (and
    any ``checkpoint=True`` release) writes the full frame; every other
    release writes only ``added/`` (new or changed rows, full payloads)
    and ``removed/`` (ids gone or changed — a changed row is
    removed + re-added). Returns the committed ``_meta.json`` (version,
    counts, mode).

    ``id_col`` must be non-NULL and unique per version (release
    semantics — one row per document id); NULL or duplicate ids raise
    rather than committing an ambiguous version (a NULL id would also
    silently fall out of every delta's semi-join, r9 review fix). Column contract: every version of a corpus
    must carry the same ``payload_cols`` (pinned in meta, checked on
    write).

    ``expect`` (r10): a list of :mod:`expectations` rules verified
    BEFORE anything is written — a release that fails its data
    contract never becomes visible (no payloads, no meta; the store is
    untouched, same crash-safety contract as the atomic meta commit).
    Raises :class:`expectations.ExpectationError` with the full report
    on failure. The verified report is recorded with the release
    (``_contract.json``, readable via :func:`contract_report`) — the
    audit trail of what was checked when the version shipped.

    ``max_row_delta_frac`` (r10): refuse the release when its row count
    moved more than this fraction from the previous version's — the
    "a broken upstream filter silently dropped 40 % of the corpus"
    guard. Drift is judged against the PREVIOUS meta's ``n_rows``
    (driver-sized state, no extra scan of history); the incoming frame
    pays one count — reused from the contract report when ``expect``
    also ran, so the two gates together still scan once. No-op on the
    first version and on an empty previous version (nothing meaningful
    to drift from).

    ``max_psi`` / ``max_js`` (r11): DISTRIBUTION-drift gates against
    the previous release — per-column numeric PSI bounds and a lexical
    JS-divergence bound (see :func:`_check_distribution_drift`); a
    corpus whose length/quality/vocabulary distribution moved too far
    is refused even when its row count held steady."""
    report = None
    if expect:
        from mongo_arrow_spark.operators.expectations import (
            validate_or_raise,
        )

        report = validate_or_raise(df, expect)
    versions = list_versions(path)
    # n_prev == 0 is skipped like the first version: every non-empty
    # release is infinite relative drift from an empty one, and no
    # finite band could admit it — there is nothing meaningful to
    # drift FROM. When a contract ran, its report already carries the
    # exact row count — reuse it instead of a second full scan.
    if (
        max_row_delta_frac is not None
        and versions
        and versions[-1]["n_rows"] > 0
    ):
        n_prev = versions[-1]["n_rows"]
        n_new = report[0]["n_rows"] if report else df.count()
        if abs(n_new - n_prev) > float(max_row_delta_frac) * n_prev:
            raise ValueError(
                f"release row count {n_new} drifted more than "
                f"{max_row_delta_frac:.0%} from v{versions[-1]['version']}"
                f"'s {n_prev} — refusing to commit; pass a larger "
                "max_row_delta_frac (or None) if the move is intended"
            )
    _check_distribution_drift(
        df, df.sparkSession, path, versions, max_psi, max_js, js_text_col
    )
    cols = payload_cols or [c for c in df.columns if c != id_col]
    if not cols or id_col in cols:
        raise ValueError("payload_cols must be non-empty and exclude id_col")
    if versions and versions[-1]["payload_cols"] != cols:
        raise ValueError(
            f"payload_cols {cols} != the corpus contract "
            f"{versions[-1]['payload_cols']}"
        )
    _check_ids(df, id_col)
    v = (versions[-1]["version"] + 1) if versions else 1
    vdir = _vdir(path, v)
    cur = df.select(id_col, *cols).withColumn("__digest", _digest(cols))
    meta: dict = {
        "payload_cols": cols,
        "id_col": id_col,
        "checkpoint": bool(checkpoint or not versions),
    }
    spark = df.sparkSession
    if not versions or checkpoint:
        cur.drop("__digest").write.mode("overwrite").parquet(
            os.path.join(vdir, "full")
        )
        n = spark.read.parquet(os.path.join(vdir, "full")).count()
        meta.update({"n_rows": n, "added": n, "removed": 0})
    else:
        # materialize ONCE: cur feeds the diff join, the added write and
        # the n_rows count; j feeds the added AND removed writes — the
        # selection.prefix_join checkpoint discipline, or each action re-folds
        # the whole prior chain (r9 review fix)
        cur = cur.localCheckpoint(eager=True)
        prev = read_version(spark, path, versions[-1]["version"])
        prev_d = prev.withColumn("__digest", _digest(cols)).select(
            F.col(id_col).alias("__pid"), F.col("__digest").alias("__pdig")
        )
        j = (
            cur.select(id_col, "__digest")
            .join(prev_d, cur[id_col] == prev_d["__pid"], "full_outer")
            .localCheckpoint(eager=True)
        )
        added_ids = j.filter(
            F.col("__pid").isNull()
            | (F.col("__digest") != F.col("__pdig"))
        ).select(F.col(id_col))
        removed_ids = j.filter(
            F.col(id_col).isNull()
            | (F.col("__digest") != F.col("__pdig"))
        ).select(F.col("__pid").alias(id_col))
        added = cur.drop("__digest").join(added_ids, id_col, "left_semi")
        added.write.mode("overwrite").parquet(os.path.join(vdir, "added"))
        removed_ids.write.mode("overwrite").parquet(
            os.path.join(vdir, "removed")
        )
        n_add = spark.read.parquet(os.path.join(vdir, "added")).count()
        n_rem = spark.read.parquet(os.path.join(vdir, "removed")).count()
        meta.update(
            {"n_rows": cur.count(), "added": n_add, "removed": n_rem}
        )
    _write_contract(vdir, report)
    _commit_meta(vdir, meta)
    return {**meta, "version": v}


def read_version(
    spark,
    path: str,
    version: int | None = None,
) -> DataFrame:
    """Time-travel read: reconstruct ``version`` (default: latest) by
    folding deltas forward from the nearest checkpoint at or below it.
    Each fold step is an anti-join on the removed ids plus a union of
    the added rows — payloads are read once, from the version that
    committed them."""
    versions = list_versions(path)
    if not versions:
        raise ValueError(f"no committed versions under {path}")
    if version is None:
        version = versions[-1]["version"]
    chain = [m for m in versions if m["version"] <= version]
    if not chain or chain[-1]["version"] != version:
        raise ValueError(
            f"version {version} not committed (have "
            f"{[m['version'] for m in versions]})"
        )
    start = max(i for i, m in enumerate(chain) if m["checkpoint"])
    # deltas COMPOSE: a version missing between the fold origin and the
    # target (a corrupt meta skipped by list_versions — external damage)
    # would silently drop its added/removed from every later
    # reconstruction. Versions are assigned contiguously at commit, so
    # any gap above the fold origin means exactly that — fail the read
    # instead of returning wrong data (r10 review fix). Damage BELOW the
    # nearest checkpoint is harmless: the fold never visits it.
    expected = list(range(chain[start]["version"], version + 1))
    actual = [m["version"] for m in chain[start:]]
    if actual != expected:
        missing = sorted(set(expected) - set(actual))
        raise ValueError(
            f"cannot reconstruct version {version}: version(s) {missing} "
            f"between the fold origin v{chain[start]['version']} and the "
            "target are missing or have corrupt metadata"
        )
    base_meta = chain[start]
    id_col = base_meta["id_col"]
    base = spark.read.parquet(
        os.path.join(_vdir(path, base_meta["version"]), "full")
    )
    for m in chain[start + 1 :]:
        vdir = _vdir(path, m["version"])
        removed = spark.read.parquet(os.path.join(vdir, "removed"))
        added = spark.read.parquet(os.path.join(vdir, "added"))
        base = base.join(
            removed, base[id_col] == removed[id_col], "left_anti"
        ).unionByName(added)
    return base


def version_diff_report(
    spark,
    path: str,
    v_from: int,
    v_to: int,
    text_col: str = "text",
) -> DataFrame:
    """What changed between two committed releases, as the
    ``profile.snapshot_diff`` status report (added / removed / changed /
    unchanged with doc+token counts per side) over the two time-travel
    reconstructions — the audit you read before promoting a release.
    Note the diff recomputed here is text-column-level (the
    snapshot_diff contract); the commit deltas themselves are
    whole-payload (every ``payload_cols`` column participates in the
    digest), so a change in a non-text payload column appears in the
    commit's added/removed counts but as ``unchanged`` here."""
    from mongo_arrow_spark.operators.profile import snapshot_diff

    meta = list_versions(path)
    if not meta:
        raise ValueError(f"no committed versions under {path}")
    id_col = meta[-1]["id_col"]
    return snapshot_diff(
        read_version(spark, path, v_from),
        read_version(spark, path, v_to),
        id_col=id_col,
        text_col=text_col,
    )


def compact_version(spark, path: str, version: int | None = None) -> dict:
    """Materialize a synthetic checkpoint AT an existing committed
    version (default: latest): reconstruct it once, write the full copy
    into that version's directory, and flip its ``checkpoint`` flag —
    every later ``read_version`` of this or any newer version now folds
    from here instead of replaying the whole delta run. The deltas
    themselves stay untouched (older versions keep reconstructing), so
    this is pure read-amplification maintenance — run it when the
    fold chain since the last checkpoint has grown past the read-latency
    budget, exactly like Delta's checkpoint cadence. Idempotent: a
    version that already checkpoints returns its meta unchanged.
    Returns the updated ``_meta.json`` (+``version``)."""
    versions = list_versions(path)
    if not versions:
        raise ValueError(f"no committed versions under {path}")
    if version is None:
        version = versions[-1]["version"]
    meta = next((m for m in versions if m["version"] == version), None)
    if meta is None:
        raise ValueError(
            f"version {version} not committed (have "
            f"{[m['version'] for m in versions]})"
        )
    if meta["checkpoint"]:
        return meta
    full = read_version(spark, path, version)
    vdir = _vdir(path, version)
    full.write.mode("overwrite").parquet(os.path.join(vdir, "full"))
    meta = {k: v for k, v in meta.items() if k != "version"}
    meta["checkpoint"] = True
    # compact_version rewrites an ALREADY-COMMITTED version's meta — the
    # atomic replace is what keeps a crash here from corrupting durable
    # state (the old meta stays fully intact until the rename lands).
    _commit_meta(vdir, meta)
    return {**meta, "version": version}


def append_version(
    df: DataFrame,
    path: str,
    payload_cols: list[str] | None = None,
    id_col: str = "doc_id",
    expect: list[dict] | None = None,
    max_psi: dict | None = None,
    max_js: float | None = None,
    js_text_col: str = "text",
) -> dict | None:
    """Commit an INCREMENT as the next corpus version: rows with new ids
    are added, rows whose id already exists replace the old payload
    (delta = removed + re-added when the digest differs), rows identical
    to the standing corpus are skipped. Unlike ``write_version``, the
    input is the batch of new/changed documents, NOT the full next
    corpus state — so per-commit work scales with the BATCH (one
    digest probe of the current reconstruction restricted to the batch's
    ids, payloads written once), never with the corpus. This is the
    per-microbatch body of ``write_version_stream``. Upsert-only:
    takedowns (row removals) are release-level decisions — express them
    through a full ``write_version``. Returns the committed meta, or
    ``None`` when the batch is a no-op (nothing new or changed — no
    empty version is created, so replaying an already-applied batch is
    idempotent).

    ``expect`` (r10): expectations rules verified against the BATCH
    before anything is written (the contract gates what enters the
    store; a batch that fails never commits). Note the contract is
    per-batch here — table-level rules like ``unique`` gate the batch's
    own keys (cross-batch id resolution is the upsert semantics), and
    ``row_count`` bounds the batch size. The verified per-batch report
    is recorded with the committed version (``_contract.json``)."""
    versions = list_versions(path)
    if not versions:
        # first commit: the increment IS the corpus — write_version
        # runs (and records) the contract itself
        return write_version(df, path, payload_cols, id_col, expect=expect)
    _check_distribution_drift(
        df, df.sparkSession, path, versions, max_psi, max_js, js_text_col
    )
    report = None
    if expect:
        from mongo_arrow_spark.operators.expectations import (
            validate_or_raise,
        )

        report = validate_or_raise(df, expect)
    cols = payload_cols or versions[-1]["payload_cols"]
    if versions[-1]["payload_cols"] != cols:
        raise ValueError(
            f"payload_cols {cols} != the corpus contract "
            f"{versions[-1]['payload_cols']}"
        )
    if versions[-1]["id_col"] != id_col:
        raise ValueError(
            f"id_col {id_col!r} != the corpus contract "
            f"{versions[-1]['id_col']!r}"
        )
    _check_ids(df, id_col)
    spark = df.sparkSession
    v = versions[-1]["version"] + 1
    vdir = _vdir(path, v)
    cur = (
        df.select(id_col, *cols)
        .withColumn("__digest", _digest(cols))
        .localCheckpoint(eager=True)
    )
    # digest probe of the standing corpus, restricted to the batch's ids
    # BEFORE the digest projection — the fold chain is scanned once for
    # the matching rows only, nothing corpus-sized is materialized
    prev = read_version(spark, path, versions[-1]["version"])
    prev_d = (
        prev.join(cur.select(id_col), id_col, "left_semi")
        .withColumn("__digest", _digest(cols))
        .select(
            F.col(id_col).alias("__pid"), F.col("__digest").alias("__pdig")
        )
    )
    j = (
        cur.select(id_col, "__digest")
        .join(prev_d, cur[id_col] == prev_d["__pid"], "left_outer")
        .localCheckpoint(eager=True)
    )
    added_ids = j.filter(
        F.col("__pid").isNull() | (F.col("__digest") != F.col("__pdig"))
    ).select(F.col(id_col))
    removed_ids = j.filter(
        F.col("__pid").isNotNull() & (F.col("__digest") != F.col("__pdig"))
    ).select(F.col("__pid").alias(id_col))
    added = cur.drop("__digest").join(added_ids, id_col, "left_semi")
    added.write.mode("overwrite").parquet(os.path.join(vdir, "added"))
    removed_ids.write.mode("overwrite").parquet(os.path.join(vdir, "removed"))
    n_add = spark.read.parquet(os.path.join(vdir, "added")).count()
    n_rem = spark.read.parquet(os.path.join(vdir, "removed")).count()
    if n_add == 0 and n_rem == 0:
        # no-op batch: leave no committed version behind (the meta file
        # is never written, so the directory is invisible to readers)
        import shutil

        shutil.rmtree(vdir, ignore_errors=True)
        return None
    meta = {
        "payload_cols": cols,
        "id_col": id_col,
        "checkpoint": False,
        "n_rows": versions[-1]["n_rows"] + n_add - n_rem,
        "added": n_add,
        "removed": n_rem,
    }
    _write_contract(vdir, report)
    _commit_meta(vdir, meta)
    return {**meta, "version": v}


def write_version_stream(
    stream_df: DataFrame,
    path: str,
    payload_cols: list[str] | None = None,
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    compact_every: int | None = None,
    seq_col: str | None = None,
    expect: list[dict] | None = None,
    max_psi: dict | None = None,
    max_js: float | None = None,
    js_text_col: str = "text",
):
    """Commit corpus releases from a STREAM: each microbatch is
    ``append_version``-ed onto the standing store (the foreachBatch
    ingest-gate pattern every other standing structure — Bloom/LSH/
    paragraph index — already has). Returns the started StreamingQuery.

    Contract (pinned by the stream==batch parity test): a stream of
    microbatches leaves the store's LATEST reconstruction identical to
    one batch ``write_version`` of the same rows (last write per id
    wins ACROSS microbatches — later batch replaces earlier); empty/
    no-op microbatches commit nothing, so version numbers count
    effective releases, not trigger firings. WITHIN one microbatch a
    duplicate id is ambiguous — Spark lumps pending inputs into a batch
    in no meaningful order, so "last" is undefined: by default the
    commit raises (``append_version``'s id check) and the query fails
    loudly rather than committing an arbitrary winner (a file stream
    with ``availableNow`` and no ``maxFilesPerTrigger`` can absorb two
    updates of one id into a single batch — r10 review fix). Pass
    ``seq_col`` (an event sequence / timestamp column, ties must not
    occur per id) to resolve intra-batch duplicates deterministically:
    the max-``seq_col`` row per id wins. ``compact_every=k`` folds a
    synthetic checkpoint (``compact_version``) after every k-th
    committed version so the read-side fold chain stays bounded while
    the stream runs — the Delta checkpoint cadence. ``expect`` forwards
    expectations rules to every per-batch commit (a failing batch fails
    the query loudly instead of committing a contract-violating
    release). Single-writer semantics (one stream per store path), same
    as the snapshot maintainer in ``streaming/changes.py``."""
    from pyspark.sql import Window

    def one_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        if seq_col is not None:
            w = Window.partitionBy(id_col).orderBy(F.col(seq_col).desc())
            batch = (
                batch.withColumn("__vrn", F.row_number().over(w))
                .filter(F.col("__vrn") == 1)
                .drop("__vrn", seq_col)
            )
        meta = append_version(
            batch, path, payload_cols=payload_cols, id_col=id_col,
            expect=expect, max_psi=max_psi, max_js=max_js,
            js_text_col=js_text_col,
        )
        if (
            meta is not None
            and compact_every
            and meta["version"] % compact_every == 0
        ):
            compact_version(batch.sparkSession, path, meta["version"])

    writer = stream_df.writeStream.foreachBatch(one_batch)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def release_card(
    spark, path: str, version: int | None = None, **card_kwargs
) -> DataFrame:
    """Dataset card FOR A RELEASE (r11): :func:`profile.corpus_card`
    over a committed version's reconstruction, annotated with the
    release's recorded contract audit trail — ``version``,
    ``contract_rules`` (how many rules were verified when it shipped)
    and ``contract_failed`` (rules over threshold; always 0 for a
    gate-committed release — the gate refuses otherwise). NULL
    contract columns mean the release shipped UNGATED: the card makes
    that visible instead of silently equating audited and unaudited
    snapshots. ``version=None`` cards the latest release. One
    reconstruction feeding the card's single-scan aggregation; the
    contract columns come from driver-sized ``_contract.json``."""
    from mongo_arrow_spark.operators.profile import corpus_card

    versions = list_versions(path)
    if not versions:
        raise ValueError(f"no committed versions under {path}")
    v = versions[-1]["version"] if version is None else int(version)
    card = corpus_card(read_version(spark, path, v), **card_kwargs)
    rep = contract_report(path, v)
    n_rules = F.lit(len(rep)).cast("int") if rep is not None else F.lit(
        None
    ).cast("int")
    n_fail = (
        F.lit(sum(1 for r in rep if r.get("status") == "fail")).cast("int")
        if rep is not None
        else F.lit(None).cast("int")
    )
    return card.select(
        F.lit(v).cast("int").alias("version"),
        "*",
        n_rules.alias("contract_rules"),
        n_fail.alias("contract_failed"),
    )
