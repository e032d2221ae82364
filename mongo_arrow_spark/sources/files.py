"""The file layer under the file sources (``documents``, ``warc``).

A file source is a decoder over three shared pieces, all here:

- :func:`expand` — paths, globs and directories → the sorted list of
  input files (directories recursively, so hive ``col=value/`` layouts
  and nested drop directories list whole);
- :class:`FileReader` — the batch reader's listing, shared options and
  split planner. Each source gives a rule for a file's number of byte
  ranges (:class:`Split`), or 0 for "decode whole and bin-pack":
  unsplittable files are packed into size-balanced :class:`FilesSplit`
  groups, so a directory of many small ``.gz`` parts still fans out
  evenly;
- :class:`FileStreamReader` — a growing drop directory as a stream,
  planned and read through the source's batch reader.
"""

from __future__ import annotations

import glob
import os
import time
import warnings
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from mongo_arrow_spark.errors import SchemaError

DEFAULT_PARTITION_BYTES = 64 * 1024 * 1024
DEFAULT_BATCH_SIZE = 4096
#: conservative decompressed-size multiplier used only for bin-packing
#: balance (JSON/BSON/WARC text compresses ~3-6x under gzip)
_EXPANSION_ESTIMATE = 4


def expand(paths, suffixes: tuple) -> list[str]:
    """Input files of ``paths`` (a path, a list of them, or None for
    none). A directory lists every file below it whose name ends with
    one of ``suffixes``, sorted; any other path is a glob (sorted), or
    itself when nothing matches, so a missing file fails where it is
    opened."""
    if isinstance(paths, str):
        paths = [paths]
    out: list[str] = []
    for p in paths or ():
        if os.path.isdir(p):
            out.extend(
                sorted(
                    f
                    for f in glob.glob(os.path.join(p, "**", "*"), recursive=True)
                    if f.endswith(suffixes)
                )
            )
        else:
            out.extend(sorted(glob.glob(p)) or [p])
    return out


@dataclass
class Split(InputPartition):
    """Bytes ``[start, end)`` of one file; the task owns the records
    that START inside the range. ``Split("", 0, 0)`` is the empty plan's
    placeholder (Spark requires at least one partition)."""

    path: str
    start: int
    end: int


@dataclass
class FilesSplit(InputPartition):
    """A group of whole files decoded serially by one task — the shape
    for files that cannot be byte-split."""

    paths: tuple


def byte_ranges(size: int, partition_bytes: int) -> int:
    """Number of ``partition_bytes``-sized ranges a splittable file of
    ``size`` bytes is cut into (at least one)."""
    return max(1, -(-size // partition_bytes))


def _adaptive_pack_target(total_est: int, partition_bytes: int) -> int:
    """Bytes-per-core pack target — Spark's own maxSplitBytes shape
    (min(maxPartitionBytes, max(floor, total/parallelism))): a flat
    ``partitionBytes`` target packed a whole small corpus into ONE
    group, serializing the decode on one core. Capped by
    ``partitionBytes``, so on a cluster — where totals dwarf the cap —
    the target is the cap; the 1 MB floor is the open-cost analog that
    keeps a tiny corpus from shattering into per-file confetti. Python
    data-source planning runs in a worker with no SparkContext, so the
    parallelism is the planning host's core count."""
    par = os.cpu_count() or 8
    floor = 1 << 20
    return max(1, min(partition_bytes, max(floor, -(-total_est // par))))


def _pack_files(sized: list, target: int) -> list:
    """First-fit-decreasing bin packing of (path, est_bytes) into groups
    whose estimated total ≤ target (oversized files go alone)."""
    bins: list[list] = []  # each: [paths, running_total]
    for path, est in sorted(sized, key=lambda t: -t[1]):
        for b in bins:
            if b[1] + est <= target:
                b[0].append(path)
                b[1] += est
                break
        else:
            bins.append([[path], est])
    return [b[0] for b in bins]


class FileReader(DataSourceReader):
    """A file source's batch reader: the listing of ``path`` (none when
    the option is absent), the options every file source shares —
    ``partitionBytes`` (byte-split / bin-pack target), ``batchSize``
    (rows per Arrow batch), ``corruptMode`` — and the split planner.
    A source adds its decoder (``read``), the name endings a directory
    lists (:attr:`suffixes`) and its split rule (:meth:`_ranges`)."""

    suffixes: tuple

    def __init__(self, schema, options):
        self.schema = schema
        self.paths = expand(options.get("path"), self.suffixes)
        self.partition_bytes = int(
            options.get("partitionbytes", DEFAULT_PARTITION_BYTES)
        )
        self.batch_size = int(options.get("batchsize", DEFAULT_BATCH_SIZE))
        # corrupt-record policy for undecodable input: "fail" (default —
        # raise with file+offset context, the reference's
        # truncated-stream behavior) or "drop" (skip what is damaged —
        # at corpus scale a few mangled records must not kill a
        # 10-hour job)
        self.corrupt_mode = str(options.get("corruptmode", "fail")).lower()
        if self.corrupt_mode not in ("fail", "drop"):
            raise SchemaError(
                f"corruptMode must be 'fail' or 'drop', got {self.corrupt_mode!r}"
            )

    def _ranges(self, path: str, size: int) -> int:
        """Number of byte ranges ``path`` (``size`` bytes) is read in,
        or 0: decode it whole, bin-packed with the other such files."""
        raise NotImplementedError

    def partitions(self) -> list[InputPartition]:
        """Byte ranges per file in listing order, then the files the
        rule gave 0, bin-packed by estimated decompressed size."""
        splits: list[InputPartition] = []
        packed: list[tuple[str, int]] = []
        for path in self.paths:
            size = os.path.getsize(path)
            n = self._ranges(path, size)
            if not n:
                packed.append((path, size * _EXPANSION_ESTIMATE))
                continue
            step = -(-size // n) if size else 1
            for i in range(n):
                splits.append(Split(path, i * step, min(size, (i + 1) * step)))
        target = _adaptive_pack_target(
            sum(est for _, est in packed), self.partition_bytes
        )
        for group in _pack_files(packed, target):
            splits.append(FilesSplit(tuple(group)))
        return splits or [Split("", 0, 0)]


class FileStreamReader(DataSourceStreamReader):
    """A file source's stream over a growing drop directory: each newly
    arrived file becomes (part of) a micro-batch.

    Offsets carry the SET of seen file names, relative to the directory
    (partition dirs may hold same-named part files), not positions in a
    sorted listing: a late-arriving file whose name sorts before already
    committed ones would shift positional indexes and make the next
    micro-batch skip or re-read files. With name sets each micro-batch
    processes exactly ``end.seen − start.seen`` — replayable and
    exactly-once on retry, regardless of arrival order. Spark's own
    FileStreamSource likewise keeps a seen-files log, whose size the
    checkpoint compacts.

    New files go through the batch reader's split planning (byte-split
    large files, bin-pack small unsplittable ones), so one huge arrival
    still parallelizes. Planning and reading use :attr:`batch_reader`
    built WITHOUT the ``path`` option — built with it, every task would
    re-list the whole drop directory — and with ``basePath`` defaulting
    to the drop directory, so hive ``col=value/`` columns resolve.
    """

    #: the source's batch reader
    batch_reader: type[FileReader]

    def __init__(self, schema, options):
        self.schema = schema
        self.dir = options.get("path")
        self._options = {k: v for k, v in dict(options).items() if k != "path"}
        self._options.setdefault("basepath", self.dir)
        # admission contract: by default producers MUST write to a temp
        # name and atomically rename into the drop directory (Spark's
        # own FileStreamSource discipline) — a half-written file that is
        # listed gets ingested ONCE, truncated, and the seen-file-set
        # offset model never revisits it. For producers that can't
        # rename atomically, stableFileMs=N admits a file only once its
        # mtime is ≥ N ms old OR its (size, mtime) pair is unchanged
        # since a previous listing. Residual caveat: the offsets API
        # gives latestOffset no view of the restored checkpoint, so a
        # checkpointed file that is UNSTABLE at the exact first
        # post-restart listing emits one regressed offset and
        # re-ingests once when it stabilizes — the window is one
        # micro-batch and only for files touched within stableFileMs of
        # a driver restart; atomic-rename producers (the default
        # contract) are unaffected.
        self.stable_ms = int(options.get("stablefilems", 0))
        self._last_stat: dict[str, tuple[int, float]] = {}
        # Offsets must be MONOTONE: once a name has been emitted in an
        # offset (hence possibly ingested), it must never leave — a
        # file appended/touched after ingest goes unstable, and if it
        # dropped out of `seen` it would re-enter once stable, making
        # partitions(start, end)'s set difference re-ingest the whole
        # file (duplicate records). Seeded from offset payloads in
        # partitions() so a restarted driver (fresh in-memory set)
        # inherits everything the checkpoint admitted.
        self._admitted: set[str] = set()

    def _reader(self, paths=()):
        reader = self.batch_reader(self.schema, self._options)
        reader.paths = list(paths)
        return reader

    def _listing(self) -> list[str]:
        return [
            os.path.relpath(f, self.dir)
            for f in expand(self.dir, self.batch_reader.suffixes)
        ]

    def initialOffset(self):
        return {"seen": []}

    def latestOffset(self):
        if self.stable_ms <= 0:
            return {"seen": self._listing()}
        now = time.time()
        stable: set[str] = set()
        cur: dict[str, tuple[int, float]] = {}
        for rel in self._listing():
            try:
                st = os.stat(os.path.join(self.dir, rel))
            except OSError:
                continue  # vanished between listing and stat
            cur[rel] = (st.st_size, st.st_mtime)
            if (now - st.st_mtime) * 1000.0 >= self.stable_ms or (
                self._last_stat.get(rel) == cur[rel]
            ):
                stable.add(rel)
        self._last_stat = cur
        # monotone union: a name never leaves the offset once admitted
        self._admitted |= stable
        return {"seen": sorted(self._admitted)}

    def partitions(self, start, end):
        start_seen = start.get("seen")
        if start_seen is None and "index" in start:
            start_seen = self._legacy_seen(int(start["index"]))
        start_seen = set(start_seen or ())
        end_seen = set(end.get("seen", ()))
        # seed the monotone set from the checkpointed offsets too — a
        # restarted driver starts with an empty in-memory _admitted,
        # and without this a file ingested before the restart that is
        # mid-append at restart time would drop out of the next offset
        # and be re-ingested when it stabilizes
        self._admitted |= start_seen | end_seen
        new = sorted(end_seen - start_seen)
        return self._reader(os.path.join(self.dir, n) for n in new).partitions()

    def _legacy_seen(self, n: int) -> list[str]:
        """Legacy ``{"index": N}`` offsets (the pre-name-set format):
        translated as the first N names of the sorted listing, so an
        existing checkpoint upgrades without reprocessing every committed
        file once (exactly-once across the format change; the old format
        already assumed append-only sorted arrivals)."""
        listing = self._listing()
        if len(listing) < n:
            # the historical prefix is gone (committed files deleted or
            # renamed since the checkpoint): a silent prefix map would
            # re-process or skip records — fail loudly so the operator
            # repairs the checkpoint or the directory
            raise ValueError(
                f"legacy streaming offset index={n} exceeds the "
                f"current listing ({len(listing)} files) of "
                f"{self.dir}: committed files were deleted or "
                "renamed since the checkpoint, so the prefix "
                "translation is ambiguous. Restore the files or "
                "reset the checkpoint."
            )
        warnings.warn(
            f"translating legacy streaming offset index={n} as the "
            f"first {n} names of the CURRENT sorted listing of "
            f"{self.dir}; this is only exactly-once if no committed "
            "file was deleted or renamed since the checkpoint"
        )
        return listing[:n]

    def read(self, part) -> Iterator:
        yield from self._reader().read(part)

    def commit(self, end):
        pass
