"""Topic directory layout, metadata persistence, and file-level stats.

Layout mirrors the reference's storage scheme (one directory per topic,
flyq-server/src/core/topic.rs:94-96; partition subdirs, partition.rs:84-105),
restated hive-style so Spark partition pruning replaces FlyQ's BTreeMap
segment lookup (flyq-server/src/core/partition.rs:148-158):

    base_dir/
      topic_<name>/
        _topic_meta.json          # partitions, per-partition log_end_offset
        partition=0/*.parquet     # "segments": parquet files, footer min/max
        partition=1/...           #   stats on `offset` = the sparse index
      _meta/consumer_offsets.parquet

Metadata writes are atomic tmp+rename, same discipline as the reference's
PartitionMeta::save (flyq-server/src/core/partiton_meta.rs:27-40). Data
files written from the driver (``append_log_files``) follow the same
discipline: data files never change once in place.

Segment index: each process keeps every partition's footer stats in
memory, sorted by offset, together with the partition directory's
identity ``(st_ino, st_mtime_ns)`` at the time the list was built
(``partition_file_stats``). While the identity is unchanged a lookup
costs one ``os.stat``; when it differs (another process wrote, deleted
or swapped files) the directory is rescanned, reading only the footers
of files not seen before. In-process changes never rely on the mtime,
which can have jiffy granularity: ``append_log_files`` adds its files to
the index itself, ``remove_log_files`` deletes files and marks the
index stale, and every other change to a partition directory calls
``invalidate_index``. So the index assumes a change made by another
process moves the directory's identity. A foreign change within one
mtime tick of our own is a concurrent writer, which the engine's
single-writer contract already excludes; point reads also rescan once
when the index holds no committed offset they ask for.

Readers run concurrently with the writer, so every write to the index
goes through one mutex, and a rescan is published compare-and-set: only
if the partition's index is still the object the rescan started from.
A writer publishes (its write-through, or a stale mark) only after its
last rename, and a stale mark always installs a new object. So a rescan
that listed the directory before a write can never overwrite that
write's index with its older listing, even when the write left the
directory's identity unchanged; its caller still gets the listing,
which covers every file renamed into place before the scan began.

Row cache: ``append_log_files`` also keeps the decoded Arrow rows of
every file it renames into place, keyed by path, and
``read_offset_range`` filters those rows instead of opening the file.
A wire consume usually asks for what a produce in this process wrote
moments ago; the OS page cache already spares the disk read, and this
spares the parquet decode, which the page cache cannot. Only writes
fill it (a read miss decodes the file and keeps nothing), and one
process-wide byte budget bounds it, oldest-written evicted first.
``remove_log_files`` drops the entries of the paths it deletes and
``invalidate_index`` those under the directories it marks stale, so
every in-process deletion, swap or rewrite evicts what it removes.
The cache is coherent for the reason the footer cache is: data files
are immutable and uuid-named, so a path that exists always holds the
rows it was written with. Readers take no lock and stay bounded at
LEO and snapshot-consistent as of the index listing they read; writes
hold one mutex.

Directory swap: every rewrite that replaces a whole directory
(compaction, keyed erasure, the upsert sink's snapshot) writes its
output to a staged directory on the same filesystem and installs it
with ``replace_dir``: rename ``live`` to its dot-prefixed sibling
``.<name>.old``, rename ``staged`` to ``live``, delete ``old``. Each
step is one rename or delete, so a crash leaves one of three states,
which ``restore_dir`` resolves before the next read of ``live``:

- ``live`` untouched, maybe a staged leftover: nothing to undo (the
  next rewrite overwrites its staging, ``repair_topic`` deletes it);
- ``old`` present, ``live`` missing (between the renames): ``old`` is
  renamed back, so the rewrite is lost and the data is not;
- both present (the swap finished, the delete did not): ``old`` is
  deleted.

Dot-prefixed names are skipped by Spark's file listing and by
``partition_file_stats``, so no reader sees a staged or old directory.
"""

from __future__ import annotations

import bisect
import json
import os
import re
import shutil
import threading
import uuid
from dataclasses import dataclass
from datetime import timezone
from typing import Iterable, NamedTuple

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TOPIC_PREFIX = "topic_"
META_DIR = "_meta"
TOPIC_META_FILE = "_topic_meta.json"
_SAFE_TOPIC = re.compile(r"[^A-Za-z0-9._-]")


def topic_dir(base_dir: str, topic: str) -> str:
    return os.path.join(base_dir, TOPIC_PREFIX + _SAFE_TOPIC.sub("_", topic))


def partition_dir(base_dir: str, topic: str, partition: int) -> str:
    return os.path.join(topic_dir(base_dir, topic), f"partition={partition}")


def atomic_write_json(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def topic_meta_path(base_dir: str, topic: str) -> str:
    return os.path.join(topic_dir(base_dir, topic), TOPIC_META_FILE)


def load_topic_meta(base_dir: str, topic: str) -> dict | None:
    try:
        with open(topic_meta_path(base_dir, topic)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def save_topic_meta(base_dir: str, topic: str, meta: dict) -> None:
    atomic_write_json(topic_meta_path(base_dir, topic), meta)


def list_topics(base_dir: str) -> list[str]:
    """Catalog discovery — analog of LogEngine::load topic scan
    (flyq-server/src/core/log_engine.rs:45-57)."""
    if not os.path.isdir(base_dir):
        return []
    out = []
    for name in sorted(os.listdir(base_dir)):
        if name.startswith(TOPIC_PREFIX) and os.path.isdir(os.path.join(base_dir, name)):
            out.append(name[len(TOPIC_PREFIX):])
    return out


@dataclass(frozen=True)
class FileStats:
    """Per-parquet-file stats — the Spark analog of a FlyQ Segment
    (base_offset/last_offset, flyq-server/src/core/segment.rs:14-28)."""

    path: str
    size_bytes: int
    num_rows: int
    min_offset: int | None
    max_offset: int | None
    max_timestamp_ms: int | None


def _ts_to_ms(v) -> int | None:
    if v is None:
        return None
    try:  # pyarrow returns datetime for timestamp stats; naive values are
        # UTC wall-clock (the session pins spark.sql.session.timeZone=UTC),
        # so attach UTC before converting — naive .timestamp() would shift
        # by the host zone.
        if v.tzinfo is None:
            v = v.replace(tzinfo=timezone.utc)
        return int(v.timestamp() * 1000)
    except AttributeError:
        return int(v)


def _stats_from_metadata(path: str, md: pq.FileMetaData, size_bytes: int) -> FileStats:
    """FileStats from a parquet footer: offset range and newest
    timestamp over the row-group statistics."""
    schema_names = [md.schema.column(i).name for i in range(md.num_columns)]
    idx_off = schema_names.index("offset") if "offset" in schema_names else None
    idx_ts = schema_names.index("timestamp") if "timestamp" in schema_names else None
    mn = mx = mxts = None
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        if idx_off is not None:
            st = g.column(idx_off).statistics
            if st is not None and st.has_min_max:
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
        if idx_ts is not None:
            st = g.column(idx_ts).statistics
            if st is not None and st.has_min_max:
                ts = _ts_to_ms(st.max)
                if ts is not None:
                    mxts = ts if mxts is None else max(mxts, ts)
    return FileStats(
        path=path,
        size_bytes=size_bytes,
        num_rows=md.num_rows,
        min_offset=mn,
        max_offset=mx,
        max_timestamp_ms=mxts,
    )


def footer_stats(path: str) -> FileStats:
    """Offset range and newest timestamp of one data file, from its
    parquet footer alone (no data page is read)."""
    return _stats_from_metadata(path, pq.ParquetFile(path).metadata, os.path.getsize(path))


def _min_offset(s: FileStats) -> int:
    return s.min_offset if s.min_offset is not None else 1 << 62


def _by_offset(s: FileStats):
    return (_min_offset(s), s.path)


def floor_index(files: list[FileStats], offset: int) -> int:
    """Position in a ``partition_file_stats`` list of the last file whose
    min_offset is <= ``offset`` (0 when there is none): the floor lookup
    of the reference's segment map (partition.rs:148-158)."""
    return max(0, bisect.bisect_right(files, offset, key=_min_offset) - 1)


def committed_count(files: list[FileStats], leo: int) -> int:
    """Number of leading files in a ``partition_file_stats`` list that
    start below the partition's LEO ``leo``: the files that hold
    committed records. The files after them start at or past LEO (the
    leftovers of a crashed produce, or a produce not yet committed) or
    hold no rows."""
    return bisect.bisect_left(files, leo, key=_min_offset)


class _Index(NamedTuple):
    """One partition's segment index (the reference keeps the same map
    in memory, partition.rs:19-32). It is published whole and never
    mutated afterwards. ``footers`` maps file name -> (inode,
    FileStats) for the files of the last scan and those written since,
    so a rescan reads only the footers of files it has not seen. Data
    files are immutable once renamed into place (a rename installs a
    new inode), so a footer entry stays valid while its inode does."""

    ident: tuple[int, int] | None  # (st_ino, st_mtime_ns) of the dir; None = stale
    files: list[FileStats]  # sorted by _by_offset
    footers: dict[str, tuple[int, FileStats]]


# Partition dir -> its index. Valid while the directory's identity is
# unchanged; in-process changes update it (``append_log_files``) or
# mark it stale (``remove_log_files``, ``invalidate_index``). Every
# write holds _INDEX_LOCK; reads take no lock.
_INDEX: dict[str, _Index] = {}
_INDEX_LOCK = threading.Lock()


# Path -> (decoded rows, retained bytes) of the data files this process
# wrote, oldest-written first (module docstring). Reads take no lock;
# every write holds _ROWS_LOCK.
_ROWS_BUDGET_BYTES = 32 << 20
# Besides its buffers, a cached table holds about 7.4 KB of Arrow and
# Python objects whatever its row count (measured as process RSS over
# 10k LOG_ARROW_SCHEMA tables of 1-16 rows, pyarrow 16). Each entry is
# charged that too, so the budget bounds the memory the cache holds;
# one-message files would otherwise fill 20x the budget.
_ROWS_ENTRY_OVERHEAD_BYTES = 8 << 10
_ROWS: dict[str, tuple[pa.Table, int]] = {}
_rows_bytes = 0
_ROWS_LOCK = threading.Lock()


def _keep_rows(path: str, table: pa.Table) -> None:
    """Cache a just-written file's rows, then evict oldest-written
    entries until the cache fits its budget again."""
    global _rows_bytes
    size = table.get_total_buffer_size() + _ROWS_ENTRY_OVERHEAD_BYTES
    with _ROWS_LOCK:
        _ROWS[path] = (table, size)
        _rows_bytes += size
        while _rows_bytes > _ROWS_BUDGET_BYTES:
            _rows_bytes -= _ROWS.pop(next(iter(_ROWS)))[1]


def _forget_rows(paths: Iterable[str] = (), prefix: str | None = None) -> None:
    """Drop the cached rows of ``paths``, or of every path under
    ``prefix``."""
    global _rows_bytes
    with _ROWS_LOCK:
        if prefix is not None:
            paths = [p for p in _ROWS if p.startswith(prefix)]
        for path in paths:
            hit = _ROWS.pop(path, None)
            if hit is not None:
                _rows_bytes -= hit[1]


def _dir_ident(pdir: str) -> tuple[int, int]:
    st = os.stat(pdir)
    return st.st_ino, st.st_mtime_ns


def _mark_stale(pdir: str) -> None:
    """Install a new stale index for ``pdir`` (keeping its footers), so
    a rescan that started before this call fails its publish."""
    with _INDEX_LOCK:
        idx = _INDEX.get(pdir)
        _INDEX[pdir] = _Index(None, [], {}) if idx is None else idx._replace(ident=None)


def _publish(pdir: str, seen: _Index | None, new: _Index | None) -> None:
    """Compare-and-set: install ``new`` (None drops the entry) only if
    ``pdir``'s index is still ``seen``, the one the rescan started from."""
    with _INDEX_LOCK:
        if _INDEX.get(pdir) is seen:
            if new is None:
                _INDEX.pop(pdir, None)
            else:
                _INDEX[pdir] = new


def _forget_dir(pdir: str) -> None:
    _forget_rows(prefix=pdir + os.sep)
    _mark_stale(pdir)


def invalidate_index(base_dir: str, topic: str, partition: int | None = None) -> None:
    """Mark the index of one partition, or of every partition of the
    topic, stale (the next ``partition_file_stats`` call rescans its
    directory) and drop the cached rows of its files. Every in-process
    change to a partition directory other than ``append_log_files``,
    ``remove_log_files`` and ``replace_dir`` calls this."""
    if partition is not None:
        _forget_dir(partition_dir(base_dir, topic, partition))
        return
    prefix = topic_dir(base_dir, topic) + os.sep
    _forget_rows(prefix=prefix)
    with _INDEX_LOCK:
        pdirs = [d for d in _INDEX if d.startswith(prefix)]
    for pdir in pdirs:
        _mark_stale(pdir)


def remove_log_files(paths: Iterable[str]) -> None:
    """Delete data files, drop their cached rows and mark their
    partitions' indexes stale, even when a delete fails midway. Every
    removal of a single log file goes through here."""
    removed = []
    try:
        for path in paths:
            removed.append(path)
            os.remove(path)
    finally:
        if removed:
            _forget_rows(removed)
        for pdir in {os.path.dirname(path) for path in removed}:
            _mark_stale(pdir)


def _sibling(live: str, tag: str) -> str:
    head, name = os.path.split(live.rstrip(os.sep))
    return os.path.join(head, f".{name}.{tag}")


def staging_dir(live: str) -> str:
    """The dot-prefixed sibling a rewrite of ``live`` is staged in."""
    return _sibling(live, "staged")


def replace_dir(live: str, staged: str) -> None:
    """Install the directory ``staged`` as ``live`` (module docstring,
    directory swap). A missing ``staged`` means the rewrite left
    nothing: ``live`` is removed. ``live``'s index is marked stale and
    its cached rows dropped."""
    old = _sibling(live, "old")
    had_live = os.path.isdir(live)
    emptied = not os.path.isdir(staged)
    if emptied:
        # swap in an empty directory, so a crash while deleting ``old``
        # finds ``live`` present and rolls forward
        os.makedirs(staged)
    try:
        if had_live:
            os.rename(live, old)
        os.rename(staged, live)
    finally:
        _forget_dir(live)
    if had_live:
        shutil.rmtree(old)
    if emptied:
        os.rmdir(live)


def restore_dir(live: str) -> None:
    """Resolve a ``replace_dir`` of ``live`` that a crash interrupted:
    roll ``old`` back when ``live`` is missing, delete it when both
    exist."""
    old = _sibling(live, "old")
    if not os.path.isdir(old):
        return
    if os.path.isdir(live):
        shutil.rmtree(old)
    else:
        os.rename(old, live)
        _forget_dir(live)


def partition_file_stats(base_dir: str, topic: str, partition: int) -> list[FileStats]:
    """The partition's segment index: footer stats for every file,
    sorted by min_offset (oldest first). The list is shared; callers
    must not mutate it.

    A call costs one ``os.stat`` of the directory while its identity
    (inode, mtime) matches the index. Otherwise it rescans the
    directory (the recovery scan analog of
    flyq-server/src/core/segment.rs:188-237, except parquet footers are
    self-describing so there is no tail re-scan) and reads the footers
    of files it has not seen. The rescan becomes the index only if
    no write replaced the index it started from meanwhile (module
    docstring). Names starting with '.' or '_' are skipped, as Spark's
    file listing skips them."""
    pdir = partition_dir(base_dir, topic, partition)
    idx = _INDEX.get(pdir)
    try:
        # identity first: a change that lands during the scan leaves
        # the recorded identity behind the directory, so it is rescanned
        ident = _dir_ident(pdir)
        if idx is not None and idx.ident == ident:
            return idx.files
        entries = list(os.scandir(pdir))
    except (FileNotFoundError, NotADirectoryError):
        _publish(pdir, idx, None)
        return []
    cached = {} if idx is None else idx.footers
    footers: dict[str, tuple[int, FileStats]] = {}
    for e in entries:
        if not e.name.endswith(".parquet") or e.name.startswith((".", "_")):
            continue
        hit = cached.get(e.name)
        if hit is None or hit[0] != e.inode():
            hit = (e.inode(), footer_stats(e.path))
        footers[e.name] = hit
    files = sorted((fs for _, fs in footers.values()), key=_by_offset)
    _publish(pdir, idx, _Index(ident, files, footers))
    return files


# Arrow form of schemas.LOG_SCHEMA minus the hive `partition` column —
# the on-disk shape Spark writes with TIMESTAMP_MICROS (isAdjustedToUTC).
LOG_ARROW_SCHEMA = pa.schema(
    [
        pa.field("offset", pa.int64(), nullable=False),
        pa.field("key", pa.binary()),
        pa.field("value", pa.binary(), nullable=False),
        pa.field("timestamp", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field(
            "headers",
            pa.list_(
                pa.field(
                    "element",
                    pa.struct(
                        [
                            pa.field("key", pa.string(), nullable=False),
                            pa.field("value", pa.binary(), nullable=False),
                        ]
                    ),
                )
            ),
        ),
    ]
)

# Columns the engine prunes on: offset (seek, retention low watermark),
# timestamp (time retention, offsets_for_times) and key (consume_by_key).
_STATS_COLUMNS = ["offset", "timestamp", "key"]


def append_log_files(pdir: str, columns: dict[str, list], max_records_per_file: int) -> None:
    """Write one partition's offset-ordered rows as new parquet files
    (split every ``max_records_per_file`` rows) from the driver. Each
    file is written under a dot-prefixed name and renamed into place,
    so a concurrent listing never sees a partial file. ``columns`` maps
    every LOG_ARROW_SCHEMA name to a list; timestamps are epoch
    microseconds.

    Write-through: when the partition's index was current before the
    write, each new file's FileStats comes from the writer's own footer
    metadata and joins a copy of the index, which is published after
    the last rename with the directory identity at that point.
    Otherwise the index is marked stale after the last rename and the
    next listing rescans. Either publish fails every rescan that began
    before it (see the module docstring).

    Each file's rows enter the row cache once it is in place. Every file
    gets its own table, built from its slice of ``columns``, so an entry
    retains only its own rows, not the whole batch."""
    n_rows = len(columns["offset"])
    idx = _INDEX.get(pdir)
    if idx is not None and idx.ident != _dir_ident(pdir):
        idx = None
    files = None if idx is None else list(idx.files)
    footers = None if idx is None else dict(idx.footers)
    try:
        for start in range(0, n_rows, max_records_per_file):
            stop = start + max_records_per_file
            chunk = pa.Table.from_pydict(
                {k: v[start:stop] for k, v in columns.items()}, schema=LOG_ARROW_SCHEMA
            )
            name = f"part-{chunk['offset'][0].as_py():020d}-{uuid.uuid4().hex[:16]}.parquet"
            path = os.path.join(pdir, name)
            tmp = os.path.join(pdir, f".{name}.tmp")
            written: list[pq.FileMetaData] = []
            pq.write_table(
                chunk,
                tmp,
                write_statistics=_STATS_COLUMNS,
                store_schema=False,
                metadata_collector=written,
            )
            os.replace(tmp, path)
            _keep_rows(path, chunk)
            if files is not None:
                st = os.stat(path)
                fs = _stats_from_metadata(path, written[0], st.st_size)
                footers[name] = (st.st_ino, fs)
                bisect.insort(files, fs, key=_by_offset)
    except BaseException:
        _mark_stale(pdir)
        raise
    if files is None:
        _mark_stale(pdir)
        return
    new = _Index(_dir_ident(pdir), files, footers)
    with _INDEX_LOCK:
        _INDEX[pdir] = new


def read_offset_range(path: str, start: int, end: int) -> pa.Table:
    """Rows of one data file with ``start <= offset < end``: filtered
    from the row cache when this process wrote the file recently, else
    read from the file, where only the row groups whose footer offset
    stats overlap the range are decoded, on the calling thread."""
    hit = _ROWS.get(path)
    if hit is not None:
        table = hit[0]
    else:
        f = pq.ParquetFile(path)
        md = f.metadata
        col = next(i for i in range(md.num_columns) if md.schema.column(i).path == "offset")
        groups = []
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(col).statistics
            if st is None or not st.has_min_max or (st.max >= start and st.min < end):
                groups.append(g)
        table = f.read_row_groups(groups, use_threads=False)
    offsets = table["offset"]
    return table.filter(pc.and_(pc.greater_equal(offsets, start), pc.less(offsets, end)))
