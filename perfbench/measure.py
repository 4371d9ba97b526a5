"""File-system and memory measurements, taken outside the timed region.

Byte counts cover parquet data files only: the stores' small pointer
files carry a wall-clock timestamp, so their sizes would differ between
two runs of the same seed.
"""

from __future__ import annotations

import os
import re

_VERSION_DIR = re.compile(r"^v\d+$")
_BUCKET_DIR = "gbucket="


def scan(*roots: str) -> dict[str, tuple[tuple[int, int], int]]:
    """``{path: (file id, size)}`` of every parquet file under ``roots``.

    The file id is the inode plus its modification time: a hard link
    keeps both, while a new file that reuses the inode of a file
    garbage-collected in between gets a new modification time."""
    out = {}
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for name in files:
                if name.endswith(".parquet"):
                    path = os.path.join(dirpath, name)
                    st = os.lstat(path)
                    out[path] = ((st.st_ino, st.st_mtime_ns), st.st_size)
    return out


def new_files(before: dict, after: dict) -> dict[str, int]:
    """Files of ``after`` that ``before`` did not hold: written since,
    not hard-linked from an earlier version. ``{path: size}``."""
    seen = {fid for fid, _ in before.values()}
    return {p: size for p, (fid, size) in after.items() if fid not in seen}


def distinct_bytes(files: dict) -> int:
    return sum({fid: size for fid, size in files.values()}.values())


def parquet_rows(paths) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def version_dir(path: str) -> str | None:
    """The ``vNNNNNN`` directory a store file belongs to."""
    parts = path.split(os.sep)
    for i in range(len(parts) - 1, -1, -1):
        if _VERSION_DIR.match(parts[i]):
            return os.sep.join(parts[: i + 1])
    return None


def bucket_writes(before: dict, after: dict) -> tuple[int, int]:
    """(dirty, linked) bucket directories over the table versions
    published since ``before``: a bucket is dirty when it holds a newly
    written file, linked when all its files are hard links."""
    published = new_versions(before, after)
    seen = {fid for fid, _ in before.values()}
    fresh: dict[str, bool] = {}
    for path, (fid, _size) in after.items():
        vdir = version_dir(path)
        if vdir not in published:
            continue
        bucket = path[len(vdir) + 1 :].split(os.sep)[0]
        if bucket.startswith(_BUCKET_DIR):
            key = os.path.join(vdir, bucket)
            fresh[key] = fresh.get(key, False) or fid not in seen
    dirty = sum(fresh.values())
    return dirty, len(fresh) - dirty


def new_versions(before: dict, after: dict) -> set[str]:
    return {version_dir(p) for p in after} - {version_dir(p) for p in before} - {None}


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def old_gen_peak_mb(spark) -> float:
    """Peak use of the JVM's old-generation heap pool: the data that
    survived young collections, which a fixed heap hides from RSS."""
    factory = spark._jvm.java.lang.management.ManagementFactory
    return sum(
        pool.getPeakUsage().getUsed()
        for pool in factory.getMemoryPoolMXBeans()
        if str(pool.getType()) == "Heap memory" and "Old" in pool.getName()
    ) / (1024.0 * 1024.0)


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set of this Python process plus the JVM child."""
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0
