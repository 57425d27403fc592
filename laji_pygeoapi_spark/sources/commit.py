"""The one commit protocol of every on-disk store, and the only module of
the package that changes files on disk.

Every store write follows the same four steps — Iceberg's
``writeTo(...).append()`` (one metadata swap as the only commit point) on
plain files:

1. write the new data to a private path (Spark and the store readers skip
   ``.``/``_``-prefixed names);
2. make it visible: in one atomic step with :func:`install`, or, for an
   append to a live table directory, file by file with :func:`publish`
   under job-prefixed names;
3. write one JSON commit record (:func:`write_json`);
4. only after that, move or delete what the record supersedes
   (:func:`install`, :func:`discard`).

A crash before (3) leaves garbage that the replay overwrites or discards; a
crash after (3) leaves superseded leftovers that readers already ignore.
No reader runs recovery code.  The one window a reader can observe is a
:func:`publish` cut before its record: a directory scan of the live table
then lists the job's published files until the replay (or a table
compaction) discards them; readers that go through the records never do.
"""

from __future__ import annotations

import ctypes
import functools
import json
import os
import shutil

_AT_FDCWD = -100
_RENAME_EXCHANGE = 2


def write_json(path: str, doc) -> None:
    """Write ``doc`` as JSON at ``path`` through a tmp file and one
    ``os.replace``: a crash mid-dump leaves the previous file intact, never
    a truncated one."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(doc, f, indent=1)
    os.replace(tmp, path)


@functools.cache
def _renameat2():
    fn = ctypes.CDLL(None, use_errno=True).renameat2
    fn.argtypes = [ctypes.c_int, ctypes.c_char_p, ctypes.c_int,
                   ctypes.c_char_p, ctypes.c_uint]
    fn.restype = ctypes.c_int
    return fn


def _exchange(a: str, b: str) -> None:
    """Swap the two existing paths ``a`` and ``b`` in one atomic step
    (Linux ``renameat2(RENAME_EXCHANGE)``, glibc >= 2.28)."""
    if _renameat2()(_AT_FDCWD, os.fsencode(a), _AT_FDCWD, os.fsencode(b),
                    _RENAME_EXCHANGE) != 0:
        err = ctypes.get_errno()
        raise OSError(err, os.strerror(err), a, None, b)


def install(src: str, dst: str) -> None:
    """Put ``src`` (a file or directory) at ``dst`` in one atomic step: a
    reader of ``dst`` sees the old content or the new, never neither and
    never a mix.  An existing ``dst`` is exchanged with ``src`` and the
    displaced old content is then deleted; ``dst`` stays a real
    directory (no symlink), so its layout is unchanged for readers."""
    if os.path.lexists(dst):
        _exchange(src, dst)
        discard(src)
    else:
        os.replace(src, dst)


def discard(path: str) -> None:
    """Delete the file or directory tree at ``path`` if it exists."""
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    elif os.path.lexists(path):
        os.remove(path)


def publish(data_dir: str, job_id: str, write) -> None:
    """Add one job's parquet files to the live tree ``data_dir``.

    First discard what an uncommitted earlier attempt of ``job_id`` left:
    its staging directory and its ``<job_id>-part-*`` files (the caller has
    checked that the job has no commit record, so those rows were never
    committed).  Then ``write(staging)`` into the private
    ``<data_dir>/.staged-<job_id>`` and move each parquet file into the
    same relative place under ``data_dir`` with a ``<job_id>-`` prefix
    (rename only, no data copy), and discard the staging directory.  The
    caller's commit record, written next, is the commit point."""
    staging = os.path.join(data_dir, f".staged-{job_id}")
    discard(staging)
    prefix = f"{job_id}-part-"
    for dirpath, _dirnames, filenames in os.walk(data_dir):
        for fname in filenames:
            if fname.startswith(prefix):
                os.remove(os.path.join(dirpath, fname))
    write(staging)
    for dirpath, _dirnames, filenames in os.walk(staging):
        rel = os.path.relpath(dirpath, staging)
        for fname in filenames:
            if not fname.endswith(".parquet"):
                continue  # _SUCCESS / .crc markers stay behind
            dest_dir = os.path.normpath(os.path.join(data_dir, rel))
            os.makedirs(dest_dir, exist_ok=True)
            os.replace(os.path.join(dirpath, fname),
                       os.path.join(dest_dir, f"{job_id}-{fname}"))
    discard(staging)
