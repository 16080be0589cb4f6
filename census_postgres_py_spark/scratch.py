"""Every file an operator writes, under one of two policies.

* :func:`call_dir` — a fresh directory per call, for outputs the call
  writes and then reads back (sinks, round-trip files, stream
  checkpoints). A result held from one call keeps reading its own
  files after the next call of the same operator.
* :func:`cached` — a materialize-once input derived from one fixture
  table, named by that table's fingerprint. A different fixture, or the
  same one regenerated in place, gets a different directory, so no
  entry is ever served for the wrong input and none is rewritten.

Both read ``tempfile.gettempdir()`` on every call, so pointing
``tempfile.tempdir`` elsewhere moves all scratch at once. Per-call
directories are removed when the process exits, not when the call's
result is dropped: a DataFrame derived from the result can still read
the files after the result itself is gone.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import uuid
from typing import Callable

from census_postgres_py_spark import stats

#: per-call roots whose removal at exit is already registered
_CLEANED_AT_EXIT: set[str] = set()


def _root(kind: str) -> str:
    root = os.path.join(tempfile.gettempdir(), kind)
    os.makedirs(root, exist_ok=True)
    return root


def call_dir(name: str) -> str:
    """A new, empty ``<tempdir>/cppys_call/<name>-<uuid8>`` directory."""
    root = _root("cppys_call")
    if root not in _CLEANED_AT_EXIT:
        _CLEANED_AT_EXIT.add(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    path = os.path.join(root, f"{name}-{uuid.uuid4().hex[:8]}")
    os.makedirs(path)
    return path


def fingerprint(sf_dir: str, table: str) -> str:
    """Identity of ``<sf_dir>/<table>.parquet``: its absolute path plus
    :func:`stats.fingerprint` (mtime and size, per file for a directory
    table)."""
    path = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    ident = repr((path, stats.fingerprint(path)))
    return hashlib.sha256(ident.encode()).hexdigest()[:32]


def cached(
    name: str, sf_dir: str, build: Callable[[str], None], table: str
) -> str:
    """``<tempdir>/cppys_cache/<name>-<fingerprint>``, built once.

    ``build(d)`` writes the input into ``d``, an empty sibling
    directory, which is then renamed into place, so no reader ever sees
    a half-built entry. A process that loses the rename to a concurrent
    builder adopts the winner's directory: it has the same name, hence
    the same fingerprint and the same content."""
    root = _root("cppys_cache")
    final = os.path.join(root, f"{name}-{fingerprint(sf_dir, table)}")
    if os.path.isdir(final):
        return final
    tmp = os.path.join(root, f"_{name}.build-{uuid.uuid4().hex[:8]}")
    os.makedirs(tmp)
    try:
        build(tmp)
        try:
            os.rename(tmp, final)
        except OSError:
            if not os.path.isdir(final):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final
