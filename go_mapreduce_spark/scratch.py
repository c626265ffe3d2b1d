"""Scratch state: where the engine's intermediate files live and when
they may be reused.  Every engine scratch path comes from one of two
functions, both under ``tempfile.gettempdir()`` (so ``TMPDIR`` moves
them):

* :func:`build_once` — data derived from inputs (replay sources, demo
  tables, staged shards), reused across calls and processes.  A slot
  is ``name`` plus the real path of each input; a copy is reused only
  while the package sources and every input file's size and mtime are
  unchanged.  A slot whose inputs are gone is deleted by the next
  build of any slot.
* :func:`fresh_dir` — an empty working dir per call (stream sinks and
  checkpoints, per-run tables) under one per-process root that is
  removed at exit.

Processes running different code must use separate temp dirs.
"""

from __future__ import annotations

import atexit
import functools
import hashlib
import json
import os
import shutil
import tempfile
import threading
import uuid

_PKG = os.path.dirname(os.path.abspath(__file__))
_lock = threading.Lock()
_run_root: str | None = None
_INPUTS = "inputs"  # per slot: JSON list of the inputs' real paths


@functools.cache
def _source_digest() -> str:
    h = hashlib.sha256()
    for rel, _, _ in _files(_PKG, ".py"):
        h.update(rel.encode())
        with open(os.path.join(_PKG, rel), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _files(path: str, suffix: str = "") -> list[tuple[str, int, int]]:
    """``(relpath, size, mtime_ns)`` of every file under ``path``
    (``path`` itself when it is a file), in a stable order.  Bytecode
    caches are skipped: importing a module writes them without
    changing any input."""
    if os.path.isfile(path):
        st = os.stat(path)
        return [("", st.st_size, st.st_mtime_ns)]
    out = []
    for d, subdirs, names in os.walk(path):
        subdirs[:] = sorted(s for s in subdirs if s != "__pycache__")
        for f in sorted(n for n in names if n.endswith(suffix)):
            st = os.stat(os.path.join(d, f))
            out.append((os.path.relpath(os.path.join(d, f), path), st.st_size, st.st_mtime_ns))
    return out


def _digest(*parts) -> str:
    return hashlib.sha256(repr(parts).encode()).hexdigest()[:16]


def build_once(name: str, build, *inputs: str) -> str:
    """Path of the current copy of ``name`` derived from ``inputs``.

    When that copy is missing, ``build(tmp)`` fills the empty dir
    ``tmp``, which is then renamed into place: readers never see a
    partial copy, a build that raises publishes nothing, and a process
    that loses a concurrent race discards its own copy.  Publishing
    deletes the slot's other versions, so disk use stays constant, and
    the slots of other inputs that no longer exist."""
    real = [os.path.realpath(p) for p in inputs]
    slot = os.path.join(tempfile.gettempdir(), f"gms_{name}_{_digest(*real)}")
    path = os.path.join(slot, _digest(_source_digest(), *map(_files, real)))
    if os.path.isdir(path):
        return path
    tmp = os.path.join(slot, f"build-{uuid.uuid4().hex}")
    os.makedirs(tmp)
    try:
        build(tmp)
        try:
            os.replace(tmp, path)
        except OSError:
            if not os.path.isdir(path):
                raise
        with open(f"{tmp}.inputs", "w") as fh:
            json.dump(real, fh)
        os.replace(f"{tmp}.inputs", os.path.join(slot, _INPUTS))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for v in os.listdir(slot):
        if v not in (os.path.basename(path), _INPUTS) and not v.startswith("build-"):
            shutil.rmtree(os.path.join(slot, v), ignore_errors=True)
    _prune_orphans(slot)
    return path


def _prune_orphans(keep: str) -> None:
    """Delete every slot but ``keep`` whose recorded inputs are not
    all there any more.  Dirs without a record are left alone."""
    root = os.path.dirname(keep)
    for s in os.listdir(root):
        slot = os.path.join(root, s)
        if not s.startswith("gms_") or slot == keep:
            continue
        try:
            with open(os.path.join(slot, _INPUTS)) as fh:
                inputs = json.load(fh)
        except (OSError, ValueError):
            continue
        if not all(os.path.exists(p) for p in inputs):
            shutil.rmtree(slot, ignore_errors=True)


def fresh_dir(name: str, sf_dir: str) -> str:
    """An empty working dir for ``name`` over ``sf_dir``; a repeat call
    for the same pair empties the same dir."""
    global _run_root
    with _lock:
        if _run_root is None:
            _run_root = tempfile.mkdtemp(prefix="gms_run_")
            atexit.register(shutil.rmtree, _run_root, True)
    path = os.path.join(_run_root, f"{name}_{_digest(os.path.realpath(sf_dir))}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
