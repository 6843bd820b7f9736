"""Scratch state: every on-disk working dir a query keeps lives under
``ROOT`` and comes from one of three functions.

- ``fixture_dir(kind, sf_dir, *files)`` names the dir for one
  generation of a fixture: ``ROOT/<kind>-<sf_dir hash>-<generation>``,
  the ``generation`` keyed on each source file's size and mtime, so a
  regenerated fixture never reuses a stale copy (``catalog`` keys its
  schema memo on the same rule). Each call sweeps the
  other generations of the same ``(kind, sf_dir)`` and nothing else:
  an unscoped sweep would delete the other fixtures' dirs on every
  sf0.001/sf0.01/sf0.1 alternation and defeat warm reuse.
- ``staged(kind, sf_dir, write, files)`` builds that dir once per
  generation and returns it. The publish protocol: ``write(tmp)``
  fills the process-private ``<dir>.tmp.<pid>``, a ``_STAGED`` marker
  is written last, and one ``os.rename`` publishes the dir, so a
  reader never sees a partial copy and two processes never write the
  same directory. If the rename fails, either another process won the
  race (its marker exists: our copy is discarded) or the dir is a
  marker-less partial left by a crash (it is replaced). ``links``
  is the writer for a dir of symlinks to fixture files.
- ``private_dir(prefix)`` is ``ROOT/<prefix>_<pid>``, emptied on each
  call, for state a query mutates (checkpoints, sink outputs, demo
  tables): concurrent harnesses never rmtree each other's state.
  Dirs of dead processes with the same prefix are swept by
  ``sweep_dead_scratch``.

Liveness is probed with ``os.kill(pid, 0)`` — portable (no Linux-only
``/proc``) and distinguishing "no such process" (ProcessLookupError =>
dead) from "alive but not ours" (PermissionError => alive) — and is
additionally gated on directory AGE, because pids recycle: a dir
younger than the threshold is never swept even if its pid looks dead
(a crashed-and-restarted harness may still want it), and an old dir is
swept only once its pid probe says dead — an old dir whose recycled
pid happens to be live again is deliberately left alone (conservative:
it may be a genuinely long-running harness) and falls to a later sweep
once that process exits.
"""

from __future__ import annotations

import hashlib
import os
import shutil

ROOT = "/tmp/spark_graft_stream"
MARKER = "_STAGED"


def _digest(text: str) -> str:
    return hashlib.md5(text.encode()).hexdigest()[:8]


def generation(sf_dir: str, *files: str) -> str:
    """The generation of ``files`` (names inside ``sf_dir``): a digest
    of each file's size and mtime, so it changes whenever one of them
    is rewritten."""
    stats = [os.stat(os.path.join(sf_dir, f)) for f in files]
    return _digest(
        ":".join(
            f"{f}={st.st_size}-{st.st_mtime_ns}" for f, st in zip(files, stats)
        )
    )


def fixture_dir(kind: str, sf_dir: str, *files: str) -> str:
    """``ROOT/<kind>-<sf_dir hash>-<generation>`` for ``files`` (names
    inside ``sf_dir``; list every input the dir derives from, or a
    regenerated input would serve a stale copy). Not created."""
    prefix = f"{kind}-{_digest(sf_dir)}-"
    name = prefix + generation(sf_dir, *files)
    try:
        entries = os.listdir(ROOT)
    except FileNotFoundError:
        entries = []
    for entry in entries:
        # ``name.tmp.<pid>`` is another process staging this generation
        if entry.startswith(prefix) and not entry.startswith(name):
            shutil.rmtree(os.path.join(ROOT, entry), ignore_errors=True)
    return os.path.join(ROOT, name)


def staged(
    kind: str,
    sf_dir: str,
    write,
    files: tuple[str, ...] = ("events.parquet",),
) -> str:
    """The ``fixture_dir`` of ``files``, built once by ``write(dir)``
    and published atomically (module docstring). ``write`` must create
    the path it receives, parents included."""
    d = fixture_dir(kind, sf_dir, *files)
    done = os.path.join(d, MARKER)
    if os.path.exists(done):
        return d
    tmp = f"{d}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    write(tmp)
    with open(os.path.join(tmp, MARKER), "w") as f:
        f.write("ok")
    try:
        os.rename(tmp, d)
    except OSError:
        if os.path.exists(done):
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race
        else:
            shutil.rmtree(d, ignore_errors=True)  # stale partial dir
            os.rename(tmp, d)
    return d


def links(*paths: str):
    """A ``staged`` writer that symlinks ``paths`` into the dir: the
    file-stream source needs a directory, the fixtures are single
    files, and the local file source follows symlinks (no copy)."""

    def write(d: str) -> None:
        os.makedirs(d)
        for p in paths:
            os.symlink(p, os.path.join(d, os.path.basename(p)))

    return write


def private_dir(prefix: str) -> str:
    """``ROOT/<prefix>_<pid>``, created empty; dead processes' dirs of
    the same prefix are swept."""
    sweep_dead_scratch(ROOT, (f"{prefix}_",))
    d = os.path.join(ROOT, f"{prefix}_{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    except OSError:
        return True  # unknown — err on the side of "alive"
    return True


def sweep_dead_scratch(
    root: str, prefixes: tuple[str, ...], min_age_s: float = 3600.0
) -> None:
    """Remove ``root``'s entries matching ``prefixes`` whose trailing
    ``_<pid>`` component names a dead process, skipping our own pid and
    anything modified within ``min_age_s``. A young dir is never swept
    even if its pid looks dead (a restarted harness may reclaim it); an
    old dir whose recycled pid is live again is deliberately left to a
    later sweep — conservative against deleting a long-running
    harness's state."""
    import time

    now = time.time()
    try:
        entries = os.listdir(root)
    except FileNotFoundError:
        return
    for entry in entries:
        if not entry.startswith(prefixes):
            continue
        pid = entry.rsplit("_", 1)[-1]
        if not pid.isdigit() or pid == str(os.getpid()):
            continue
        path = os.path.join(root, entry)
        try:
            age = now - os.stat(path).st_mtime
        except OSError:
            continue
        if age < min_age_s:
            continue
        if not pid_alive(int(pid)):
            shutil.rmtree(path, ignore_errors=True)
