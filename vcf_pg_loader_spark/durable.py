"""Durable state: the one stage → swap → heal protocol behind every
maintained structure (variant store, vector/BM25 indexes, cluster and
materialized tables, every streaming sink and its migration verbs).

A structure is a directory `target` that is only ever replaced whole:

  1. `stage_dir(target)` — heal the target (`heal_dir`: finish or undo
     a swap a crash cut), then make a fresh dot-prefixed directory
     BESIDE it (same filesystem, invisible to parquet discovery), where
     the new version is written, with unchanged files hard-linked in
     (`link_tree`);
  2. `swap_dir(staging, target)` — rename the target aside to
     `.{base}.old`, rename the staging in, drop the aside.

Both renames are `os.rename` on one filesystem, so each is atomic, and
it raises rather than nesting the staging inside a target that
reappeared (a second healer restored the aside mid-swap).  A crash can
stop the protocol before any step; `heal_dir` then finds one of:

  - target present, aside present → the swap finished, drop the aside;
  - target missing, aside present → restore the aside (the last
    complete version);
  - staging left behind → never complete (the swap had not started);
    the next update drops it when it stages anew.

`heal_dir` only restores or drops the aside, so read paths may call it
without the lease.  Everything else writes under `writer_lease` (one
writer per structure), which is what lets `stage_dir` drop every
leftover staging of its target by name alone.

Small metadata files (ledger entries, markers, parameter stamps, audit
records) are written whole with `write_json_atomic` (temp file plus
`os.replace`), so a reader sees the old or the new file, never a
truncated one.

Every filesystem mutation of the protocol goes through one of the step
functions named in `STEPS`; tests/test_durable_sweep.py wraps them to
crash an update before step N, for every N.  Plain parquet writes into
a staging directory are not steps: the next `stage_dir` discards the
staging whatever they left.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shutil
import socket
import tempfile
import time

# A writer lease held by another process is considered abandoned after
# this many seconds without its pid being verifiable (cross-host case:
# pid-liveness can only be checked on the lease-holder's own host, so
# takeover falls back to lease age).  Same-host dead pids are taken
# over immediately.
LEASE_STALE_SEC = 3600.0

# the step functions a crash-point sweep interrupts (see module doc)
STEPS = ("_mkdtemp", "_write_text", "_replace", "_rename", "_remove",
         "link_tree")


def _mkdtemp(prefix: str, parent: str) -> str:
    return tempfile.mkdtemp(prefix=prefix, dir=parent)


def _write_text(path: str, text: str) -> None:
    with open(path, "w") as fh:
        fh.write(text)


def _replace(src: str, dst: str) -> None:
    os.replace(src, dst)


def _rename(src: str, dst: str) -> None:
    os.rename(src, dst)


def _remove(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    elif os.path.exists(path):
        os.unlink(path)


def link_tree(src: str, dst: str) -> None:
    """Populate dst with hard-links to every file under src (copy2 on
    cross-device).  Parquet files are immutable once written — the
    engine never appends or rewrites a part file in place — so target
    and staging sharing inodes is safe: the post-swap rmtree of the old
    directory only drops link counts.  This is the local-filesystem
    analogue of a metadata-only rename on an object store / HDFS."""
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        out = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(out, exist_ok=True)
        for f in files:
            s, d = os.path.join(root, f), os.path.join(out, f)
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)


def link_partitions(src: str, dst: str, skip=()) -> None:
    """Hard-link every partition directory (`col=value`) of table `src`
    into table `dst`, except the ones named in `skip` — the untouched
    partitions of a pruned rewrite."""
    os.makedirs(dst, exist_ok=True)
    for entry in os.listdir(src):
        if "=" in entry and entry not in skip:
            link_tree(os.path.join(src, entry), os.path.join(dst, entry))


def _split(target: str) -> tuple[str, str]:
    parent, base = os.path.split(target.rstrip("/"))
    return parent or ".", base


def _aside(target: str) -> str:
    parent, base = _split(target)
    return os.path.join(parent, f".{base}.old")


def _sweep(parent: str, prefix: str, suffix: str = "") -> None:
    if os.path.isdir(parent):
        for entry in os.listdir(parent):
            if entry.startswith(prefix) and entry.endswith(suffix):
                _remove(os.path.join(parent, entry))


def stage_dir(target: str) -> str:
    """A fresh staging directory for the next version of `target`:
    beside it (so the swap is a rename and hard-links never cross a
    device) and dot-prefixed (parquet readers skip it).  It first heals
    `target` and drops the staging a crashed earlier update of it left,
    so the caller holds the writer lease that covers `target`."""
    heal_dir(target)
    parent, base = _split(target)
    os.makedirs(parent, exist_ok=True)
    prefix = f".{base}.stg-"
    _sweep(parent, prefix)
    return _mkdtemp(prefix, parent)


def swap_dir(staging: str, target: str) -> None:
    """Replace `target` by `staging`: target aside, staging in, aside
    dropped.  `stage_dir` healed the target, so no aside exists; if one
    does, the first rename raises instead of dropping what may be the
    only complete copy."""
    target = target.rstrip("/")
    aside = _aside(target)
    if os.path.isdir(target):
        _rename(target, aside)
    _rename(staging, target)
    _remove(aside)


def _heal_aside(aside: str, target: str) -> None:
    if os.path.isdir(aside):
        if os.path.isdir(target):
            _remove(aside)
        else:
            _rename(aside, target)


def heal_dir(target: str) -> None:
    """Undo a swap of `target` that a crash interrupted: restore the
    aside when the target is missing, drop it when the swap finished.
    Safe without the lease, beside a live updater in another process:
    staging is left alone, and restoring an aside mid-swap makes that
    updater's rename-in fail rather than lose data."""
    target = target.rstrip("/")
    _heal_aside(_aside(target), target)


def heal_sink(target: str) -> None:
    """`heal_dir` for a streaming-sink state, under its writer lease,
    that also heals a crash under the swap code before this module: its
    `<target>_old` aside and its `.stg_<base>_` staging."""
    target = target.rstrip("/")
    _heal_aside(f"{target}_old", target)
    _heal_aside(_aside(target), target)
    parent, base = _split(target)
    _sweep(parent, f".stg_{base}_")


def drop_tmp(parent: str) -> None:
    """Drop the temp files `write_json_atomic` left in `parent` when a
    crash beat their replace (under the writer lease)."""
    _sweep(parent, ".", ".tmp")


def write_json_atomic(path: str, obj) -> None:
    """Write `obj` as the whole content of `path`: a dot-prefixed temp
    file beside it, then `os.replace` — readers see the old file or
    the new one, never a truncated one."""
    parent, name = os.path.split(path)
    tmp = os.path.join(parent, f".{name}.tmp")
    _write_text(tmp, json.dumps(obj, sort_keys=True))
    _replace(tmp, path)


def read_json(path: str):
    """The JSON content of `path`, or None when it does not exist."""
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def _lease_is_stale(holder: dict) -> bool:
    """A lease is stale when its pid is dead on THIS host, or — when the
    holder is another host, where pid-liveness cannot be checked — when
    it is older than LEASE_STALE_SEC.  An applier expected to run longer
    than that on a remote host must refresh its lease (rewriting the ts);
    locally the pid check makes takeover immediate and exact."""
    pid = holder.get("pid")
    if holder.get("host") == socket.gethostname() and isinstance(pid, int):
        try:
            os.kill(pid, 0)
            return False
        except ProcessLookupError:
            return True
        except PermissionError:
            return False  # exists, owned by another user
    return (time.time() - holder.get("ts", 0)) > LEASE_STALE_SEC


@contextlib.contextmanager
def writer_lease(target: str):
    """One writer per target, the contract `stage_dir`'s staging sweep
    assumes (two concurrent appliers would otherwise race each other's
    swaps and the loser fail late).  An O_EXCL create of
    `<target>_lease.json`, beside the target since swaps replace the
    target whole, acquires it.  A stale lease (dead pid on this host, or
    older than LEASE_STALE_SEC from another host) is taken over by
    rename-then-unlink, so only one of two contenders wins; a live
    holder is refused, never swept."""
    path = f"{target.rstrip('/')}_lease.json"
    parent = os.path.dirname(target.rstrip("/")) or "."
    os.makedirs(parent, exist_ok=True)
    acquired = False
    for _ in range(5):
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            with os.fdopen(fd, "w") as fh:
                json.dump(
                    {
                        "pid": os.getpid(),
                        "host": socket.gethostname(),
                        "ts": time.time(),
                    },
                    fh,
                )
            acquired = True
            break
        except FileExistsError:
            try:
                with open(path) as fh:
                    holder = json.load(fh)
            except (OSError, ValueError):
                # holder vanished between the open attempts or is
                # mid-write: retry the create
                time.sleep(0.05)
                continue
            if _lease_is_stale(holder):
                stale = f"{path}.stale"
                try:
                    os.replace(path, stale)
                    os.unlink(stale)
                except OSError:
                    pass  # another contender won the takeover race
                continue
            raise RuntimeError(
                f"maintained state at {target} is locked by a live "
                f"applier (pid {holder.get('pid')} on "
                f"{holder.get('host')}, lease {path}); refusing the "
                f"concurrent apply — one writer per target. If that "
                f"process is truly gone the lease will be taken over "
                f"automatically (dead pid, or {LEASE_STALE_SEC:.0f}s "
                f"cross-host)."
            )
    if not acquired:
        raise RuntimeError(
            f"could not acquire the writer lease at {path} after "
            f"repeated takeover attempts"
        )
    try:
        yield
    finally:
        try:
            os.unlink(path)
        except OSError:
            pass


def leased(method):
    """Run a maintenance method of a structure under the writer lease
    of its `self.root`: a second concurrent writer is refused, a dead
    one's lease is taken over.  A leased method must not call another
    leased method of the same structure (the lease does not nest)."""

    @functools.wraps(method)
    def run(self, *args, **kwargs):
        with writer_lease(self.root):
            return method(self, *args, **kwargs)

    return run
