"""End every process the benchmark started, and wait for each to end.

``SparkSession.stop()`` leaves the py4j gateway JVM alive: it exits only
once it reads EOF on its stdin, which happens when this interpreter has
already gone, and the ``pyspark.daemon`` workers it forked end after it.
So :func:`claim_orphans` makes this process the reaper of its orphaned
descendants (Linux ``PR_SET_CHILD_SUBREAPER``), and :func:`stop_all`
stops the session, closes the gateway, then terminates and reaps every
descendant that is left.
"""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import time

PR_SET_CHILD_SUBREAPER = 36


def claim_orphans() -> None:
    """Have descendants whose parent ends re-parented to this process
    (instead of init), so that :func:`stop_all` can wait for them; and
    turn SIGTERM into ``SystemExit`` so ``finally`` blocks run on it."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))


def descendants(root: int | None = None) -> list[int]:
    """Live (non-zombie) descendants of ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(entry))
    found, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo += children.get(pid, [])
    return found


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _signal(pids: list[int], sig: int) -> None:
    for pid in pids:
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _wait_gone(known: set[int], deadline: float) -> list[int]:
    while True:
        _reap()
        left = sorted(set(descendants()) | {p for p in known if _alive(p)})
        if not left or time.monotonic() >= deadline:
            return left
        time.sleep(0.05)


def stop_all(spark=None, grace_s: float = 20.0) -> None:
    """Stop ``spark``, shut the gateway JVM down, and return only when no
    descendant of this process is left running."""
    # snapshot first: it also covers descendants re-parented past this
    # process where the subreaper flag is unavailable
    known = set(descendants())
    if spark is not None:
        try:
            spark.stop()
        except Exception as exc:  # the JVM may already be gone
            print(f"spark.stop() raised {exc!r}", file=sys.stderr)
    try:
        from pyspark import SparkContext

        gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
    except ImportError:
        gateway = None
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:
            pass
        if proc is not None:
            if proc.stdin is not None:
                try:
                    proc.stdin.close()  # EOF: the gateway server exits
                except OSError:
                    pass
            try:
                proc.wait(timeout=grace_s)
            except Exception:
                proc.kill()
                proc.wait()
    left = _wait_gone(known, time.monotonic() + grace_s)
    if left:
        _signal(left, signal.SIGTERM)
        left = _wait_gone(known, time.monotonic() + 5.0)
    for _ in range(5):
        if not left:
            break
        _signal(left, signal.SIGKILL)
        left = _wait_gone(known, time.monotonic() + 5.0)
    if left:
        print(f"processes still running after SIGKILL: {left}", file=sys.stderr)
