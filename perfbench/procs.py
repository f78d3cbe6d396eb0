"""Process supervision: run the benchmark in a child process and return
only when every process it started has ended.

Spark leaves processes that outlive the Python driver for a moment: the
JVM stops its Python worker daemon without waiting for it, and the
daemon's workers exit on a signal of their own.  The supervisor makes
itself the subreaper of everything the child starts, so those orphans
stay its descendants, and waits for (or kills) each of them before it
returns.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import time

PR_SET_CHILD_SUBREAPER = 36
PR_SET_PDEATHSIG = 1
# time the child's leftovers get to end by themselves before they are
# killed
GRACE_S = 10.0


def _prctl(option: int, arg: int) -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(option, arg, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl({option}): {os.strerror(err)}")


def _die_with_parent() -> None:
    # runs in the child between fork and exec: if the supervisor is
    # killed, the child gets SIGKILL, and the JVM exits when its Python
    # driver does
    _prctl(PR_SET_PDEATHSIG, signal.SIGKILL)


def descendants(root: int) -> set[int]:
    """Live (not zombie) processes below ``root`` in the process tree."""
    parent, alive = {}, set()
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # ended while listing
        pid = int(name)
        parent[pid] = int(fields[1])
        if fields[0] != "Z":
            alive.add(pid)
    found, todo = set(), [root]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in found]
        found.update(kids)
        todo.extend(kids)
    return found & alive


def _reap_zombies() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap_all(grace_s: float = GRACE_S) -> None:
    """Wait until this process has no descendants left: those still
    running after ``grace_s`` get SIGTERM, and SIGKILL 5 s later."""
    me = os.getpid()
    start = time.monotonic()
    sent = None
    while True:
        _reap_zombies()
        left = descendants(me)
        if not left:
            break
        waited = time.monotonic() - start
        sig = (signal.SIGKILL if waited > grace_s + 5 else
               signal.SIGTERM if waited > grace_s else None)
        if sig is not None and sig != sent:
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.05)
    # every child is reaped: nothing is left to wait for
    try:
        os.waitpid(-1, 0)
    except ChildProcessError:
        return
    raise RuntimeError("a descendant process was left unreaped")


def supervise(cmd: list[str], env: dict, deadline_s: float) -> int:
    """Run ``cmd`` in a session of its own, stop it after ``deadline_s``
    and return its exit code once every process it started has ended.
    SIGTERM, SIGINT and SIGHUP to this process stop the child the same
    way."""
    _prctl(PR_SET_CHILD_SUBREAPER, 1)
    child = subprocess.Popen(cmd, env=env, start_new_session=True,
                             preexec_fn=_die_with_parent)

    def stop(signum, frame):
        raise KeyboardInterrupt(signum)

    old = {s: signal.signal(s, stop)
           for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)}
    rc = None
    try:
        rc = child.wait(timeout=deadline_s)
    except subprocess.TimeoutExpired:
        rc = 124
    except KeyboardInterrupt:
        rc = 130
    finally:
        for s, h in old.items():
            signal.signal(s, signal.SIG_IGN)
        if child.poll() is None:
            # the child's session: it, the JVM and the burst workers
            for sig in (signal.SIGTERM, signal.SIGKILL):
                try:
                    os.killpg(child.pid, sig)
                except ProcessLookupError:
                    break
                try:
                    child.wait(timeout=5)
                    break
                except subprocess.TimeoutExpired:
                    pass
        reap_all()
        for s, h in old.items():
            signal.signal(s, h)
    return rc
