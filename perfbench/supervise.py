"""Run the benchmark in a child process and end every process it leaves.

A Spark run leaves processes behind its driver: the JVM's Python worker
daemon moves to a process group of its own, multiprocessing's resource
tracker outlives its parent for a moment, and ``spark-class`` leaves a
shell that only its new parent reaps. The supervisor makes itself a child
subreaper (Linux ``prctl``), so every such orphan is re-parented to it
rather than to init. After the child exits, or when the time limit or a
signal ends the run, it gives what is left a moment to exit, then sends
SIGTERM and, failing that, SIGKILL, and reaps every one before it
returns.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import time

from sparkenv import descendants

PR_SET_PDEATHSIG = 1
PR_SET_CHILD_SUBREAPER = 36


def _prctl(option: int, arg: int) -> bool:
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(option, arg, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def _term_with_parent() -> None:
    """In the child, before exec: SIGTERM when the supervisor dies."""
    _prctl(PR_SET_PDEATHSIG, signal.SIGTERM)


def _raise_exit(signum, _frame):
    raise SystemExit(128 + signum)


def exit_on_sigterm() -> None:
    """Turn SIGTERM and SIGHUP into SystemExit, so ``finally`` blocks run."""
    signal.signal(signal.SIGTERM, _raise_exit)
    signal.signal(signal.SIGHUP, _raise_exit)


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_descendants(settle_s: float = 2.0, term_s: float = 5.0) -> list[int]:
    """Wait up to ``settle_s`` for every descendant to exit, then SIGTERM
    the rest, then SIGKILL what is left after ``term_s`` more; reap each.
    Returns the pids that had to be signalled."""
    me = os.getpid()
    t_term = time.monotonic() + settle_s
    t_kill = t_term + term_s
    signalled: dict[int, int] = {}
    while True:
        _reap()
        left = descendants(me)
        if not left:
            return sorted(signalled)
        now = time.monotonic()
        sig = signal.SIGKILL if now >= t_kill else signal.SIGTERM if now >= t_term else None
        for pid in left:
            if sig is not None and signalled.get(pid) != sig:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                signalled[pid] = sig
        if now >= t_kill + 10:  # unkillable (uninterruptible sleep): stop waiting
            return sorted(signalled)
        time.sleep(0.02)


def supervise(cmd: list[str], env_flag: str, limit_s: float) -> int:
    """Run ``cmd`` with ``env_flag=1`` in its environment for at most
    ``limit_s`` seconds, then end and reap everything it started. Returns
    its exit code, or 1 if it was stopped."""
    _prctl(PR_SET_CHILD_SUBREAPER, 1)
    exit_on_sigterm()
    rc = 1
    child = None
    try:
        child = subprocess.Popen(cmd, env={**os.environ, env_flag: "1"},
                                 preexec_fn=_term_with_parent)
        rc = child.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        print(f"perfbench: the run took longer than {limit_s:.0f} s and was stopped",
              file=sys.stderr)
        rc = 1
    finally:
        if child is not None and child.poll() is None:
            child.terminate()
        left = end_descendants()
        if left:
            print(f"perfbench: ended {len(left)} leftover process(es): {left}", file=sys.stderr)
    return rc if rc >= 0 else 1
