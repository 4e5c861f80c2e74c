"""The ``/proc`` readings the benchmark takes of a run's process tree.

A run's worker leads its own session, so the driver, its JVM and the
Python workers are exactly the processes with that session id.
"""

from __future__ import annotations

import os


def stat(path: str) -> list[str]:
    """The fields of a ``stat`` file after the command name; field n of
    proc(5) is at index n - 3."""
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def session_pids(sid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            if int(stat(f"/proc/{name}/stat")[3]) == sid:  # field 6: session id
                pids.append(int(name))
        except OSError:  # the process ended while being read
            continue
    return pids
