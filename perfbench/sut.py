"""Process plumbing shared by the live and batch runners: the environment
a system-under-test process starts with, and its process session, which
holds the Python driver, the JVM and the Python workers."""

from __future__ import annotations

import os


def sut_env(root: str, tmp: str) -> dict[str, str]:
    """Environment of a system-under-test process: the program's own
    defaults (heap included), every core, and every scratch file under
    ``tmp``."""
    env = dict(os.environ)
    env.update(
        PYTHONPATH=root,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),  # as nproc counts
        SPARK_LOCAL_DIRS=tmp,
        SPARK_GRAFT_WAREHOUSE=os.path.join(tmp, "warehouse"),
        TMPDIR=tmp,
        # keep the JVM's temp and perf-data files out of /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


def _session_pids(session: int) -> list[str]:
    """Processes of a session that have not exited (zombies excluded)."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                fields = f.read().rsplit(b")", 1)[1].split()
        except OSError:
            continue  # it ended while we looked
        if fields[0] not in (b"Z", b"X") and int(fields[3]) == session:
            pids.append(pid)
    return pids


def session_alive(session: int) -> bool:
    return bool(_session_pids(session))


def tree_rss_kb(session: int) -> int:
    """Resident set of every process in a session, in KiB."""
    total = 0
    for pid in _session_pids(session):
        try:
            with open(f"/proc/{pid}/status", "rb") as f:
                for line in f:
                    if line.startswith(b"VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total
