"""Probes outside the package: Spark job/task accounting per op, and
peak resident memory of this process and its JVM from ``/proc``."""

from __future__ import annotations

import os
import time

BARRIER_TIMEOUT_S = 30.0  # longest wait for the status tracker to catch up


class JobAccounting:
    """Counts the Spark jobs, completed tasks and failed tasks of one op.

    Each op runs under its own job group.  The status tracker is fed by
    an asynchronous listener, so :meth:`end` first runs a one-task
    barrier job and waits until the tracker reports it finished: the
    listener queue is FIFO, so every event of the op is in by then and
    the counts repeat exactly for a fixed input.
    """

    IDLE = "perfbench-idle"

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self._barriers = 0

    def begin(self, op_id: str) -> None:
        self.sc.setJobGroup(op_id, op_id)

    def idle(self) -> None:
        self.sc.setJobGroup(self.IDLE, self.IDLE)

    def end(self, op_id: str) -> tuple[int, int, int]:
        """``(jobs, tasks, failed_tasks)`` of the op's job group."""
        self._barrier()
        jobs = tasks = failed = 0
        for jid in self.tracker.getJobIdsForGroup(op_id):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
        return jobs, tasks, failed

    def _barrier(self) -> None:
        gid = f"perfbench-barrier-{self._barriers}"
        self._barriers += 1
        self.sc.setJobGroup(gid, gid)
        self.sc.parallelize([0], 1).count()
        deadline = time.monotonic() + BARRIER_TIMEOUT_S
        while True:
            ids = self.tracker.getJobIdsForGroup(gid)
            infos = [self.tracker.getJobInfo(i) for i in ids]
            if infos and all(i is not None and i.status == "SUCCEEDED" for i in infos):
                break
            if time.monotonic() > deadline:
                raise TimeoutError("Spark status tracker did not catch up")
            time.sleep(0.002)
        self.idle()


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def child_pids(pid: int) -> list[int]:
    """Direct children of ``pid`` (for this process: the PySpark gateway JVM)."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        # the comm field may hold spaces; ppid is the 2nd field after ')'
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(entry))
    return out


def peak_rss_mb() -> float:
    """VmHWM of this process plus its direct children, in MiB."""
    me = os.getpid()
    return sum(_vm_hwm_kb(p) for p in [me] + child_pids(me)) / 1024.0
