"""Layer probes: spans, Spark status-store windows and process memory.

Everything here observes the engine from outside. Jobs are attributed
to a call by job-id range: the DAG scheduler's next job id is read
before and after the call, and every id in between belongs to it. This
keeps jobs launched from thread pools, which lose job tags and groups.
Stage statistics come from Spark's in-process status store (it works
with the UI disabled) and are read right after each call, before its
retention limit can drop them.
"""

from __future__ import annotations

import subprocess
import time
from contextlib import contextmanager

STAGE_FIELDS = (
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "output_bytes",
    "spill_bytes",
)


class Spans:
    """In-memory span recorder; ``records`` is written out at the end."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.records),
            "run_id": self.run_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        rec.update(attrs)
        self.records.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a finished span under the innermost open one."""
        rec = {
            "id": len(self.records),
            "run_id": self.run_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": start,
            "end": end,
        }
        rec.update(attrs)
        self.records.append(rec)


class JobWindows:
    """Job-id windows over one SparkContext and their stage totals."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._counted_stages: set[int] = set()

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def stats(self, first: int, end: int) -> dict:
        """Totals over jobs ``first <= id < end``. Each completed stage
        counts once per run, in the first window that reads it; stages
        a job skips (reused shuffle output) do not count."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out = {"jobs": end - first, "stages": 0}
        out.update({k: 0 for k in STAGE_FIELDS})
        stage_ids: set[int] = set()
        for jid in range(first, end):
            seq = store.job(jid).stageIds()
            stage_ids.update(int(seq.apply(i)) for i in range(seq.size()))
        for sid in sorted(stage_ids - self._counted_stages):
            st = store.lastStageAttempt(sid)
            if str(st.status()) != "COMPLETE":
                continue
            self._counted_stages.add(sid)
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["output_bytes"] += st.outputBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


def add_stats(total: dict, part: dict) -> None:
    for k, v in part.items():
        total[k] = total.get(k, 0) + v


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise ValueError(f"no VmHWM for process {pid}")


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop_session(spark) -> None:
    """Stop the session and the gateway JVM, and wait until it exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
