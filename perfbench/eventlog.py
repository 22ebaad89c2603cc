"""Read Spark's own job and stage metrics back from its event log.

The benchmark's traced session writes an uncompressed, non-rolling event
log.  ``read`` joins each ``SparkListenerJobStart`` (which carries the job
group the benchmark set) to the ``SparkListenerStageCompleted`` events of
that job's stages, and sums the stage accumulables per job group.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

# accumulable name -> (metric, scale to seconds or bytes)
STAGE_ACCUMULABLES = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.input.bytesRead": ("input_bytes", 1),
    # SQL metrics of the Arrow/pandas evaluation nodes
    "data sent to Python workers": ("python_bytes_sent", 1),
    "data returned from Python workers": ("python_bytes_received", 1),
}
STAGE_METRICS = sorted({m for m, _ in STAGE_ACCUMULABLES.values()})


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    # (submission, completion) epoch seconds of every completed stage
    intervals: list = field(default_factory=list)
    sums: dict = field(default_factory=lambda: dict.fromkeys(STAGE_METRICS,
                                                             0.0))


def find_log(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".")]
    if len(files) != 1 or not os.path.isfile(files[0]):
        raise RuntimeError(f"expected one event log file in {log_dir}, "
                           f"found {sorted(files)}")
    return files[0]


def read(path: str) -> dict[str, GroupStats]:
    """Job group id -> summed job and stage statistics."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if gid is None:
                    continue
                groups.setdefault(gid, GroupStats()).jobs += 1
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = gid
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                gid = stage_group.get(info["Stage ID"])
                if gid is None:
                    continue
                g = groups[gid]
                g.stages += 1
                g.tasks += info["Number of Tasks"]
                g.intervals.append((info["Submission Time"] / 1000.0,
                                    info["Completion Time"] / 1000.0))
                for acc in info.get("Accumulables", []):
                    m = STAGE_ACCUMULABLES.get(acc.get("Name"))
                    if m is not None:
                        g.sums[m[0]] += float(acc["Value"]) * m[1]
    return groups
