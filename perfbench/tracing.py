"""Traced runs: what the per-layer metrics are made of.

A traced run differs from an untraced one in three ways, all set up
here, and nothing else:

- every operation phase runs under its own Spark job group
  (``perfbench|<pass>|<op>|<phase>``), so jobs are counted per phase
  instead of by diffing the capped global job list;
- a plain Spark event log is written (uncompressed, one file, not
  rolling) and parsed after the session stops;
- a ``StreamingQueryListener`` records each micro-batch's progress.

Streaming micro-batch jobs run under the query's run id as job group;
the listener maps each run id to the phase that started the query
(``onQueryStarted`` fires before ``start()`` returns). Jobs carrying
neither are attributed by submission time to the phase window that
contains them, since the benchmark runs one operation at a time.
"""

from __future__ import annotations

import json
import statistics
import threading
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

GROUP_PREFIX = "perfbench"

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

# SQL metric names of the Python/Arrow worker nodes (Spark 4.1) -> key.
# The times are "timing" metrics, in milliseconds.
PY_ACCUMULABLES = {
    "time to run Python workers": "py_run_ms",
    "time to initialize Python workers": "py_init_ms",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
}

Key = tuple[int, str, str]  # (pass number, operation, phase)


def group_id(key: Key) -> str:
    return "|".join((GROUP_PREFIX, str(key[0]), key[1], key[2]))


def parse_group(group: str | None) -> Key | None:
    parts = (group or "").split("|")
    if len(parts) != 4 or parts[0] != GROUP_PREFIX or not parts[1].isdigit():
        return None
    return int(parts[1]), parts[2], parts[3]


class PhaseLog:
    """Phase windows of the run plus the streaming-run → phase map.

    Shared with the listener thread, hence the lock."""

    def __init__(self) -> None:
        self.windows: list[tuple[int, int, Key]] = []  # (start_ms, end_ms, key)
        self.run_phase: dict[str, Key] = {}
        self.progress: list[tuple[Key | None, dict]] = []
        self.current: Key | None = None
        self._lock = threading.Lock()

    def opened(self, key: Key) -> None:
        with self._lock:
            self.current = key

    def closed(self, key: Key, start_ms: int, end_ms: int) -> None:
        with self._lock:
            self.windows.append((start_ms, end_ms, key))
            self.current = None

    def query_started(self, run_id: str) -> None:
        with self._lock:
            if self.current is not None:
                self.run_phase[run_id] = self.current

    def query_progress(self, run_id: str, progress: dict) -> None:
        with self._lock:
            self.progress.append((self.run_phase.get(run_id), progress))

    def key_for(self, group: str | None, time_ms: int | None) -> Key | None:
        key = parse_group(group)
        if key is not None:
            return key
        if group in self.run_phase:
            return self.run_phase[group]
        if time_ms is not None:
            for start, end, k in self.windows:
                if start <= time_ms <= end:
                    return k
        return None


class ProgressListener(StreamingQueryListener):
    """Feeds micro-batch progress into a :class:`PhaseLog`."""

    def __init__(self, phases: PhaseLog) -> None:
        self._phases = phases

    def onQueryStarted(self, event) -> None:
        self._phases.query_started(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs or {}
        ops = p.stateOperators or []
        self._phases.query_progress(str(p.runId), {
            "run_id": str(p.runId),
            "input_rows": p.numInputRows or 0,
            "trigger_ms": d.get("triggerExecution", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "planning_ms": d.get("queryPlanning", 0),
            "log_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
            "state_commit_ms": sum(o.commitTimeMs or 0 for o in ops),
            "state_rows": sum(o.numRowsTotal or 0 for o in ops),
            "state_mem_b": sum(o.memoryUsedBytes or 0 for o in ops),
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _counters() -> dict:
    return defaultdict(float)


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Seconds covered by the union of ``[start, end]`` ms intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def parse_event_log(lines, phases: PhaseLog) -> dict[Key, dict]:
    """Per-phase counters from Spark event-log lines (JSON per line).

    Counters per key: ``jobs``, ``job_s`` (time covered by the phase's
    jobs), ``stages``, ``tasks``, ``task_s`` (launch to finish),
    ``gc_s``, ``shuffle_read_b``, ``shuffle_write_b``, ``spill_b``,
    ``scan_b``, ``scan_rows``, ``write_b``, the Python-worker
    accumulables of :data:`PY_ACCUMULABLES`, and ``stage_task_s``: one
    list of task durations per completed stage (for skew)."""
    out: dict[Key, dict] = defaultdict(_counters)
    job_span: dict[int, tuple[Key, int]] = {}
    job_intervals: dict[Key, list] = defaultdict(list)
    stage_key: dict[int, Key] = {}
    stage_tasks: dict[tuple[int, int], list[float]] = defaultdict(list)
    for line in lines:
        try:
            ev = json.loads(line)
        except ValueError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            key = phases.key_for(props.get("spark.jobGroup.id"), ev.get("Submission Time"))
            if key is None:
                continue
            out[key]["jobs"] += 1
            job_span[ev["Job ID"]] = (key, ev.get("Submission Time", 0))
            for sid in ev.get("Stage IDs", []):
                stage_key.setdefault(sid, key)
        elif kind == "SparkListenerJobEnd":
            started = job_span.pop(ev.get("Job ID"), None)
            if started is not None:
                key, t0 = started
                job_intervals[key].append((t0, ev.get("Completion Time", t0)))
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info") or {}
            key = stage_key.get(info.get("Stage ID"))
            if key is not None and "Failure Reason" not in info:
                out[key]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(ev.get("Stage ID"))
            if key is None:
                continue
            c = out[key]
            ti = ev.get("Task Info") or {}
            dur = max(0, ti.get("Finish Time", 0) - ti.get("Launch Time", 0)) / 1000.0
            c["tasks"] += 1
            c["task_s"] += dur
            stage_tasks[(ev.get("Stage ID"), ev.get("Stage Attempt ID", 0))].append(dur)
            tm = ev.get("Task Metrics") or {}
            c["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            sr = tm.get("Shuffle Read Metrics") or {}
            c["shuffle_read_b"] += sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
            c["shuffle_write_b"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            c["spill_b"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            inp = tm.get("Input Metrics") or {}
            c["scan_b"] += inp.get("Bytes Read", 0)
            c["scan_rows"] += inp.get("Records Read", 0)
            c["write_b"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in ti.get("Accumulables") or []:
                name = PY_ACCUMULABLES.get(acc.get("Name"))
                if name is not None:
                    try:
                        c[name] += float(acc.get("Update", 0))
                    except (TypeError, ValueError):
                        pass
    for (sid, _attempt), durs in stage_tasks.items():
        out[stage_key[sid]].setdefault("stage_task_s", []).append(durs)
    for key, intervals in job_intervals.items():
        out[key]["job_s"] = _union_s(intervals)
    return dict(out)


def task_skew(stages: list[list[float]]) -> float:
    """Median over stages of max / median task time (stages with at
    least two tasks and nonzero median; 1.0 when there are none)."""
    ratios = []
    for durs in stages:
        med = statistics.median(durs) if len(durs) >= 2 else 0
        if med > 0:
            ratios.append(max(durs) / med)
    return statistics.median(ratios) if ratios else 1.0
