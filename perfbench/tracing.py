"""Measurement taken from outside the program: spans around calls into
its layers, a py4j call counter, Spark's status store and process memory.

Nothing here changes what the program does.  Spans are kept in memory and
written out once, when the run ends.
"""

from __future__ import annotations

import gc
import json
import resource
import threading
import time
from contextlib import contextmanager

# py4j's finalizers send "m\nd\n<id>" to release JVM objects; they fire
# whenever Python collects garbage, so counting them makes the same query
# read anywhere from ~270 to ~550 calls
_PY4J_RELEASE = "m\nd\n"


def is_release_command(command: str) -> bool:
    return command.startswith(_PY4J_RELEASE)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Spans at layer boundaries: name, start, end, parent, op id."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent, "op": op}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span's duration minus the part of
        it that its child spans cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(
                    (s["start"], s["end"])
                )
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered = union_length(
                (max(a, s["start"]), min(b, s["end"]))
                for a, b in children.get(i, ())
                if b > s["start"] and a < s["end"]
            )
            own = (s["end"] - s["start"]) - covered
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class CallTimer:
    """Times the calls of ``module.name`` made while ``on`` is set, each as
    a span of that name.  Callers that look the function up on the module
    at call time (``elastic.create_query_plan(...)``) go through it."""

    def __init__(self, module, name: str, tracer: Tracer):
        self.seconds = 0.0
        self.on = False
        fn = getattr(module, name)
        label = f"{module.__name__.rsplit('.', 1)[-1]}.{name}"

        def timed(*args, **kwargs):
            if not self.on:
                return fn(*args, **kwargs)
            with tracer.span(label):
                t = time.perf_counter()
                try:
                    return fn(*args, **kwargs)
                finally:
                    self.seconds += time.perf_counter() - t

        setattr(module, name, timed)


class Py4jCounter:
    """Counts py4j commands sent to the JVM, release commands excluded."""

    def __init__(self, spark):
        self.calls = 0
        self._lock = threading.Lock()
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(command, *args, **kwargs):
            if not is_release_command(command):
                with self._lock:
                    self.calls += 1
            return send(command, *args, **kwargs)

        client.send_command = counted


class SparkStatus:
    """Job and stage records from Spark's status store (populated with the
    UI disabled), read as JSON in two gateway calls."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        ).__getattr__("MODULE$")
        self._mapper.registerModule(scala_module)
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def tag(self, op: int | None) -> None:
        """Run the calling thread's next jobs under the job group of op."""
        if op is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"pb-{op}", f"perfbench op {op}")

    def snapshot(self) -> tuple[list[dict], list[dict]]:
        jobs = self._mapper.writeValueAsString(self._store.jobsList(None))
        stages = self._mapper.writeValueAsString(
            self._store.stageList(None, False, False, self._no_quantiles, None)
        )
        return json.loads(jobs), json.loads(stages)


def job_metrics(jobs, stages, window=None) -> dict:
    """Spark counters over a set of jobs and their stages.  ``window``
    (start, end) in epoch seconds clips the job intervals whose union is
    reported as exec_ms."""
    stage_ids = {sid for j in jobs for sid in j["stageIds"]}
    ran = [s for s in stages
           if s["stageId"] in stage_ids and s["status"] != "SKIPPED"]
    spans = []
    for j in jobs:
        s = j.get("submissionTime")
        e = j.get("completionTime")
        if s is None or e is None:
            continue
        s, e = s / 1000.0, e / 1000.0
        if window is not None:
            s, e = max(s, window[0]), min(e, window[1])
        if e > s:
            spans.append((s, e))
    return {
        "jobs": len(jobs),
        "stages": len(ran),
        "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"]
                     + s["numKilledTasks"] for s in ran),
        "failed_tasks": sum(s["numFailedTasks"] for s in ran),
        "exec_ms": 1000.0 * union_length(spans),
        "executor_run_ms": float(sum(s["executorRunTime"] for s in ran)),
        "executor_cpu_ms": sum(s["executorCpuTime"] for s in ran) / 1e6,
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in ran),
        "input_bytes": sum(s["inputBytes"] for s in ran),
    }


def jobs_by_op(jobs) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = {}
    for j in jobs:
        group = j.get("jobGroup") or ""
        if group.startswith("pb-"):
            out.setdefault(int(group[3:]), []).append(j)
    return out


def _status_kb(pid, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of this Python process plus the JVM.  With a
    heap that grows on demand, the JVM's part follows its collector's
    timing as much as the program's needs."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (py_kb + _status_kb(jvm_pid, "VmHWM")) / 1024.0


def retained_mb(spark) -> float:
    """Memory the program still holds after full collections: this
    Python process's resident memory plus the JVM's used heap and
    non-heap (class metadata, compiled code)."""
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # collect until a collection frees under 1 MB: after one collection
    # about half the runs still held ~64 MB that a second one freed
    heap = None
    for _ in range(4):
        gc.collect()
        jvm.java.lang.System.gc()
        last, heap = heap, mx.getHeapMemoryUsage().getUsed()
        if last is not None and last - heap < 2**20:
            break
    jvm_bytes = heap + mx.getNonHeapMemoryUsage().getUsed()
    return _status_kb("self", "VmRSS") / 1024.0 + jvm_bytes / 2.0**20

