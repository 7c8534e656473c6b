"""Layer attribution from outside the package.

Three instruments, all driven from the benchmark process:

- ``Spans``: wraps public functions of the package's modules and
  records one span (name, wall start, wall end, py4j calls) per call.
  A wrapper replaces the attribute on the module that *calls* the
  function, so ``operators.rollup.tree_rollup_pg`` is timed where
  ``plans.nass`` calls it.
- ``Py4jCounter``: counts round trips by wrapping the gateway
  client's ``send_command``.
- ``RestMeter``: reads Spark's status REST API (``/jobs``,
  ``/stages``, ``/sql``) and hands out the records that are new since
  the last read. Stage attempts are keyed by ``(stageId, attemptId)``
  and SQL executions by id, so history the UI evicts can never be
  counted twice; a gap in the job ids raises, because it means the UI
  evicted jobs the benchmark has not read yet.

Nothing here submits a Spark job.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
import urllib.request
from datetime import datetime, timezone


def rest_time(stamp: str | None) -> float | None:
    """``2026-01-01T00:00:00.123GMT`` -> seconds since the epoch."""
    if not stamp:
        return None
    dt = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


class Py4jCounter:
    """Counts py4j commands sent by this process, except the
    reference releases py4j sends when Python collects a JavaObject:
    when those happen depends on the Python collector, not on the code."""

    def __init__(self, spark):
        from py4j import protocol

        self.calls = 0
        self._client = client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME

        @functools.wraps(send)
        def counting_send(command, *args, **kwargs):
            if not command.startswith(release):
                self.calls += 1
            return send(command, *args, **kwargs)

        client.send_command = counting_send

    def unwrap(self) -> None:
        del self._client.send_command  # back to the class's method


class Spans:
    """Records spans around calls into the package."""

    def __init__(self, py4j: Py4jCounter):
        self.py4j = py4j
        self.records: list[dict] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Record the enclosed block as one span called ``name``."""
        rec = {"name": name, "start": time.time(), "py4j": self.py4j.calls}
        try:
            yield
        finally:
            rec["end"] = time.time()
            rec["py4j"] = self.py4j.calls - rec["py4j"]
            self.records.append(rec)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, spanned)
        self._undo.append((owner, attr, fn))

    def take(self) -> list[dict]:
        out, self.records = self.records, []
        return out

    def unwrap(self) -> None:
        """Undo every wrap, the py4j counter's included."""
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()
        self.py4j.unwrap()


def span(spans: Spans | None, name: str):
    """``spans.span(name)``, or nothing when the run is not traced."""
    return spans.span(name) if spans is not None else contextlib.nullcontext()


class RestEvictionError(RuntimeError):
    """The UI dropped history the benchmark had not read yet."""


class RestMeter:
    """New jobs, stage attempts and SQL executions since the last read."""

    def __init__(self, spark, port: int):
        self._spark = spark
        app = spark.sparkContext.applicationId
        self._base = f"http://localhost:{port}/api/v1/applications/{app}"
        self._jobs: set[int] = set()
        self._stages: set[tuple[int, int]] = set()
        self._sql: set[int] = set()

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as resp:
            return json.load(resp)

    def drain(self) -> dict:
        """Everything finished since the previous call."""
        # the UI store is fed by the asynchronous listener bus: wait
        # until it has seen every event of the actions that returned
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = [j for j in self._get("/jobs") if j["jobId"] not in self._jobs]
        stages = [
            s for s in self._get("/stages")
            if (s["stageId"], s["attemptId"]) not in self._stages
            and s["status"] in ("COMPLETE", "FAILED", "SKIPPED")
        ]
        sql = [
            e for e in self._get("/sql?details=true&planDescription=false&length=1000000")
            if e["id"] not in self._sql and e["status"] != "RUNNING"
        ]
        self._jobs.update(j["jobId"] for j in jobs)
        if self._jobs and len(self._jobs) != max(self._jobs) - min(self._jobs) + 1:
            raise RestEvictionError(
                f"job ids have gaps: {len(self._jobs)} seen in "
                f"[{min(self._jobs)}, {max(self._jobs)}]"
            )
        if self._jobs and min(self._jobs) != 0:
            raise RestEvictionError(f"job 0 evicted; oldest seen {min(self._jobs)}")
        self._stages.update((s["stageId"], s["attemptId"]) for s in stages)
        self._sql.update(e["id"] for e in sql)
        return {"jobs": jobs, "stages": stages, "sql": sql}


#: call site Spark 4 gives jobs that adaptive execution submits from
#: its query-stage threads; how many of those run can differ by one
#: between identical passes, depending on timing (a shuffle stage that
#: a re-optimised plan no longer needs may or may not have started)
AQE_STAGE_CALL_SITE = "$anonfun$withThreadLocalCaptured"


def driver_jobs(jobs: list[dict]) -> list[dict]:
    """The jobs the driver's actions submitted: every job but the
    adaptive query-stage jobs, so their number repeats exactly."""
    return [j for j in jobs if not j["name"].startswith(AQE_STAGE_CALL_SITE)]


def action_counts(drained: dict) -> list[int]:
    """[SQL executions, driver-submitted jobs]: the per-pass counts an
    extra action (such as tracing that ran a query) would change, and
    timing does not."""
    return [len(drained["sql"]), len(driver_jobs(drained["jobs"]))]


def job_intervals(jobs: list[dict]) -> list[tuple[float, float]]:
    out = []
    for j in jobs:
        a, b = rest_time(j.get("submissionTime")), rest_time(j.get("completionTime"))
        if a is not None and b is not None:
            out.append((a, b))
    return sorted(out)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in intervals:
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def jobs_in(jobs: list[dict], lo: float, hi: float) -> list[dict]:
    """Jobs submitted inside the wall-clock window [lo, hi] (REST
    stamps have millisecond resolution: allow one tick either side)."""
    out = []
    for j in jobs:
        t = rest_time(j.get("submissionTime"))
        if t is not None and lo - 0.001 <= t <= hi + 0.001:
            out.append(j)
    return out


#: physical-plan node names (as ``/sql`` reports them) per counter
PLAN_NODES = {
    "spark.exchanges": ("Exchange",),
    "spark.smj_joins": ("SortMergeJoin",),
    "spark.bhj_joins": ("BroadcastHashJoin",),
}


def plan_node_counts(sql: list[dict]) -> dict[str, int]:
    counts = dict.fromkeys(PLAN_NODES, 0)
    for e in sql:
        for node in e.get("nodes", []):
            name = node.get("nodeName", "")
            for metric, names in PLAN_NODES.items():
                if any(name == n or name.startswith(n + " ") for n in names):
                    counts[metric] += 1
    return counts


def stage_totals(stages: list[dict]) -> dict[str, float]:
    done = [s for s in stages if s["status"] != "SKIPPED"]
    return {
        "spark.stages": len(done),
        "spark.tasks": sum(s.get("numCompleteTasks", 0) for s in done),
        "spark.task_s": sum(s.get("executorRunTime", 0) for s in done) / 1e3,
        "spark.task_cpu_s": sum(s.get("executorCpuTime", 0) for s in done) / 1e9,
        "spark.gc_s": sum(s.get("jvmGcTime", 0) for s in done) / 1e3,
        "spark.shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in done),
        "spark.shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in done),
        "spark.spill_bytes": sum(
            s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in done
        ),
        "input_bytes": sum(s.get("inputBytes", 0) for s in done),
    }
