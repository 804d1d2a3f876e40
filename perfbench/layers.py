"""Per-layer counters and spans, read from outside the program.

Everything here observes the engine through Spark's own monitoring
surfaces, never through the package's internals:

- ``StatusReader``: jobs, stages and executor task metrics from the
  driver's ``AppStatusStore`` (kept even with the UI disabled), plus the
  Catalyst phase timings of a DataFrame's ``QueryExecution``.
- ``ProgressLog``: a ``StreamingQueryListener`` that keeps every
  micro-batch progress report of every stream the process runs.
- ``Spans``: an in-memory span list (pass -> call -> build/execute, with
  stream batches as children), written out once at the end of a run.
"""

from __future__ import annotations

import datetime as dt
import json
import threading

from pyspark.sql.streaming import StreamingQueryListener

MB = 1024 * 1024


class StatusReader:
    """Counters of the jobs a call submitted, read after the call ends."""

    def __init__(self, spark):
        self.spark = spark
        jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self._empty = jvm.java.util.ArrayList()

    def job_mark(self) -> int:
        """Id the next submitted job will get."""
        return self._sc.dagScheduler().numTotalJobs()

    def drain(self) -> None:
        """Wait until every posted listener event has been handled."""
        self._sc.listenerBus().waitUntilEmpty()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def catalyst_ms(self, df) -> dict[str, float]:
        phases = self._json(df._jdf.queryExecution().tracker().phases())
        return {
            name: float(p["endTimeMs"] - p["startTimeMs"])
            for name, p in phases.items()
        }

    def jobs_since(self, first_job: int, build_end_job: int, t0: float, t1: float) -> dict:
        """Scheduler and executor counters for jobs ``>= first_job``.

        Only stages that ran count: a stage whose shuffle output was
        reused is reported SKIPPED by the store and adds no tasks.
        ``t0``/``t1`` bound the call (epoch seconds) for the idle time.
        """
        self.drain()
        jobs = [j for j in self._json(self._store.jobsList(None)) if j["jobId"] >= first_job]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s for s in self._json(self._store.stageList(
                None, False, False, self._no_quantiles, self._empty))
            if s["stageId"] in stage_ids and s["status"] in ("COMPLETE", "FAILED")
        ]
        spans = sorted(
            (_epoch(s["submissionTime"]), _epoch(s["completionTime"]))
            for s in stages if s.get("submissionTime") and s.get("completionTime")
        )
        busy, cur_start, cur_end = 0.0, None, None
        for a, b in spans:
            a, b = max(a, t0), min(b, t1)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    busy += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            busy += cur_end - cur_start
        delays = [
            (_epoch(s["firstTaskLaunchedTime"]) - _epoch(s["submissionTime"])) * 1000
            for s in stages if s.get("firstTaskLaunchedTime") and s.get("submissionTime")
        ]

        def total(key):
            return float(sum(s.get(key) or 0 for s in stages))

        return {
            "operators.build_jobs": float(sum(1 for j in jobs if j["jobId"] < build_end_job)),
            "scheduler.jobs": float(len(jobs)),
            "scheduler.stages": float(len(stages)),
            "scheduler.tasks": total("numCompleteTasks"),
            "scheduler.idle_s": max(0.0, (t1 - t0) - busy),
            "scheduler.stage_delay_sum_ms": float(sum(delays)),
            "exec.run_s": total("executorRunTime") / 1e3,
            "exec.cpu_s": total("executorCpuTime") / 1e9,
            "exec.gc_s": total("jvmGcTime") / 1e3,
            "exec.shuffle_read_mb": total("shuffleReadBytes") / MB,
            "exec.shuffle_write_mb": total("shuffleWriteBytes") / MB,
            "exec.spill_mb": (total("memoryBytesSpilled") + total("diskBytesSpilled")) / MB,
            "exec.input_mb": total("inputBytes") / MB,
            "exec.output_mb": total("outputBytes") / MB,
        }


def _epoch(ms) -> float:
    """Status-store times are epoch milliseconds."""
    return ms / 1000.0


def _iso(s: str) -> float:
    s = s.replace("GMT", "+00:00").replace("Z", "+00:00")
    return dt.datetime.fromisoformat(s).timestamp()


class ProgressLog(StreamingQueryListener):
    """Every micro-batch progress report of the process, in arrival order."""

    def __init__(self):
        self._lock = threading.Lock()
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        ops = p.stateOperators or []
        rec = {
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "rows": p.numInputRows,
            "start": _iso(p.timestamp),
            "duration_ms": dict(p.durationMs),
            "state_commit_ms": float(sum(o.commitTimeMs for o in ops)),
            "state_rows": float(sum(o.numRowsTotal for o in ops)),
            "state_bytes": float(sum(o.memoryUsedBytes for o in ops)),
            "state_dropped": float(sum(o.numRowsDroppedByWatermark for o in ops)),
        }
        rec["end"] = rec["start"] + rec["duration_ms"].get("triggerExecution", 0) / 1000.0
        with self._lock:
            self.batches.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def between(self, t0: float, t1: float) -> list[dict]:
        """Non-empty batches that started inside ``[t0, t1]``."""
        with self._lock:
            return [b for b in self.batches if b["rows"] > 0 and t0 <= b["start"] <= t1]


def stream_counters(batches: list[dict]) -> dict[str, float]:
    """Sums over micro-batches of the streaming and state layers."""

    def dur(key):
        return float(sum(b["duration_ms"].get(key, 0) for b in batches))

    return {
        "streaming.batches": float(len(batches)),
        "streaming.input_rows": float(sum(b["rows"] for b in batches)),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.latest_offset_ms": dur("latestOffset"),
        "streaming.get_batch_ms": dur("getBatch"),
        "state.commit_ms": float(sum(b["state_commit_ms"] for b in batches)),
        "state.rows_total": float(sum(b["state_rows"] for b in batches)),
        "state.memory_mb": float(sum(b["state_bytes"] for b in batches)) / MB,
        "state.rows_dropped_by_watermark": float(sum(b["state_dropped"] for b in batches)),
    }


class Spans:
    """Spans of one run, kept in memory and written out at the end."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.items: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        span_id = len(self.items)
        self.items.append({
            "run": self.run_id, "id": span_id, "parent": parent,
            "name": name, "start": start, "end": end, **attrs,
        })
        return span_id

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.items:
                f.write(json.dumps(s) + "\n")

