"""Outside-in tracing: spans built from Spark's own stores.

Nothing inside the package is instrumented. A traced call gets its own
Spark job group; when the call returns, the jobs of that group and their
stages are read from ``statusTracker`` and the JVM status store (through
py4j, with the UI off) before retention can evict them. Streaming
micro-batch jobs carry the query's ``runId`` as their job group, and a
``StreamingQueryListener`` turns every progress event into a trigger
span. All spans share the run id, stay in memory, and are written out
once at the end of the run.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


def _opt_s(opt) -> float | None:
    """scala.Option[java.util.Date] → epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


class _ProgressListener(StreamingQueryListener):
    def __init__(self, sink: list):
        self._sink = sink

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self._sink.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """Span recorder. With ``enabled`` False every method is a cheap
    no-op, so untraced passes pay nothing."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        self._n = 0
        self._listener = None
        self.cost_s = 0.0  # time spent reading stores and building spans

    # -- spans ------------------------------------------------------------
    def _add(self, **span) -> dict:
        self._n += 1
        span.setdefault("span_id", f"{self.run_id}-{self._n}")
        span["run_id"] = self.run_id
        self.spans.append(span)
        return span

    def record(self, layer: str, name: str, start: float, end: float) -> None:
        """A call span timed by the caller (one that starts no Spark job)."""
        if self.enabled:
            self._add(kind="call", layer=layer, name=name, parent_id=None, attrs={},
                      start=start, end=end)

    @contextmanager
    def call(self, layer: str, name: str, **attrs):
        """A span per public-function call; its Spark jobs become child
        spans. Yields the span dict (``None`` when tracing is off)."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        span = self._add(kind="call", layer=layer, name=name, parent_id=None, attrs=attrs)
        group = span["span_id"]
        sc.setJobGroup(group, f"{layer}:{name}")
        span["start"] = time.time()
        try:
            yield span
        finally:
            span["end"] = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.collect_group(group, span)

    def collect_group(self, group: str, parent: dict) -> None:
        """Job and stage spans for one job group, from the status store."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
            try:
                jd = store.job(jid)
            except Exception:  # noqa: BLE001 — evicted; count what is left
                continue
            job = self._add(kind="job", layer="spark", name=f"job {jid}",
                            parent_id=parent["span_id"],
                            start=_opt_s(jd.submissionTime()),
                            end=_opt_s(jd.completionTime()),
                            attrs={"job_id": jid, "status": str(jd.status())})
            stages = []
            for sid in _seq(jd.stageIds()):
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — skipped stage, never ran
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                stages.append(self._add(
                    kind="stage", layer="spark", name=f"stage {sid}",
                    parent_id=job["span_id"],
                    start=_opt_s(sd.submissionTime()),
                    end=_opt_s(sd.completionTime()),
                    attrs={
                        "stage_id": sid,
                        "tasks": sd.numTasks(),
                        "executor_run_ms": sd.executorRunTime(),
                        "executor_cpu_ns": sd.executorCpuTime(),
                        "input_bytes": sd.inputBytes(),
                        "output_bytes": sd.outputBytes(),
                        "shuffle_read_bytes": sd.shuffleReadBytes(),
                        "shuffle_write_bytes": sd.shuffleWriteBytes(),
                        "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    }))
            job["attrs"]["stages"] = len(stages)
        self.cost_s += time.perf_counter() - t0

    # -- streaming ----------------------------------------------------------
    def start_listener(self) -> None:
        if self.enabled and self._listener is None:
            self._listener = _ProgressListener(self.progress)
            self.spark.streams.addListener(self._listener)

    def stop_listener(self) -> None:
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    def trigger_spans(self, queries, parent: dict, timeout_s: float = 10.0) -> list[dict]:
        """Trigger spans from the listener's progress events for the given
        (finished) queries, plus their micro-batch jobs (job group =
        runId). Waits for the asynchronous listener bus to deliver every
        event the queries report in ``recentProgress``."""
        if not self.enabled:
            return []
        t0 = time.perf_counter()
        run_ids = {str(q.runId): len(q.recentProgress) for q in queries}
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            seen = {r: 0 for r in run_ids}
            for p in self.progress:
                if p["runId"] in seen:
                    seen[p["runId"]] += 1
            if all(seen[r] >= n for r, n in run_ids.items()):
                break
            time.sleep(0.01)
        self.cost_s += time.perf_counter() - t0
        triggers = []
        for p in self.progress:
            if p["runId"] not in run_ids:
                continue
            start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            triggers.append(self._add(
                kind="trigger", layer="streaming", name=f"{p['name']} batch {p['batchId']}",
                parent_id=parent["span_id"], start=start,
                end=start + p["durationMs"].get("triggerExecution", 0) / 1000.0,
                attrs={"query": p["name"], "batch_id": p["batchId"],
                       "num_input_rows": p["numInputRows"],
                       "duration_ms": p["durationMs"],
                       "state": p["stateOperators"]}))
        for run_id in run_ids:
            self.collect_group(run_id, parent)
        return triggers

    # -- output -------------------------------------------------------------
    def children(self, span: dict, kind: str) -> list[dict]:
        return [s for s in self.spans if s.get("parent_id") == span["span_id"]
                and s["kind"] == kind]

    def stages_of(self, span: dict) -> list[dict]:
        return [st for j in self.children(span, "job") for st in self.children(j, "stage")]

    def _job_intervals(self, span: dict) -> list[tuple[float, float]]:
        return [(j["start"], j["end"]) for j in self.children(span, "job")
                if j["start"] is not None and j["end"] is not None]

    def job_s(self, spans: list[dict]) -> float:
        """Wall time the spans spent with at least one Spark job running."""
        return sum(union_s(self._job_intervals(s)) for s in spans)

    def self_s(self, span: dict) -> float:
        """Wall time of a call span not covered by any of its Spark jobs."""
        return (span["end"] - span["start"]) - union_s(self._job_intervals(span))

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")
