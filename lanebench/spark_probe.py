"""What Spark's own trackers say about one query run, read afterwards.

Used by traced runs only. A query run is bracketed by ``mark()`` calls
before the build, between build and collect, and after the collect.
Job and stage ids are allocated in order and this process runs one
client, so the ids allocated between two marks belong to that part of
the run, micro-batches of a stream drain included (those carry no job
group, which is thread-local). Everything is read through one JSON
serialisation per job, stage and plan, because walking plan nodes over
py4j costs seconds per query.

Coverage limits: the Catalyst phases and the Python-worker metrics come
from the returned DataFrame's own QueryExecution, so they do not include
plans that the build itself executed."""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

from lanebench.trace import union_s

MB = 1024 * 1024

_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RECEIVED = "data returned from Python workers"


@dataclass
class Marks:
    job: int
    stage: int


@dataclass
class RunStats:
    """Counts and times of one query run (build plus collect)."""

    build_jobs: int = 0
    build_tasks: int = 0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_run_s: float = 0.0
    exec_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    output_mb: float = 0.0
    phases_ms: dict[str, float] = field(default_factory=dict)
    python_s: float = 0.0
    python_sent_mb: float = 0.0
    python_received_mb: float = 0.0
    batches: int = 0
    batch_ms: list[float] = field(default_factory=list)
    state_rows: int = 0
    late_drops: int = 0
    # (name, start, end) in epoch seconds: Catalyst phases and jobs
    spans: list[tuple[str, float, float]] = field(default_factory=list)


class _Progress(StreamingQueryListener):
    def __init__(self, sink: list):
        self._sink = sink

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self._sink.append((
            p.durationMs.get("triggerExecution", 0),
            sum(op.numRowsTotal for op in p.stateOperators),
            sum(op.numRowsDroppedByWatermark for op in p.stateOperators),
            str(p.runId),
        ))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class SparkProbe:
    def __init__(self, spark):
        self._spark = spark
        jvm = spark.sparkContext._jvm
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala,
                        "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala, "MODULE$"))
        self._accumulators = jvm.org.apache.spark.util.AccumulatorContext
        self._plan_info = jvm.org.apache.spark.sql.execution.SparkPlanInfo
        self._progress: list = []
        self._listener = None

    def listen(self, on: bool) -> None:
        """Attach or detach the streaming progress listener."""
        if on and self._listener is None:
            self._listener = _Progress(self._progress)
            self._spark.streams.addListener(self._listener)
        elif not on and self._listener is not None:
            self._spark.streams.removeListener(self._listener)
            self._listener = None

    def mark(self) -> Marks:
        return Marks(self._dag.nextJobId(), self._dag.nextStageId())

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def read(self, df, before: Marks, built: Marks, after: Marks) -> RunStats:
        self._bus.waitUntilEmpty(30_000)
        st = RunStats()
        job_spans = []
        for jid in range(before.job, after.job):
            job = self._json(self._store.job(jid))
            start = job["submissionTime"] / 1000
            end = (job.get("completionTime") or job["submissionTime"]) / 1000
            job_spans.append((start, end))
            st.spans.append((f"job {jid}", start, end))
        st.jobs = after.job - before.job
        st.build_jobs = built.job - before.job
        st.exec_s = union_s(job_spans)
        for sid in range(before.stage, after.stage):
            try:
                stage = self._json(self._store.lastStageAttempt(sid))
            except Py4JJavaError:  # an id AQE allocated but never submitted
                continue
            if stage["status"] == "SKIPPED":
                continue
            tasks = stage["numCompleteTasks"] + stage["numFailedTasks"]
            st.stages += 1
            st.tasks += tasks
            st.build_tasks += tasks if sid < built.stage else 0
            st.failed_tasks += stage["numFailedTasks"]
            st.task_run_s += stage["executorRunTime"] / 1000
            st.shuffle_write_mb += stage["shuffleWriteBytes"] / MB
            st.spill_mb += stage["diskBytesSpilled"] / MB
            st.output_mb += stage["outputBytes"] / MB
        qe = df._jdf.queryExecution()
        for phase, t in self._json(qe.tracker().phases()).items():
            st.phases_ms[phase] = t["endTimeMs"] - t["startTimeMs"]
            st.spans.append((phase, t["startTimeMs"] / 1000,
                             t["endTimeMs"] / 1000))
        self._python_metrics(qe, st)
        runs = list(self._progress)
        self._progress.clear()
        st.batches = len(runs)
        st.batch_ms = [float(p[0]) for p in runs]
        last_state: dict[str, int] = {}
        for _, state, dropped, run_id in runs:
            last_state[run_id] = state
            st.late_drops += dropped
        st.state_rows = sum(last_state.values())
        return st

    def _python_metrics(self, qe, st: RunStats) -> None:
        plan = self._json(self._plan_info.fromSparkPlan(qe.executedPlan()))
        todo = [plan]
        while todo:
            node = todo.pop()
            todo.extend(node.get("children", ()))
            for m in node.get("metrics", ()):
                if m["name"] not in (_PY_TIME, _PY_SENT, _PY_RECEIVED):
                    continue
                acc = self._accumulators.get(m["accumulatorId"])
                value = acc.get().value() if acc.isDefined() else 0
                if m["name"] == _PY_TIME:
                    st.python_s += value / 1000
                elif m["name"] == _PY_SENT:
                    st.python_sent_mb += value / MB
                else:
                    st.python_received_mb += value / MB
