"""Per-layer instruments for the traced run, all observed from outside the
engine: nothing here changes a plan or registers a listener.

- ``Py4JCounter`` counts JVM round-trips by wrapping the gateway client's
  ``send_command``. Object-release commands (``m\\nd\\n``) are skipped:
  their count follows Python's garbage collector, not the query.
- ``CheckpointCounter`` counts ``localCheckpoint``/``checkpoint`` calls on
  the classic DataFrame class (``pyspark.sql.DataFrame`` is only the
  abstract parent on Spark 4.1, so wrapping it counts nothing).
- ``StatusStore`` reads the jobs, stages and SQL executions that ran
  between two window edges from Spark's status stores. Windows are by id,
  never by list index (the stores evict old entries), and the listener bus
  is drained before each edge because the stores are fed asynchronously.
  Store reads are py4j calls themselves, so callers read the counters
  before they read the store.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from tools.shuffle_ledger import collect_execution_metrics, max_execution_id

RELEASE_PREFIX = "m\nd\n"
MB = 1e6


class Py4JCounter:
    """Context manager: counts non-release py4j commands in ``calls``."""

    def __init__(self, spark):
        self._client = spark.sparkContext._gateway._gateway_client
        self.calls = 0

    def __enter__(self):
        send = self._client.send_command

        def send_command(command, *args, **kwargs):
            if not command.startswith(RELEASE_PREFIX):
                self.calls += 1
            return send(command, *args, **kwargs)

        self._client.send_command = send_command
        return self

    def __exit__(self, *exc):
        del self._client.send_command  # the class method shows through again


class CheckpointCounter:
    """Context manager: counts DataFrame checkpoints in ``calls``."""

    METHODS = ("localCheckpoint", "checkpoint")

    def __init__(self):
        from pyspark.sql.classic.dataframe import DataFrame

        self._cls = DataFrame
        self._orig = {m: DataFrame.__dict__[m] for m in self.METHODS}
        self.calls = 0

    def __enter__(self):
        for name, fn in self._orig.items():
            setattr(self._cls, name, self._counted(fn))
        return self

    def _counted(self, fn):
        def wrapper(*args, **kwargs):
            self.calls += 1
            return fn(*args, **kwargs)

        return wrapper

    def __exit__(self, *exc):
        for name, fn in self._orig.items():
            setattr(self._cls, name, fn)


@dataclass(frozen=True)
class Edge:
    """Largest job and SQL-execution ids seen at a window's opening edge."""

    job_id: int
    execution_id: int


class StatusStore:
    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._app = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        # one py4j call returns a whole job/stage list as JSON, instead of
        # several calls per job and stage
        scala = jvm.com.fasterxml.jackson.module.scala
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty(10000)

    def _json(self, seq) -> list:
        return json.loads(self._mapper.writeValueAsString(seq))

    def _jobs(self) -> list:
        return self._json(self._app.jobsList(None))

    def _stages(self) -> list:
        app = self._app
        return self._json(
            app.stageList(
                None, False, False,
                getattr(app, "stageList$default$4")(),
                getattr(app, "stageList$default$5")(),
            )
        )

    def edge(self) -> Edge:
        self.drain()
        return Edge(
            max((j["jobId"] for j in self._jobs()), default=-1),
            max_execution_id(self._sql),
        )

    def read(self, edge: Edge) -> dict:
        """Everything that ran after ``edge``: job intervals (epoch
        seconds) and the summed job, stage and SQL-metric counts."""
        self.drain()
        jobs = [j for j in self._jobs() if j["jobId"] > edge.job_id]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s
            for s in self._stages()
            if s["stageId"] in stage_ids and s["status"] not in ("SKIPPED", "PENDING")
        ]
        sql = collect_execution_metrics(self._sql, edge.execution_id)
        return {
            "intervals": [
                (j["submissionTime"] / 1000, j["completionTime"] / 1000)
                for j in jobs
                if j.get("submissionTime") and j.get("completionTime")
            ],
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["numCompleteTasks"] for s in stages),
            "spark.executor_run_s": sum(s["executorRunTime"] for s in stages) / 1000,
            "catalyst.executions": sql["n_execs"],
            "spark.shuffle_write_mb": sql["shuffle_write_bytes"] / MB,
            "spark.shuffle_read_mb": sql["shuffle_read_bytes"] / MB,
            "spark.spill_mb": sql["spill_bytes"] / MB,
            "sources.scan_mb": sql["scan_bytes"] / MB,
        }
