"""Pipeline runner: a DAG of stages with per-stage retry (reference S13).

The reference sequences its stages as an Airflow DAG with a retry policy
(1 retry / 5-min delay, reference dags/s3-etl-wallet-csv.py:38-39) and the
topology sensor >> list >> copy >> delete >> parse >> {spark job, DW load}
(reference dags/s3-etl-wallet-csv.py:247-248), passing state via XCom.
Here the same contract is a plain Python runner:

- Each stage names the stages it runs ``after``; by default that is the
  stage declared just before it, so a pipeline declared without ``after``
  is the linear chain it reads as. ``after`` may only name stages already
  declared, so a cycle cannot be declared.
- ``run`` starts every stage as soon as all of its ``after`` stages have
  succeeded, one worker thread per ready stage, so independent branches
  run concurrently (their Spark jobs share the cluster's cores). Worker
  threads carry over the caller's Spark job group and local properties.
- Each stage has its own retry budget. After a stage fails for good, no
  new stage starts; stages already running finish, then the first
  failure is raised (the reference's trigger-rule=all-success default).
- State passes through a shared context dict (the XCom analogue): a
  stage's return value is published under its name before any dependent
  starts.

Scheduling stays external (cron/Airflow can call ``Pipeline.run`` — per
BASELINE "Spark transforms + scheduled jobs", orchestration is not the
engine's job).

Scale note: the runner is driver-side control flow only — every stage body
is expected to be a lazy Spark action over distributed data. Nothing here
holds rows.
"""

from __future__ import annotations

import queue
import threading
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any


class PipelineError(RuntimeError):
    """A stage exhausted its retries; carries the failing stage name."""

    def __init__(self, stage: str, attempts: int, cause: BaseException):
        super().__init__(f"stage {stage!r} failed after {attempts} attempt(s): {cause}")
        self.stage = stage
        self.attempts = attempts
        self.cause = cause


@dataclass
class Stage:
    """One pipeline step.

    ``fn(ctx)`` receives the shared mutable context dict and may read
    upstream results from it / publish its own under ``ctx[name]``
    (returned value is stored there automatically). ``after`` names the
    stages it depends on; None means the stage declared just before it.
    """

    name: str
    fn: Callable[[dict[str, Any]], Any]
    retries: int = 1          # extra attempts after the first failure
    retry_delay_s: float = 0.0  # reference uses 300s; tests use 0
    after: tuple[str, ...] | None = None


@dataclass
class StageResult:
    name: str
    attempts: int
    seconds: float
    value: Any = None


def _dependencies(stages: list[Stage], i: int) -> tuple[str, ...]:
    """The names stage ``i`` runs after; each must be declared before it."""
    st = stages[i]
    earlier = [s.name for s in stages[:i]]
    if st.name in earlier:
        raise ValueError(f"stage {st.name!r} is declared twice")
    if st.after is None:
        return tuple(earlier[-1:])
    unknown = [a for a in st.after if a not in earlier]
    if unknown:
        raise ValueError(
            f"stage {st.name!r} runs after {unknown}, which are not declared before it"
        )
    return st.after


def _attempt(st: Stage, ctx: dict[str, Any], done: queue.SimpleQueue) -> None:
    """Run one stage with its retries; post a StageResult or PipelineError."""
    t0 = time.perf_counter()
    attempt = 0
    while True:
        attempt += 1
        try:
            value = st.fn(ctx)
        except BaseException as e:  # noqa: BLE001 — stage bodies are arbitrary
            # Exit and interrupt are not retried; run() raises them as the cause.
            if attempt > st.retries or not isinstance(e, Exception):
                done.put(PipelineError(st.name, attempt, e))
                return
            if st.retry_delay_s:
                time.sleep(st.retry_delay_s)
        else:
            done.put(StageResult(st.name, attempt, time.perf_counter() - t0, value))
            return


def _inheriting(target: Callable) -> Callable:
    """``target`` wrapped so that its thread starts with a copy of the
    calling thread's Spark job group, local properties and session tags;
    ``target`` itself when no SparkContext is live (nothing to carry over).
    Wrap once per thread: threads sharing one wrapper share one properties
    object, so a job group one of them sets would leak into the others."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    from pyspark.util import inheritable_thread_target

    if SparkContext._active_spark_context is None:
        return target
    return inheritable_thread_target(SparkSession.active())(target)


@dataclass
class Pipeline:
    stages: list[Stage] = field(default_factory=list)

    def stage(
        self,
        name: str,
        retries: int = 1,
        retry_delay_s: float = 0.0,
        after: tuple[str, ...] | None = None,
    ):
        """Decorator form: ``@pipe.stage("parse", after=("copy",))``.
        Raises ValueError for a repeated name or an ``after`` name not
        declared yet."""

        def deco(fn: Callable[[dict[str, Any]], Any]):
            st = Stage(name, fn, retries, retry_delay_s, after)
            _dependencies([*self.stages, st], len(self.stages))
            self.stages.append(st)
            return fn

        return deco

    def run(self, ctx: dict[str, Any] | None = None) -> list[StageResult]:
        """Run the stage DAG; returns per-stage results in declaration order.

        A stage is retried up to ``retries`` extra times; once exhausted,
        no further stage starts (its dependents never run), stages already
        running finish, and the first PipelineError is raised."""
        ctx = ctx if ctx is not None else {}
        pending = {
            st.name: (st, set(_dependencies(self.stages, i))) for i, st in enumerate(self.stages)
        }
        done: queue.SimpleQueue = queue.SimpleQueue()
        results: dict[str, StageResult] = {}
        failure: PipelineError | None = None
        running = 0
        while True:
            if failure is None:
                for name, (st, deps) in list(pending.items()):
                    if deps <= results.keys():
                        del pending[name]
                        threading.Thread(
                            target=_inheriting(_attempt), args=(st, ctx, done), name=f"stage-{name}"
                        ).start()
                        running += 1
            if not running:
                break
            outcome = done.get()
            running -= 1
            if isinstance(outcome, PipelineError):
                failure = failure or outcome
            else:
                ctx[outcome.name] = outcome.value
                results[outcome.name] = outcome
        if failure is not None:
            raise failure from failure.cause
        return [results[st.name] for st in self.stages]


def observed(df, name: str, *metrics):
    """Attach zero-cost pipeline metrics to a DataFrame: returns
    (df_with_observation, Observation). The metrics (any aggregate
    expressions — row counts, null counts, value bounds) are computed ON
    THE SAME PASS as whatever action materializes the DataFrame — no
    second scan, unlike a separate ``df.count()`` / quality query. Read
    ``obs.get`` AFTER the action. This is the data-quality hook a
    production stage wires between transform and sink (e.g. assert
    null-rate below threshold before promoting a zone).
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *metrics), obs
