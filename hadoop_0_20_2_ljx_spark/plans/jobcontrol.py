"""JobControl-style multi-job DAG runner + counters.

Reference counterparts (SURVEY.md §2.11):
  - JobControl DAG (states WAITING/READY/RUNNING, addDependingJob)
                                    (mapred/jobcontrol/JobControl.java:40-47)
  - chained-job pattern (Grep's 2 jobs, gridmix monsterQuery 3-stage)
                                    (examples/.../Grep.java:48-87)
  - Counters                        (mapred/Counters.java:53, Task.java:65-79)

In Spark a 'job chain' is usually just a longer lazy plan — Catalyst sees
through it. This runner exists for the cases the reference needed
JobControl for: stages with real materialization boundaries (a write that
a later stage re-reads, an iterative loop, a point where you want to cut
lineage). Counters map to df.observe() metrics, collected without an
extra action.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any


@dataclass
class Job:
    """One node of the DAG: a callable from {dep_name: result} to result."""

    name: str
    fn: Callable[[dict[str, Any]], Any]
    deps: list[str] = field(default_factory=list)


class JobControl:
    """Topological executor with the reference's state machine
    (WAITING -> READY -> RUNNING -> SUCCESS/FAILED, JobControl.java:43-47).

    Results of dependencies are passed to dependents; a failed job marks
    its transitive dependents DEPENDENT_FAILED, like the reference.
    """

    def __init__(self) -> None:
        self._jobs: dict[str, Job] = {}
        self.states: dict[str, str] = {}
        self.results: dict[str, Any] = {}

    def add_job(self, job: Job) -> "JobControl":
        if job.name in self._jobs:
            raise ValueError(f"duplicate job {job.name}")
        self._jobs[job.name] = job
        self.states[job.name] = "WAITING"
        return self

    def run(self) -> dict[str, Any]:
        remaining = dict(self._jobs)
        while remaining:
            ready = [
                j
                for j in remaining.values()
                if all(self.states.get(d) == "SUCCESS" for d in j.deps)
            ]
            blocked_failed = [
                j
                for j in remaining.values()
                if any(self.states.get(d) in ("FAILED", "DEPENDENT_FAILED") for d in j.deps)
            ]
            for j in blocked_failed:
                self.states[j.name] = "DEPENDENT_FAILED"
                del remaining[j.name]
            if not ready:
                if remaining and not blocked_failed:
                    raise RuntimeError(f"cycle or unsatisfiable deps among {list(remaining)}")
                continue
            for j in ready:
                self.states[j.name] = "RUNNING"
                try:
                    self.results[j.name] = j.fn({d: self.results[d] for d in j.deps})
                    self.states[j.name] = "SUCCESS"
                except Exception:
                    self.states[j.name] = "FAILED"
                    raise
                finally:
                    del remaining[j.name]
        return self.results
