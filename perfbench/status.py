"""Reads Spark's application status store from the benchmark's side.

After each query the benchmark drains the listener bus, then reads every
job submitted since the previous read (job ids are sequential) and the
stages those jobs ran. Each stage attempt is counted once, when it has
completed or failed; skipped stages carry no work.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError

MB = 1024 * 1024
_DONE = ("COMPLETE", "FAILED")


def _opt_ms(option) -> float | None:
    return option.get().getTime() / 1000.0 if option.isDefined() else None


class StatusReader:
    def __init__(self, sc) -> None:
        jsc = sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._next_job = 0
        self._seen_stages: set[tuple[int, int]] = set()

    def read(self, tag: str) -> dict:
        """Totals over the jobs since the last read. ``intervals`` holds each
        job's ``(submitted, completed)`` epoch seconds; ``untagged`` counts
        jobs whose description is not ``tag``."""
        self._bus.waitUntilEmpty(30_000)
        out = {
            "jobs": 0, "untagged": 0, "stages": 0, "tasks": 0,
            "executor_run_s": 0.0, "executor_cpu_s": 0.0,
            "input_mb": 0.0, "output_mb": 0.0,
            "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            "intervals": [],
        }
        while True:
            try:
                job = self._store.job(self._next_job)
            except Py4JJavaError:
                break
            self._next_job += 1
            out["jobs"] += 1
            desc = job.description()
            if not (desc.isDefined() and desc.get() == tag):
                out["untagged"] += 1
            start, end = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if start is not None and end is not None:
                out["intervals"].append((start, end))
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                self._add_stage(stage_ids.apply(i), out)
        return out

    def _add_stage(self, stage_id: int, out: dict) -> None:
        attempts = self._store.stageData(stage_id, False, None, False, None)
        for i in range(attempts.size()):
            s = attempts.apply(i)
            key = (stage_id, s.attemptId())
            if key in self._seen_stages or s.status().toString() not in _DONE:
                continue
            self._seen_stages.add(key)
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["executor_run_s"] += s.executorRunTime() / 1000.0
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["input_mb"] += s.inputBytes() / MB
            out["output_mb"] += s.outputBytes() / MB
            out["shuffle_read_mb"] += s.shuffleReadBytes() / MB
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
            out["spill_mb"] += s.diskBytesSpilled() / MB

    def skip_to_now(self) -> None:
        """Forget jobs run so far (landing pass, untraced passes)."""
        self._bus.waitUntilEmpty(30_000)
        jobs = self._store.jobsList(None)  # newest first
        if jobs.size():
            self._next_job = jobs.apply(0).jobId() + 1
