"""Spans around the benchmark's calls into the program.

A ``Tracer`` times every call it wraps. When tracing is on it also, per
span, sets a Spark job group named after the span, counts the Spark jobs
the call submitted (the DAG scheduler's job-id counter, which the status
store's bounded job list cannot corrupt) and the py4j round trips it
made, and after the run reads shuffle, spill and output bytes of those
jobs from the status store. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._py4j = 0
        self._lock = threading.Lock()
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping
        if enabled:
            self._count_py4j()

    def _count_py4j(self) -> None:
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counting(*args, **kwargs):
            with self._lock:
                self._py4j += 1
            return send(*args, **kwargs)

        client.send_command = counting

    def _job_id(self) -> int:
        return self.jsc.dagScheduler().nextJobId()

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span; yields its record (attrs may be added)."""
        t_in = time.perf_counter()
        rec = {"id": len(self.spans), "name": name, "parent": None, **attrs}
        if self._stack:
            rec["parent"] = self._stack[-1]["id"]
        self.spans.append(rec)
        self._stack.append(rec)
        if self.enabled:
            group = f"{name}#{rec['id']}"
            self.sc.setJobGroup(group, name)
            rec["job_group"] = group
            j0 = self._job_id()
            c0 = self._py4j
        rec["start"] = time.perf_counter()
        self.self_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if self.enabled:
                rec["py4j_calls"] = self._py4j - c0
                j1 = self._job_id()
                rec["jobs"] = j1 - j0
                rec["job_ids"] = [j0, j1]
                parent = self._stack[-2] if len(self._stack) > 1 else None
                if parent is not None:
                    self.sc.setJobGroup(parent["job_group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._stack.pop()
            self.self_s += time.perf_counter() - rec["end"]

    def spans_named(self, name: str) -> list[dict]:
        return [r for r in self.spans if r["name"] == name]

    def secs(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def collect_stage_metrics(self) -> None:
        """Attach shuffle/spill/output byte totals of each span's jobs
        (nested spans' jobs included) from the Spark status store."""
        t0 = time.perf_counter()
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        per_job: dict[int, dict] = {}
        hi = max((r["job_ids"][1] for r in self.spans), default=0)
        lo = min((r["job_ids"][0] for r in self.spans), default=0)
        seen: set[str] = set()  # a skipped stage is listed by later jobs too
        for jid in range(lo, hi):
            tot = dict(shuffle_bytes=0, spill_bytes=0, output_bytes=0)
            per_job[jid] = tot
            try:
                stage_ids = store.job(jid).stageIds().mkString(",")
            except Py4JJavaError:  # job evicted from the store or never run
                continue
            for sid in filter(None, stage_ids.split(",")):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(int(sid))
                except Py4JJavaError:  # stage never attempted
                    continue
                tot["shuffle_bytes"] += st.shuffleWriteBytes()
                tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                tot["output_bytes"] += st.outputBytes()
        for rec in self.spans:
            j0, j1 = rec["job_ids"]
            for key in ("shuffle_bytes", "spill_bytes", "output_bytes"):
                rec[key] = sum(per_job.get(j, {}).get(key, 0) for j in range(j0, j1))
        self.self_s += time.perf_counter() - t0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=0)
