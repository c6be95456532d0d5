"""Spans around the benchmark's calls into the engine's layers.

A span records (name, start, end, parent, run id). While a span is open,
every Spark job the call launches is tagged with a job group and a job
description unique to that span, so after the run the jobs, stages and
tasks of each span are read from ``SparkContext.statusTracker()`` and its
shuffle bytes from the Spark event log. Spans are kept in memory and
written out once, at the end of the run.

With tracing off, ``span`` yields ``None`` and makes no Spark call at all.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import time
from typing import Iterator


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self._kids: dict | None = None  # parent id -> spans, built on first use

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict | None]:
        if not self.enabled:
            yield None
            return
        parent = self._open[-1] if self._open else None
        rec = {
            "name": name,
            "id": f"{self.run_id}-{len(self.spans)}",
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._open.append(rec)
        self._tag(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            self._tag(parent)

    def _tag(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setJobDescription(None)
        else:
            # the "query:" prefix is what the event-log report groups by
            self.sc.setJobGroup(rec["id"], f"query:{rec['id']}")

    def resolve_jobs(self) -> None:
        """Attach each span's own jobs, stages and tasks (children's jobs
        are theirs, not the parent's). Call after the traced phase, while
        the SparkContext is still up."""
        st = self.sc.statusTracker()
        for rec in self.spans:
            jobs = st.getJobIdsForGroup(rec["id"])
            stages = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = 0
            for s in stages:
                sinfo = st.getStageInfo(s)
                if sinfo is not None:
                    tasks += sinfo.numTasks
            rec.update(jobs=len(jobs), stages=len(stages), tasks=tasks)

    def resolve_shuffle(self, evdir: str) -> None:
        """Attach shuffle-write bytes per span, parsed from the event log by
        ``scripts/profile_queries.py``'s report (megabytes with two
        decimals, so jobs under 5 kB of shuffle read as zero). Call after
        the SparkContext stopped: the log is complete only then."""
        from perfbench.repo import load_script

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            load_script("profile_queries")._report(evdir, {})
        by_id: dict[str, float] = {}
        current = None
        for line in buf.getvalue().splitlines():
            head = re.match(r"== query:(\S+): ", line)
            if head:
                current = head.group(1)
                by_id.setdefault(current, 0.0)
                continue
            w = re.search(r"shW=\s*([0-9.]+)MB", line)
            if w and current is not None:
                by_id[current] += float(w.group(1)) * 1e6
        for rec in self.spans:
            rec["shuffle_write_bytes"] = by_id.get(rec["id"], 0.0)

    def subtree(self, rec: dict, key: str) -> float:
        """``key`` summed over a span and all of its descendants."""
        total, todo = 0.0, [rec]
        while todo:
            cur = todo.pop()
            total += cur.get(key, 0) or 0
            todo.extend(self.children(cur))
        return total

    def children(self, rec: dict) -> list[dict]:
        if self._kids is None:
            self._kids = {}
            for s in self.spans:
                self._kids.setdefault(s["parent"], []).append(s)
        return self._kids.get(rec["id"], [])

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")
