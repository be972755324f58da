"""Per-layer tracing for the benchmark's traced runs.

The tracer records spans from outside the program: it rebinds public
functions of the layer modules for the duration of a traced pass and
restores them afterwards, so the program's source is never edited.
Call sites that import these names at call time (``cachemgr``) or look
them up as module globals (``ingest``, ``sink``, ``query``) pick the
rebinding up.

Each span records name, start, end, parent and run id. While a span is
open the Spark job group is the span id, and the parent's group is
restored when it closes. After a pass, jobs are read from Spark's status
store (it works with the UI off) and attributed to spans by job group.
Stage data gives tasks, executor time and bytes per job.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

_GROUP_PREFIX = "perfbench-"


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "run", "jobs", "attrs")

    def __init__(self, sid: str, name: str, start: float, parent: Span | None, run: str):
        self.sid, self.name, self.start, self.end = sid, name, start, start
        self.parent, self.run, self.jobs, self.attrs = parent, run, [], {}

    def names_up(self):
        s = self
        while s is not None:
            yield s.name
            s = s.parent

    def record(self) -> dict:
        return {
            "id": self.sid, "name": self.name, "start": self.start, "end": self.end,
            "parent": self.parent.sid if self.parent else None, "run": self.run,
            "jobs": [j["id"] for j in self.jobs], **self.attrs,
        }


class Tracer:
    """Spans of one benchmark process; ``patched()`` turns tracing on."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []  # finished spans of the current pass
        self.all_spans: list[dict] = []  # every finished span, written at exit
        self._stack: list[Span] = []
        self._next = 0
        self._last_job = -1
        self._stage_floor = -1  # stages at or below ran before the pass
        self._seen_stages: set[int] = set()

    # ------------------------------------------------------------ spans
    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.sid, span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"{_GROUP_PREFIX}{self.run_id}-{self._next}", name, time.time(), parent, self.run_id)
        self._next += 1
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(s)

    def wrap(self, name: str, fn, attrs=None):
        """``fn`` inside a span; ``attrs(result)`` adds counts to it."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if attrs is not None:
                    s.attrs.update(attrs(out))
                return out

        return traced

    def _wrap_memo(self, name: str, fn):
        """``cachemgr`` memo entry points: the builder runs in a child
        span, so a call without a ``cachemgr.build`` child was a hit."""

        @functools.wraps(fn)
        def traced(spark, key, builder, *args, **kwargs):
            with self.span(name):
                return fn(spark, key, self.wrap("cachemgr.build", builder), *args, **kwargs)

        return traced

    @contextmanager
    def patched(self):
        """Rebind the layer entry points while the block runs."""
        from generic_data_ingestor_framework_spark import __main__ as cli
        from generic_data_ingestor_framework_spark import cachemgr, ingest, query, sink
        from generic_data_ingestor_framework_spark.scanner import FileScanner

        targets = [
            (ingest, "read_any_file", "ingest.read"),
            (ingest, "salvage_json_elements", "ingest.salvage"),
            (ingest, "detect_encoding", "ingest.encoding_sniff"),
            (ingest, "normalize_text_parity", "normalize.construct"),
            (ingest, "unify_schema_sorted", "ingest.unify"),
            (ingest, "unify_schema_first_record", "ingest.unify"),
            (FileScanner, "discover_files", "scanner.discover"),
            (FileScanner, "validate_discovered_files", "scanner.validate"),
            (cli, "ingest_directory", "ingest.directory"),
            (sink, "create_table", "sink.create"),
            (sink, "insert_data", "sink.insert"),
            (query, "execute_query", "query.construct"),
            (query, "preview", "query.construct"),
        ]
        counts = {"scanner.discover": lambda out: {"files": sum(len(v) for v in out.values())}}
        saved = []
        for owner, attr, name in targets:
            saved.append((owner, attr, getattr(owner, attr)))
            setattr(owner, attr, self.wrap(name, getattr(owner, attr), counts.get(name)))
        for attr, name in (("shared_value", "cachemgr.value"), ("shared_persist", "cachemgr.persist")):
            saved.append((cachemgr, attr, getattr(cachemgr, attr)))
            setattr(cachemgr, attr, self._wrap_memo(name, getattr(cachemgr, attr)))
        try:
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    # ------------------------------------------------------- Spark data
    def begin_pass(self) -> None:
        """Skip the jobs submitted before the pass about to start."""
        jobs = self.sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            self.sc._jsc.sc().statusStore().jobsList(None)
        )
        if jobs.size():
            newest = jobs.get(0)
            self._last_job = newest.jobId()
            ids = list(self.sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(newest.stageIds()))
            self._stage_floor = max(ids, default=self._stage_floor)
        self.spans = []

    def _new_jobs(self) -> list[dict]:
        """Jobs submitted since the last call, with their stage totals."""
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        jobs = []
        for j in conv.asJava(store.jobsList(None)):  # newest first
            jid = j.jobId()
            if jid <= self._last_job:
                break
            group = j.jobGroup()
            jobs.append({
                "id": jid,
                "group": group.get() if group.isDefined() else None,
                "stages": list(conv.asJava(j.stageIds())),
            })
        if jobs:
            self._last_job = jobs[0]["id"]
        jobs.reverse()
        seen = self._seen_stages
        for job in jobs:
            tot = dict.fromkeys(
                ("tasks", "failed_tasks", "busy_s", "input_bytes", "output_bytes",
                 "shuffle_bytes", "spill_bytes"), 0.0)
            for sid in job.pop("stages"):
                # a stage listed by several jobs ran in the first of them
                if sid in seen or sid <= self._stage_floor:
                    continue
                seen.add(sid)
                for st in conv.asJava(store.stageData(sid, False, jvm.java.util.ArrayList(), False, no_quantiles)):
                    tot["tasks"] += st.numCompleteTasks()
                    tot["failed_tasks"] += st.numFailedTasks()
                    tot["busy_s"] += st.executorRunTime() / 1000
                    tot["input_bytes"] += st.inputBytes()
                    tot["output_bytes"] += st.outputBytes()
                    tot["shuffle_bytes"] += st.shuffleWriteBytes()
                    tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            job.update(tot)
        return jobs

    def finish_pass(self) -> PassTrace:
        """Attribute the pass's jobs to its spans and start a new pass."""
        spans, self.spans = self.spans, []
        by_id = {s.sid: s for s in spans}
        jobs = self._new_jobs()
        for job in jobs:
            owner = by_id.get(job["group"])
            if owner is not None:  # else outside every span; counted in the pass totals only
                owner.jobs.append(job)
        self.all_spans.extend(s.record() for s in spans)
        return PassTrace(spans, jobs)

    def write(self, path: Path) -> None:
        with open(path, "w") as fh:
            for rec in self.all_spans:
                fh.write(json.dumps(rec) + "\n")


class PassTrace:
    """The spans and Spark jobs of one traced pass."""

    def __init__(self, spans: list[Span], jobs: list[dict]):
        self.spans, self.jobs = spans, jobs

    def _outermost(self, name: str) -> list[Span]:
        """Spans named ``name`` that are not inside another one of that
        name (memo builders can nest), so nested time is counted once."""
        return [
            s for s in self.spans
            if s.name == name and (s.parent is None or name not in s.parent.names_up())
        ]

    def time(self, name: str) -> float:
        return sum(s.end - s.start for s in self._outermost(name))

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def attr_sum(self, name: str, attr: str) -> float:
        return sum(s.attrs.get(attr, 0) for s in self.spans if s.name == name)

    def self_time(self, name: str) -> float:
        """Span time minus the time its direct children cover."""
        children = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent.sid] += s.end - s.start
        return sum(s.end - s.start - children[s.sid] for s in self.spans if s.name == name)

    def jobs_under(self, *names: str) -> list[dict]:
        """Jobs attributed to a span named in ``names`` or below one."""
        wanted = set(names)
        return [
            j for s in self.spans if wanted.intersection(s.names_up()) for j in s.jobs
        ]

    def job_sum(self, key: str, *names: str) -> float:
        jobs = self.jobs_under(*names) if names else self.jobs
        return sum(j[key] for j in jobs)
