"""Spans and counters recorded from outside ``age_spark``.

The tracer wraps the public entry points of each layer by patching module
attributes (the engine imports its runtime functions inside function bodies,
so a patched attribute catches every call), wraps the py4j client's
``send_command`` to count driver-to-JVM round trips, and tags every Spark
job with a per-operation job group so that job, task, byte and time counters
can be read back from Spark's status store per operation, even with several
client threads running at once (the job group is a thread-local property).

Spans live in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from collections import defaultdict

# (module, attribute, span name) of every wrapped layer entry point
LAYER_FUNCTIONS = [
    ("age_spark.api", "parse_cypher", "cypher.parse"),
    ("age_spark.api", "compile_query", "compiler.compile"),
    ("age_spark.runtime.vle", "vle_pairs", "runtime.vle"),
    ("age_spark.runtime.vle", "shortest_path_pairs", "runtime.shortest_path"),
    ("age_spark.runtime.mutate", "compile_create", "runtime.mutate"),
    ("age_spark.runtime.mutate", "compile_set", "runtime.mutate"),
    ("age_spark.runtime.mutate", "compile_remove", "runtime.mutate"),
    ("age_spark.runtime.mutate", "compile_delete", "runtime.mutate"),
    ("age_spark.runtime.mutate", "compile_merge", "runtime.mutate"),
    ("age_spark.pipeline.dedup", "minhash_dedup_pairs", "pipeline.minhash_dedup_pairs"),
    ("age_spark.pipeline.dedup", "simhash_near_pairs", "pipeline.simhash_near_pairs"),
    ("age_spark.pipeline.dedup", "exact_dedup", "pipeline.exact_dedup"),
    ("age_spark.pipeline.text", "quality_features", "pipeline.quality_features"),
    ("age_spark.pipeline.fuzzyjoin", "trigram_similarity_join",
     "pipeline.trigram_similarity_join"),
    ("age_spark.pipeline.text", "tfidf_topk", "pipeline.tfidf_topk"),
    ("age_spark.pipeline.similarity", "brute_force_topk", "pipeline.brute_force_topk"),
    ("age_spark.pipeline.similarity", "ivf_topk", "pipeline.ivf_topk"),
]


class Tracer:
    """Per-operation spans and counters; ``enabled`` switches recording on
    and off without unpatching (an untraced window inside a traced run
    measures the tracing overhead)."""

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[dict] = []
        self.counts: dict = defaultdict(lambda: defaultdict(int))
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_span = 0
        self._patched: list[tuple] = []

    # ---- operation context
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current_op(self):
        return getattr(self._local, "op", None)

    @contextlib.contextmanager
    def operation(self, op_id: str):
        self._local.op = op_id
        try:
            yield
        finally:
            self._local.op = None
            self.set_job_group(None)

    def set_job_group(self, group):
        if self.enabled:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)

    def count(self, key: str, n: int = 1) -> None:
        op = self.current_op()
        if self.enabled and op is not None:
            self.counts[op][key] += n  # one op runs on one thread: no race

    @contextlib.contextmanager
    def span(self, name: str):
        """A span around the block; a recursive call into the same layer
        stays inside its caller's span."""
        op = self.current_op()
        stack = self._stack()
        if not self.enabled or op is None or any(n == name for _, n in stack):
            yield
            return
        with self._lock:
            sid = self._next_span
            self._next_span += 1
        parent = stack[-1][0] if stack else None
        stack.append((sid, name))
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans.append({"op": op, "id": sid, "parent": parent,
                               "name": name, "start": t0, "end": t1})

    # ---- patching
    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper(orig))

    def install(self) -> None:
        import importlib

        from age_spark.api import AgeSession

        for mod_name, attr, span_name in LAYER_FUNCTIONS:
            mod = importlib.import_module(mod_name)
            self._patch(mod, attr, lambda f, n=span_name: self._spanned(f, n))

        def counted(key):
            def wrap(f):
                @functools.wraps(f)
                def wrapped(*a, **kw):
                    self.count(key)
                    return f(*a, **kw)
                return wrapped
            return wrap

        self._patch(AgeSession, "cypher", lambda f: self._spanned(f, "api.cypher"))
        # the session's concrete DataFrame class overrides the base class's
        frame_class = type(self.spark.range(0))
        self._patch(frame_class, "localCheckpoint", counted("runtime.checkpoints"))
        client = self.spark.sparkContext._gateway._gateway_client
        self._patch(client, "send_command", counted("py4j.calls"))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _spanned(self, f, name: str):
        @functools.wraps(f)
        def wrapped(*a, **kw):
            with self.span(name):
                return f(*a, **kw)
        return wrapped

    # ---- read-back
    def span_ms(self, ops: set, name: str) -> float:
        return 1e3 * sum(s["end"] - s["start"] for s in self.spans
                         if s["name"] == name and s["op"] in ops)

    def total(self, ops: set, key: str) -> int:
        return sum(self.counts[o][key] for o in ops if o in self.counts)

    def spark_counters(self, groups: dict) -> dict:
        """Sum job, task, byte and time counters over the jobs of each job
        group; ``groups`` maps a group id to the key its counts go under."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        out: dict = defaultdict(lambda: defaultdict(float))
        for group, key in groups.items():
            acc = out[key]
            for job_id in tracker.getJobIdsForGroup(group):
                acc["jobs"] += 1
                stage_ids = store.job(job_id).stageIds()
                it = stage_ids.iterator()
                while it.hasNext():
                    sd = store.lastStageAttempt(it.next())
                    if sd.status().toString() != "COMPLETE":
                        continue
                    acc["tasks"] += sd.numCompleteTasks()
                    acc["input_bytes"] += sd.inputBytes()
                    acc["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    acc["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    acc["executor_run_ms"] += sd.executorRunTime()
                    acc["gc_ms"] += sd.jvmGcTime()
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans,
                       "counts": {k: dict(v) for k, v in self.counts.items()}}, fh)
