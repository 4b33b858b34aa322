"""Per-layer tracing for ``--trace 1`` runs.

The tracer wraps the layer entry points the engine already calls --
``parse`` where ``engine`` looks it up, ``Compiler.compile_query``,
``formats.emit``, ``HTSQL.start_stream``/``store_stream`` and
``streaming.snapshot.apply_cdc_batch`` -- and counts py4j commands on
the gateway client.  It tags the Spark jobs of each op with a job group
(``pb<op>:compile`` while compiling, ``pb<op>:exec`` otherwise) and
reads job and stage figures from the JVM status store; streaming
micro-batches are read from ``StreamingQuery.recentProgress``.

Ops alternate between traced and untraced, so one run gives both the
per-layer figures (traced ops) and ``trace.overhead``: the median
latency of traced ops over that of untraced ops.  Layer metrics are
means per traced op over the first ``ops`` traced ops, so count
metrics repeat exactly for one seed.  Spans stay in memory, one id per
op, and are written to ``.perfbench_out/`` when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

#: py4j's object-release message; sent by a finalizer thread whenever
#: Python garbage-collects a JVM reference, so its count is not
#: repeatable
_RELEASE = "m\nd"

METRICS = (
    ("syntax.parse_s", "s"),
    ("compile.self_s", "s"),
    ("compile.py4j_calls", "count"),
    ("compile.eager_jobs", "count"),
    ("compile.eager_job_s", "s"),
    ("plan.s", "s"),
    ("exec.s", "s"),
    ("exec.jobs", "count"),
    ("exec.tasks", "count"),
    ("exec.executor_run_s", "s"),
    ("exec.shuffle_write_mb", "MB"),
    ("exec.spill_mb", "MB"),
    ("formats.emit_self_s", "s"),
    ("formats.bytes_out", "bytes"),
    ("wsgi.self_s", "s"),
    ("streaming.drain_s", "s"),
    ("streaming.batches", "count"),
    ("streaming.batch_s", "s"),
    ("streaming.wal_commit_s", "s"),
    ("streaming.state_commit_ms", "ms"),
    ("snapshot.merge_s", "s"),
    ("snapshot.rewritten_mb", "MB"),
    ("cache.rdds", "count"),
    ("cache.storage_mb", "MB"),
    ("jvm.gc_s", "s"),
    ("jvm.cpu_s", "s"),
    ("py.cpu_s", "s"),
    ("trace.overhead", "ratio"),
)
_MB = 1024.0 * 1024.0


def _union_s(intervals) -> float:
    """Seconds covered by ``(start_ms, end_ms)`` intervals."""
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
    return total / 1000.0


def _dir_files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


class Op:
    def __init__(self, index: int):
        self.index = index
        self.spans: list[dict] = []
        self.py4j_compile = 0
        self.queries: list = []  # StreamingQuery objects of this op
        self.rewritten = 0
        self.bytes_out = 0
        self.jobs: list[dict] = []
        self.stages: dict[int, dict] = {}
        self.progress: list[dict] = []
        self.latency = 0.0
        self.jvm_cpu = 0.0
        self.py_cpu = 0.0


class Tracer:
    def __init__(self, run, ops: int):
        self.run = run
        self.ops = ops
        self.traced: list[Op] = []
        self.untraced: list[float] = []
        self.op: Op | None = None  # the traced op in flight
        self.index = 0
        self.local = threading.local()
        self.lock = threading.Lock()
        self.patches: list = []

    # -- installation ----------------------------------------------------
    def install(self) -> None:
        import htsql_spark.engine as engine
        import htsql_spark.formats as formats
        import htsql_spark.streaming.snapshot as snapshot
        from htsql_spark.compile import Compiler

        sc = self.run.spark.sparkContext
        self.sc = sc
        self.jsc = sc._jsc.sc()
        jvm = sc._jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm, "com.fasterxml.jackson.module.scala.DefaultScalaModule$")
        mapper.registerModule(getattr(scala, "MODULE$"))
        self.mapper = mapper
        self.jvm_pid = self.run.jvm_pid()
        self.gc0 = self._gc_ms()

        self._patch(engine, "parse", self._spanned("syntax.parse", engine.parse))
        self._patch(Compiler, "compile_query", self._compile(Compiler.compile_query))
        self._patch(formats, "emit", self._emit(formats.emit))
        self._patch(
            snapshot, "apply_cdc_batch", self._merge(snapshot.apply_cdc_batch)
        )
        self._patch(
            engine.HTSQL, "start_stream", self._start_stream(engine.HTSQL.start_stream)
        )
        self._patch(
            engine.HTSQL,
            "store_stream",
            self._spanned("streaming.drain", engine.HTSQL.store_stream),
        )
        client = sc._gateway._gateway_client
        self._patch(client, "send_command", self._counted(client.send_command))

    def _patch(self, obj, name, fn) -> None:
        self.patches.append((obj, name, obj.__dict__.get(name), name in obj.__dict__))
        setattr(obj, name, fn)

    def uninstall(self) -> None:
        for obj, name, orig, had in reversed(self.patches):
            if had:
                setattr(obj, name, orig)
            else:
                delattr(obj, name)
        self.patches.clear()
        self.gc_ms = self._gc_ms() - self.gc0
        jsc = self.sc._jsc
        self.cache_rdds = int(jsc.getPersistentRDDs().size())
        self.cache_mb = sum(
            (i.memSize() + i.diskSize()) for i in self.jsc.getRDDStorageInfo()
        ) / _MB

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list:
        if not hasattr(self.local, "stack"):
            self.local.stack = []
        return self.local.stack

    @contextmanager
    def span(self, name: str):
        op = self.op
        if op is None:
            yield None
            return
        stack = self._stack()
        rec = {
            "op": op.index,
            "name": name,
            "parent": stack[-1]["name"] if stack else "op",
            "thread": threading.get_ident(),
            "start": time.perf_counter(),
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self.lock:
                op.spans.append(rec)

    def _spanned(self, name, fn):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def _compile(self, fn):
        tracer = self

        def compile_query(compiler, node):
            op = tracer.op
            if op is None or any(
                s["name"] == "compile" for s in tracer._stack()
            ):
                return fn(compiler, node)
            tracer._group(f"pb{op.index}:compile")
            try:
                with tracer.span("compile"):
                    return fn(compiler, node)
            finally:
                tracer._group(f"pb{op.index}:exec")

        return compile_query

    def _emit(self, fn):
        tracer = self

        def emit(fmt, df):
            if tracer.op is None:
                return fn(fmt, df)
            with tracer.span("plan"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("formats.emit"):
                body = fn(fmt, df)
            tracer.op.bytes_out += len(body)
            return body

        return emit

    def _merge(self, fn):
        tracer = self

        def apply_cdc_batch(spark, batch, snapshot_path, *args, **kwargs):
            op = tracer.op
            if op is None:
                return fn(spark, batch, snapshot_path, *args, **kwargs)
            before = _dir_files(snapshot_path)
            with tracer.span("snapshot.merge"):
                out = fn(spark, batch, snapshot_path, *args, **kwargs)
            after = _dir_files(snapshot_path)
            with tracer.lock:
                op.rewritten += sum(
                    size for p, (size, m) in after.items() if before.get(p) != (size, m)
                )
            return out

        return apply_cdc_batch

    def _start_stream(self, fn):
        tracer = self

        def start_stream(db, *args, **kwargs):
            q = fn(db, *args, **kwargs)
            if tracer.op is not None:
                tracer.op.queries.append(q)
            return q

        return start_stream

    def _counted(self, send):
        tracer = self

        def send_command(command, *args, **kwargs):
            if (
                tracer.op is not None
                and not command.startswith(_RELEASE)
                and any(s["name"] == "compile" for s in tracer._stack())
            ):
                tracer.op.py4j_compile += 1
            return send(command, *args, **kwargs)

        return send_command

    def _group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    # -- ops -------------------------------------------------------------
    def begin_op(self) -> None:
        self.index += 1
        if self.index % 2:
            return
        op = Op(self.index)
        self._group(f"pb{op.index}:exec")
        op.jvm_cpu = self._jvm_cpu()
        op.py_cpu = time.process_time()
        self.op = op

    def end_op(self, latency: float) -> None:
        op = self.op
        if op is None:
            self.untraced.append(latency)
            return
        self.op = None
        op.latency = latency
        op.jvm_cpu = self._jvm_cpu() - op.jvm_cpu
        op.py_cpu = time.process_time() - op.py_cpu
        self._group(None)
        for q in op.queries:
            op.progress.extend(json.loads(p.json) for p in q.recentProgress)
        self._collect_jobs(op)
        op.queries = []
        self.traced.append(op)

    def enough(self) -> bool:
        return len(self.traced) >= self.ops

    # -- JVM figures -----------------------------------------------------
    def _collect_jobs(self, op: Op) -> None:
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        # streaming micro-batch jobs run under the query's run id
        groups = [f"pb{op.index}:compile", f"pb{op.index}:exec"]
        groups += [str(q.runId) for q in op.queries]
        tracker = self.sc.statusTracker()
        ids = {j for g in groups for j in tracker.getJobIdsForGroup(g)}
        for jid in sorted(ids):
            job = json.loads(self.mapper.writeValueAsString(store.job(jid)))
            op.jobs.append(job)
            for sid in job.get("stageIds", []):
                if sid not in op.stages:
                    stage = store.lastStageAttempt(sid)
                    op.stages[sid] = json.loads(self.mapper.writeValueAsString(stage))

    def _gc_ms(self) -> int:
        mf = self.run.spark._jvm.java.lang.management.ManagementFactory
        return sum(int(b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans())

    def _jvm_cpu(self) -> float:
        with open(f"/proc/{self.jvm_pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    # -- results ---------------------------------------------------------
    def _op_metrics(self, op: Op) -> dict[str, float]:
        m: dict[str, float] = defaultdict(float)
        dur = lambda s: s["end"] - s["start"]  # noqa: E731
        by = defaultdict(list)
        for s in op.spans:
            by[s["name"]].append(s)
        eager, execs = [], []
        for job in op.jobs:
            t0, t1 = job.get("submissionTime"), job.get("completionTime")
            if t0 is None or t1 is None:
                continue
            (eager if str(job.get("jobGroup", "")).endswith(":compile") else execs).append(
                (t0, t1, job)
            )
        m["syntax.parse_s"] = sum(map(dur, by["syntax.parse"]))
        m["compile.eager_jobs"] = len(eager)
        m["compile.eager_job_s"] = _union_s([(a, b) for a, b, _ in eager])
        m["compile.self_s"] = sum(map(dur, by["compile"])) - m["compile.eager_job_s"]
        m["compile.py4j_calls"] = op.py4j_compile
        m["exec.jobs"] = len(execs)
        m["exec.s"] = _union_s([(a, b) for a, b, _ in execs])
        m["exec.tasks"] = sum(j.get("numCompletedTasks", 0) for _, _, j in execs)
        stage_ids = {sid for _, _, j in execs for sid in j.get("stageIds", [])}
        stages = [op.stages[s] for s in stage_ids if s in op.stages]
        m["exec.executor_run_s"] = sum(s.get("executorRunTime", 0) for s in stages) / 1000.0
        m["exec.shuffle_write_mb"] = sum(s.get("shuffleWriteBytes", 0) for s in stages) / _MB
        m["exec.spill_mb"] = sum(s.get("diskBytesSpilled", 0) for s in stages) / _MB
        plan = sum(map(dur, by["plan"]))
        m["plan.s"] = plan
        m["formats.bytes_out"] = op.bytes_out
        emit_spans = by["formats.emit"]
        m["formats.emit_self_s"] = max(
            0.0, sum(map(dur, emit_spans)) - m["exec.s"] - plan
        ) if emit_spans else 0.0
        if emit_spans:
            m["wsgi.self_s"] = op.latency - sum(
                map(dur, by["syntax.parse"] + by["compile"] + by["plan"] + emit_spans)
            )
        m["streaming.drain_s"] = sum(map(dur, by["streaming.drain"]))
        m["streaming.batches"] = len(op.progress)
        for p in op.progress:
            d = p.get("durationMs", {})
            m["streaming.batch_s"] += d.get("triggerExecution", 0) / 1000.0
            m["streaming.wal_commit_s"] += (
                d.get("walCommit", 0) + d.get("commitOffsets", 0)
            ) / 1000.0
            if not emit_spans:
                m["plan.s"] += d.get("queryPlanning", 0) / 1000.0
            m["streaming.state_commit_ms"] += sum(
                s.get("commitTimeMs", 0) for s in p.get("stateOperators", [])
            )
        m["snapshot.merge_s"] = sum(map(dur, by["snapshot.merge"]))
        m["snapshot.rewritten_mb"] = op.rewritten / _MB
        m["jvm.cpu_s"] = op.jvm_cpu
        m["py.cpu_s"] = op.py_cpu
        return m

    def metrics(self) -> dict[str, tuple[float, str]]:
        ops = self.traced[: self.ops]
        per = [self._op_metrics(op) for op in ops]
        n_all = len(self.traced) + len(self.untraced)
        out = {}
        for name, unit in METRICS:
            if name == "cache.rdds":
                v = float(self.cache_rdds)
            elif name == "cache.storage_mb":
                v = self.cache_mb
            elif name == "jvm.gc_s":
                v = self.gc_ms / 1000.0 / n_all
            elif name == "trace.overhead":
                v = statistics.median(op.latency for op in self.traced) / statistics.median(
                    self.untraced
                )
            else:
                v = sum(p.get(name, 0.0) for p in per) / len(per)
            out[name] = (v, unit)
        self._write_spans()
        return out

    def _write_spans(self) -> None:
        out_dir = os.path.join(self.run.root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(
            out_dir, f"trace-{self.run.workload}-seed{self.run.seed}.json"
        )
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "op": op.index,
                        "latency_s": op.latency,
                        "spans": op.spans,
                        "jobs": op.jobs,
                        "progress": op.progress,
                    }
                    for op in self.traced
                ],
                f,
            )
