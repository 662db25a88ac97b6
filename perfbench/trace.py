"""Tracing from outside the program, for the ``--trace 1`` run.

Two sources:

- Spans. ``Tracer.install`` replaces the program's public functions
  with timing wrappers, in the defining module and in every package
  module that imported the name, and ``uninstall`` puts the originals
  back. A span records name, layer, start, end and parent; spans stay
  in memory and are summarised when the run ends. A wrapper around a
  lazy operator measures its build time plus any eager jobs it runs.
- Spark's own status stores. ``harvest_exec`` reads the jobs, stages
  and SQL executions of one pass and attributes them to ops by the
  job group the harness sets around each op; jobs from other threads
  (streaming micro-batches) are attributed by submission time.
"""

from __future__ import annotations

import os
import re
import sys
import time
from collections import defaultdict
from dataclasses import dataclass

PKG = "sp500_stock_etl_spark"


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.op: int | None = None
        self.queries: list = []
        self.seen_files: set[str] = set()
        self._undo: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------------

    def begin(self, name: str, layer: str) -> int:
        self.spans.append(Span(name, layer, self.clock(), 0.0,
                               self.stack[-1] if self.stack else None, self.op))
        self.stack.append(len(self.spans) - 1)
        return self.stack[-1]

    def end(self, idx: int) -> None:
        self.spans[idx].end = self.clock()
        self.stack.remove(idx)

    def wrap(self, fn, name: str, layer: str, after=None):
        def traced(*args, **kwargs):
            idx = self.begin(name, layer)
            try:
                result = fn(*args, **kwargs)
            finally:
                self.end(idx)
            if after is not None:
                after(self, args, kwargs, result)
            return result

        traced.__wrapped__ = fn
        return traced

    # -- patching ---------------------------------------------------------

    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self, targets=None, streams: bool = True) -> None:
        import importlib

        for mod_name, attr, name, layer, after in targets or TARGETS:
            owner = importlib.import_module(mod_name)
            path = attr.split(".")
            for part in path[:-1]:
                owner = getattr(owner, part)
            orig = getattr(owner, path[-1])
            new = self.wrap(orig, name, layer, after)
            self._patch(owner, path[-1], new)
            if len(path) == 1:
                for mname, mod in list(sys.modules.items()):
                    if mname.startswith(PKG) and mod is not None:
                        for a, v in list(vars(mod).items()):
                            if v is orig:
                                self._patch(mod, a, new)
        if streams:
            self._install_stream_capture()

    def _install_stream_capture(self) -> None:
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        orig = DataStreamWriter.start
        tracer = self

        def start(writer, *args, **kwargs):
            q = orig(writer, *args, **kwargs)
            tracer.queries.append(q)
            return q

        self._patch(DataStreamWriter, "start", start)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- summaries --------------------------------------------------------

    def drain_streams(self) -> None:
        """Fold the progress of finished streaming queries into counts,
        state size as each query held it at its end."""
        c = self.counts
        for q in self.queries:
            progress = q.recentProgress
            for p in progress:
                d = p.durationMs
                c["streaming.batches"] += 1
                c["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1e3
                c["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
                c["streaming.commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
                c["streaming.planning_s"] += d.get("queryPlanning", 0) / 1e3
            if progress:
                for st in progress[-1].stateOperators:
                    c["streaming.state_rows"] += st.numRowsTotal
                    c["streaming.state_bytes"] += st.memoryUsedBytes
        self.queries.clear()


# -- hooks that turn a call's arguments/result into counts --------------------


def _count(key: str):
    def after(tr, args, kwargs, result):
        tr.counts[key] += 1
    return after


def _repartitioned(tr, args, kwargs, result):
    if result is not args[0]:
        tr.counts["io.readers.parallelism_repartitions"] += 1


def _csv_written(tr, args, kwargs, result):
    path = args[1] if len(args) > 1 else kwargs["path"]
    for fn in os.listdir(path):
        if fn.endswith(".csv"):
            tr.counts["io.writers.csv_files"] += 1
            tr.counts["io.writers.csv_bytes"] += os.path.getsize(os.path.join(path, fn))


def _store_written(tr, store_dir: str) -> int:
    """Account the files a store commit published; returns their bytes."""
    from sp500_stock_etl_spark.io.manifest_store import read_manifest

    m = read_manifest(store_dir)
    c = tr.counts
    new = [e for e in m["files"] if e["path"] not in tr.seen_files]
    tr.seen_files.update(e["path"] for e in new)
    written = sum(e["bytes"] for e in new)
    c["manifest.files_written"] += len(new)
    c["manifest.bytes_written"] += written
    c["manifest.live_files"] = len(m["files"])
    c["manifest.dead_bytes"] = sum(
        os.path.getsize(p) for p in (os.path.join(store_dir, r) for r in m["dead"])
        if os.path.exists(p))
    return written


def _merged(tr, args, kwargs, result):
    c = tr.counts
    if result.get("pruning") != "none":  # not the merge that created the store
        c["manifest.files_read"] += result.get("files_read", 0)
        c["manifest.files_live_before"] += c["manifest.live_files"]
    c["manifest.bytes_read"] += result.get("bytes_read", 0)
    _store_written(tr, args[0])


def _compacted(tr, args, kwargs, result):
    tr.counts["manifest.compact_bytes_rewritten"] += _store_written(tr, args[1])


def _lock_put(tr, args, kwargs, result):
    if not result:
        tr.counts["commit_lock.retries"] += 1


_D = f"{PKG}.operators.dedup"
TARGETS = [
    (f"{PKG}.io.readers", "load_table", "io.readers.load_table", "io.readers",
     _count("io.readers.load_table_calls")),
    (f"{PKG}.io.readers", "ensure_parallelism", "io.readers.ensure_parallelism",
     "io.readers", _repartitioned),
    (f"{PKG}.io.readers", "read_stock_csv", "io.readers.read_stock_csv", "io.readers", None),
    (f"{PKG}.io.writers", "write_quoted_csv", "io.writers.csv", "io.writers", _csv_written),
    (f"{PKG}.io.manifest_store", "merge_manifest_store", "manifest.merge",
     "io.manifest_store", _merged),
    (f"{PKG}.io.manifest_store", "read_store", "manifest.read_store", "io.manifest_store", None),
    (f"{PKG}.io.manifest_store", "compact_manifest_store", "manifest.compact",
     "io.manifest_store", _compacted),
    (f"{PKG}.io.commit_lock", "CommitLock.__enter__", "commit_lock.acquire",
     "io.commit_lock", None),
    (f"{PKG}.io.commit_lock", "PosixLockBackend.put_if_absent", "commit_lock.put",
     "io.commit_lock", _lock_put),
    (_D, "exact_dedup", "dedup.exact_dedup", "operators.dedup", None),
    (_D, "lsh_candidate_pairs", "dedup.lsh_candidate_pairs", "operators.dedup", None),
    (_D, "jaccard_verify", "dedup.jaccard_verify", "operators.dedup", None),
    (_D, "prefix_jaccard_pairs", "dedup.prefix_jaccard_pairs", "operators.dedup", None),
    (_D, "connected_components", "dedup.connected_components", "operators.dedup", None),
    (f"{PKG}.operators.similarity", "ivf_topk_nprobe", "similarity.ivf_topk_nprobe",
     "operators.similarity", None),
    (f"{PKG}.operators.text_analysis", "with_text_stats", "text.with_text_stats",
     "operators.text_analysis", None),
    (f"{PKG}.operators.text_analysis", "chunk_documents", "text.chunk_documents",
     "operators.text_analysis", None),
    (f"{PKG}.operators.aggregates", "qa_summary", "aggregates.qa_summary",
     "operators.aggregates", None),
    (f"{PKG}.plans.stock_pipeline", "normalize_quotes", "stock_pipeline.normalize_quotes",
     "plans.stock_pipeline", None),
    (f"{PKG}.plans.stock_pipeline", "stock_metrics", "stock_pipeline.stock_metrics",
     "plans.stock_pipeline", None),
    (f"{PKG}.streaming.events", "read_event_stream", "streaming.read_event_stream",
     "streaming", None),
    (f"{PKG}.streaming.events", "run_available_now", "streaming.run_available_now",
     "streaming", None),
    (f"{PKG}.streaming.events", "upsert_partition_sink", "streaming.upsert_partition_sink",
     "streaming", None),
]


# -- Spark status stores ------------------------------------------------------

_SIZE = re.compile(r"^\s*([0-9.]+)\s*([KMGTP]?i?B)\s*$")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _size_bytes(text: str) -> float:
    """Bytes from a SQL size metric's rendering: the total is the first
    line ("1.2 MiB" or "total (min, med, max ...)\\n1.2 MiB (...)")."""
    lines = [ln for ln in str(text).splitlines() if ln.strip()]
    if not lines:
        return 0.0
    head = lines[-1] if lines[0].startswith("total") else lines[0]
    m = _SIZE.match(head.split("(")[0])
    return float(m.group(1)) * _UNITS.get(m.group(2), 1) if m else 0.0


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def harvest_exec(spark, op_windows: dict, after_job: int, after_exec: int) -> tuple[dict, int, int]:
    """Per-op exec metrics for jobs with id > ``after_job`` and SQL
    executions with id > ``after_exec``. ``op_windows`` maps an op id
    (the job group) to its [start, end] in epoch seconds, used for jobs
    that carry no op group. Returns (op id -> metrics, last job id,
    last execution id)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jvm = sc._jvm
    store = jsc.statusStore()
    per_op: dict = defaultdict(lambda: defaultdict(float))

    def owner(group, submitted_ms):
        if group in op_windows:
            return group
        t = submitted_ms / 1e3
        for op, (s, e) in op_windows.items():
            if s - 0.005 <= t <= e + 0.005:
                return op
        return None

    stage_op: dict = {}
    job_op: dict = {}
    last_job = after_job
    for j in _seq(store.jobsList(jvm.java.util.ArrayList())):
        jid = j.jobId()
        if jid <= after_job:
            continue
        last_job = max(last_job, jid)
        group = j.jobGroup().get() if j.jobGroup().isDefined() else None
        sub = j.submissionTime().get().getTime() if j.submissionTime().isDefined() else 0
        op = owner(group, sub)
        if op is None:
            continue
        job_op[jid] = op
        m = per_op[op]
        m["exec.jobs"] += 1
        desc = j.description().get() if j.description().isDefined() else ""
        if group == op and desc == "build":
            m["plans.eager_jobs"] += 1
        for sid in _seq(j.stageIds()):
            stage_op[sid] = op

    quant = sc._gateway.new_array(jvm.double, 2)
    quant[0], quant[1] = 0.5, 1.0
    for s in _seq(store.stageList(jvm.java.util.ArrayList(), False, False,
                                  sc._gateway.new_array(jvm.double, 0),
                                  jvm.java.util.ArrayList())):
        op = stage_op.get(s.stageId())
        if op is None:
            continue
        m = per_op[op]
        m["exec.stages"] += 1
        m["exec.tasks"] += s.numTasks()
        m["exec.task_run_s"] += s.executorRunTime() / 1e3
        m["exec.gc_s"] += s.jvmGcTime() / 1e3
        m["exec.input_bytes"] += s.inputBytes()
        m["exec.shuffle_read_bytes"] += s.shuffleReadBytes()
        m["exec.shuffle_write_bytes"] += s.shuffleWriteBytes()
        m["exec.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        if s.numTasks() >= 2:
            summ = store.taskSummary(s.stageId(), s.attemptId(), quant)
            if summ.isDefined():
                rt = summ.get().executorRunTime()
                med, mx = rt.apply(0), rt.apply(1)
                if med > 0:
                    m["exec.max_task_ratio"] = max(m["exec.max_task_ratio"], mx / med)

    sql = spark._jsparkSession.sharedState().statusStore()
    last_exec = after_exec
    for e in _seq(sql.executionsList()):
        eid = e.executionId()
        if eid <= after_exec:
            continue
        last_exec = max(last_exec, eid)
        jobs = [int(k) for k in _seq(e.jobs().keys().toSeq())]
        ops = {job_op[j] for j in jobs if j in job_op}
        if len(ops) != 1:
            continue
        op = ops.pop()
        metrics = sql.executionMetrics(eid)
        for node in _seq(sql.planGraph(eid).allNodes()):
            for nm in _seq(node.metrics()):
                name = nm.name()
                if name not in ("data sent to Python workers", "data returned from Python workers"):
                    continue
                val = metrics.get(nm.accumulatorId())
                if val.isDefined():
                    key = "exec.python_bytes_sent" if "sent" in name else "exec.python_bytes_returned"
                    per_op[op][key] += _size_bytes(val.get())
    return per_op, last_job, last_exec

