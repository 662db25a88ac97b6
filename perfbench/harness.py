"""The closed loop: one client, one fresh ``local[nproc]`` session.

A run is: generate inputs (timed apart), start the session, one warm
pass over every distinct op (session start + warm pass = ``setup_s``),
then whole passes in seeded order until ``--seconds`` have elapsed,
then the output checks. With ``trace`` on, passes alternate untraced
and traced (at least untraced, traced, untraced): the traced ones give
the per-layer metrics, and the ratio of the two pass rates gives
``trace.overhead_frac``.
"""

from __future__ import annotations

import os
import time
import traceback
from collections import defaultdict

import numpy as np

from . import checks, stats
from .trace import Tracer, harvest_exec
from .workloads import WORKLOADS, Phases

GAUGES = ("manifest.live_files", "manifest.dead_bytes")
HEAP_MAX_GCS = 12
HEAP_SETTLED_MB = 1.0
# Two equal readings in a row happened before the cleaner had run
# (93 MB, then 83 MB once it had), so three must agree.
HEAP_SETTLED_READINGS = 3


def _cpu_times() -> tuple[int, int, int]:
    """(idle, steal, total) jiffies of the whole host from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[3] + vals[4], vals[7], sum(vals[:8])


def _vmhwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def retained_heap_mb(spark) -> tuple[float, list[float]]:
    """JVM heap retained after a forced full GC: the sum over heap
    pools of their usage right after the last collection, so nothing
    allocated after the GC counts. Python proxies are collected first
    so the JVM objects they pin become unreachable. Each GC lets Spark's
    ContextCleaner drop the broadcasts and shuffles it released, which
    frees more at the next GC, so GCs repeat (half a second apart)
    until three readings in a row agree within ``HEAP_SETTLED_MB``.
    Returns the last reading and all of them."""
    import gc

    gc.collect()
    jvm = spark.sparkContext._jvm
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    readings: list[float] = []
    for _ in range(HEAP_MAX_GCS):
        jvm.java.lang.System.gc()
        total = 0
        for i in range(pools.size()):
            pool = pools.get(i)
            usage = pool.getCollectionUsage()
            if str(pool.getType()) == "Heap memory" and usage is not None:
                total += usage.getUsed()
        readings.append(total / (1 << 20))
        last = readings[-HEAP_SETTLED_READINGS:]
        if len(last) == HEAP_SETTLED_READINGS and max(last) - min(last) < HEAP_SETTLED_MB:
            break
        time.sleep(0.5)
    return readings[-1], readings


class Run:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work_dir: str):
        self.wl = WORKLOADS[workload](work_dir, seed)
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.clock = time.perf_counter
        self.tracer = Tracer(self.clock) if trace else None
        self.ops: list[dict] = []
        self.warm_results: dict = {}
        self.passes: list[dict] = []
        self.gates: dict = defaultdict(list)
        self.repartitions: dict = defaultdict(int)
        self._op_seq = 0

    # -- one op -------------------------------------------------------------

    def _op(self, spark, kind: str, pass_idx: int, traced: bool) -> dict:
        """Run one op; its result (a registry query's frame) stays in
        the record until the pass's wall time is taken."""
        from sp500_stock_etl_spark.operators import dedup

        self._op_seq += 1
        op_id = f"perfbench-{self._op_seq}"
        sc = spark.sparkContext
        ph = Phases(self.clock)
        n_gate = len(dedup.LAST_GATE_DECISIONS)
        self._kind_now = kind
        if traced:
            sc.setJobGroup(op_id, kind, False)
            tr = self.tracer
            tr.op = self._op_seq
            ph.run = self._traced_phases(ph, sc)
        rec = {"kind": kind, "pass": pass_idx, "op_id": op_id, "traced": traced,
               "error": None, "result": None}
        rec["epoch_start"] = time.time()
        t0 = self.clock()
        try:
            rec["result"] = self.wl.run_op(spark, kind, ph)
        except Exception:  # an op that raises is a failed op; the loop goes on
            rec["error"] = traceback.format_exc(limit=4)
        rec["wall_s"] = self.clock() - t0
        rec["epoch_end"] = time.time()
        self.wl.after_op(kind)
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            tr.op = None
            tr.drain_streams()
            tr.counts["caching.persisted_frames"] += sc._jsc.getPersistentRDDs().size()
        rec["phases"] = {}
        for name, s, e in ph.marks:
            rec["phases"][name] = rec["phases"].get(name, 0.0) + (e - s)
        rec["gates"] = dedup.LAST_GATE_DECISIONS[n_gate:]
        self.gates[kind].extend(rec["gates"])
        return rec

    def _count_repartition(self, tr, args, kwargs, result) -> None:
        if result is not args[0]:
            self.repartitions[self._kind_now] += 1

    def _traced_phases(self, ph: Phases, sc):
        tr, plain = self.tracer, ph.run
        layer = {"build": "plans", "plan": "plans", "action": "exec"}

        def run(phase, fn, *args, **kwargs):
            sc.setLocalProperty("spark.job.description", phase)
            idx = tr.begin(phase, layer[phase])
            try:
                return plain(phase, fn, *args, **kwargs)
            finally:
                tr.end(idx)

        return run

    # -- passes -------------------------------------------------------------

    def _pass(self, spark, idx: int, order: list[str], traced: bool) -> dict:
        tr = self.tracer
        if traced:
            tr.install()
            counts0 = dict(tr.counts)
        self.wl.begin_pass(spark, idx)
        t0 = self.clock()
        recs = [self._op(spark, k, idx, traced) for k in order]
        wall = self.clock() - t0
        # Outside timing: digest each result; keep the warm pass's for
        # the output check.
        for r in recs:
            res = r.pop("result")
            r["digest"] = None if res is None else checks.digest(res)
            if idx == 0 and res is not None:
                self.warm_results[r["kind"]] = res
        self.wl.end_pass(spark, idx)
        p = {"index": idx, "wall_s": wall, "ops": len(recs), "traced": traced}
        if traced:
            tr.uninstall()
            p["counts"] = {
                k: (v if k in GAUGES else v - counts0.get(k, 0.0))
                for k, v in tr.counts.items()
            }
            windows = {r["op_id"]: (r["epoch_start"], r["epoch_end"]) for r in recs}
            per_op, self._last_job, self._last_exec = harvest_exec(
                spark, windows, self._last_job, self._last_exec)
            p["exec"] = per_op
        self.ops.extend(recs)
        return p

    def execute(self) -> tuple[dict, dict]:
        detail: dict = {"workload": self.wl.name, "seed": self.seed,
                        "seconds": self.seconds, "trace": int(self.trace)}
        t = self.clock()
        detail["inputs"] = self.wl.generate()
        detail["gen_s"] = self.clock() - t

        from sp500_stock_etl_spark.plans.registry import all_queries
        from sp500_stock_etl_spark.session import get_spark

        t = self.clock()
        spark = get_spark(app_name=f"perfbench-{self.wl.name}")
        all_queries()
        start_s = self.clock() - t
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        self._last_job = self._last_exec = -1
        try:
            # ensure_parallelism decisions are recorded in every run: a
            # counting wrapper, no timing.
            probe = Tracer()
            probe.install([("sp500_stock_etl_spark.io.readers", "ensure_parallelism",
                            "ensure_parallelism", "io.readers", self._count_repartition)],
                          streams=False)
            warm_s = self._pass(spark, 0, self.wl.kinds(), False)["wall_s"]
            warm_ops = self.ops
            self.ops = []
            self.gates.clear()
            self.repartitions.clear()

            cpu0 = _cpu_times()
            load0 = os.getloadavg()
            t_win = self.clock()
            n = 0
            while True:
                # Traced runs alternate untraced and traced passes and end
                # on an untraced one, so the JVM's warm-up trend does not
                # read as tracing overhead.
                traced = self.trace and n % 2 == 1
                rng = np.random.default_rng([self.seed, n])
                self.passes.append(self._pass(spark, n + 1, self.wl.pass_order(rng), traced))
                n += 1
                if self.clock() - t_win >= self.seconds and (
                        not self.trace or (n >= 3 and n % 2 == 1)):
                    break
            window_s = self.clock() - t_win
            d_idle, d_steal, d_total = (b - a for a, b in zip(cpu0, _cpu_times()))
            detail["host"] = {
                "idle_frac": d_idle / max(d_total, 1),
                "steal_frac": d_steal / max(d_total, 1),
                "loadavg_start": load0, "loadavg_end": os.getloadavg(),
                "cpus": os.cpu_count(),
            }
            persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
            released = self.wl.settle()
            heap, heap_readings = retained_heap_mb(spark)
            detail["memory"] = {"retained_heap_mb": heap, "heap_readings_mb": heap_readings,
                                "persisted_rdds_at_end": persisted,
                                "caches_released_at_end": released,
                                "jvm_vmhwm_mb": _vmhwm_mb(jvm_pid),
                                "driver_vmhwm_mb": _vmhwm_mb("self")}
            probe.uninstall()
            t = self.clock()
            try:
                kind_checks, quality = self.wl.check(spark, self.warm_results)
            except Exception:  # a check that raises fails every kind
                msg = traceback.format_exc(limit=4)
                kind_checks, quality = {r["kind"]: (False, msg) for r in warm_ops + self.ops}, {}
            detail["check_s"] = self.clock() - t
        finally:
            t = self.clock()
            _stop(spark)
            detail["stop_s"] = self.clock() - t

        untraced = [p for p in self.passes if not p["traced"]]
        lat = [r["wall_s"] for r in self.ops if not r["traced"]]
        warm_digests = {r["kind"]: r["digest"] for r in warm_ops if r["digest"] is not None}
        failed = checks.failed_ops(self.ops, warm_digests, kind_checks)
        tail_v, tail_pct, n_lat = stats.tail(lat)
        ops_per_pass = untraced[0]["ops"]
        end_to_end = {
            "setup_s": start_s + warm_s,
            "ops_per_s": ops_per_pass / stats.median(p["wall_s"] for p in untraced),
            "latency_p50_s": stats.median(lat),
            "latency_tail_s": tail_v,
            "retained_heap_mb": heap,
        }
        by_kind = defaultdict(list)
        for r in self.ops:
            if not r["traced"]:
                by_kind[r["kind"]].append(r["wall_s"])
        detail.update({
            "setup": {"session_start_s": start_s, "warm_s": warm_s,
                      "warm_op_s": {r["kind"]: r["wall_s"] for r in warm_ops}},
            "window_s": window_s,
            "passes": [{k: p[k] for k in ("index", "wall_s", "ops", "traced")} for p in self.passes],
            "end_to_end": end_to_end,
            "latency": {"samples": n_lat, "tail_percentile": tail_pct,
                        "p50_by_kind": {k: stats.median(v) for k, v in by_kind.items()},
                        "ops": [[r["pass"], r["kind"], r["wall_s"]]
                                for r in self.ops if not r["traced"]]},
            "checks": {k: {"ok": ok, "msg": msg} for k, (ok, msg) in kind_checks.items()},
            "quality": quality,
            "workload_stats": self.wl.pass_stats(),
            "errors": [r["error"] for r in self.ops + warm_ops if r["error"]][:3],
            "result_mismatch_kinds": sorted({
                r["kind"] for r in self.ops
                if r["digest"] is not None and r["digest"] != warm_digests.get(r["kind"])}),
            "dedup_gate_decisions": {k: v for k, v in self.gates.items() if v},
            "ensure_parallelism_fired": dict(self.repartitions),
        })
        correct = failed == 0 and all(ok for ok, _ in kind_checks.values()) \
            and not any(r["error"] for r in warm_ops)
        result = {"correct": correct, "attempted": len(self.ops), "failed": failed}
        if self.trace:
            detail["per_layer"] = per_layer = self.per_layer(start_s, warm_s, quality)
            detail["self_s"] = self.self_times()
            result["metrics"] = per_layer
        else:
            result["metrics"] = end_to_end
        return result, detail

    # -- per-layer summary ----------------------------------------------------

    def per_layer(self, start_s: float, warm_s: float, quality: dict) -> dict:
        traced = [p for p in self.passes if p["traced"]]
        plain = [p for p in self.passes if not p["traced"]]
        spans = self.tracer.spans
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "1"))
        rows = []
        for p in traced:
            idx = p["index"]
            seqs = {int(r["op_id"].split("-")[1]) for r in self.ops if r["pass"] == idx}
            sums = defaultdict(float)
            for s in spans:
                if s.op in seqs:
                    sums[s.name] += s.end - s.start
            c = p["counts"]
            ex = defaultdict(float)
            for m in p["exec"].values():
                for k, v in m.items():
                    ex[k] = max(ex[k], v) if k == "exec.max_task_ratio" else ex[k] + v
            gates = [g for r in self.ops if r["pass"] == idx for g in r["gates"]]
            row = {
                "plans.build_s": sums["build"],
                "plans.plan_s": sums["plan"],
                "plans.eager_jobs": ex["plans.eager_jobs"],
                "exec.action_s": sums["action"],
                "exec.core_busy_frac": ex["exec.task_run_s"] / (p["wall_s"] * cores),
                "io.readers.load_table_calls": c.get("io.readers.load_table_calls", 0.0),
                "io.readers.parallelism_repartitions": c.get("io.readers.parallelism_repartitions", 0.0),
                "io.readers.ensure_parallelism_s": sums["io.readers.ensure_parallelism"],
                "io.readers.read_stock_csv_s": sums["io.readers.read_stock_csv"],
                "io.writers.csv_s": sums["io.writers.csv"],
                "io.writers.csv_bytes": c.get("io.writers.csv_bytes", 0.0),
                "io.writers.csv_files": c.get("io.writers.csv_files", 0.0),
                "manifest.merge_s": sums["manifest.merge"],
                "manifest.read_store_s": sums["manifest.read_store"],
                "manifest.files_read_frac": (c.get("manifest.files_read", 0.0)
                                             / c["manifest.files_live_before"]
                                             if c.get("manifest.files_live_before") else 0.0),
                "manifest.bytes_read": c.get("manifest.bytes_read", 0.0),
                "manifest.bytes_written": c.get("manifest.bytes_written", 0.0),
                "manifest.files_written": c.get("manifest.files_written", 0.0),
                "manifest.live_files": c.get("manifest.live_files", 0.0),
                "manifest.dead_bytes": c.get("manifest.dead_bytes", 0.0),
                "manifest.compact_s": sums["manifest.compact"],
                "manifest.compact_bytes_rewritten": c.get("manifest.compact_bytes_rewritten", 0.0),
                "commit_lock.acquire_s": sums["commit_lock.acquire"],
                "commit_lock.retries": c.get("commit_lock.retries", 0.0),
                "dedup.exact_dedup_s": sums["dedup.exact_dedup"],
                "dedup.lsh_candidate_pairs_s": sums["dedup.lsh_candidate_pairs"],
                "dedup.jaccard_verify_s": sums["dedup.jaccard_verify"],
                "dedup.prefix_jaccard_pairs_s": sums["dedup.prefix_jaccard_pairs"],
                "dedup.connected_components_s": sums["dedup.connected_components"],
                "similarity.ivf_topk_nprobe_s": sums["similarity.ivf_topk_nprobe"],
                "text.with_text_stats_s": sums["text.with_text_stats"],
                "text.chunk_documents_s": sums["text.chunk_documents"],
                "aggregates.qa_summary_s": sums["aggregates.qa_summary"],
                "stock_pipeline.build_s": sums["stock_pipeline.normalize_quotes"]
                + sums["stock_pipeline.stock_metrics"],
                "caching.persisted_frames": c.get("caching.persisted_frames", 0.0) / max(p["ops"], 1),
            }
            for k in ("exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
                      "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
                      "exec.python_bytes_sent", "exec.python_bytes_returned",
                      "exec.input_bytes", "exec.spill_bytes", "exec.max_task_ratio",
                      "exec.gc_s"):
                row[k] = ex[k]
            for k in ("streaming.batches", "streaming.trigger_s", "streaming.add_batch_s",
                      "streaming.commit_s", "streaming.planning_s", "streaming.state_rows",
                      "streaming.state_bytes"):
                row[k] = c.get(k, 0.0)
            row["dedup.candidate_pairs"] = float(sum(g.get("n_pairs", 0) for g in gates))
            row["dedup.gate_broadcast"] = float(sum(1 for g in gates if g.get("fast")))
            pass_ops = [r for r in self.ops if r["pass"] == idx]
            row["trace.phase_coverage"] = (
                sum(sum(r["phases"].values()) for r in pass_ops)
                / sum(r["wall_s"] for r in pass_ops))
            rows.append(row)
        out = {k: stats.median(r[k] for r in rows) for k in rows[0]}
        out["session.start_s"] = start_s
        out["session.warm_s"] = warm_s
        # Output counts come from the checked results: each pass runs
        # every kind once over the same inputs.
        out["dedup.verified_pairs"] = float(sum(quality.get("verified_pairs", {}).values()))
        out["dedup.verify_yield"] = (out["dedup.verified_pairs"] / out["dedup.candidate_pairs"]
                                     if out["dedup.candidate_pairs"] else 0.0)
        out["io.readers.rows_dropped"] = float(sum(quality.get("rows_dropped", [])))
        rate_plain = 1.0 / stats.median(p["wall_s"] / p["ops"] for p in plain)
        rate_traced = 1.0 / stats.median(p["wall_s"] / p["ops"] for p in traced)
        out["trace.overhead_frac"] = 1.0 - rate_traced / rate_plain
        return out

    def self_times(self) -> dict:
        """Self seconds per layer over the traced passes (a span minus
        the union of its children)."""
        spans = self.tracer.spans
        kids = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                kids[s.parent].append((s.start, s.end))
        out = defaultdict(float)
        for i, s in enumerate(spans):
            out[s.layer] += stats.self_time((s.start, s.end), kids[i])
        return dict(out)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
