"""The two workloads: what one op is, what one pass is, and how the
outputs are checked.

- ``corpus_dedup``: the LLM-data curation registry queries over a
  generated corpus with planted duplicates and an embeddings table
  with exact top-10 truth.
- ``daily_ingest``: the reference DAG, one trading day per op, into a
  manifest store; the only workload that writes.

A registry op is: the query's ``spark_fn`` (build), forcing
``queryExecution.executedPlan`` (plan), then ``toPandas`` on the same
frame (action), in the warm pass and in the timed passes alike. The
check after the measured window compares the warm-pass results with
the oracles; the harness compares every timed result with the warm
one of its kind.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq

from . import checks, gen


class Phases:
    """Records the build / plan / action split of the op in flight."""

    def __init__(self, clock):
        self.clock = clock
        self.marks: list[tuple[str, float, float]] = []

    def run(self, phase: str, fn, *args, **kwargs):
        t0 = self.clock()
        try:
            return fn(*args, **kwargs)
        finally:
            self.marks.append((phase, t0, self.clock()))


class RegistryWorkload:
    """Ops are registry queries; outputs are checked against their
    DuckDB oracles."""

    name = ""
    queries: tuple[str, ...] = ()

    def __init__(self, work_dir: str, seed: int):
        self.seed = seed
        self.data_dir = os.path.join(work_dir, "data")

    def kinds(self) -> list[str]:
        return list(self.queries)

    def pass_order(self, rng: np.random.Generator) -> list[str]:
        return [self.queries[i] for i in rng.permutation(len(self.queries))]

    def begin_pass(self, spark, index: int) -> None:
        pass

    def end_pass(self, spark, index: int) -> None:
        pass

    def after_op(self, kind: str) -> None:
        pass

    def settle(self) -> int:
        """Before the heap reading: release the last query's caches, as
        the registry does when the next query starts (which query ran
        last depends on the seeded order)."""
        from sp500_stock_etl_spark.caching import release_caches

        return release_caches()

    def run_op(self, spark, kind: str, ph: Phases):
        from sp500_stock_etl_spark.plans.registry import all_queries

        q = all_queries()[kind]
        df = ph.run("build", q.spark_fn, spark, self.data_dir)
        ph.run("plan", lambda: df._jdf.queryExecution().executedPlan())
        return ph.run("action", df.toPandas)

    def check(self, spark, got: dict) -> tuple[dict, dict]:
        """Verdict per kind on the warm-pass results ``got``, and the
        quality figures (empty unless every kind passed)."""
        import duckdb

        from sp500_stock_etl_spark.plans.registry import all_queries

        reg = all_queries()
        con = duckdb.connect()
        for fn in sorted(os.listdir(self.data_dir)):
            table = fn.removesuffix(".parquet")
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM "
                f"read_parquet('{self.data_dir}/{fn}')"
            )
        out = {}
        for kind in self.queries:
            if kind not in got:
                out[kind] = (False, "no result: the warm-pass run raised")
            else:
                out[kind] = checks.compare_frames(got[kind], con.execute(reg[kind].oracle).df())
        return out, self.quality(got) if all(ok for ok, _ in out.values()) else {}

    def quality(self, results: dict) -> dict:
        return {}

    def pass_stats(self) -> dict:
        return {}


class CorpusDedup(RegistryWorkload):
    name = "corpus_dedup"
    queries = (
        "dedup_exact",
        "dedup_minhash_lsh",
        "dedup_prefix_jaccard",
        "dedup_connected_components",
        "similarity_ivf_topk_nprobe2",
        "text_quality_stats",
        "corpus_chunking",
    )
    N_DOCS = 500
    N_VECS = 3000
    # Quality floors: a change that trades recall for speed fails the
    # output check instead of reading as a gain.
    MIN_DEDUP_RECALL = 0.9
    MIN_ANN_RECALL = 0.8

    def generate(self) -> dict:
        self.truth = gen.corpus(self.data_dir, self.seed, self.N_DOCS, self.N_VECS)
        return {"documents": self.N_DOCS, "embeddings": self.N_VECS,
                "near_pairs": len(self.truth["near_pairs"]),
                "exact_pairs": len(self.truth["exact_pairs"])}

    def quality(self, results: dict) -> dict:
        lsh = results["dedup_minhash_lsh"]
        ivf = results["similarity_ivf_topk_nprobe2"]
        found = {}
        for q, nb in zip(ivf["query_id"], ivf["neighbor_id"]):
            found.setdefault(int(q), []).append(int(nb))
        return {
            "dedup_recall": checks.pair_recall(
                zip(lsh["doc_a"].astype(int), lsh["doc_b"].astype(int)),
                self.truth["near_pairs"]),
            "ann_recall_at_10": checks.topk_recall(found, self.truth["topk"]),
            "verified_pairs": {"dedup_minhash_lsh": len(lsh),
                               "dedup_prefix_jaccard": len(results["dedup_prefix_jaccard"])},
        }

    def check(self, spark, got: dict) -> tuple[dict, dict]:
        out, quality = super().check(spark, got)
        floors = {"dedup_recall": ("dedup_minhash_lsh", self.MIN_DEDUP_RECALL),
                  "ann_recall_at_10": ("similarity_ivf_topk_nprobe2", self.MIN_ANN_RECALL)}
        for metric, (kind, floor) in floors.items():
            # no quality figures when some kind failed: the run is wrong anyway
            if metric in quality and quality[metric] < floor:
                out[kind] = (False, f"{metric} {quality[metric]:.3f} < {floor}")
        return out, quality


class DailyIngest:
    """One op = one trading day of the reference DAG. One pass replays
    the same seeded sequence of days into a fresh store, so every pass
    ends in the same store state."""

    name = "daily_ingest"
    N_DAYS = 4
    COMPACT_EVERY = 2
    N_SYMBOLS = 40
    REVISE_WINDOW = 3
    REVISIONS_PER_DAY = 8
    MALFORMED_PER_DAY = 2
    EVENTS_PER_DAY = 2000
    STREAM_SINKS = ("upsert_partition_sink", "tumbling_counts", "running_user_totals")
    KEY, BUCKET = "key", "bucket"

    def __init__(self, work_dir: str, seed: int):
        self.seed = seed
        self.work_dir = work_dir
        self.land_dir = os.path.join(work_dir, "landing")
        self.days: list[dict] = []
        self.pass_dir = ""
        self.stats: list[dict] = []

    def generate(self) -> dict:
        self.days = gen.ingest_days(
            self.land_dir, self.seed, self.N_DAYS, self.N_SYMBOLS,
            self.REVISE_WINDOW, self.REVISIONS_PER_DAY,
            self.MALFORMED_PER_DAY, self.EVENTS_PER_DAY)
        return {"days": self.N_DAYS, "csv_bytes": sum(d["csv_bytes"] for d in self.days)}

    def kinds(self) -> list[str]:
        """The warm pass: the first days, up to the first one of each
        streaming sink and the first compaction, so every code path a
        pass takes has run once."""
        n = max(len(self.STREAM_SINKS), self.COMPACT_EVERY)
        return [self._kind(d["day"]) for d in self.days[:n]]

    def _kind(self, day: int) -> str:
        compact = (day + 1) % self.COMPACT_EVERY == 0
        sink = self.STREAM_SINKS[day % len(self.STREAM_SINKS)]
        return f"day_{day:03d}_{sink}" + ("_compact" if compact else "")

    def pass_order(self, rng) -> list[str]:
        return [self._kind(d["day"]) for d in self.days]

    def begin_pass(self, spark, index: int) -> None:
        if self.pass_dir:
            shutil.rmtree(self.pass_dir, ignore_errors=True)
        self.pass_dir = os.path.join(self.work_dir, f"pass_{index:03d}")
        # Each day's event file lands in a directory of its own.
        for d in self.days:
            land = self._landing(d)
            os.makedirs(land)
            shutil.copy(d["events"], land)
        self.written = {}
        self.last_files = {}

    def _landing(self, day: dict) -> str:
        return os.path.join(self.pass_dir, "events_in", f"day_{day['day']:03d}")

    def settle(self) -> int:
        """Nothing in the DAG releases what its calls persisted, so the
        heap reading keeps it."""
        return 0

    def after_op(self, kind: str) -> None:
        """Account the store bytes the op wrote (outside its timing)."""
        files = self._store_files()
        self.written[kind] = sum(b for p, b in files.items() if p not in self.last_files)
        self.last_files = files

    def end_pass(self, spark, index: int) -> None:
        if index == 0:  # the warm pass replays only the first days
            return
        manifest = self._manifest()
        if manifest is None:  # no day reached the store; its ops failed
            return
        live, dead = self._store_bytes(manifest)
        rows = sum(pq.read_metadata(os.path.join(self.store_dir, e["path"])).num_rows
                   for e in manifest["files"])
        csv_bytes = sum(d["csv_bytes"] for d in self.days)
        csv_rows = sum(d["data_lines"] for d in self.days)
        self.stats.append({
            "write_amp": sum(self.written.values()) / csv_bytes,
            "space_amp": (live + dead) / (rows * csv_bytes / csv_rows),
        })

    @property
    def store_dir(self) -> str:
        return os.path.join(self.pass_dir, "store")

    def _store_files(self) -> dict:
        out = {}
        for dirpath, _dirs, files in os.walk(self.store_dir):
            if os.path.basename(dirpath).startswith(".stage-"):
                continue
            for fn in files:
                if fn.endswith(".parquet"):
                    p = os.path.join(dirpath, fn)
                    out[p] = os.path.getsize(p)
        return out

    def _manifest(self) -> dict | None:
        """The store's manifest, None while no merge has committed."""
        from sp500_stock_etl_spark.io.manifest_store import read_manifest

        return read_manifest(self.store_dir)

    def _store_bytes(self, m: dict) -> tuple[int, int]:
        live = sum(e["bytes"] for e in m["files"])
        dead = sum(os.path.getsize(os.path.join(self.store_dir, r))
                   for r in m["dead"] if os.path.exists(os.path.join(self.store_dir, r)))
        return live, dead

    def run_op(self, spark, kind: str, ph: Phases) -> None:
        from pyspark.sql import functions as F

        from sp500_stock_etl_spark.io import manifest_store as MS
        from sp500_stock_etl_spark.io.readers import read_stock_csv
        from sp500_stock_etl_spark.io.writers import write_quoted_csv
        from sp500_stock_etl_spark.operators.aggregates import qa_summary
        from sp500_stock_etl_spark.plans import stock_pipeline as SP
        from sp500_stock_etl_spark.streaming import events as EV

        day = self.days[int(kind.split("_")[1])]

        def pipeline():
            raw = read_stock_csv(spark, day["csv"], drop_malformed=True)
            out = SP.stock_metrics(SP.normalize_quotes(raw))
            return out.withColumns({
                self.KEY: F.concat_ws("|", F.date_format("Date", "yyyy-MM-dd"), "Symbol"),
                self.BUCKET: F.floor(F.unix_date("Date") / 7).cast("int"),
                "ingest_day": F.lit(day["day"]),
            })

        batch = ph.run("build", pipeline)
        ph.run("plan", lambda: batch._jdf.queryExecution().executedPlan())
        ph.run("action", write_quoted_csv,
               batch.drop(self.KEY, self.BUCKET, "ingest_day"),
               os.path.join(self.pass_dir, "out", f"day_{day['day']:03d}"))
        ph.run("action", MS.merge_manifest_store,
               self.store_dir, batch, self.KEY, self.BUCKET, _keep_latest)
        if kind.endswith("_compact"):
            ph.run("action", MS.compact_manifest_store,
                   spark, self.store_dir, self.KEY, self.BUCKET)
        qa = ph.run("build", lambda: qa_summary(
            MS.read_store(spark, self.store_dir), "Symbol", "Date", SP.FINAL_COLUMNS[:7]))
        ph.run("action", qa.collect)

        # The day's event file goes through one of the three streaming
        # sinks, in rotation (a streaming query costs about a second to
        # start and stop, so all three every day would triple the day's
        # fixed cost). The memory sinks cannot resume from a
        # checkpoint, so each run starts fresh over that one file; the
        # partition sink overwrites exactly that day's partition.
        ckpt = os.path.join(self.pass_dir, "ckpt", f"day_{day['day']:03d}")
        ev = ph.run("build", EV.read_event_stream, spark, self._landing(day))
        sink = self.STREAM_SINKS[day["day"] % len(self.STREAM_SINKS)]
        if sink == "tumbling_counts":
            ph.run("action", EV.run_available_now, EV.tumbling_counts(ev),
                   ckpt, "bench_tumbling")
        elif sink == "running_user_totals":
            ph.run("action", EV.run_available_now, EV.running_user_totals(ev),
                   ckpt, "bench_totals", "update")
        else:
            ph.run("action", EV.upsert_partition_sink,
                   ev.withColumn("event_date", F.to_date("ts")),
                   os.path.join(self.pass_dir, "events_table"), ckpt)

    def check(self, spark, got: dict) -> tuple[dict, dict]:
        """The last pass's store, event table and CSV sink against the
        landed inputs (``got`` is unused: a day op returns nothing). A
        missing store, table or output directory fails the check."""
        import pyarrow.dataset as ds

        from sp500_stock_etl_spark.io.manifest_store import read_store

        if self._manifest() is None:
            ok_store = (False, "no store manifest")
        else:
            want = checks.expected_store([checks.read_landed_csv(d["csv"]) for d in self.days])
            ok_store = checks.compare_store(read_store(spark, self.store_dir).toPandas(), want)
        events = os.path.join(self.pass_dir, "events_table")
        n_events = ds.dataset(events, partitioning="hive").count_rows() \
            if os.path.isdir(events) else 0
        upsert_days = range(0, self.N_DAYS, len(self.STREAM_SINKS))
        want_events = len(upsert_days) * self.EVENTS_PER_DAY
        ok_events = (n_events == want_events, f"events table {n_events} rows, want {want_events}")
        dropped = []
        for d in self.days:
            out = os.path.join(self.pass_dir, "out", f"day_{d['day']:03d}")
            if not os.path.isdir(out):
                dropped.append(None)
                continue
            n_out = sum(len(checks.read_landed_csv(os.path.join(out, f))) for f in os.listdir(out)
                        if f.endswith(".csv"))
            dropped.append(d["data_lines"] + d["malformed"] - n_out)
        ok_drop = (all(x == d["malformed"] for x, d in zip(dropped, self.days)),
                   f"rows dropped per day {dropped} (None: no CSV output)")
        # Every day op reaches the store, the event table and the CSV sink.
        verdict = (ok_store[0] and ok_events[0] and ok_drop[0],
                   "; ".join(m for _, m in (ok_store, ok_events, ok_drop)))
        return {k: verdict for k in self.pass_order(None)}, {
            "rows_dropped": [x for x in dropped if x is not None]}

    def pass_stats(self) -> dict:
        if not self.stats:
            return {}
        return {k: float(np.median([s[k] for s in self.stats])) for k in ("write_amp", "space_amp")}


def _keep_latest(df):
    """Last write wins per key: the row of the highest ingest_day."""
    from pyspark.sql import functions as F

    others = [c for c in df.columns if c != DailyIngest.KEY]
    kept = df.groupBy(DailyIngest.KEY).agg(
        F.max_by(F.struct(*others), F.col("ingest_day")).alias("__kept__"))
    return kept.select(DailyIngest.KEY, *[F.col(f"__kept__.{c}").alias(c) for c in others])


WORKLOADS = {w.name: w for w in (CorpusDedup, DailyIngest)}
