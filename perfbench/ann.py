"""ann_serve: a persisted forest/angular index under one closed-loop client.

The client builds the index, then sends 100-vector ``AnnIndex.query``
batches (at most SMALL_QUERY_MAX rows, so the broadcast serving plan) with
an ``append`` after every third batch. The traced run ends with one
``compact``, whose query results must not change. Each build, batch,
append and compact is one operation. A batch must return exactly k rows
per query with ranks 1..k and non-decreasing distances; recall@k is
measured against a numpy exact top-k over the items stored at that
moment.
"""

from __future__ import annotations

import hashlib
import statistics
import time

import numpy as np
import pandas as pd

import annoy_spark.sources.ann_index as ann_index
from annoy_spark.operators.forest import build_forest, forest_leaf_udf
from annoy_spark.sources.ann_index import (
    SMALL_QUERY_MAX,
    AnnIndexConfig,
    build_index,
)

import eventlog
import inputs
from harness import Bench, check, checkpoint_io, dir_mb
from probe import PeakPss, Tracer, udf_profile_s

N_ITEMS = 2_000
DIM = 64
BATCH = 100
K = 10
APPEND = 250
APPEND_EVERY = 3       # query batches per append
MIN_APPENDS = 2
WARM_BATCHES = 8       # batch latency settles after ~8 batches (JIT)
MAX_APPENDS = 40       # sizes the generated append pool
RECALL_MIN = 0.9       # floor of the repo's forest recall tests
CFG = AnnIndexConfig(kind="forest", metric="angular")
assert BATCH <= SMALL_QUERY_MAX


class Ann:
    def __init__(self, bench: Bench, seed: int) -> None:
        self.b = bench
        # items first, then the append pool
        self.vecs = inputs.ann_vectors(N_ITEMS + MAX_APPENDS * APPEND, DIM,
                                        seed)
        self.ids = np.arange(len(self.vecs), dtype=np.int64)
        self.rng = np.random.default_rng([seed, 0x0E])
        self.n_stored = N_ITEMS
        self.context = {
            "input_sha256": hashlib.sha256(self.vecs.tobytes()).hexdigest(),
            "n_items": N_ITEMS,
        }
        self.recalls: list[float] = []

    def frame(self, spark, lo: int, hi: int):
        return spark.createDataFrame(pd.DataFrame({
            "vec_id": self.ids[lo:hi], "embedding": list(self.vecs[lo:hi])}))

    def warm_up(self, spark) -> None:
        """First layer on a small sample: one forest trained on the Spark
        driver and its routing UDF run on the executors."""
        small = self.frame(spark, 0, 256)
        trees = build_forest(small, n_trees=2, leaf_cap=CFG.leaf_cap)
        small.select(forest_leaf_udf(trees)("embedding").alias("k")) \
            .toPandas()

    # --- operations ------------------------------------------------------
    def build(self, spark) -> float:
        path = str(self.b.work / "items")
        self.frame(spark, 0, N_ITEMS).write.parquet(path)
        items = spark.read.parquet(path)
        t0 = time.perf_counter()
        self.index = build_index(spark, items, str(self.b.work / "index"),
                                 CFG)
        wall = time.perf_counter() - t0
        check(self.index.n_items() == N_ITEMS,
              f"index holds {self.index.n_items()} of {N_ITEMS} items")
        return wall

    def query(self, spark) -> float:
        anchors = self.vecs[self.rng.integers(0, self.n_stored, BATCH)]
        q = anchors + 0.1 * self.rng.normal(size=anchors.shape)
        qdf = spark.createDataFrame(pd.DataFrame({
            "vec_id": np.arange(BATCH, dtype=np.int64),
            "embedding": list(q)}))
        t0 = time.perf_counter()
        rows = self.index.query(qdf, K).toPandas()
        wall = time.perf_counter() - t0
        self.check_batch(rows, q)
        return wall

    def check_batch(self, rows: pd.DataFrame, q: np.ndarray) -> None:
        check(len(rows) == BATCH * K, f"{len(rows)} rows for {BATCH}x{K}")
        rows = rows.sort_values(["qid", "rank"])
        ranks = rows["rank"].to_numpy().reshape(BATCH, K)
        check((ranks == np.arange(1, K + 1)).all(), "ranks are not 1..k")
        dist = rows["distance"].to_numpy().reshape(BATCH, K)
        check((np.diff(dist, axis=1) >= -1e-12).all(),
              "distances decrease with rank")
        got = rows["nid"].to_numpy().reshape(BATCH, K)
        exact = inputs.exact_top_k(self.vecs[:self.n_stored],
                                   self.ids[:self.n_stored], q, K)
        hit = sum(len(set(g) & set(e)) for g, e in zip(got, exact))
        self.recalls.append(hit / (BATCH * K))
        check(self.recalls[-1] >= RECALL_MIN,
              f"recall@{K} {self.recalls[-1]:.3f} < {RECALL_MIN}")

    def append(self, spark) -> float:
        lo = self.n_stored
        df = self.frame(spark, lo, lo + APPEND)
        df.cache().count()
        t0 = time.perf_counter()
        self.index.append(df)
        wall = time.perf_counter() - t0
        df.unpersist()
        self.n_stored += APPEND
        check(self.index.n_items() == self.n_stored,
              f"index holds {self.index.n_items()} of {self.n_stored} items")
        return wall

    def compact(self, spark) -> float:
        anchors = self.vecs[:BATCH] + 0.05
        qdf = spark.createDataFrame(pd.DataFrame({
            "vec_id": np.arange(BATCH, dtype=np.int64),
            "embedding": list(anchors)}))
        cols = ["qid", "rank", "nid", "distance"]
        before = self.index.query(qdf, K).toPandas()[cols]
        t0 = time.perf_counter()
        self.index = self.index.compact()
        wall = time.perf_counter() - t0
        after = self.index.query(qdf, K).toPandas()[cols]
        key = lambda d: d.sort_values(cols[:2]).reset_index(drop=True)  # noqa
        check(key(before).equals(key(after)),
              "query results changed across compact")
        return wall

    # --- the client loop -------------------------------------------------
    def warm_serving(self, spark) -> None:
        """Untimed batches and one append: the first batches after a build
        run slow while the routing UDF's workers start and the JVM
        compiles the serving plan."""
        for _ in range(WARM_BATCHES):
            self.b.op(self.query, spark)
        self.b.op(self.append, spark)
        self.recalls.clear()

    def serve(self, spark, tracer: Tracer | None = None) -> dict:
        """Query batches with interleaved appends for the run's seconds.
        Traced, every other batch runs with the UDF profiler on, so the
        profiled and plain batches of one loop give the tracing overhead."""
        def traced(name, fn):
            if tracer is None:
                return self.b.op(fn, spark)
            with tracer.span(name):
                return self.b.op(fn, spark)

        walls: dict[str, list] = {"query": [], "profiled": [], "append": []}
        t_end = time.perf_counter() + self.b.seconds
        sent = 0
        while (time.perf_counter() < t_end
               or sent < MIN_APPENDS * APPEND_EVERY):
            profiled = tracer is not None and sent % 2 == 1
            if profiled:
                spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            w = traced("query", self.query)
            if profiled:
                spark.conf.unset("spark.sql.pyspark.udf.profiler")
            sent += 1
            if w is not None:
                walls["profiled" if profiled else "query"].append(w)
            if (sent % APPEND_EVERY == 0
                    and self.n_stored + APPEND <= len(self.vecs)):
                a = traced("append", self.append)
                if a is not None:
                    walls["append"].append(a)
        return walls

    def run(self) -> dict:
        with self.b.phase("setups"):
            spark, setup = self.b.start(lambda: None, self.warm_up)
        with PeakPss() as pss:
            with self.b.phase("build"):
                build_s = self.b.op(self.build, spark)
            if build_s is None:
                spark.stop()
                return {}
            with self.b.phase("warm"):
                self.warm_serving(spark)
            with self.b.phase("serve"):
                walls = self.serve(spark)
            peak = pss.peak_mb
        with self.b.phase("stop"):
            spark.stop()
        if not walls["query"] or not walls["append"]:
            return {}
        self.context.update({
            "timed_batches": len(walls["query"]),
            "appends": len(walls["append"]),
            "build_s": build_s,
        })
        return {
            "setup_s": setup["setup_s"],
            "op_p50_ms": 1000.0 * statistics.median(walls["query"]),
            "items_per_s": APPEND / statistics.median(walls["append"]),
            "recall": statistics.median(self.recalls),
            "peak_rss_mb": peak,
        }

    def run_traced(self) -> dict:
        spark, setup = self.b.start(lambda: None, self.warm_up)
        sc = spark.sparkContext
        tracer = Tracer(sc)
        train = []
        real_build_forest = ann_index.build_forest

        def timed_build_forest(*a, **kw):
            t0 = time.perf_counter()
            try:
                return real_build_forest(*a, **kw)
            finally:
                train.append(time.perf_counter() - t0)

        ann_index.build_forest = timed_build_forest
        try:
            with tracer.span("build"):
                build_s = self.b.op(self.build, spark)
        finally:
            ann_index.build_forest = real_build_forest
        if build_s is None:
            spark.stop()
            return {}
        self.warm_serving(spark)
        spark.profile.clear()
        size0 = dir_mb(self.b.work / "index")
        walls = self.serve(spark, tracer)
        grown = dir_mb(self.b.work / "index") - size0
        udf_s = udf_profile_s(spark)
        with tracer.span("compact"):
            compact_s = self.b.op(self.compact, spark)
        rewritten = dir_mb(self.b.work / "index")
        leaf_ms = self.leaf_udf_ms()
        with tracer.span("checkpoint"):
            io = checkpoint_io(spark, self.index.cfg, self.b.work / "index",
                               self.b.work / "rewrite",
                               ("vectors", "buckets", "counts"))
        spark.stop()

        tasks, jobs = eventlog.read_dir(self.b.work / "eventlog")
        groups = eventlog.fold(tasks, jobs)
        empty = eventlog.GroupStats()
        g = lambda name: groups.get(name, empty)  # noqa: E731
        batches = [s for s in tracer.spans if s.name == "query"]
        driver_ms = [
            1000.0 * (s.dur - eventlog.busy_s(tasks, s.start * 1000,
                                              s.end * 1000))
            for s in batches
        ]
        nb = max(len(batches), 1)
        na = max(len(walls["append"]), 1)
        m = {
            "session.start_s": setup["session.start_s"],
            "session.warmup_s": setup["session.warmup_s"],
            "session.failed_tasks": g("session").failed_tasks,
            "forest.train_s": sum(train),
            "forest.leaf_udf_ms_per_batch": leaf_ms,
            "forest.python_udf_ms_per_batch":
                1000.0 * udf_s / max(len(walls["profiled"]), 1),
            "forest.failed_tasks": g("build").failed_tasks,
            "ann_index.build_s": build_s,
            "ann_index.route_write_s": build_s - sum(train),
            "ann_index.query_spark_jobs": g("query").jobs / nb,
            "ann_index.query_task_busy_ms": 1000.0 * g("query").run_s / nb,
            "ann_index.append_bytes_written_mb": grown / na,
            "ann_index.compact_bytes_rewritten_mb": rewritten,
            "ann_index.failed_tasks": sum(
                g(n).failed_tasks for n in ("query", "append", "compact")),
        }
        m.update(io)
        m["checkpoint.failed_tasks"] = g("checkpoint").failed_tasks
        # a measurement that did not complete is left out, so the result
        # lists it as missing instead of reading 0
        if driver_ms:
            m["ann_index.query_driver_ms"] = statistics.median(driver_ms)
        if walls["append"]:
            m["ann_index.append_s"] = statistics.median(walls["append"])
        if compact_s is not None:
            m["ann_index.compact_s"] = compact_s
        if walls["query"] and walls["profiled"]:
            m["trace.overhead_ratio"] = (statistics.median(walls["profiled"])
                                         / statistics.median(walls["query"])
                                         - 1.0)
        self.context["spans"] = {
            s.name: round(tracer.self_time(s.name), 3) for s in tracer.spans}
        return m

    def leaf_udf_ms(self) -> float:
        """forest routing kernel in-process on one Arrow-sized batch of
        unit vectors (median of 3)."""
        fn = forest_leaf_udf(self.index.model.trees()).func
        x = self.vecs[:2048]
        x = x / np.linalg.norm(x, axis=1, keepdims=True)
        s = pd.Series(list(x))
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn(s)
            runs.append(time.perf_counter() - t0)
        return 1000.0 * statistics.median(runs)
