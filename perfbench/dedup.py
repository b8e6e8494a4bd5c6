"""dedup_mixed and dedup_adversarial: ``run_pipeline`` over a seeded corpus.

One operation is one ``run_pipeline`` call through the clusters count, with
checkpoints written, followed by its output checks: the sha256 invariant,
one cluster row per input file, and pair recall / precision against the
planted reference (``inputs.reference``).
"""

from __future__ import annotations

import statistics
import time

import pandas as pd
from pyspark.sql import functions as F

from annoy_spark.config import DedupConfig
from annoy_spark.functions.signatures import (
    minhash_batch,
    minhash_coeffs,
    shingle_hash_batch,
    simhash_batch,
    token_hashes_col,
    tokens_col,
)
from annoy_spark.operators.band import all_candidate_edges
from annoy_spark.operators.cluster import connected_components
from annoy_spark.operators.sign import file_id_col, sign
from annoy_spark.operators.substring import substring_edges
from annoy_spark.operators.verify import verify_with_rescue
from annoy_spark.plans.pipeline import assert_sha_invariant, run_pipeline
from annoy_spark.sources.checkpoint import CheckpointStore

import eventlog
import inputs
from harness import Bench, check, checkpoint_io
from probe import PeakPss, Tracer, udf_profile_s

CFG = DedupConfig()
MIXED_FILES = 4_000
RECALL_MIN = 0.99      # ROADMAP correctness contract
PRECISION_MIN = 0.97
BATCH_ROWS = 2_048     # spark.sql.execution.arrow.maxRecordsPerBatch
STAGES = ("signatures", "candidate_edges", "skipped_groups", "verified_edges",
          "substring_edges", "substring_skipped", "clusters")


def make_input(workload: str, seed: int) -> pd.DataFrame:
    if workload == "dedup_mixed":
        return inputs.mixed_corpus(MIXED_FILES, seed)
    return inputs.adversarial_corpus(seed)


class Dedup:
    def __init__(self, bench: Bench, workload: str, seed: int) -> None:
        self.b = bench
        self.workload, self.seed = workload, seed
        self.context: dict = {}
        self.n_ops = 0
        self.interval = (0.0, 0.0)  # epoch seconds of the last pipeline run

    def prepare(self) -> None:
        t0 = time.perf_counter()
        self.pdf = make_input(self.workload, self.seed)
        self.ref, _ = inputs.reference(
            self.pdf, CFG.shingle_k, CFG.jaccard_s, CFG.min_substring_len
        )
        self.context.update({
            "input_sha256": inputs.checksum(
                self.pdf, ["repo", "path", "commit", "content"]),
            "n_files": len(self.pdf),
            "input_mb": round(self.pdf["content"].str.len().sum() / 1e6, 2),
            "input_gen_s": round(time.perf_counter() - t0, 3),
        })

    # --- set-up ------------------------------------------------------------
    def warm_up(self, spark) -> None:
        """First layer on a slice of the input: starts the Python workers
        and compiles the sign plan."""
        small = self.pdf.iloc[:64].drop(columns="family")
        sign(spark.createDataFrame(small), CFG).agg(
            F.sum("n_shingles")).collect()

    def load(self, spark) -> None:
        path = str(self.b.work / "corpus")
        spark.createDataFrame(self.pdf.drop(columns="family")).write.parquet(
            path)
        self.corpus = spark.read.parquet(path)
        ids = self.corpus.select("repo", "path", "commit",
                                 file_id_col().alias("file_id")).toPandas()
        key = self.pdf[["repo", "path", "commit"]].merge(
            ids, on=["repo", "path", "commit"], how="left")
        self.file_ids = key["file_id"].to_numpy()

    # --- one operation -----------------------------------------------------
    def _out(self) -> str:
        self.n_ops += 1
        return str(self.b.work / f"ckpt{self.n_ops}")

    def pipeline(self, spark) -> tuple[float, dict, pd.DataFrame]:
        t0, e0 = time.perf_counter(), time.time()
        res = run_pipeline(spark, self.corpus, CFG, self._out(), resume=False)
        res.clusters.count()
        wall = time.perf_counter() - t0
        self.interval = (e0, time.time())
        got = res.clusters.toPandas()
        self.check(res.signatures, got)
        return wall, res.metrics, got

    def check(self, signatures, got: pd.DataFrame) -> None:
        assert_sha_invariant(self.corpus, signatures)
        check(len(got) == len(self.pdf),
              f"{len(got)} cluster rows for {len(self.pdf)} files")
        got = got.set_index("file_id")["cluster_id"]
        check(got.index.is_unique and got.index.isin(self.file_ids).all(),
              "cluster rows do not match the input files one to one")
        labels = got.reindex(self.file_ids).to_numpy()
        self.recall, self.precision = inputs.pair_scores(self.ref, labels)
        check(self.recall >= RECALL_MIN,
              f"dup_pair_recall {self.recall:.4f} < {RECALL_MIN}")
        check(self.precision >= PRECISION_MIN,
              f"cluster_precision {self.precision:.4f} < {PRECISION_MIN}")

    # --- untraced run ------------------------------------------------------
    def run(self) -> dict:
        with self.b.phase("setups"):
            spark, setup = self.b.start(self.prepare, self.warm_up)
        with self.b.phase("load"):
            self.load(spark)
        # one full-size run before timing: the first one pays Python worker
        # start-up and code generation at the input's partition counts
        with self.b.phase("warm"):
            self.b.op(self.pipeline, spark)
        walls, recalls, precisions = [], [], []
        with self.b.phase("timed"), PeakPss() as pss:
            t_end = time.perf_counter() + self.b.seconds
            while time.perf_counter() < t_end or not walls:
                r = self.b.op(self.pipeline, spark)
                if r is not None:
                    walls.append(r[0])
                    recalls.append(self.recall)
                    precisions.append(self.precision)
            peak = pss.peak_mb
        with self.b.phase("stop"):
            spark.stop()
        if not walls:
            return {}
        wall = statistics.median(walls)
        self.context.update({
            "timed_ops": len(walls),
            "cluster_precision": statistics.median(precisions),
        })
        return {
            "setup_s": setup["setup_s"],
            "op_p50_ms": 1000.0 * wall,
            "items_per_s": len(self.pdf) / wall,
            "recall": statistics.median(recalls),
            "peak_rss_mb": peak,
        }

    # --- traced run --------------------------------------------------------
    def serial(self, spark, tracer: Tracer, out: str) -> pd.DataFrame:
        """run_pipeline's stages called one after another through
        CheckpointStore, one span and job group per layer."""
        store = CheckpointStore(out, CFG)
        udf = {}

        def layer(name, fn):
            spark.profile.clear()
            with tracer.span(name):
                fn()
            udf[name] = udf_profile_s(spark)

        def do_sign():
            store.write("signatures", sign(self.corpus, CFG))

        layer("sign", do_sign)
        sigs = store.read(spark, "signatures")

        def do_band():
            cand, skipped = all_candidate_edges(sigs, CFG)
            store.write("skipped_groups", skipped)
            store.write("candidate_edges", cand)

        layer("band", do_band)
        cand = store.read(spark, "candidate_edges")
        n_cand = cand.count()

        def do_verify():
            store.write("verified_edges", verify_with_rescue(
                cand, sigs, CFG, small_candidates=n_cand < 2_000_000))

        layer("verify", do_verify)

        def do_substring():
            reps = sigs.groupBy("content_sha").agg(
                F.min("file_id").alias("file_id"))
            corpus_reps = (
                self.corpus.select(file_id_col().alias("file_id"), "content")
                .join(reps, "file_id").localCheckpoint(eager=False)
            )
            edges, skipped = substring_edges(corpus_reps, CFG,
                                             return_skipped=True)
            store.write("substring_skipped", skipped)
            store.write("substring_edges", edges)

        layer("substring", do_substring)

        def do_cluster():
            edges = store.read(spark, "verified_edges").select("u", "v")
            edges = edges.unionByName(
                store.read(spark, "substring_edges").select("u", "v"))
            nodes = sigs.select(F.col("file_id").alias("doc_id"))
            store.write("clusters", connected_components(
                edges, nodes, max_iters=CFG.cc_max_iters
            ).withColumnRenamed("doc_id", "file_id"))

        layer("cluster", do_cluster)
        self.udf_s = udf
        self.counts = {s: store.read(spark, s).count() for s in STAGES}
        return store.read(spark, "clusters").toPandas()

    def kernels(self, spark) -> dict:
        """signatures kernels in-process on one Arrow-sized batch of the
        workload's own token hashes (median of 3)."""
        toks = (self.corpus.limit(BATCH_ROWS)
                .select(token_hashes_col(tokens_col("content")).alias("t"))
                .toPandas()["t"])
        a, b = minhash_coeffs(CFG)
        runs = {"shingle": [], "minhash": [], "simhash": []}
        for _ in range(3):
            t0 = time.perf_counter()
            sh, _ = shingle_hash_batch(toks, CFG.shingle_k, CFG.seed)
            t1 = time.perf_counter()
            sh = pd.Series(sh)
            minhash_batch(sh, a, b)
            t2 = time.perf_counter()
            simhash_batch(sh, CFG.simhash_bits, CFG.seed)
            t3 = time.perf_counter()
            runs["shingle"].append(t1 - t0)
            runs["minhash"].append(t2 - t1)
            runs["simhash"].append(t3 - t2)
        return {f"signatures.{k}_ms_per_batch": 1000 * statistics.median(v)
                for k, v in runs.items()}

    def run_traced(self) -> dict:
        spark, setup = self.b.start(self.prepare, self.warm_up)
        sc = spark.sparkContext
        self.load(spark)
        self.b.op(self.pipeline, spark)  # warm-up, as in the untraced run
        # untraced runs before and after the traced ones: their mean is
        # the base of the tracing overhead
        plain = [self.b.op(self.pipeline, spark)]
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        tracer = Tracer(sc)
        with tracer.span("pipeline"):
            traced = self.b.op(self.pipeline, spark)
        t0, t1 = self.interval
        serial_out = str(self.b.work / "serial")
        clusters = self.b.op(self.serial, spark, tracer, serial_out)
        if clusters is not None and traced is not None:
            self.b.op(self.same_clusters, traced[2], clusters)
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
        plain.append(self.b.op(self.pipeline, spark))
        m = self.kernels(spark)
        with tracer.span("checkpoint"):
            m.update(checkpoint_io(spark, CFG, serial_out,
                                   self.b.work / "rewrite", STAGES))
        spark.stop()

        tasks, jobs = eventlog.read_dir(self.b.work / "eventlog")
        groups = eventlog.fold(tasks, jobs)
        empty = eventlog.GroupStats()
        g = lambda name: groups.get(name, empty)  # noqa: E731
        m.update({k: setup[k] for k in ("session.start_s",
                                        "session.warmup_s")})
        for name in ("session", "sign", "band", "verify", "substring",
                     "cluster", "checkpoint"):
            m[f"{name}.failed_tasks"] = g(name).failed_tasks
        m["signatures.failed_tasks"] = 0  # in-process: no Spark tasks
        if clusters is not None:
            m.update(self.layer_metrics(tracer, g))
        if traced is not None:
            wall, pm = traced[0], traced[1]
            branch = (pm["candidate_edges"]["duration_s"]
                      + pm["verified_edges"]["duration_s"])
            sub = pm["substring_edges"]["duration_s"]
            m.update({
                "pipeline.wall_s": wall,
                "pipeline.task_idle_s": (t1 - t0) - eventlog.busy_s(
                    tasks, t0 * 1000, t1 * 1000),
                "pipeline.overlap_ratio": (branch + sub) / max(branch, sub),
                "pipeline.failed_tasks": sum(
                    t.failed for t in tasks
                    if t0 * 1000 <= t.launch_ms <= t1 * 1000),
            })
            plain = [p[0] for p in plain if p is not None]
            if plain:
                m["trace.overhead_ratio"] = (
                    wall / statistics.mean(plain) - 1.0)
        self.context["spans"] = {
            s.name: round(tracer.self_time(s.name), 3)
            for s in tracer.spans}
        return m

    def layer_metrics(self, tracer: Tracer, g) -> dict:
        """Per-layer numbers of the serial composition."""
        c, udf = self.counts, self.udf_s
        m = {f"{name}.wall_s": tracer.total(name)
             for name in ("sign", "band", "verify", "substring", "cluster")}
        m.update({
            "sign.executor_cpu_s": g("sign").cpu_s,
            "sign.python_udf_s": udf["sign"],
            "band.shuffle_write_mb": g("band").shuffle_write_mb,
            "band.task_skew": g("band").task_skew,
            "band.candidate_edges": c["candidate_edges"],
            "band.skipped_groups": c["skipped_groups"],
            "verify.shuffle_read_mb": g("verify").shuffle_read_mb,
            "verify.pass_rate":
                c["verified_edges"] / max(c["candidate_edges"], 1),
            "substring.executor_cpu_s": g("substring").cpu_s,
            "substring.python_udf_s": udf["substring"],
            "substring.shuffle_write_mb": g("substring").shuffle_write_mb,
            "substring.spill_mb": g("substring").spill_mb,
            "substring.task_skew": g("substring").task_skew,
            "substring.edges": c["substring_edges"],
            "substring.skipped_families": c["substring_skipped"],
            "cluster.spark_jobs": g("cluster").jobs,
            "cluster.shuffle_write_mb": g("cluster").shuffle_write_mb,
            "cluster.task_skew": g("cluster").task_skew,
        })
        return m

    def same_clusters(self, a: pd.DataFrame, b: pd.DataFrame) -> None:
        key = lambda d: dict(zip(d["file_id"], d["cluster_id"]))  # noqa: E731
        check(key(a) == key(b),
              "serial composition and run_pipeline cluster differently")
