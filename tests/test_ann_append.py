"""Incremental append to the persisted ANN index — annoy's
unbuild -> add_item -> build reopening (/root/reference/src/
annoylib.h:1080-1091; test/index_test.py:234-245 pins which transitions
are allowed), plus the introspection API (annoylib.h:1238-1254) and the
serving-plan broadcast guard."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from annoy_spark.operators.knn import knn_bruteforce
from annoy_spark.sources.ann_index import (
    _KIND_METRICS,
    AnnIndexConfig,
    append_index,
    build_index,
    load_index,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.default_rng(7)
    n, dim = 400, 16
    centers = rng.standard_normal((20, dim)) * 3
    vecs = centers[np.arange(n) % 20] + rng.standard_normal((n, dim)) * 0.3
    return spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).cache()


@pytest.fixture(scope="module")
def queries(spark, corpus):
    return (
        corpus.where(F.col("vec_id") % 40 == 0)
        .select(
            (F.col("vec_id") + 10_000_000).alias("vec_id"),
            F.transform("embedding", lambda x: x + 0.01).alias("embedding"),
        )
        .cache()
    )


def _recall(exact_rows, approx_rows, k):
    truth, found = {}, {}
    for r in exact_rows:
        truth.setdefault(r.qid, set()).add(r.nid)
    for r in approx_rows:
        found.setdefault(r.qid, set()).add(r.nid)
    return sum(len(truth[q] & found.get(q, set())) for q in truth) / (
        len(truth) * k
    )


def test_append_matches_build_once(spark, corpus, queries, tmp_path):
    """Build on half the corpus, append the other half: every appended
    item is findable (frozen router routes items and queries identically,
    so candidates match the build-once index exactly for forest kind
    built from the same seed + same trainer sample)."""
    k = 10
    # split by id RANGE: clusters are vec_id % 20, so each cluster has
    # members in both halves (a parity split would align with clusters)
    half_a = corpus.where(F.col("vec_id") < 200)
    half_b = corpus.where(F.col("vec_id") >= 200)
    cfg = AnnIndexConfig(
        kind="forest", metric="angular", n_trees=16, seed=42,
        sample_fraction=1.0,
    )
    root = str(tmp_path / "idx")
    idx = build_index(spark, half_a, root, cfg)
    idx = idx.append(half_b)
    assert idx.n_items() == corpus.count()
    exact = knn_bruteforce(corpus, queries, k=k).collect()
    approx = idx.query(queries, k=k, spill_eps=0.15).collect()
    r = _recall(exact, approx, k)
    assert r >= 0.9, f"appended-index recall {r:.3f}"
    # neighbors span BOTH halves (the append is actually queried)
    nids = {row.nid for row in approx}
    assert any(n < 200 for n in nids) and any(n >= 200 for n in nids)
    # and a reload answers identically (append persisted everything)
    reloaded = load_index(spark, root, expected=cfg)
    assert reloaded.n_items() == corpus.count()
    b = reloaded.query(queries, k=k, spill_eps=0.15).collect()
    assert sorted((x.qid, x.nid, x.rank) for x in approx) == sorted(
        (x.qid, x.nid, x.rank) for x in b
    )


def test_append_rejects_id_collision_and_dim_change(
    spark, corpus, tmp_path
):
    cfg = AnnIndexConfig(kind="forest", n_trees=4, seed=42)
    root = str(tmp_path / "idx")
    build_index(spark, corpus.where(F.col("vec_id") < 200), root, cfg)
    with pytest.raises(ValueError, match="collide"):
        append_index(
            spark, root, corpus.where(F.col("vec_id") < 10)
        )
    wrong_dim = spark.createDataFrame(
        [(9999, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="dim"):
        append_index(spark, root, wrong_dim)


def test_append_crossing_bucket_cap_resalts(spark, tmp_path):
    """An append that pushes a bucket over bucket_cap must flip
    has_oversized and re-derive consistent salts for ALL the bucket's
    items (old and new) — frozen stored salts would strand the old rows
    in salt 0 while queries replicate over m."""
    rng = np.random.default_rng(11)
    base = [float(x) for x in rng.standard_normal(8)]
    mk = lambda ids: spark.createDataFrame(  # noqa: E731
        [(i, base) for i in ids], "vec_id long, embedding array<double>"
    )
    cfg = AnnIndexConfig(kind="forest", n_trees=4, bucket_cap=40, seed=42)
    root = str(tmp_path / "hot")
    idx = build_index(spark, mk(range(30)), root, cfg)
    assert not idx._has_oversized
    idx = idx.append(mk(range(1000, 1300)))
    assert idx._has_oversized
    qs = spark.createDataFrame(
        [(9_000_000, base)], "vec_id long, embedding array<double>"
    )
    got = idx.query(qs, k=10).collect()
    assert len(got) == 10
    assert all(r.distance < 1e-6 for r in got)
    nids = {r.nid for r in got}
    # candidates must come from the pre-append AND post-append populations
    # (salt replication covers every sub-bucket)
    assert idx.n_items() == 330


def test_append_mips_norm_guard(spark, tmp_path):
    """The MIPS augmentation scale M^2 is frozen at build
    (annoylib.h:605-703); an appended item with a larger norm must be
    rejected, not silently clamped."""
    small = spark.createDataFrame(
        [(i, [float(i % 3), 1.0]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    big = spark.createDataFrame(
        [(999, [50.0, 50.0])], "vec_id long, embedding array<double>"
    )
    cfg = AnnIndexConfig(kind="lsh", metric="dot", n_tables=4, n_bits=4,
                         seed=42)
    root = str(tmp_path / "mips")
    build_index(spark, small, root, cfg)
    with pytest.raises(ValueError, match="max-norm"):
        append_index(spark, root, big)


def test_introspection(spark, corpus, tmp_path):
    """get_n_items / get_item_vector analogs (annoylib.h:1238-1254)."""
    cfg = AnnIndexConfig(kind="forest", n_trees=4, seed=42)
    idx = build_index(spark, corpus, str(tmp_path / "idx"), cfg)
    assert idx.n_items() == corpus.count()
    assert idx.n_trees() == 4
    assert idx.n_buckets() > 0
    assert idx.get_f() == idx.cfg.dim > 0
    v = idx.get_item_vector(0)
    # angular stores the unit vector
    assert abs(sum(x * x for x in v) - 1.0) < 1e-9
    with pytest.raises(KeyError):
        idx.get_item_vector(123456789)


def test_query_by_items(spark, corpus, tmp_path):
    """get_nns_by_item over the stored index (annoylib.h:1228-1232): the
    query vector is the stored item's own representation, so its nearest
    neighbor (excluding itself) is a cluster twin; include_self=True
    returns the item itself at distance ~0 rank 1."""
    cfg = AnnIndexConfig(
        kind="forest", n_trees=16, seed=42, sample_fraction=1.0
    )
    idx = build_index(spark, corpus, str(tmp_path / "idx"), cfg)
    ids = spark.createDataFrame(
        [(0,), (7,), (140,)], "vec_id long"
    )
    with_self = idx.query_by_items(ids, k=5, include_self=True).collect()
    firsts = {r.qid: (r.nid, r.distance) for r in with_self if r.rank == 1}
    assert set(firsts) == {0, 7, 140}
    for qid, (nid, d) in firsts.items():
        assert nid == qid and d < 1e-9
    without = idx.query_by_items(ids, k=5).collect()
    assert len(without) == 15
    assert all(r.nid != r.qid for r in without)
    # ranks re-densified 1..k per query
    for q in (0, 7, 140):
        assert sorted(r.rank for r in without if r.qid == q) == [1, 2, 3, 4, 5]
    # neighbors are cluster twins (cluster = vec_id % 20)
    top1 = {r.qid: r.nid for r in without if r.rank == 1}
    assert all(nid % 20 == qid % 20 for qid, nid in top1.items())


def test_lsh_save_load_bit_identical(spark, corpus, queries, tmp_path):
    """ADVICE r3: the lsh kind's persisted round trip (plane re-derivation
    from seed; stored MIPS max_n2 reload) was untested. Angular and dot
    configs both reload bit-identically."""
    for metric, sub in (("angular", "a"), ("dot", "d")):
        cfg = AnnIndexConfig(
            kind="lsh", metric=metric, n_tables=12, n_bits=6, seed=42
        )
        root = str(tmp_path / f"lsh_{sub}")
        live = build_index(spark, corpus, root, cfg)
        a = sorted(
            live.query(queries, k=10).collect(),
            key=lambda r: (r.qid, r.rank),
        )
        reloaded = load_index(spark, root, expected=cfg)
        if metric == "dot":
            assert "max_n2" in reloaded.model.arrays  # persisted scalar
        b = sorted(
            reloaded.query(queries, k=10).collect(),
            key=lambda r: (r.qid, r.rank),
        )
        assert len(a) > 0
        assert [(r.qid, r.nid, r.rank, r.distance) for r in a] == [
            (r.qid, r.nid, r.rank, r.distance) for r in b
        ]


def test_ivf_query_time_nprobe(spark, corpus, queries, tmp_path):
    """nprobe is a QUERY-TIME budget on the stored IVF index (the
    search_k contract, annoylib.h:1447-1480): one build serves every
    accuracy level, wider probes recall at least as much."""
    k = 10
    cfg = AnnIndexConfig(
        kind="ivf", metric="angular", n_centroids=20, nprobe=2, seed=42,
        sample_fraction=1.0,
    )
    idx = build_index(spark, corpus, str(tmp_path / "ivf"), cfg)
    exact = knn_bruteforce(corpus, queries, k=k).collect()
    narrow = idx.query(queries, k=k).collect()          # cfg.nprobe = 2
    wide = idx.query(queries, k=k, nprobe=10).collect()  # override
    r_narrow = _recall(exact, narrow, k)
    r_wide = _recall(exact, wide, k)
    assert r_wide >= r_narrow
    assert r_wide >= 0.9, f"nprobe=10 recall {r_wide:.3f}"
    # default query matches an explicit nprobe=cfg.nprobe query exactly
    same = idx.query(queries, k=k, nprobe=2).collect()
    assert sorted((r.qid, r.nid, r.rank) for r in narrow) == sorted(
        (r.qid, r.nid, r.rank) for r in same
    )


@pytest.fixture(scope="module")
def hamming_corpus(spark):
    """400 packed 128-bit signatures: 20 centers, each item a few random
    bit flips away from its center."""
    rng = np.random.default_rng(7)
    centers = rng.integers(-(1 << 63), (1 << 63) - 1, (20, 2), dtype=np.int64)
    rows = []
    for i in range(400):
        sig = centers[i % 20].copy()
        for b in rng.integers(0, 128, 3):
            sig[b // 64] ^= np.int64(1) << np.int64(b % 64)
        rows.append((i, [int(x) for x in sig]))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<long>"
    ).cache()


_ROUTING_CASES = [
    pytest.param(kind, metric, {}, {}, id=f"{kind}-{metric}")
    for kind, metrics in _KIND_METRICS.items()
    for metric in metrics
] + [
    pytest.param("forest", "angular", {}, {"spill_eps": 0.1},
                 id="forest-angular-spill_eps"),
    pytest.param("forest", "hamming", {}, {"spill_eps": 2},
                 id="forest-hamming-spill_levels"),
    pytest.param("ivf", "euclidean", {}, {"nprobe": 8}, id="ivf-nprobe"),
    pytest.param("forest", "angular", {"bucket_cap": 10}, {},
                 id="forest-angular-oversized"),
]


@pytest.mark.parametrize("kind,metric,geometry,knobs", _ROUTING_CASES)
def test_large_batch_falls_back_to_shuffle(
    spark, corpus, hamming_corpus, tmp_path, kind, metric, geometry, knobs
):
    """The serving plan choice never changes an answer: a batch routed on
    the driver and broadcast (small_queries=None decides so at this
    size, True pins it) returns exactly the (qid, rank, nid, distance)
    rows of the executor-routed shuffle plan (small_queries=False), for
    every kind x metric, the query-time spill/nprobe knobs and buckets
    past bucket_cap."""
    items = hamming_corpus if metric == "hamming" else corpus
    cfg = AnnIndexConfig(kind=kind, metric=metric, n_trees=8, seed=42,
                         n_centroids=16, sample_fraction=1.0, **geometry)
    idx = build_index(spark, items, str(tmp_path / "idx"), cfg)
    assert idx._has_oversized == ("bucket_cap" in geometry)
    qs = items.select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    cols = ["qid", "rank", "nid", "distance"]
    got = {
        small: sorted(
            tuple(r) for r in idx.query(qs, k=5, small_queries=small,
                                        **knobs).select(cols).collect()
        )
        for small in (None, True, False)
    }
    assert got[None] == got[True] == got[False]
    assert len(got[None]) > 0
    if kind == "forest" and metric == "angular" and not geometry:
        assert len(got[None]) == corpus.count() * 5


def _plan_node_names(df) -> list[str]:
    """Node names of df's executed physical plan, descending into AQE
    query stages and reused exchanges (the AQE-final plan once df ran)."""
    names, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        names.append(node.nodeName())
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif cls == "ReusedExchangeExec":
            stack.append(node.child())
        else:
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
    return names


def test_small_batch_plan_runs_no_python_udf(spark, corpus, tmp_path):
    """A warm query batch of at most one Arrow batch
    (spark.sql.execution.arrow.maxRecordsPerBatch, the most rows an
    executor routes in one kernel call) is routed on the driver: its
    AQE-final physical plan has no Python eval node (the batch arrives as
    a local relation). The executor-routed plan (small_queries=False)
    still evaluates the routing UDF once, and so does a batch past one
    Arrow batch, still broadcast below SMALL_QUERY_MAX and answering the
    same rows."""
    cfg = AnnIndexConfig(kind="forest", n_trees=8, seed=42)
    idx = build_index(spark, corpus, str(tmp_path / "idx"), cfg)
    qs = corpus.where(F.col("vec_id") < 100).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    arrow_batch = spark.conf.get(key)
    assert qs.count() <= int(arrow_batch)
    python_eval = {"ArrowEvalPython", "BatchEvalPython"}

    def rows(df):
        return sorted((r.qid, r.rank, r.nid, r.distance)
                      for r in df.collect())

    idx.query(qs, k=5).collect()  # warm
    small = idx.query(qs, k=5)
    small.collect()
    assert "isFinalPlan=true" in str(
        small._jdf.queryExecution().executedPlan().toString()
    )
    names = _plan_node_names(small)
    assert not python_eval & set(names), names
    assert "LocalTableScan" in names
    large = idx.query(qs, k=5, small_queries=False)
    large.collect()
    assert sum(n in python_eval for n in _plan_node_names(large)) == 1

    spark.conf.set(key, "64")
    try:
        past = {s: idx.query(qs, k=5, small_queries=s) for s in (None, True)}
        for pinned, df in past.items():
            assert rows(df) == rows(small), pinned
        names = _plan_node_names(past[None])
    finally:
        spark.conf.set(key, arrow_batch)
    assert sum(n in python_eval for n in names) == 1
    assert "BroadcastHashJoin" in names


def test_load_rejects_old_format(spark, corpus, tmp_path):
    """An index whose meta lacks (or mismatches) the persisted-format
    version must fail the load-time geometry check with a clear message,
    not mis-read the artifacts (the annoy analog: an index file from an
    incompatible version fails `size % _s`)."""
    import json
    from pathlib import Path

    cfg = AnnIndexConfig(kind="forest", n_trees=4, seed=42)
    root = str(tmp_path / "idx")
    build_index(spark, corpus.where(F.col("vec_id") < 100), root, cfg)
    meta_path = Path(root) / "model" / "_ANNOY_SPARK_META.json"
    meta = json.loads(meta_path.read_text())
    meta["format"] = 1
    meta_path.write_text(json.dumps(meta))
    with pytest.raises(ValueError, match="format"):
        load_index(spark, root)


def test_item_stream_restart_safe(spark, corpus, queries, tmp_path):
    """Streaming item ingest: two waves through the same checkpoint append
    exactly once each; a re-run with no new files appends nothing; the
    stored index then answers with the appended items visible."""
    from annoy_spark.streaming.ann_item_stream import ann_item_stream

    half_a = corpus.where(F.col("vec_id") < 200)
    wave1 = corpus.where((F.col("vec_id") >= 200) & (F.col("vec_id") < 300))
    wave2 = corpus.where(F.col("vec_id") >= 300)
    cfg = AnnIndexConfig(
        kind="forest", metric="angular", n_trees=8, seed=42,
        sample_fraction=1.0,
    )
    root = str(tmp_path / "idx")
    build_index(spark, half_a, root, cfg)

    inp, ck = str(tmp_path / "items_in"), str(tmp_path / "items_ck")
    wave1.write.mode("append").parquet(inp)
    assert ann_item_stream(spark, root, inp, ck).awaitTermination(300)
    assert load_index(spark, root).n_items() == 300

    wave2.write.mode("append").parquet(inp)
    assert ann_item_stream(spark, root, inp, ck).awaitTermination(300)
    idx = load_index(spark, root)
    assert idx.n_items() == 400

    # drain again with nothing new: no growth (restart safety)
    assert ann_item_stream(spark, root, inp, ck).awaitTermination(300)
    assert load_index(spark, root).n_items() == 400

    got = idx.query(queries, k=10, spill_eps=0.15).collect()
    assert {r.nid for r in got} & {
        r.vec_id for r in wave2.select("vec_id").collect()
    }


def test_append_counts_consistent_with_buckets(spark, corpus, tmp_path):
    """The counts artifact must agree row-for-row with the buckets it
    summarizes even across appends (counts are recounted from the STAGED
    bucket rows, never from a re-run of the routing UDF lineage), and
    meta n_items must match the vectors relation."""
    from annoy_spark.sources.checkpoint import CheckpointStore

    cfg = AnnIndexConfig(kind="forest", metric="angular", n_trees=8,
                         seed=42, sample_fraction=1.0)
    root = str(tmp_path / "idx")
    half = corpus.where(F.col("vec_id") < 200)
    rest = corpus.where(F.col("vec_id") >= 200)
    idx = build_index(spark, half, root, cfg)
    idx.append(rest)
    store = CheckpointStore(root, idx.cfg)
    buckets = store.read(spark, "buckets")
    counts = store.read(spark, "counts")
    assert (
        counts.agg(F.sum("gsize").alias("s")).first()["s"]
        == buckets.count()
    )
    reloaded = load_index(spark, root)
    assert reloaded.n_items() == 400
    assert store.read(spark, "vectors").count() == 400


def test_torn_append_detected_and_rolled_back(spark, corpus, tmp_path):
    """A pending marker without complete staging = a crash BEFORE any
    artifact was published: load refuses loudly, repair_append rolls the
    batch back, and the index is unchanged."""
    from pathlib import Path

    from annoy_spark.sources.ann_index import _PENDING, repair_append

    cfg = AnnIndexConfig(kind="forest", metric="angular", n_trees=4,
                         seed=42, sample_fraction=1.0)
    root = str(tmp_path / "idx")
    build_index(spark, corpus, root, cfg)
    (Path(root) / _PENDING).write_text("{}")
    with pytest.raises(ValueError, match="UNFINISHED"):
        load_index(spark, root)
    idx = repair_append(spark, root)
    assert idx.n_items() == 400
    assert not (Path(root) / _PENDING).exists()


def test_staged_append_repair_completes(spark, corpus, queries, tmp_path):
    """A crash AFTER staging completed but before/inside the publish is
    COMPLETED by repair_append (file moves are idempotent): the staged
    batch becomes visible exactly once and the repaired index answers
    queries with the appended items."""
    from pathlib import Path

    from annoy_spark.sources.ann_index import (
        _PENDING,
        _STAGING,
        _bucket_counts,
        _routed_items,
        repair_append,
    )

    cfg = AnnIndexConfig(kind="forest", metric="angular", n_trees=8,
                         seed=42, sample_fraction=1.0)
    root = str(tmp_path / "idx")
    half = corpus.where(F.col("vec_id") < 200)
    rest = corpus.where(F.col("vec_id") >= 200)
    idx = build_index(spark, half, root, cfg)

    # simulate append crashing right before the publish step: staging
    # fully written + marker present, nothing published
    staging = Path(root) / _STAGING
    routed = _routed_items(rest, idx.model, "vec_id", "embedding")
    routed.write.parquet(str(staging / "routed"))
    stored = spark.read.parquet(str(staging / "routed"))
    stored.select("nid", "v").write.parquet(str(staging / "vectors"))
    stored.select(
        F.explode("keys").alias("bucket"), "nid"
    ).write.parquet(str(staging / "buckets"))
    _bucket_counts(
        spark.read.parquet(str(staging / "buckets"))
    ).write.parquet(str(staging / "counts"))
    (Path(root) / _PENDING).write_text("{}")

    with pytest.raises(ValueError, match="UNFINISHED"):
        load_index(spark, root)
    idx._sizes.unpersist()  # a repair runs without the crashed process
    repaired = repair_append(spark, root)
    assert repaired.n_items() == 400
    # no bucket passed bucket_cap, so nothing the repair built stays cached
    assert not repaired._has_oversized
    assert repaired._sizes.storageLevel == StorageLevel.NONE
    assert not (Path(root) / _PENDING).exists()
    assert not staging.exists()
    # repair is idempotent: a second call is a no-op load
    assert repair_append(spark, root).n_items() == 400
    got = repaired.query(queries, k=10, spill_eps=0.15).collect()
    appended_ids = {r.vec_id for r in rest.select("vec_id").collect()}
    assert {r.nid for r in got} & appended_ids


def test_item_stream_recreated_checkpoint_fails_loudly(
    spark, corpus, tmp_path
):
    """Deleting and recreating the streaming checkpoint dir restarts
    batch ids at 0 under a FRESH query id — the ledger (keyed on that
    id) must NOT mistake the new run's batches for applied replays and
    silently ingest nothing; the re-delivered rows hit the stored-id
    collision check instead."""
    from annoy_spark.streaming.ann_item_stream import ann_item_stream
    import shutil

    cfg = AnnIndexConfig(kind="forest", metric="angular", n_trees=4,
                         seed=42, sample_fraction=1.0)
    root = str(tmp_path / "idx")
    build_index(spark, corpus.where(F.col("vec_id") < 200), root, cfg)
    inp, ck = str(tmp_path / "in"), str(tmp_path / "ck")
    corpus.where(
        (F.col("vec_id") >= 200) & (F.col("vec_id") < 250)
    ).write.mode("append").parquet(inp)
    assert ann_item_stream(spark, root, inp, ck).awaitTermination(300)
    assert load_index(spark, root).n_items() == 250

    shutil.rmtree(ck)
    q = ann_item_stream(spark, root, inp, ck)
    with pytest.raises(Exception, match="collide"):
        q.awaitTermination(300)
    # nothing was double-ingested
    assert load_index(spark, root).n_items() == 250


def test_failed_append_rolls_back_not_bricks(spark, corpus, tmp_path):
    """An ORDINARY failed append job (here: a null embedding that explodes
    the routing UDF) must roll back the pending marker + staging, leaving
    the index loadable and appendable — not bricked until manual
    repair_append. A process CRASH mid-append still leaves the marker for
    repair (covered by the staged-publish tests)."""
    from pathlib import Path

    cfg = AnnIndexConfig(kind="forest", n_trees=4, seed=42)
    root = str(tmp_path / "idx")
    idx = build_index(spark, corpus.where(F.col("vec_id") < 200), root, cfg)
    dim = idx.get_f()
    assert dim == 16  # the null row must survive the pre-staging dim check
    bad = spark.createDataFrame(
        [(5000, [1.0] * dim), (5001, None)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="invalid vector") as ei:
        idx.append(bad)
    assert "dim" not in str(ei.value)[:200]  # failed IN the staging job
    assert not (Path(root) / "_APPEND_PENDING.json").exists()
    # not bricked: load and a clean append both work
    idx2 = load_index(spark, root)
    ok = corpus.where(
        (F.col("vec_id") >= 200) & (F.col("vec_id") < 220)
    )
    idx2.append(ok)
    assert load_index(spark, root).n_items() == 220


def test_build_rejects_null_or_ragged_vectors(spark, corpus, tmp_path):
    """The per-row routing validation also guards BUILD: _infer_dim only
    samples the first row, so a later null/ragged vector must fail the
    routing job loudly instead of persisting a poison row that breaks
    get_item_vector / re-rank far from the cause."""
    good = corpus.where(F.col("vec_id") < 50)
    bad = good.unionByName(
        spark.createDataFrame(
            [(6000, None), (6001, [1.0, 2.0])],
            "vec_id long, embedding array<double>",
        )
    )
    cfg = AnnIndexConfig(kind="forest", n_trees=4, seed=42)
    with pytest.raises(Exception, match="invalid vector"):
        build_index(spark, bad, str(tmp_path / "idx"), cfg)
