"""k-NN over embedding tables — Annoy's query operators, Spark-first.

- get_nns_by_item / get_nns_by_vector (/root/reference/src/annoylib.h:
  1228-1236) -> top-k joins over a (vec_id, embedding) DataFrame;
- the forest candidate generator (annoylib.h:1447-1480) -> random-hyperplane
  LSH bucketing: n_tables independent sign-bit keys, candidates = co-bucketed
  rows in >= 1 table, exact re-rank on the candidates (annoylib.h:1492-1494);
- metrics: angular sqrt(2-2cos) (annoylib.h:475-517), dot -<x,y>
  (annoylib.h:571-586), euclidean (annoylib.h:192-202), manhattan
  (annoylib.h:184-189), hamming popcount over packed int64 words
  (annoylib.h:736-743);
- MIPS on the approximate path via the Bachrach reduction
  (annoylib.h:605-703): items augmented with sqrt(M^2-|x|^2), queries with 0,
  so max-inner-product becomes min-angular over the augmented space.

Brute force is the small/medium path (exact, one shuffle-free broadcast
join); LSH is the 10^12-row path (bucket join, cost ~ bucket sizes, recall
tunable by n_tables x n_bits exactly like n_trees x leaf size).

Scale defense: degenerate embedding dumps (many identical vectors) create
mega-buckets whose self-join is O(g^2). Buckets above `bucket_cap` are
salted into ~gsize/cap random sub-buckets — the same move as Annoy's
split-imbalance fallback (annoylib.h:1337-1425: when a hyperplane can't
split a node, items are sent to random sides), trading bounded recall loss
inside pathological buckets for a hard cost cap.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import ArrayType, LongType

import pandas as pd


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def _norm2(a) -> F.Column:
    return _dot(a, a)


def collect_training_sample(
    items: DataFrame,
    id_col: str,
    vec_col: str,
    seed: int,
    max_sample: int,
    sample_fraction: float = 1.0,
    as_longs: bool = False,
) -> np.ndarray:
    """Bounded DETERMINISTIC driver-side sample, sorted by id: membership =
    the max_sample rows with the smallest seeded xxhash64(id) (a uniform
    pseudo-random draw realized as a TakeOrdered top-k — no full sort, no
    partition-order dependence; .sample().limit() would keep
    partition-order-dependent rows whenever the sampled set exceeds the
    cap). sample_fraction < 1 additionally gates membership on a seeded
    hash threshold so the expected candidate pool matches the fraction.

    Sorting by id fixes POSITION too: two_means / k-means init draw by
    index, so the same membership in a different order would still train a
    different model."""
    h = F.xxhash64(F.col(id_col), F.lit(int(seed)))
    # as_longs keeps packed hamming words exact (int64 -> double would
    # round away bits above 2^53)
    sql_t = "array<long>" if as_longs else "array<double>"
    cand = items.select(
        F.col(id_col).alias("i"),
        F.col(vec_col).cast(sql_t).alias("v"),
        h.alias("h"),
    )
    if sample_fraction < 1.0:
        denom = 1 << 20
        cand = cand.where(
            F.pmod(F.col("h"), F.lit(denom)) < int(sample_fraction * denom)
        )
    rows = cand.orderBy("h", "i").limit(max_sample).collect()
    rows.sort(key=lambda r: r.i)
    try:
        return np.asarray(
            [r.v for r in rows], dtype=np.int64 if as_longs else np.float64
        )
    except (ValueError, TypeError) as e:
        bad = next(
            (r.i for r in rows
             if r.v is None or (rows and len(r.v) != len(rows[0].v or []))),
            None,
        )
        raise ValueError(
            f"invalid vector in trainer sample (item {bad!r}): all items "
            "must be non-null arrays of one fixed dimension"
        ) from e


def with_unit_vectors(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Pre-normalize once (annoy Angular caches node norms, annoylib.h:483)."""
    v = F.col(vec_col).cast("array<double>")
    n = F.sqrt(_norm2(v))
    unit = F.when(n > 0, F.transform(v, lambda x: x / n)).otherwise(v)
    return emb.withColumn("unit_vec", unit)


def knn_bruteforce(
    items: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "angular",
) -> DataFrame:
    """Exact top-k: (qid, nid, rank, distance).

    queries is expected small (broadcast side); items is the big relation —
    the join is a broadcast nested loop, no shuffle of `items`.

    metric="hamming" expects vec_col to be an array of packed int64 words
    (annoy's packed bit vectors, annoymodule.cc:67-130); distance is the
    popcount of the XOR (annoylib.h:736-743).
    """
    if metric == "hamming":
        it = items.select(
            F.col(id_col).alias("nid"), F.col(vec_col).alias("nraw")
        )
        qs = queries.select(
            F.col(id_col).alias("qid"), F.col(vec_col).alias("qraw")
        )
        pairs = it.join(F.broadcast(qs), F.col("nid") != F.col("qid"))
        d = F.aggregate(
            F.zip_with(
                "qraw", "nraw",
                lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).cast("double")
    else:
        it = with_unit_vectors(items, vec_col).select(
            F.col(id_col).alias("nid"), F.col("unit_vec").alias("nv"),
            F.col(vec_col).cast("array<double>").alias("nraw"),
        )
        qs = with_unit_vectors(queries, vec_col).select(
            F.col(id_col).alias("qid"), F.col("unit_vec").alias("qv"),
            F.col(vec_col).cast("array<double>").alias("qraw"),
        )
        pairs = it.join(F.broadcast(qs), F.col("nid") != F.col("qid"))
        if metric == "angular":
            # annoy normalized angular distance: sqrt(max(2-2cos, 0))
            d = F.sqrt(F.greatest(F.lit(0.0), F.lit(2.0) - 2.0 * _dot("qv", "nv")))
        elif metric == "dot":
            d = -_dot("qraw", "nraw")  # annoylib.h:656-659 (-dot, sorted asc)
        elif metric == "euclidean":
            diff = F.zip_with("qraw", "nraw", lambda x, y: x - y)
            d = F.sqrt(F.greatest(F.lit(0.0), _norm2(diff)))
        elif metric == "manhattan":
            # annoylib.h:184-189: sum |x-y|
            d = F.aggregate(
                F.zip_with("qraw", "nraw", lambda x, y: F.abs(x - y)),
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x,
            )
        else:
            raise ValueError(f"unknown metric {metric}")
    scored = pairs.select("qid", "nid", d.alias("distance"))
    w = Window.partitionBy("qid").orderBy(F.col("distance").asc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def _topk(cand: DataFrame, d: F.Column, k: int, dedup: bool = True) -> DataFrame:
    """Top-k tail shared by the approximate paths. dedup=True keeps the
    legacy score-then-dedup behavior for callers whose candidate rows can
    repeat; pass dedup=False when (qid, nid) is already distinct (IVF's
    replicated skew join matches each pair exactly once; knn_lsh/forest
    now dedup the narrow id pairs BEFORE attaching vectors) — the
    dropDuplicates exchange is then a pure no-op shuffle."""
    scored = cand.select("qid", "nid", d.alias("distance"))
    if dedup:
        scored = scored.dropDuplicates(["qid", "nid"])
    w = Window.partitionBy("qid").orderBy(F.col("distance").asc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def hyperplane_keys_udf(dim: int, n_tables: int, n_bits: int, seed: int):
    """pandas UDF: embedding -> one LSH key per table (sign-bit pattern).

    Exactly annoy's Angular create_split/side (annoylib.h:503-510, 491-501)
    with data-independent Gaussian hyperplanes: key bit = sign(<r, x>).
    """
    rng = np.random.default_rng([seed, 0xA1A])
    planes = rng.standard_normal((n_tables, n_bits, dim))
    weights = np.power(2.0, np.arange(n_bits))  # bit-pack via dot with 2^i

    @F.pandas_udf(ArrayType(LongType()))
    def keys(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        proj = np.einsum("nd,tbd->ntb", mat, planes)  # (n, tables, bits)
        bits = proj > 0
        packed = bits @ weights  # (n, tables) float -> exact ints < 2^n_bits
        out = packed.astype(np.int64)
        out += np.arange(n_tables, dtype=np.int64) * (1 << n_bits)
        return pd.Series(list(out))

    return keys


def pstable_keys_udf(
    dim: int, n_tables: int, n_bits: int, seed: int, width: float, p: int
):
    """pandas UDF: embedding -> one E2LSH key per table (Datar et al. '04
    p-stable projections — the data-independent stand-in for annoy's
    two-means Euclidean/Manhattan splits, annoylib.h:849-891):

        key bit_i = floor((<r_i, x> + b_i) / width),  r_i ~ p-stable

    p=2 (Gaussian) preserves euclidean locality, p=1 (Cauchy) manhattan.
    The n_bits quantized projections per table are mixed into one int64
    bucket id; mixing collisions only add candidates (exact re-rank
    decides, annoylib.h:1492-1494)."""
    rng = np.random.default_rng([seed, 0xE2])
    if p == 2:
        planes = rng.standard_normal((n_tables, n_bits, dim))
    else:
        planes = rng.standard_cauchy((n_tables, n_bits, dim))
    offsets = rng.uniform(0.0, width, (n_tables, n_bits))
    mixers = rng.integers(1, 1 << 61, (n_bits,), dtype=np.int64) | 1
    tsalt = rng.integers(0, 1 << 62, (n_tables,), dtype=np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def keys(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        proj = np.einsum("nd,tbd->ntb", mat, planes) + offsets
        q = np.floor(proj / width).astype(np.int64)
        mixed = (q * mixers).sum(axis=2, dtype=np.int64)  # wraparound mix
        mixed ^= mixed >> 33
        out = mixed ^ tsalt  # per-table stream separation
        return pd.Series(list(out))

    return keys


def hamming_keys_col(
    raw: F.Column, n_words: int, n_tables: int, n_bits: int, seed: int
) -> F.Column:
    """array<long> of one bit-sampling LSH key per table, built entirely
    JVM-side (shift/mask inside whole-stage codegen — no UDF): each table
    samples n_bits random bit POSITIONS of the packed int64 signature
    (annoy's axis-aligned Hamming splits, annoylib.h:758-792)."""
    n_sig_bits = n_words * 64
    rng = np.random.default_rng([seed, 0x4A11])

    def table_key(t: int) -> F.Column:
        pos = rng.choice(
            n_sig_bits, size=min(n_bits, n_sig_bits), replace=False
        )
        key = F.lit(t).cast("long")
        for i, p in enumerate(sorted(int(x) for x in pos)):
            w, off = divmod(p, 64)
            bit = F.shiftrightunsigned(
                F.element_at(raw, w + 1), off
            ).bitwiseAND(F.lit(1))
            key = key + F.shiftleft(bit, 8 + i)
        return key

    return F.array(*[table_key(t) for t in range(n_tables)])


def _cap_buckets(buckets: DataFrame, bucket_cap: int) -> DataFrame:
    """Salt oversized buckets into ~gsize/cap random sub-buckets.

    Annoy's imbalance fallback (annoylib.h:1337-1425) assigns items to
    random sides when a node won't split; here the salt IS that random
    side. Sub-bucketing bounds the self-join at O(g * cap) instead of
    O(g^2); recall inside a salted bucket degrades gracefully (a pair
    co-occurs with probability cap/gsize per table, recovered across the
    other n_tables-1 tables).
    """
    w = Window.partitionBy("bucket")
    sized = buckets.withColumn("gsize", F.count(F.lit(1)).over(w))
    n_sub = F.ceil(F.col("gsize") / F.lit(bucket_cap)).cast("long")
    salt = F.when(
        F.col("gsize") > bucket_cap,
        F.pmod(F.xxhash64(F.col("id"), F.col("bucket")), n_sub),
    ).otherwise(F.lit(0).cast("long"))
    return sized.withColumn("salt", salt).drop("gsize")


def embedding_near_dup_pairs_lsh(
    items: DataFrame,
    min_cosine: float = 0.99,
    n_tables: int = 16,
    n_bits: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int = 2000,
) -> DataFrame:
    """Scale path for embedding-cosine near-duplicate pairs: (u, v, cosine)
    with cosine >= min_cosine, u < v.

    The O(n^2) theta-join twin (gates.queries.q_embedding_near_dup_pairs)
    stays as the oracle; this operator proposes candidates through capped
    random-hyperplane buckets (cost ~ bucket sizes, not n^2) and keeps the
    exact-cosine re-rank as the decider (annoylib.h:1492-1494). Near-dup
    vectors (cos -> 1) agree on almost every hyperplane sign, so recall at
    min_cosine ~ 0.99 is near-perfect with a handful of tables."""
    dim = len(items.select(vec_col).first()[0])
    keys = hyperplane_keys_udf(dim, n_tables, n_bits, seed)
    base = with_unit_vectors(items, vec_col).select(
        F.col(id_col).alias("id"),
        F.col("unit_vec"),
        keys(F.col(vec_col).cast("array<double>")).alias("keys"),
    )
    buckets = _cap_buckets(
        base.select("id", "unit_vec", F.explode("keys").alias("bucket")),
        bucket_cap,
    )
    cand = (
        buckets.alias("a")
        .join(buckets.alias("b"), ["bucket", "salt"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("u"),
            F.col("b.id").alias("v"),
            F.col("a.unit_vec").alias("qv"),
            F.col("b.unit_vec").alias("nv"),
        )
    )
    # score map-side off the bucket join, filter, THEN dedup: the dedup
    # exchange carries only passing (u, v, cosine) rows — never vectors
    return (
        cand.select("u", "v", _dot("qv", "nv").alias("cosine"))
        .where(F.col("cosine") >= min_cosine)
        .dropDuplicates(["u", "v"])
    )


def knn_lsh(
    items: DataFrame,
    k: int,
    n_tables: int = 8,
    n_bits: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "angular",
    bucket_cap: int = 2000,
    bucket_width: float = 2.0,
    queries: DataFrame | None = None,
    dedup_first: bool | None = None,
) -> DataFrame:
    """All-items approximate top-k: (qid, nid, rank, distance). Candidates =
    pairs sharing >= 1 hyperplane (sub-)bucket; exact re-rank on candidates
    only (annoy semantics: trees propose, the true metric decides).

    queries=DataFrame switches to by-VECTOR mode (get_nns_by_vector,
    annoylib.h:1234-1236): query rows are signed with the SAME planes
    (dot: queries get the 0-augmentation, items the sqrt(M²-|x|²) one) and
    joined against the item buckets. For the persisted build/save/load
    lifecycle use annoy_spark.sources.ann_index.build_index / load_index.

    metric="angular": distance = sqrt(2-2cos) over unit vectors.
    metric="dot": MIPS via the Bachrach reduction (annoylib.h:605-703) —
    item vectors get an extra coordinate sqrt(M^2-|x|^2) (M = max norm),
    query vectors an extra 0; angular buckets over the augmented space
    propose, exact -<q,n> re-ranks. distance = -dot (ascending = best).
    metric="euclidean"/"manhattan": p-stable E2LSH buckets (Gaussian /
    Cauchy projections quantized by bucket_width — the data-independent
    analog of annoy's two-means splits, annoylib.h:849-891), exact L2/L1
    re-rank.
    metric="hamming": vec_col is an array of packed int64 words; each
    table samples n_bits random bit POSITIONS (annoy's axis-aligned
    Hamming splits, annoylib.h:758-792) — keys are built entirely
    JVM-side (shift/mask, whole-stage codegen, no UDF), exact popcount
    re-rank.
    """
    if queries is not None:
        from annoy_spark.sources.ann_index import (
            AnnIndexConfig,
            knn_by_vector_approx,
        )

        cfg = AnnIndexConfig(
            kind="lsh", metric=metric, seed=seed, n_tables=n_tables,
            n_bits=n_bits, bucket_width=bucket_width, bucket_cap=bucket_cap,
        )
        return knn_by_vector_approx(items, queries, cfg, k, id_col, vec_col)

    dim = len(items.select(vec_col).first()[0])
    if dedup_first is None:
        # count the input, not the repartitioned relation: same rows,
        # no exchange to run for a count
        dedup_first = items.count() > (1 << n_bits) * 2 * k

    # parallelism floor (guide §6.1): a small single-row-group parquet scan
    # yields ONE partition, serializing the key UDF + bucket explode that
    # ride the scan. Repartition only when the input is under-split; at
    # scale the scan already has >= defaultParallelism splits and this is
    # a no-op (no constant tuned to local mode).
    target = items.sparkSession.sparkContext.defaultParallelism
    if items.rdd.getNumPartitions() < target:
        items = items.repartition(target, id_col)

    # Candidate assembly (round 6, guide §2.3/§8) with ADAPTIVE dedup
    # placement. Coarse buckets (expected items per bucket >> k): every
    # pair is proposed by ~n_tables tables, so the 16-byte (qid, nid)
    # pairs are deduplicated FIRST and vectors re-attached afterwards —
    # the interpreted higher-order distance then runs once per distinct
    # pair (cut the 4-bit p-stable recall gate 14.3 s -> ~3 s), and at
    # scale the dedup exchange carries ids, not vectors (the stored-index
    # serving shape). Fine buckets (duplication ~1): vectors ride the
    # bucket rows and the narrow (qid, nid, distance) rows dedup AFTER
    # scoring (round-5 shape) — early dedup + re-attach joins are pure
    # overhead there. The switch derives from the data (count vs key
    # space), never from a local-mode constant; the count (taken above,
    # on the pre-repartition input) is one cheap probe next to the dim
    # probe.

    if metric == "dot":
        raw = F.col(vec_col).cast("array<double>")
        # one scalar aggregate (metadata-scale collect, like the dim probe)
        max_n2 = items.select(
            F.max(_norm2(raw)).alias("m")
        ).first()["m"] or 0.0
        aug_item = F.concat(
            raw,
            F.array(F.sqrt(F.greatest(F.lit(0.0), F.lit(max_n2) - _norm2(raw)))),
        )
        aug_query = F.concat(raw, F.array(F.lit(0.0)))
        keys = hyperplane_keys_udf(dim + 1, n_tables, n_bits, seed)
        base = items.select(
            F.col(id_col).alias("id"),
            raw.alias("v"),
            keys(aug_item).alias("ikeys"),
            keys(aug_query).alias("qkeys"),
        )
        qkc, ikc = "qkeys", "ikeys"
        d = -_dot("qv", "nv")
    elif metric == "angular":
        keys = hyperplane_keys_udf(dim, n_tables, n_bits, seed)
        base = with_unit_vectors(items, vec_col).select(
            F.col(id_col).alias("id"),
            F.col("unit_vec").alias("v"),
            keys(F.col(vec_col).cast("array<double>")).alias("keys"),
        )
        qkc = ikc = "keys"
        d = F.sqrt(F.greatest(F.lit(0.0), F.lit(2.0) - 2.0 * _dot("qv", "nv")))
    elif metric in ("euclidean", "manhattan"):
        keys = pstable_keys_udf(
            dim, n_tables, n_bits, seed, bucket_width,
            p=2 if metric == "euclidean" else 1,
        )
        raw = F.col(vec_col).cast("array<double>")
        base = items.select(
            F.col(id_col).alias("id"), raw.alias("v"), keys(raw).alias("keys")
        )
        qkc = ikc = "keys"
        if metric == "euclidean":
            diff = F.zip_with("qv", "nv", lambda x, y: x - y)
            d = F.sqrt(F.greatest(F.lit(0.0), _norm2(diff)))
        else:
            d = F.aggregate(
                F.zip_with("qv", "nv", lambda x, y: F.abs(x - y)),
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x,
            )
    elif metric == "hamming":
        # dim here = number of 64-bit words; sample bit positions per table
        raw = F.col(vec_col)
        base = items.select(
            F.col(id_col).alias("id"), raw.alias("v"),
            hamming_keys_col(raw, dim, n_tables, n_bits, seed).alias("keys"),
        )
        qkc = ikc = "keys"
        d = F.aggregate(
            F.zip_with(
                "qv", "nv",
                lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).cast("double")
    else:
        raise ValueError(
            "knn_lsh supports metric in ('angular','dot','euclidean',"
            f"'manhattan','hamming'), got {metric}"
        )

    if dedup_first:
        # ids only through the bucket self-join; unused columns (v, the
        # key arrays) are pruned out of the exploded relations
        qbuckets = _cap_buckets(
            base.select("id", F.explode(qkc).alias("bucket")), bucket_cap
        )
        ibuckets = qbuckets if ikc == qkc else _cap_buckets(
            base.select("id", F.explode(ikc).alias("bucket")), bucket_cap
        )
        vecs = base.select("id", "v")
        pairs = (
            qbuckets.alias("a")
            .join(ibuckets.alias("b"), ["bucket", "salt"])
            .where(F.col("a.id") != F.col("b.id"))
            .select(F.col("a.id").alias("qid"), F.col("b.id").alias("nid"))
            .dropDuplicates(["qid", "nid"])
        )
        scored = (
            pairs.join(
                vecs.select(F.col("id").alias("qid"), F.col("v").alias("qv")),
                "qid",
            )
            .join(
                vecs.select(F.col("id").alias("nid"), F.col("v").alias("nv")),
                "nid",
            )
            .select("qid", "nid", d.alias("distance"))
        )
    else:
        qbuckets = _cap_buckets(
            base.select("id", "v", F.explode(qkc).alias("bucket")), bucket_cap
        )
        ibuckets = qbuckets if ikc == qkc else _cap_buckets(
            base.select("id", "v", F.explode(ikc).alias("bucket")), bucket_cap
        )
        scored = (
            qbuckets.alias("a")
            .join(ibuckets.alias("b"), ["bucket", "salt"])
            .where(F.col("a.id") != F.col("b.id"))
            .select(
                F.col("a.id").alias("qid"),
                F.col("b.id").alias("nid"),
                F.col("a.v").alias("qv"),
                F.col("b.v").alias("nv"),
            )
            .select("qid", "nid", d.alias("distance"))
            .dropDuplicates(["qid", "nid"])
        )
    w = Window.partitionBy("qid").orderBy(F.col("distance").asc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )
