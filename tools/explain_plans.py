"""Dump physical plans of the key operators to PLANS.md.

Evidence that the declared plans compile to what we want: parquet scans with
pruned schemas + pushed filters, broadcast joins where intended, map-side
combined aggregations, ArrowEvalPython only where vectorized UDFs run.

Usage: python tools/explain_plans.py
"""

from __future__ import annotations

import contextlib
import io
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from pyspark.sql import functions as F

    from annoy_spark.config import DedupConfig
    from annoy_spark.corpus import generate_corpus
    from annoy_spark.operators.band import all_candidate_edges
    from annoy_spark.operators.knn import knn_bruteforce
    from annoy_spark.operators.sign import sign
    from annoy_spark.operators.verify import verify
    from annoy_spark.session import get_spark

    spark = get_spark("plans", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    cfg = DedupConfig()

    corpus, _ = generate_corpus(spark, 500, seed=42, partitions=4)
    corpus.write.mode("overwrite").parquet("/tmp/plans_corpus")
    corpus = spark.read.parquet("/tmp/plans_corpus")

    sigs = sign(corpus, cfg)
    sigs.write.mode("overwrite").parquet("/tmp/plans_sigs")
    sigs_p = spark.read.parquet("/tmp/plans_sigs")

    cand, _ = all_candidate_edges(sigs_p, cfg)
    cand.write.mode("overwrite").parquet("/tmp/plans_cand")
    cand_p = spark.read.parquet("/tmp/plans_cand")

    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(16)),
                    lambda i: F.rand(42) ).alias("embedding"),
    )

    from annoy_spark.operators.hamming_pairs import hamming_pairs
    from annoy_spark.operators.knn import knn_lsh

    sections = {
        "SIGN stage (scan -> codegen string ops -> one ArrowEvalPython)":
            plan_of(sign(corpus, cfg)),
        "CANDIDATE stage (posexplode -> map-side-combined min/count -> "
        "tiered joins)": plan_of(all_candidate_edges(sigs_p, cfg)[0]),
        "VERIFY stage (id-only broadcast + semi-filtered second join; "
        "shingle arrays never broadcast)":
            plan_of(verify(cand_p, sigs_p, cfg, small_candidates=True)),
        "KNN brute force (broadcast queries, no shuffle of items)":
            plan_of(knn_bruteforce(emb, emb.limit(5), k=3)),
        "KNN LSH (capped/salted bucket self-join, exact re-rank)":
            plan_of(knn_lsh(emb, k=3, n_tables=4, n_bits=4)),
        "HAMMING ALL-PAIRS (pigeonhole block equi-join, distinct-signature "
        "collapse, popcount re-rank)":
            plan_of(hamming_pairs(
                sigs_p.select(F.col("file_id").alias("doc_id"),
                              F.col("simhash").alias("sig")),
                t=cfg.hamming_t, n_bits=cfg.simhash_bits)),
    }

    from annoy_spark.operators.forest import knn_forest

    sections[
        "KNN FOREST (broadcast two_means trees -> one Arrow routing pass -> "
        "capped (tree, leaf) equi-join, exact re-rank)"
    ] = plan_of(knn_forest(emb, k=3, n_trees=4, leaf_cap=16,
                           sample_fraction=1.0))

    # persisted ANN index: by-vector query against STORED parquet
    # artifacts — parquet scans of buckets/vectors, the query batch
    # routed on the driver and broadcast as a local relation (no Python
    # eval node), narrow (qid, nid) dedup before the vector re-attach
    import tempfile

    from annoy_spark.sources.ann_index import AnnIndexConfig, build_index

    idx_root = tempfile.mkdtemp(prefix="plans_annidx_")
    idx = build_index(
        spark, emb, idx_root,
        AnnIndexConfig(kind="forest", n_trees=4, leaf_cap=16,
                       sample_fraction=1.0),
    )
    queries = emb.limit(5).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    sections[
        "ANN INDEX QUERY (stored bucket/vector parquet scans, "
        "driver-routed query batch broadcast as a local relation, "
        "narrow (qid,nid) dedup, re-attach vectors, exact re-rank)"
    ] = plan_of(idx.query(queries, k=3, spill_eps=0.1,
                          small_queries=True))

    # the guarded fallback: the SAME query above a large batch — routing
    # runs on the executors, the query-derived sides lose their broadcast
    # hints and the joins degrade to shuffle equi-joins instead of a
    # broadcast OOM
    sections[
        "ANN INDEX QUERY — LARGE-BATCH FALLBACK (small_queries=False: "
        "one ArrowEvalPython routing pass on the executors, no "
        "query-side broadcast hints; shuffle equi-joins; AQE decides "
        "the candidate join from measured size)"
    ] = plan_of(idx.query(queries, k=3, spill_eps=0.1,
                          small_queries=False))

    # after append + compact the serving plan must be SHAPE-IDENTICAL —
    # compaction only changes file layout (fewer, bucket-sorted files),
    # never the logical relations the plan is built from
    from annoy_spark.sources.ann_index import compact_index

    idx.unload()
    from annoy_spark.sources.ann_index import append_index

    append_index(spark, idx_root, emb.select(
        (F.col("vec_id") + 5000).alias("vec_id"), "embedding"))
    cidx = compact_index(spark, idx_root)
    sections[
        "ANN INDEX QUERY AFTER APPEND+COMPACT (same driver-routed plan "
        "shape over the consolidated bucket-sorted artifacts — "
        "compaction is layout-only)"
    ] = plan_of(cidx.query(queries, k=3, spill_eps=0.1,
                           small_queries=True))

    out = ["# PLANS — physical plan evidence (auto-generated)\n",
           "Regenerate: `python tools/explain_plans.py`\n"]
    for title, text in sections.items():
        out.append(f"\n## {title}\n\n```\n{text}\n```\n")
    (REPO / "PLANS.md").write_text("".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
