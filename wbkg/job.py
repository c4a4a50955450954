"""spark-submit entry point (north_rule: `spark-submit --py-files wbkg.zip
wbkg/job.py ...` on a multi-executor cluster).

The checkpointed variant of `wbkg.pipeline.run_pipeline`, built from the
same two halves: the fused extraction pass (`extract.chunk_and_extract`:
chunks + per-doc acronyms + per-chunk mentions in one mapInPandas) is the
one per-document stage, checkpointed at doc_id granularity and wrapped with
per-partition lineage metrics; the relational KG tail
(`pipeline.kg_from_fused`: link, canonicalize, materialize) recomputes from
that checkpoint. A killed job re-submitted with the same --work-dir resumes
with zero recomputation of checkpointed documents (CheckpointManager
anti-join; SURVEY §4.3). The JSON report's `recomputed.chunks` is the number
of documents extracted by this submission.

Usage:
  spark-submit --py-files wbkg.zip wbkg/job.py \
      --n-docs 2000 --work-dir /tmp/wbkg_run [--input <parquet>] \
      [--link-strategy broadcast|salted] [--heuristic-ner] [--with-communities]

Packaging: `python -m wbkg.job --make-zip wbkg.zip` emits the --py-files
artifact.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def build_zip(path: str) -> str:
    import zipfile

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with zipfile.ZipFile(path, "w") as z:
        for dirpath, _dirs, files in os.walk(os.path.join(root, "wbkg")):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, root))
    return path


def main(argv=None, spark=None):
    p = argparse.ArgumentParser()
    p.add_argument("--n-docs", type=int, default=1000)
    p.add_argument("--input", default=None, help="parquet of (doc_id, spans); synthesized when omitted")
    p.add_argument("--metadata", default=None)
    p.add_argument("--work-dir", required=False, default="/tmp/wbkg_run")
    p.add_argument("--link-strategy", default="broadcast", choices=["broadcast", "salted"])
    p.add_argument("--with-communities", action="store_true")
    p.add_argument(
        "--heuristic-ner",
        action="store_true",
        help="enable the C5 heuristic NER pass (capitalized n-gram candidate "
        "emitter merged ruler-first after dictionary/acronym spans); adds "
        "HEUR_ENT mentions for entities outside the dictionary",
    )
    p.add_argument(
        "--partition-edges-by-pred",
        action="store_true",
        help="lay the edges table out partitioned by a low-cardinality "
        "predicate bucket: queries that filter on pred (docs_mentioning, "
        "J9 self-join, graph hops) prune whole partitions at the scan. "
        "Off by default so the flat edges/*.parquet layout stays "
        "glob-queryable by external consumers.",
    )
    p.add_argument(
        "--bucket-tables",
        type=int,
        default=0,
        metavar="N_BUCKETS",
        help="additionally persist the chunks and linked-mentions tables as "
        "session-catalog tables bucketed (and sorted) on chunk_id with "
        "N_BUCKETS buckets. Downstream chunk-granularity joins between the "
        "two (mention-in-context retrieval, community summarization's "
        "chunk-text join) then compile WITHOUT an exchange on either side — "
        "at 100 TB that is the difference between re-shuffling the full "
        "mention stream per consumer query and none. In an Iceberg "
        "deployment this is `PARTITIONED BY (bucket(N, chunk_id))` with "
        "storage-partitioned joins.",
    )
    p.add_argument("--make-zip", default=None)
    args = p.parse_args(argv)

    if args.make_zip:
        print(build_zip(args.make_zip))
        return 0

    from pyspark.sql import functions as F

    from wbkg.checkpoint import CheckpointManager
    from wbkg.extract import build_pattern_rows, chunk_and_extract
    from wbkg.materialize import nodes_from_edges, union_distinct
    from wbkg.metrics import with_lineage
    from wbkg.pipeline import kg_from_fused
    from wbkg.session import get_spark
    from wbkg.synth import (
        build_entity_dict_rows,
        build_unbis_rows,
        entity_dict_df,
        gen_documents_df,
        gen_metadata_df,
    )

    own_session = spark is None
    if own_session:
        spark = get_spark("wbkg-job")
    t0 = time.time()
    work_dir = args.work_dir
    ckpt = CheckpointManager(spark, os.path.join(work_dir, "checkpoints"))
    metrics_dir = os.path.join(work_dir, "metrics")

    docs = (
        spark.read.parquet(args.input)
        if args.input
        else gen_documents_df(spark, args.n_docs)
    )
    meta = (
        spark.read.parquet(args.metadata)
        if args.metadata
        else gen_metadata_df(spark, args.n_docs)
    )
    edict = entity_dict_df(spark, args.n_docs)
    pats = build_pattern_rows(build_entity_dict_rows(args.n_docs), build_unbis_rows())

    # the one per-document stage: the fused extraction table, checkpointed
    # per doc_id. Its stage name differs from the per-operator stages
    # (chunks/acronyms/mentions) older builds wrote, so a work dir from one
    # of those recomputes every document instead of misreading their tables.
    fused = ckpt.run_stage(
        "fused",
        docs,
        lambda d: with_lineage(
            chunk_and_extract(d, pats, heuristic_ner=args.heuristic_ner), "fused", metrics_dir
        ),
        keys=["doc_id"],
    )
    # documents extracted by this submission; report readers know it as "chunks"
    recomputed = {"chunks": ckpt.last_recomputed}

    kg = kg_from_fused(
        fused, edict, metadata_df=meta, link_strategy=args.link_strategy, persist_edges=False
    )
    chunks, linked_c = kg["chunks"], kg["linked"]

    bucketed_info = None
    if args.bucket_tables:
        # co-located layout for the chunk-granularity consumers: both tables
        # hash into the same chunk_id buckets, so chunks ⋈ linked on chunk_id
        # is exchange-free (asserted below, surfaced in the job report).
        import re

        from wbkg.io import bucketed_join_plan_has_no_exchange, write_bucketed

        prefix = re.sub(r"\W+", "_", os.path.basename(work_dir.rstrip("/"))) or "wbkg"
        t_chunks, t_linked = f"{prefix}_chunks_b", f"{prefix}_linked_b"
        write_bucketed(chunks, t_chunks, ["chunk_id"], args.bucket_tables, sort_cols=["chunk_id"])
        write_bucketed(linked_c, t_linked, ["chunk_id"], args.bucket_tables, sort_cols=["chunk_id"])
        bucketed_info = {
            "tables": [t_chunks, t_linked],
            "n_buckets": args.bucket_tables,
            "no_exchange_join": bucketed_join_plan_has_no_exchange(
                spark, t_chunks, t_linked, "chunk_id"
            ),
        }

    edges = kg["edges"]
    if args.with_communities:
        from wbkg.communities import (
            community_triples,
            cooccurrence_edges,
            final_communities,
            hierarchical_communities,
            summarize_communities,
            summary_triples,
        )

        # hierarchical detection with the reference's max_cluster_size=50
        # bound (ref src/summarize.py:160-166); triples/summaries use the
        # leaf-level assignment
        co = cooccurrence_edges(linked_c)
        comms = final_communities(hierarchical_communities(co, max_cluster_size=50)).persist()
        # community and summary triples share no (subj, pred, obj) with the
        # KG tail's edges, so only they need deduplicating among themselves
        edges = edges.unionByName(
            union_distinct(
                community_triples(comms), summary_triples(summarize_communities(comms, chunks))
            )
        )

    if args.partition_edges_by_pred:
        # partition key = terminal pred segment (schema.org/mentions ->
        # 'mentions'): ~15 distinct values, so the layout stays wide-file,
        # and every pred-filtered query prunes to one directory. In an
        # Iceberg deployment this is `PARTITIONED BY (pred_bucket)` with
        # the same derived column.
        pred_bucket = F.regexp_extract(F.col("pred"), r"([^/#]+)$", 1)
        edges.withColumn("pred_bucket", pred_bucket).write.mode("overwrite").partitionBy(
            "pred_bucket"
        ).parquet(os.path.join(work_dir, "edges"))
        edges_out = spark.read.parquet(os.path.join(work_dir, "edges")).drop("pred_bucket")
    else:
        edges.write.mode("overwrite").parquet(os.path.join(work_dir, "edges"))
        edges_out = spark.read.parquet(os.path.join(work_dir, "edges"))
    nodes_from_edges(edges_out).write.mode("overwrite").parquet(os.path.join(work_dir, "nodes"))

    n_edges = edges_out.count()
    dt = time.time() - t0
    print(
        json.dumps(
            {
                "edges": n_edges,
                "seconds": round(dt, 2),
                "triples_per_sec": round(n_edges / dt, 1),
                "recomputed": recomputed,
                "work_dir": work_dir,
                **({"bucketed": bucketed_info} if bucketed_info else {}),
            }
        )
    )
    if own_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
