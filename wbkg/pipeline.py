"""End-to-end pipeline orchestration (SURVEY §7.0 target architecture).

fused chunk + acronyms + mentions -> link -> canonicalize -> materialize.
`chunk_and_extract` is the one extraction pass; `kg_from_fused` is the KG
tail every batch entry point runs on its output (`run_pipeline` in memory,
`wbkg.job` on the checkpointed fused table). Both return every intermediate
so tests/checkpointing/benchmarks can grab any boundary.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wbkg.canonicalize import apply_canonicalization, canonical_map
from wbkg.extract import (
    acronyms_from_fused,
    chunk_and_extract,
    chunks_from_fused,
    mentions_from_fused,
)
from wbkg.link import link_mentions
from wbkg.materialize import (
    RDF_TYPE,
    chunk_mention_triples,
    chunk_node_triples,
    entity_triples,
    metadata_triples,
    nodes_from_edges,
    union_distinct,
)


def kg_from_fused(
    fused: DataFrame,
    entity_dict_df: DataFrame,
    metadata_df: Optional[DataFrame] = None,
    link_strategy: str = "broadcast",
    cache: bool = True,
    persist_edges: bool = True,
    country_props_df: Optional[DataFrame] = None,
) -> Dict[str, DataFrame]:
    """KG tail over the fused extraction table (FUSED_SCHEMA rows): link ->
    canonical map -> apply -> entity/chunk-mention/metadata triples ->
    union-distinct edges, with the chunk node triples unioned in after
    dedup."""
    if cache:
        fused = fused.persist()
    chunks = chunks_from_fused(fused)
    acronyms = acronyms_from_fused(fused)
    mentions = mentions_from_fused(fused)
    linked = link_mentions(mentions, entity_dict_df, strategy=link_strategy)
    if cache:
        linked = linked.persist()

    cmap = canonical_map(entity_dict_df, acronyms, linked)
    linked_c = apply_canonicalization(linked, cmap)
    if cache:
        linked_c = linked_c.persist()

    ent_edges = entity_triples(linked_c)
    if cache:
        ent_edges = ent_edges.persist()
    typed_entities = (
        ent_edges.filter(F.col("pred") == RDF_TYPE).select(F.col("subj").alias("uri")).distinct()
    )

    # chunk node triples (incl. the heavy schema:text literals) are unique by
    # construction — union them in AFTER dedup so the text payload never
    # rides through the dropDuplicates shuffle
    frames = [ent_edges, chunk_mention_triples(linked_c, typed_entities)]
    if metadata_df is not None:
        frames.append(
            metadata_triples(
                metadata_df, entity_dict_df, dedup=False, country_props=country_props_df
            )
        )
    edges = union_distinct(*frames).unionByName(chunk_node_triples(chunks))
    if cache and persist_edges:
        # single-pass consumers (write once / count once) should pass
        # persist_edges=False — building the cache block costs a full copy
        edges = edges.persist()
    nodes = nodes_from_edges(edges)

    return {
        "chunks": chunks,
        "acronyms": acronyms,
        "mentions": mentions,
        "linked": linked_c,
        "canonical_map": cmap,
        "edges": edges,
        "nodes": nodes,
    }


def run_pipeline(
    spark: SparkSession,
    docs_df: DataFrame,
    entity_dict_df: DataFrame,
    pattern_rows: List[Tuple[str, str, str]],
    metadata_df: Optional[DataFrame] = None,
    link_strategy: str = "broadcast",
    cache: bool = True,
    persist_edges: bool = True,
    country_props_df: Optional[DataFrame] = None,
    heuristic_ner: bool = False,
) -> Dict[str, DataFrame]:
    # fused stage 1+2: one mapInPandas pass produces chunks, per-doc
    # acronyms and per-chunk mentions with zero shuffles (see
    # extract.chunk_and_extract)
    fused = chunk_and_extract(docs_df, pattern_rows, heuristic_ner=heuristic_ner)
    return kg_from_fused(
        fused,
        entity_dict_df,
        metadata_df=metadata_df,
        link_strategy=link_strategy,
        cache=cache,
        persist_edges=persist_edges,
        country_props_df=country_props_df,
    )
