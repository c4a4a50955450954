"""The fused single-pass extraction must produce byte-identical tables to
the unfused operator chain (chunk_documents -> extract_acronyms ->
extract_mentions)."""

from wbkg.extract import (
    acronyms_from_fused,
    build_pattern_rows,
    chunk_and_extract,
    chunks_from_fused,
    extract_acronyms,
    extract_mentions,
    mentions_from_fused,
)
from wbkg.chunker import chunk_documents
from wbkg.synth import build_entity_dict_rows, build_unbis_rows, gen_documents_df


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_fused_equals_unfused(spark):
    n = 25
    docs = gen_documents_df(spark, n, partitions=4).persist()
    pats = build_pattern_rows(build_entity_dict_rows(n), build_unbis_rows())

    fused = chunk_and_extract(docs, pats).persist()

    chunks_u = chunk_documents(docs).persist()
    acr_u = extract_acronyms(chunks_u)
    mentions_u = extract_mentions(chunks_u, acr_u, pats)

    chunk_cols = ["doc_id", "chunk_id", "chunk_idx", "text", "header_path", "prev_id", "next_id"]
    assert _rows(chunks_from_fused(fused), chunk_cols) == _rows(chunks_u, chunk_cols)

    acr_cols = ["doc_id", "abbr", "expansion", "source"]
    assert _rows(acronyms_from_fused(fused), acr_cols) == _rows(acr_u, acr_cols)

    m_cols = ["doc_id", "chunk_id", "surface", "surface_norm", "label", "rule_id", "begin", "end"]
    assert _rows(mentions_from_fused(fused), m_cols) == _rows(mentions_u, m_cols)

    docs.unpersist()
    fused.unpersist()
    chunks_u.unpersist()

