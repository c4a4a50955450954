"""Stage 1 — header-aware chunker (C1).

Re-implements the reference's ``CustomParser.get_nodes_from_node`` fold
(/root/reference/src/parser.py:94-174) as a pure Python function applied per
document inside an Arrow-batched ``applyInPandas`` (one group == one doc's
span sequence; many docs per Arrow batch).

Semantics preserved rule-for-rule:
- headers flush the current section, then rebuild the header stack:
  level 1 resets the stack, deeper levels truncate entries with lvl >= level
  and append (parser.py:138-142); empty header text is skipped (:135-137);
  the header line itself ("#"*level + " title\\n") seeds the next section
  (:143);
- text spans accumulate into the current section with a trailing newline
  (:147-148);
- table spans are converted HTML->markdown and flushed as their OWN section
  immediately, WITHOUT flushing the accumulating text buffer — "text around a
  table is kept together until the next header" (:150-162 and class
  docstring :31-32);
- image spans are skipped (:164-166); unknown kinds are skipped with the
  reference's warning semantics (:168-169);
- each flushed section is sentence-split into chunks of <= chunk_size tokens
  with token overlap (reference uses LlamaIndex SentenceSplitter
  chunk_size=1024 / overlap=20, parser.py:60-68 — we use a deterministic
  whitespace-token surrogate, documented deviation: tiktoken is not a
  dependency; both the Spark pipeline and the correctness oracle share this
  exact function so parity is well-defined);
- header_path metadata is '/' + '/'.join(titles) + '/', or '/' when the
  stack is empty (parser.py:191-198);
- prev/next chunk relationships within a doc (parser.py:185-189 via
  build_nodes_from_splits).

Header spans arrive as kind='header', text='<level>|<title>' per FIXTURES.md
§1 (mirrors MinerU's text_level elements).
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from typing import List, Tuple

import pandas as pd

from wbkg.schemas import CHUNKS

DEFAULT_CHUNK_SIZE = 1024
DEFAULT_CHUNK_OVERLAP = 20

_SENT_RE = re.compile(r"(?<=[.!?])\s+")
_WS_RE = re.compile(r"\s+")

# --- HTML table -> markdown (surrogate for BeautifulSoup+markdownify, ---------
# --- parser.py:151-160; reference tests only require cell text survival) ------

_TR_RE = re.compile(r"<tr[^>]*>(.*?)</tr>", re.IGNORECASE | re.DOTALL)
_CELL_RE = re.compile(r"<t[hd][^>]*>(.*?)</t[hd]>", re.IGNORECASE | re.DOTALL)
_TAG_RE = re.compile(r"<[^>]+>")


def html_table_to_markdown(html: str) -> str:
    """Convert a simple HTML table to a markdown pipe table."""
    if not html:
        return ""
    rows: List[List[str]] = []
    for row_html in _TR_RE.findall(html):
        cells = [_WS_RE.sub(" ", _TAG_RE.sub("", c)).strip() for c in _CELL_RE.findall(row_html)]
        if cells:
            rows.append(cells)
    if not rows:
        # no <tr> structure; strip tags and return the text
        return _WS_RE.sub(" ", _TAG_RE.sub(" ", html)).strip()
    width = max(len(r) for r in rows)
    rows = [r + [""] * (width - len(r)) for r in rows]
    lines = ["| " + " | ".join(rows[0]) + " |", "|" + " --- |" * width]
    for r in rows[1:]:
        lines.append("| " + " | ".join(r) + " |")
    return "\n".join(lines)


# --- sentence splitter (deterministic SentenceSplitter surrogate) -------------


def split_sentences(text: str) -> List[str]:
    return [s for s in _SENT_RE.split(text) if s]


def _n_tokens(text: str) -> int:
    return len(text.split())


def split_text(text: str, chunk_size: int, chunk_overlap: int) -> List[str]:
    """Greedy sentence packing into <= chunk_size whitespace tokens with
    ~chunk_overlap tokens of trailing-sentence overlap between chunks."""
    text = text.strip()
    if not text:
        return []
    if _n_tokens(text) <= chunk_size:
        return [text]

    sentences: List[str] = []
    for s in split_sentences(text):
        if _n_tokens(s) > chunk_size:  # hard-split oversized sentences by words
            words = s.split()
            for i in range(0, len(words), chunk_size):
                sentences.append(" ".join(words[i : i + chunk_size]))
        else:
            sentences.append(s)

    chunks: List[str] = []
    cur: List[str] = []
    cur_tokens = 0
    for sent in sentences:
        st = _n_tokens(sent)
        if cur and cur_tokens + st > chunk_size:
            chunks.append(" ".join(cur))
            # build overlap from trailing sentences of the finished chunk
            overlap: List[str] = []
            otokens = 0
            for prev in reversed(cur):
                pt = _n_tokens(prev)
                if otokens + pt > chunk_overlap:
                    break
                overlap.insert(0, prev)
                otokens += pt
            cur = overlap[:]
            cur_tokens = otokens
        cur.append(sent)
        cur_tokens += st
    if cur:
        chunks.append(" ".join(cur))
    return chunks


# --- the fold (pure; shared by Spark UDF and the correctness oracle) ----------


def parse_header_span(text: str) -> Tuple[int, str]:
    """Decode the 'level|title' header convention (FIXTURES.md §1)."""
    if "|" in text:
        lvl_s, title = text.split("|", 1)
        try:
            return max(1, int(lvl_s)), title
        except ValueError:
            return 1, text
    return 1, text


def chunk_spans_py(
    spans: List[dict],
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    chunk_overlap: int = DEFAULT_CHUNK_OVERLAP,
) -> List[dict]:
    """The reference parser fold. spans: [{kind,text,media_ref,offset}].

    Returns [{chunk_idx, text, header_path}] in document order.
    """
    out: List[dict] = []
    header_stack: List[Tuple[int, str]] = []
    current_section = ""

    def flush(section: str) -> str:
        if not section.strip():
            return ""
        header_path = "/".join(h for _, h in header_stack)
        header_path = "/" + header_path + "/" if header_path else "/"
        for piece in split_text(section.strip(), chunk_size, chunk_overlap):
            out.append({"chunk_idx": len(out), "text": piece, "header_path": header_path})
        return ""

    for span in sorted(spans, key=lambda s: s["offset"]):
        kind = span.get("kind")
        text = span.get("text") or ""
        if kind == "header":
            current_section = flush(current_section)
            level, title = parse_header_span(text)
            title = title.strip()
            if not title:
                continue
            if level == 1:
                header_stack = [(1, title)]
            else:
                header_stack = [(lvl, h) for lvl, h in header_stack if lvl < level]
                header_stack.append((level, title))
            current_section = "#" * level + f" {title}\n"
        elif kind == "text":
            current_section += text + "\n"
        elif kind == "table":
            flush(html_table_to_markdown(text))  # own section; buffer untouched
        elif kind == "image":
            continue  # parser.py:164-166
        else:
            continue  # unknown kind: warn-and-skip semantics (parser.py:168-169)

    flush(current_section)
    return out


# --- Spark operator ------------------------------------------------------------


def chunk_documents(
    docs_df,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    chunk_overlap: int = DEFAULT_CHUNK_OVERLAP,
):
    """documents_interleaved (doc_id, spans) -> CHUNKS DataFrame. Unfused
    reference operator: the pipelines chunk inside extract.chunk_and_extract,
    which the tests check against this one.

    Uses mapInPandas (not groupBy().applyInPandas): each input row is already
    one whole document, so no shuffle is needed — the fold runs where the
    data sits, preserving the scan's partitioning. At 100 TB this matters:
    a grouped-map would shuffle every span of every document once for no
    semantic gain.
    """

    def fold_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                if spans is None:
                    spans = []
                span_dicts = [s if isinstance(s, dict) else s.asDict() for s in spans]
                chunks = chunk_spans_py(span_dicts, chunk_size, chunk_overlap)
                n = len(chunks)
                for c in chunks:
                    i = c["chunk_idx"]
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "chunk_id": f"{doc_id}_chunk_{i}",
                            "chunk_idx": i,
                            "text": c["text"],
                            "header_path": c["header_path"],
                            "prev_id": f"{doc_id}_chunk_{i - 1}" if i > 0 else None,
                            "next_id": f"{doc_id}_chunk_{i + 1}" if i < n - 1 else None,
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in CHUNKS.fields],
            )

    return docs_df.select("doc_id", "spans").mapInPandas(fold_batches, schema=CHUNKS)
