"""Output checks and statistics of the KG benchmark.

Everything here is plain Python (DuckDB for the lookup references), so the
arithmetic is testable without Spark:

- `percentile`: nearest-rank percentile that refuses to report a percentile
  with fewer than ten samples beyond it (p50 needs 20 samples, p90 needs 100).
- `fingerprint` / `compare_edges`: order-insensitive comparison of an edge
  set with the pure-Python fidelity oracle (`wbkg.oracle.oracle_pipeline`).
- `oracle_triples`: the oracle over the first `n_docs` documents of an
  `n_total`-document corpus of a given weight.
- `LookupReference`: DuckDB SQL answers for every lookup template, over the
  same edges parquet the engine queried.
"""

from __future__ import annotations

import contextlib
import hashlib
import math
from collections import Counter
from typing import Iterable, Sequence, Tuple

SCHEMA = "http://schema.org/"
EX = "http://worldbank.example.org/"
MENTIONS = SCHEMA + "mentions"
NAME = SCHEMA + "name"
IS_PART_OF = SCHEMA + "isPartOf"

Triple = Tuple[str, str, str]
_MASK = (1 << 64) - 1


def percentile(values: Sequence[float], q: float) -> float:
    """Nearest-rank q-th percentile of `values` (0 < q < 100).

    Raises ValueError unless at least ten samples lie beyond the requested
    rank: a percentile with fewer samples above it is not a measurement of
    the tail it names."""
    if not 0 < q < 100:
        raise ValueError(f"percentile {q} outside (0, 100)")
    n = len(values)
    if n * (100 - q) / 100 < 10:
        need = math.ceil(1000 / (100 - q))
        raise ValueError(f"p{q:g} needs at least {need} samples, got {n}")
    return sorted(values)[math.ceil(q / 100 * n) - 1]


def _triple_hash(t: Triple) -> int:
    h = hashlib.blake2b(digest_size=8)
    for part in t:
        b = part.encode()
        h.update(len(b).to_bytes(4, "little"))
        h.update(b)
    return int.from_bytes(h.digest(), "little")


def fingerprint(triples: Iterable[Triple]) -> Tuple[int, int]:
    """(row count, order-insensitive 64-bit hash) of an edge list. A
    duplicated row changes the count, so a bag compares equal to a set only
    when it has no duplicates."""
    n, acc = 0, 0
    for t in triples:
        n += 1
        acc = (acc + _triple_hash(t)) & _MASK
    return n, acc


def compare_edges(got: Sequence[Triple], expected: set) -> dict:
    """Compare engine edges with the oracle's triple set by count plus an
    order-insensitive hash; on a mismatch also report precision/recall."""
    ok = fingerprint(got) == fingerprint(expected)
    out = {"ok": ok, "rows": len(got), "expected": len(expected)}
    if not ok:
        got_set = set(got)
        hit = len(got_set & expected)
        out["precision"] = hit / max(len(got_set), 1)
        out["recall"] = hit / max(len(expected), 1)
        out["duplicates"] = len(got) - len(got_set)
    return out


@contextlib.contextmanager
def _universe(n_total: int, weight: int):
    """Make the oracle generate documents, metadata and the entity dictionary
    of an `n_total`-document corpus of the given weight, whatever prefix of
    it oracle_pipeline is asked for."""
    from wbkg import oracle, synth

    patched = {
        "gen_doc": lambda i, _n, seed: synth.gen_doc(i, n_total, seed, weight),
        "gen_metadata_row": lambda i, _n, seed: synth.gen_metadata_row(i, n_total, seed),
        "build_entity_dict_rows": lambda _n: synth.build_entity_dict_rows(n_total),
    }
    saved = {name: getattr(oracle, name) for name in patched}
    for name, fn in patched.items():
        setattr(oracle, name, fn)
    try:
        yield oracle
    finally:
        for name, fn in saved.items():
            setattr(oracle, name, fn)


def oracle_triples(n_docs: int, n_total: int, seed: int, weight: int) -> set:
    """Reference triple set for documents 0..n_docs-1 of the corpus."""
    with _universe(n_total, weight) as oracle:
        return oracle.oracle_pipeline(n_docs, seed=seed)


def _rows(cur) -> list:
    return [tuple(r) for r in cur.fetchall()]


class LookupReference:
    """DuckDB answers for the lookup templates and the analytics slice, in
    the normal form run.py compares the engine's rows in (sorted list,
    Counter for SPARQL bags, ordered list for the top-k)."""

    def __init__(self, edges_glob: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE VIEW e AS SELECT subj, pred, obj FROM read_parquet('{edges_glob}')"
        )
        # chunk -> entity mention edges (URIs hold no quotes)
        self.con.execute(
            f"CREATE VIEW me AS SELECT subj, obj FROM e "
            f"WHERE pred = '{MENTIONS}' AND starts_with(subj, '{EX}chunk/')"
        )

    def close(self) -> None:
        self.con.close()

    def docs_mentioning(self, name: str):
        return sorted(_rows(self.con.execute(
            "SELECT DISTINCT m.subj FROM e m JOIN e n ON m.obj = n.subj "
            "WHERE n.pred = ? AND lower(n.obj) = lower(?) AND m.pred = ? "
            "AND starts_with(m.subj, ?)",
            [NAME, name, MENTIONS, EX + "document/"],
        )))

    def entity_neighborhood(self, start: str):
        return sorted(_rows(self.con.execute(
            "WITH s AS (SELECT subj AS src, obj AS dst FROM e "
            "           UNION ALL SELECT obj, subj FROM e), "
            "h1 AS (SELECT DISTINCT dst AS node FROM s WHERE src = $1 AND dst <> $1), "
            "h2 AS (SELECT DISTINCT s.dst AS node FROM s JOIN h1 ON s.src = h1.node "
            "       WHERE s.dst <> $1 AND s.dst NOT IN (SELECT node FROM h1)) "
            "SELECT $1, 0 UNION ALL SELECT node, 1 FROM h1 UNION ALL SELECT node, 2 FROM h2",
            [start],
        )))

    def sibling_chunks(self, chunk_uri: str):
        return sorted(_rows(self.con.execute(
            "SELECT DISTINCT subj FROM me WHERE subj <> $1 "
            "AND obj IN (SELECT obj FROM me WHERE subj = $1)",
            [chunk_uri],
        )))

    def sparql_two(self, ent: str):
        return Counter(_rows(self.con.execute(
            "SELECT a.subj, b.obj FROM e a JOIN e b ON a.subj = b.subj "
            "WHERE a.pred = ? AND a.obj = ? AND b.pred = ?",
            [MENTIONS, ent, IS_PART_OF],
        )))

    def sparql_three(self, ent: str):
        return Counter(_rows(self.con.execute(
            "SELECT DISTINCT b.obj, c.obj FROM e a JOIN e b ON a.subj = b.subj "
            "JOIN e c ON b.obj = c.subj "
            "WHERE a.pred = ? AND a.obj = ? AND b.pred = ? AND c.pred = ?",
            [MENTIONS, ent, IS_PART_OF, NAME],
        )))

    def top_entities(self, doc_uri: str, k: int):
        return _rows(self.con.execute(
            "SELECT a.obj, count(*) AS n FROM e a JOIN e b ON a.subj = b.subj "
            "WHERE a.pred = ? AND b.pred = ? AND b.obj = ? "
            "GROUP BY a.obj ORDER BY n DESC, a.obj LIMIT ?",
            [MENTIONS, IS_PART_OF, doc_uri, k],
        ))

    def cooccurrence(self, chunk_prefix_end: str, cap: int):
        """Chunk co-occurrence edges of the analytics slice, with the same
        first-`cap`-chunks-per-entity bound as communities.cooccurrence_edges."""
        return sorted(_rows(self.con.execute(
            "WITH p AS (SELECT DISTINCT substr(subj, length(?) + 1) AS chunk_id, obj AS ent "
            "           FROM me WHERE subj < ?), "
            "r AS (SELECT chunk_id, ent, row_number() OVER "
            "      (PARTITION BY ent ORDER BY chunk_id) AS rn FROM p) "
            "SELECT a.chunk_id, b.chunk_id, count(*) FROM r a JOIN r b "
            "ON a.ent = b.ent AND a.chunk_id < b.chunk_id "
            "WHERE a.rn <= ? AND b.rn <= ? GROUP BY 1, 2",
            [EX + "chunk/", chunk_prefix_end, cap, cap],
        )))
