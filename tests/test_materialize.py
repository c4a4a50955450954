import pytest
from pyspark.sql import functions as F

from wbkg.materialize import (
    dedup_latest,
    sanitize_column,
    sanitize_str_py,
    to_turtle_lines,
    union_distinct,
)


def test_sanitize_column_matches_pure(spark):
    vals = ["México City", "a-b-c", "  x  y ", "nan", "Türkiye", None, "__pad__"]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = [r.s for r in df.select(sanitize_column(F.col("v")).alias("s")).collect()]
    want = [sanitize_str_py(v) if v is not None else None for v in vals]
    # Spark translate(null) -> null; pure fn mirrors
    assert got == want
    assert got[0] == "Mexico_City"
    assert got[3] is None  # 'nan' -> null (ref graph.py:148)
    assert got[4] == "Turkiye"
    assert got[6] == "pad"


def test_dedup_latest_tiebreak(spark):
    df = spark.createDataFrame(
        [
            ("d1", "old", "2024-01-01 00:00:00"),
            ("d1", "new", "2024-02-01 00:00:00"),
            ("d2", "only", "2024-01-01 00:00:00"),
        ],
        "id string, display_title string, last_modified_date string",
    ).withColumn("last_modified_date", F.col("last_modified_date").cast("timestamp"))
    out = {r.id: r.display_title for r in dedup_latest(df).collect()}
    assert out == {"d1": "new", "d2": "only"}


def test_union_distinct_collapses(spark):
    e = spark.createDataFrame(
        [("s", "p", "o", False, None)],
        "subj string, pred string, obj string, obj_is_literal boolean, lang string",
    )
    assert union_distinct(e, e, e).count() == 1


def test_turtle_lines(spark):
    e = spark.createDataFrame(
        [
            ("http://x/s", "http://schema.org/name", 'va"l', True, "en"),
            ("http://x/s", "rdf:type", "http://schema.org/Thing", False, None),
        ],
        "subj string, pred string, obj string, obj_is_literal boolean, lang string",
    )
    lines = sorted(r.line for r in to_turtle_lines(e).collect())
    assert lines[0] == '<http://x/s> <http://schema.org/name> "va\\"l"@en .'
    assert lines[1] == "<http://x/s> rdf:type <http://schema.org/Thing> ."


# --------------------------------------------------------------------------- #
# canonicalization keying + CC hardening (ADVICE r01 / VERDICT r01 #9)         #
# --------------------------------------------------------------------------- #


def test_accented_expansion_joins_mention_component(spark):
    """An acronym whose expansion carries accents must still canonicalize to
    the expansion's QID: alias-edge keys use normalize_surface, not bare
    lower()."""
    from pyspark.sql import functions as F

    from wbkg.canonicalize import apply_canonicalization, canonical_map

    edict = spark.createDataFrame(
        [],
        "entity_id string, surface_norm string, kind string, label string, is_alias boolean, alias_of string",
    )
    acronyms = spark.createDataFrame(
        [("d1", "ESMF", "École  de Santé")], "doc_id string, abbr string, expansion string"
    )
    linked = spark.createDataFrame(
        [
            ("c1", "esmf", None, "esmf"),
            ("c2", "ecole de sante", "Q77", "Q77"),
        ],
        "chunk_id string, surface_norm string, qid string, rdf_safe string",
    )
    cmap = canonical_map(edict, acronyms, linked)
    out = {r.surface_norm: r.qid_c for r in apply_canonicalization(linked, cmap).collect()}
    assert out["esmf"] == "Q77"  # inherited via the normalized expansion key


def _chain_of_12(spark):
    # a 12-node path: diameter 11, past every iteration bound used below
    return spark.createDataFrame(
        [(f"v{i:02d}", f"v{i + 1:02d}", 1) for i in range(11)],
        "src string, dst string, weight int",
    )


def _cc_exhausted(spark):
    from wbkg.canonicalize import connected_components

    # max_iter=2 -> one probe of two propagation steps
    return connected_components(_chain_of_12(spark).select("src", "dst"), max_iter=2)


def _lp_exhausted(spark):
    from wbkg.communities import label_propagation

    # uniform weights: the min label moves one hop per iteration, and the
    # default LP_MAX_ITER (6) is short of the path's 11 hops
    return label_propagation(_chain_of_12(spark))


def _sssp_exhausted(spark):
    from wbkg.graph_analytics import sssp

    sources = spark.createDataFrame([("v00",)], "node string")
    return sssp(_chain_of_12(spark), sources, max_iters=2)


def _k_core_exhausted(spark):
    from wbkg.graph_analytics import k_core

    # the 2-core peels one node off each end per round
    return k_core(_chain_of_12(spark), k=2, max_iters=2)


def _k_truss_exhausted(spark):
    from wbkg.graph_analytics import k_truss

    # no triangles: the 3-truss drops every edge in round 1, and only a
    # second round could confirm the empty truss
    return k_truss(_chain_of_12(spark), k=3, max_iters=1)


def _path_closure_exhausted(spark):
    from wbkg.sparql import _path_closure

    step = _chain_of_12(spark).select(F.col("src").alias("a"), F.col("dst").alias("b"))
    return _path_closure(step, max_iters=2)


@pytest.mark.parametrize(
    "run",
    [
        _cc_exhausted,
        _lp_exhausted,
        _sssp_exhausted,
        _k_core_exhausted,
        _k_truss_exhausted,
        _path_closure_exhausted,
    ],
    ids=["connected_components", "label_propagation", "sssp", "k_core", "k_truss", "path_closure"],
)
def test_cc_nonconvergence_warns(spark, run):
    """An iterative operator that runs out of iterations warns instead of
    returning a silently truncated result."""
    with pytest.warns(RuntimeWarning, match="did not converge"):
        run(spark)


def test_large_alias_graph_takes_distributed_cc(spark, monkeypatch):
    """Above LOCAL_CC_THRESHOLD the driver union-find must NOT run."""
    import wbkg.canonicalize as cz

    monkeypatch.setattr(cz, "LOCAL_CC_THRESHOLD", 3)

    def boom(_edges):
        raise AssertionError("driver union-find used above threshold")

    monkeypatch.setattr(cz, "connected_components_local", boom)
    edict = spark.createDataFrame(
        [],
        "entity_id string, surface_norm string, kind string, label string, is_alias boolean, alias_of string",
    )
    acronyms = spark.createDataFrame(
        [("d1", f"AB{i}", f"Alpha Beta {i}") for i in range(5)],
        "doc_id string, abbr string, expansion string",
    )
    linked = spark.createDataFrame(
        [], "chunk_id string, surface_norm string, qid string, rdf_safe string"
    )
    cmap = cz.canonical_map(edict, acronyms, linked)
    assert cmap.count() == 10  # 5 abbr<->expansion components, 2 members each


def test_sanitize_full_latin_fold(spark):
    """NFKD-generated fold table + ligature folds: parity between the
    Catalyst expression and the Python twin on exotic Latin."""
    from pyspark.sql import functions as F

    from wbkg.materialize import sanitize_column, sanitize_str_py

    samples = [
        "Łódź Āžuolas Çam",
        "Ðorđe Þing ßtraße",
        "Œuvre Ærø señor",
        "Ştefan İstanbul ırmak",
        "plain ASCII stays",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "v string")
    got = [r.s for r in df.select(sanitize_column(F.col("v")).alias("s")).collect()]
    want = [sanitize_str_py(s) for s in samples]
    assert got == want
    assert got[0] == "Lodz_Azuolas_Cam"
    assert got[1] == "Dorde_Thing_sstrasse"
    assert got[2] == "OEuvre_AEro_senor"


def test_incremental_equals_full_canonical_map(spark):
    """incremental_canonical_map folded over batches == one full
    canonical_map_from_edges over all history — including a LATE MERGE of
    two components built in earlier batches, and qid-preference across the
    merge (the streaming state-advance correctness contract)."""
    import random

    from wbkg.canonicalize import canonical_map_from_edges, incremental_canonical_map

    def df(rows):
        return spark.createDataFrame(rows, "src string, dst string")

    batches = [
        # batch 1: component A (has a qid) + separate pair
        [("surf::a", "qid::Q1"), ("surf::b", "surf::a"), ("surf::x", "surf::y")],
        # batch 2: new isolated component, plus a repeat of an old edge
        [("surf::m", "surf::n"), ("surf::a", "qid::Q1")],
        # batch 3: LATE MERGE — x/y joins the Q1 component; m gets a qid
        [("surf::y", "surf::b"), ("surf::n", "qid::Q0")],
    ]
    state = None
    for b in batches:
        state = incremental_canonical_map(state, df(b))
    got = {(r.member, r.canonical_id) for r in state.collect()}
    full = canonical_map_from_edges(df([e for b in batches for e in b]))
    want = {(r.member, r.canonical_id) for r in full.collect()}
    assert got == want
    # qid preference survived the late merge
    as_map = dict(got)
    assert as_map["surf::x"] == "qid::Q1" and as_map["surf::m"] == "qid::Q0"

    # randomized: any edge stream, any batch split -> same converged map
    rng = random.Random(42)
    nodes = [f"surf::{i}" for i in range(30)] + ["qid::Q7", "qid::Q3"]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(60)]
    edges = [e for e in edges if e[0] != e[1]]
    cut1, cut2 = len(edges) // 3, 2 * len(edges) // 3
    state = None
    for b in (edges[:cut1], edges[cut1:cut2], edges[cut2:]):
        state = incremental_canonical_map(state, df(b))
    got = {(r.member, r.canonical_id) for r in state.collect()}
    want = {(r.member, r.canonical_id) for r in canonical_map_from_edges(df(edges)).collect()}
    assert got == want


def test_incremental_canonical_map_idempotent_replay(spark):
    """Replay semantics: re-advancing the map with the SAME batch (the
    at-least-once foreachBatch case) or with no new edges leaves it
    bit-identical — no drift, no spurious relabels."""
    from wbkg.canonicalize import incremental_canonical_map

    def df(rows):
        return spark.createDataFrame(rows, "src string, dst string")

    b1 = [("surf::a", "qid::Q1"), ("surf::x", "surf::y")]
    state = incremental_canonical_map(None, df(b1))
    snap = {(r.member, r.canonical_id) for r in state.collect()}
    replay = incremental_canonical_map(state, df(b1))
    assert {(r.member, r.canonical_id) for r in replay.collect()} == snap
    empty = incremental_canonical_map(state, df([]).limit(0))
    assert {(r.member, r.canonical_id) for r in empty.collect()} == snap
