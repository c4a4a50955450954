"""Stage 4 — alias canonicalization via connected components (G4).

The reference canonicalizes implicitly: any mention that resolves to the same
QID gets the same URI (src/graph.py:681), and acronym<->expansion equivalence
flows through EntityRuler pattern ids (src/ner.py:64-79). We make that
explicit and transitive (north_rule: "connected-components-based
canonicalization collapses alias clusters"):

alias edges:
  - dictionary alias rows: alias entity_id <-> alias_of       (FIXTURES.md §2)
  - per-doc acronyms: entity-key(abbr) <-> entity-key(expansion)
  - linked mentions: entity-key(surface) <-> qid

Small alias graphs take a driver union-find. Larger ones run connected
components as an iterative DataFrame hash-to-min ("CC on MapReduce",
Rastogi et al.'s large-star/small-star family): propagate_min_label, which
SCC reuses, makes every node adopt the minimum id in its neighborhood until
a fixed point, in a wbkg/fixpoint.py loop bounded by max_iter. Alias
clusters are tiny (2-5 nodes), so convergence is fast.

canonical_map: (member, canonical_id) where canonical_id = lexicographic min
of the component — deterministic, cluster-stable, and QIDs sort before
surface keys on the 'Q' prefix only coincidentally, so we explicitly prefer
QID members when one exists.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wbkg.fixpoint import Fixpoint

MAX_ITER = 20
# the alias graph is vocabulary-bounded (distinct surfaces + dictionary),
# not corpus-bounded: orders of magnitude smaller than the mention stream,
# so the per-iteration shuffles stay narrow
CC_PARTITIONS = 8


def propagate_min_label(
    fp: Fixpoint, nodes: DataFrame, edges: DataFrame, max_steps: int | None = None
) -> DataFrame:
    """Min-label propagation to a fixpoint -> (node, label): every node of
    `nodes` (node) starts labelled with its own id, and labels flow along
    the directed `edges` (src -> dst) until each node holds the minimum id
    that reaches it. Connected components run it over symmetrized edges;
    strongly_connected_components runs it forward and backward.

    TWO propagation steps run per convergence probe: the probe costs a job,
    and a converged step is idempotent, so probing every other step halves
    the jobs for the same fixpoint. The changed count is an OBSERVED metric
    of the eager cut that materializes the new labels (fp.changed), so each
    probe is exactly one job. `max_steps` bounds the steps (None runs to the
    fixpoint); exhausting it warns through fp."""
    lbl = fp.cut(nodes.select("node", F.col("node").alias("label")))

    def step(cur):
        cand = (
            edges.join(cur, edges["src"] == cur["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("_cand"))
        )
        return cur.join(cand, "node", "left").select(
            "node", F.least("label", F.coalesce("_cand", "label")).alias("label")
        )

    probes = None if max_steps is None else max(1, max_steps // 2)
    for _ in fp.rounds(probes):
        flagged = step(step(lbl)).join(
            lbl.withColumnRenamed("label", "_old"), "node"
        ).select("node", "label", (F.col("label") != F.col("_old")).cast("long").alias("_chg"))
        lbl, changed = fp.changed(lbl, flagged)
        if changed == 0:
            break
    return lbl


def connected_components(edges: DataFrame, max_iter: int = MAX_ITER) -> DataFrame:
    """edges (src, dst) -> (member, component) via min-label propagation
    over the symmetrized edges, at most `max_iter` propagation steps.
    Deterministic; component = min member id. A component whose diameter
    exceeds max_iter warns instead of returning silently-wrong labels."""
    fp = Fixpoint("connected_components")
    sym = fp.cut(
        edges.select("src", "dst")
        .union(edges.select(F.col("dst"), F.col("src")))
        .distinct()
        .repartition(CC_PARTITIONS, "src")
    )
    nodes = sym.select(F.col("src").alias("node")).distinct().repartition(
        CC_PARTITIONS, "node"
    )
    labels = fp.result(propagate_min_label(fp, nodes, sym, max_iter))
    return labels.select(
        F.col("node").alias("member"), F.col("label").alias("component")
    )


def _normalize_surface_udf():
    """Pandas-UDF twin of extract.normalize_surface (NFKD accent-fold +
    lower + whitespace collapse). Applied only to the vocabulary-bounded
    alias-edge keys, never to the mention stream."""
    from pyspark.sql.types import StringType

    from wbkg.extract import normalize_surface

    @F.pandas_udf(StringType())
    def norm(s: pd.Series) -> pd.Series:
        return s.map(lambda v: normalize_surface(v) if v is not None else None)

    return norm


def build_alias_edges(
    entity_dict: DataFrame, acronyms: DataFrame, linked: DataFrame
) -> DataFrame:
    """Assemble the alias graph. Node ids are canonicalization keys:
    'qid::<id>' for dictionary entities, 'surf::<normalized surface>' for
    unlinked surfaces. abbr/expansion go through the SAME normalize_surface
    transform as mention surfaces (accent-fold + whitespace collapse, not
    just lower) so an accented expansion still joins its mentions'
    component."""
    qid = lambda c: F.concat(F.lit("qid::"), F.col(c))
    surf = lambda c: F.concat(F.lit("surf::"), F.lower(F.col(c)))
    norm = _normalize_surface_udf()
    surf_n = lambda c: F.concat(F.lit("surf::"), norm(F.col(c)))

    dict_edges = (
        entity_dict.filter("is_alias")
        .select(qid("entity_id").alias("src"), qid("alias_of").alias("dst"))
    )
    acro_edges = acronyms.select(
        surf_n("abbr").alias("src"), surf_n("expansion").alias("dst")
    )
    link_edges = (
        linked.filter(F.col("qid").isNotNull())
        .select(surf("surface_norm").alias("src"), qid("qid").alias("dst"))
        .distinct()
    )
    return dict_edges.unionByName(acro_edges).unionByName(link_edges)


# driver-collect hardening (VERDICT r01 #9): 200k edges x ~30-byte keys is a
# few tens of MB on the driver — an order of magnitude below the old 2M bound
LOCAL_CC_THRESHOLD = 200_000


def connected_components_local(edges: DataFrame) -> DataFrame:
    """Driver union-find for small edge sets — the adaptive physical
    strategy for CC, analogous to Spark's broadcast-vs-shuffle join choice.
    The alias graph is vocabulary-bounded (distinct surfaces + dictionary
    entries), NOT corpus-bounded, so it usually fits the driver by orders of
    magnitude; the iterative DataFrame path handles the cases that don't.
    Identical output contract: (member, component=min member)."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    rows = edges.select("src", "dst").collect()
    for r in rows:
        ra, rb = find(r["src"]), find(r["dst"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out = [(m, find(m)) for m in list(parent)]
    return edges.sparkSession.createDataFrame(out, "member string, component string")


def canonical_map_from_edges(edges: DataFrame) -> DataFrame:
    """alias edges (src, dst) -> (member, canonical_id). QID members win over
    surface members; ties break on the lexicographic min (deterministic).

    Physical strategy is size-gated: small alias graphs take the driver
    union-find (one job instead of ~10 iterative jobs); big ones take the
    iterative DataFrame loop."""
    edges = edges.persist()
    n_edges = edges.count()
    comp = (
        connected_components_local(edges)
        if n_edges <= LOCAL_CC_THRESHOLD
        else connected_components(edges)
    )
    # both paths have materialized comp (driver collect / the CC loop's
    # materialized result) — release the alias-edge cache now so
    # repeated pipeline runs in one session don't accumulate blocks
    edges.unpersist()
    # representative: min qid:: member if any, else min member
    rep = comp.groupBy("component").agg(
        F.min(F.when(F.col("member").startswith("qid::"), F.col("member"))).alias("q_rep"),
        F.min("member").alias("any_rep"),
    )
    out = comp.join(rep, "component").select(
        "member", F.coalesce("q_rep", "any_rep").alias("canonical_id")
    )
    # size hint for apply_canonicalization's broadcast gate: members <= 2x
    # edges, known here for free — saves the gating count() job downstream
    out._wbkg_rows_upper_bound = 2 * n_edges
    return out


def incremental_canonical_map(prev: DataFrame | None, new_edges: DataFrame) -> DataFrame:
    """Advance a converged (member, canonical_id) map by one batch of alias
    edges WITHOUT recomputing over history (ADVICE/VERDICT r02).

    1. collapse each endpoint to its representative via `prev`,
    2. drop self-loops — edges inside an existing component vanish, so CC
       only sees the batch's genuinely new merges,
    3. CC the residue, relabel prev's canonical ids through the result,
       append the new members.

    Equal to canonical_map_from_edges over the full history: representatives
    carry the min-qid-else-min-member rule, so merging reps is the same as
    merging their components (proved by test_incremental_equals_full)."""
    if prev is None:
        return canonical_map_from_edges(new_edges.select("src", "dst"))
    src_m = prev.select(F.col("member").alias("src"), F.col("canonical_id").alias("_sc"))
    dst_m = prev.select(F.col("member").alias("dst"), F.col("canonical_id").alias("_dc"))
    residue = (
        new_edges.select("src", "dst")
        .join(src_m, "src", "left")
        .join(dst_m, "dst", "left")
        .select(
            F.coalesce("_sc", "src").alias("src"),
            F.coalesce("_dc", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    delta = canonical_map_from_edges(residue)
    relabel = delta.select(F.col("member").alias("_old"), F.col("canonical_id").alias("_new"))
    updated = prev.join(relabel, prev["canonical_id"] == F.col("_old"), "left").select(
        "member", F.coalesce("_new", "canonical_id").alias("canonical_id")
    )
    fresh = delta.join(prev.select("member"), "member", "left_anti")
    return updated.unionByName(fresh)


def canonical_map(
    entity_dict: DataFrame, acronyms: DataFrame, linked: DataFrame
) -> DataFrame:
    """-> (member, canonical_id) over the alias graph of one batch of
    (dictionary, acronyms, linked mentions)."""
    return canonical_map_from_edges(build_alias_edges(entity_dict, acronyms, linked))


def apply_canonicalization(
    linked: DataFrame, cmap: DataFrame, broadcast: bool | None = None
) -> DataFrame:
    """Re-key linked mentions: a mention whose surface belongs to a component
    containing a QID inherits that QID (e.g. unlinked 'STEP' joins its
    expansion's entity). Adds canonical qid_c / rdf_safe_c columns.

    The canonical map is vocabulary-bounded, so it usually broadcasts; the
    dispatch is size-gated like link_mentions' (VERDICT r02: an unconditional
    broadcast would OOM the driver on a genuinely huge alias vocabulary).
    Pass broadcast=True/False to skip the gating count when the caller
    already knows the size."""
    from wbkg.link import AUTO_BROADCAST_MAX_ROWS

    if broadcast is None:
        rows = getattr(cmap, "_wbkg_rows_upper_bound", None)
        broadcast = (rows if rows is not None else cmap.count()) <= AUTO_BROADCAST_MAX_ROWS
    build = F.broadcast(cmap) if broadcast else cmap
    surf_key = F.concat(F.lit("surf::"), F.lower(F.col("surface_norm")))
    out = (
        linked.withColumn("_key", surf_key)
        .join(build.withColumnRenamed("member", "_key"), "_key", "left")
    )
    canon_qid = F.when(
        F.col("canonical_id").startswith("qid::"),
        F.expr("substring(canonical_id, 6, 1000)"),
    )
    return (
        out.withColumn("qid_c", F.coalesce("qid", canon_qid))
        .withColumn("rdf_safe_c", F.coalesce(F.col("qid_c"), F.col("rdf_safe")))
        .drop("_key", "canonical_id")
    )
