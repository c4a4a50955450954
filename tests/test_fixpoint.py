"""The shared loop policy (wbkg/fixpoint.py): lazy chains, release of
superseded states, the exhaustion warning, and the bounded persisted
footprint of the operators that iterate through it."""

import inspect
import os
import warnings

import pytest
from pyspark.sql import functions as F

from wbkg.fixpoint import Fixpoint

WBKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "wbkg")


def _persisted(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _rdd_id(df):
    return df._jdf.logicalPlan().rdd().id()


def test_lazy_chain_runs_in_one_action(spark):
    sc = spark.sparkContext
    sc.setJobGroup("fixpoint-lazy-chain", "lazy chain")
    try:
        fp = Fixpoint("chain")
        state = spark.range(50).select(F.col("id").alias("node"), F.lit(0).alias("v"))
        for _ in range(6):
            state = fp.cut(state.select("node", (F.col("v") + 1).alias("v")))
        tracker = sc.statusTracker()
        assert list(tracker.getJobIdsForGroup("fixpoint-lazy-chain")) == []
        out = fp.result(state)
        assert len(tracker.getJobIdsForGroup("fixpoint-lazy-chain")) == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert {r.v for r in out.collect()} == {6}


def test_release_waits_for_the_materialized_successor(spark):
    fp = Fixpoint("release")
    prev = fp.cut(spark.range(20).select(F.col("id").alias("node"), F.col("id").alias("label")))
    for k in range(1, 4):
        flagged = prev.select(
            "node",
            (F.col("label") + 1).alias("label"),
            F.lit(1).cast("long").alias("_chg"),
        )
        new, changed = fp.changed(prev, flagged)
        assert changed == 20
        # the successor is checkpointed before its predecessor's blocks go,
        # so reading it never reaches for a released block
        assert new._jdf.logicalPlan().rdd().isCheckpointed()
        assert _rdd_id(prev) not in _persisted(spark)
        assert sorted(r.label for r in new.collect()) == [i + k for i in range(20)]
        prev = new
    out = fp.result(prev)
    assert _rdd_id(out) == _rdd_id(prev)
    assert sorted(r.label for r in out.collect()) == [i + 3 for i in range(20)]


def test_result_releases_everything_but_the_output(spark):
    fp = Fixpoint("result")
    a = fp.cut(spark.range(30).select(F.col("id").alias("node")))
    b, n = fp.count(a.filter(F.col("node") % 2 == 0))
    assert n == 15
    held = {_rdd_id(a), _rdd_id(b)}
    out = fp.result(b.groupBy((F.col("node") % 3).alias("k")).count())
    assert not held & _persisted(spark)
    assert _rdd_id(out) in _persisted(spark)
    assert sorted((r.k, r["count"]) for r in out.collect()) == [(0, 5), (1, 5), (2, 5)]


def test_exhaustion_warns_only_when_rounds_run_out(spark):
    fp = Fixpoint("toy loop")
    with pytest.warns(RuntimeWarning, match="toy loop did not converge within 3"):
        for _ in fp.rounds(3):
            pass
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        for i in fp.rounds(3):
            if i == 1:
                break
        for i in fp.rounds(None):
            if i == 5:
                break


def test_loops_cut_lineage_only_through_fixpoint():
    for name in ("graph_analytics.py", "canonicalize.py", "communities.py"):
        with open(os.path.join(WBKG, name)) as f:
            text = f.read()
        assert "localCheckpoint" not in text, name
        assert "warnings.warn" not in text, name
    from wbkg.sparql import _path_closure

    src = inspect.getsource(_path_closure)
    assert "localCheckpoint" not in src and "warnings.warn" not in src


def _chain(spark, n):
    return spark.createDataFrame(
        [(f"v{i:02d}", f"v{i + 1:02d}", 1) for i in range(n - 1)],
        "src string, dst string, weight int",
    )


def test_pagerank_storage_bounded(spark):
    from wbkg.graph_analytics import pagerank

    pairs = [(f"n{i}", f"n{(i + 1) % 60}") for i in range(60)]
    pairs += [(f"n{i}", f"n{(i * 7) % 60}") for i in range(0, 60, 3)]
    e = spark.createDataFrame(pairs, "src string, dst string")
    before = _persisted(spark)
    pagerank(e, iterations=20).count()
    assert len(_persisted(spark) - before) <= 2


def test_label_propagation_storage_bounded(spark):
    from wbkg.communities import label_propagation

    e = _chain(spark, 12)
    before = _persisted(spark)
    label_propagation(e, max_iter=20).count()
    assert len(_persisted(spark) - before) <= 2


def test_distributed_cc_storage_bounded(spark, monkeypatch):
    import wbkg.canonicalize as cz

    monkeypatch.setattr(cz, "LOCAL_CC_THRESHOLD", 3)
    edict = spark.createDataFrame(
        [],
        "entity_id string, surface_norm string, kind string, label string, is_alias boolean, alias_of string",
    )
    acronyms = spark.createDataFrame(
        [("d1", f"AB{i}", f"Alpha Beta {i}") for i in range(5)]
        + [("d2", f"AB{i}", f"Alpha Beta {i + 1}") for i in range(4)],
        "doc_id string, abbr string, expansion string",
    )
    linked = spark.createDataFrame(
        [], "chunk_id string, surface_norm string, qid string, rdf_safe string"
    )
    before = _persisted(spark)
    cmap = cz.canonical_map(edict, acronyms, linked)
    assert cmap.select("canonical_id").distinct().count() == 1
    assert len(_persisted(spark) - before) <= 2
