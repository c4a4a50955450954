"""Loop policy shared by every iterative DataFrame operator.

Connected components, label propagation, PageRank, BFS, k-core, the SPARQL
path closure and the other graph loops each iterate a DataFrame plan. A
`Fixpoint` owns, for one operator call, what every such loop needs:

- `cut`, the only lineage cut: a local checkpoint, LAZY by default (the
  next action materializes it, so a fixed-count power iteration runs its
  whole chain in one job) or eager;
- one probe job per round, an eager cut observing a metric while it
  materializes: `changed` (a changed count) or `count` (a row count, for
  frontier emptiness);
- `rounds`, whose exhaustion is the one policy for a loop that runs out
  of iterations: a RuntimeWarning that the operator "did not converge";
- release: a state is unpersisted only once the state superseding it is
  materialized (checkpointed, so no live plan reads the released blocks),
  and `result` leaves the operator's output as its only persisted state.
"""

from __future__ import annotations

import warnings
from typing import Iterator

from pyspark.sql import DataFrame, Observation, functions as F


class Fixpoint:
    """Lineage cuts, convergence probes, release and the exhaustion policy
    of one iterative operator call; `name` labels its warning."""

    def __init__(self, name: str):
        self.name = name
        self._held: dict = {}  # rdd id -> JVM RDD of every state cut here

    def cut(self, df: DataFrame, eager: bool = False) -> DataFrame:
        """Local checkpoint of df, held until result() releases it."""
        out = df.localCheckpoint(eager=eager)
        rdd = out._jdf.logicalPlan().rdd()
        self._held[rdd.id()] = rdd
        return out

    def rounds(self, max_iter: int | None) -> Iterator[int]:
        """range(max_iter), or unbounded for None. A loop that exhausts it
        without breaking gets the exhaustion warning."""
        i = 0
        while max_iter is None or i < max_iter:
            yield i
            i += 1
        warnings.warn(
            f"{self.name} did not converge within {max_iter} iterations; "
            "its result may be incomplete",
            RuntimeWarning,
            stacklevel=3,
        )

    def changed(self, prev: DataFrame, flagged: DataFrame):
        """-> (new state, changed count): eagerly cut `flagged` without its
        0/1 `_chg` column, summing the flag as an observed metric of that
        one job; `prev`, which the new state replaces, is released."""
        obs = Observation()
        new = self.cut(flagged.observe(obs, F.sum("_chg").alias("n")).drop("_chg"), eager=True)
        self._release(prev)
        return new, int(obs.get["n"] or 0)

    def count(self, df: DataFrame):
        """-> (eagerly cut df, its row count): the count is an observed
        metric of the one job that materializes the cut (a frontier's
        emptiness probe is count == 0)."""
        obs = Observation()
        out = self.cut(df.observe(obs, F.count(F.lit(1)).alias("n")), eager=True)
        return out, obs.get["n"]

    def result(self, df: DataFrame) -> DataFrame:
        """Materialize the operator's output (a state cut here, if already
        checkpointed, otherwise a new eager cut of `df`) and release
        everything else this loop cut."""
        rdd = self._rdd(df)
        if rdd is None or not rdd.isCheckpointed():
            df = self.cut(df, eager=True)
            rdd = self._rdd(df)
        for other in [r for i, r in self._held.items() if i != rdd.id()]:
            _unpersist(other)
        self._held = {rdd.id(): rdd}
        return df

    def _rdd(self, df: DataFrame):
        plan = df._jdf.logicalPlan()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return None
        return self._held.get(plan.rdd().id())

    def _release(self, df: DataFrame) -> None:
        rdd = self._rdd(df)
        if rdd is not None:
            del self._held[rdd.id()]
            _unpersist(rdd)


def _unpersist(rdd) -> None:
    # through the SparkContext rather than RDD.unpersist, which logs a
    # warning for every locally checkpointed RDD it releases; nothing reads
    # a released state again
    rdd.context().unpersistRDD(rdd.id(), False)
