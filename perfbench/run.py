#!/usr/bin/env python3
"""KG benchmark: build a knowledge graph, then read it.

    python3 perfbench/run.py --workload build_pads --seed 1 --seconds 30 --trace 0

Run from the repository root. Each run is one closed loop with one client on
Spark `local[4]`, in one driver process (see perfbench/README.md):

1. set-up: start the session, then generate the seeded corpus as parquet
   three times (`setup_s` = session start + median generation time);
2. `kg_s`: the operations that produce the KG of the whole corpus;
3. `read_s`: read rounds on that KG, a fixed number per workload and more
   while all operations have taken less than `--seconds`; the metric is the
   mean time of the rounds after the workload's warm-up rounds.

`build_pads` builds with one call of the fused in-memory pipeline
(`pipeline.run_pipeline`, broadcast link) and reads with rounds of the six
lookup templates (query + SPARQL): one warm-up round, two measured.
`ingest_resume` submits the checkpointed spark-submit entry point
(`job.main`, salted link) on batch A (90% of the documents), submits it
again with A ∪ B on the same work dir so it resumes from checkpoints, and
reads with one analytics pass (co-occurrence graph, hierarchical
communities, PageRank).

Every output is checked: each KG against the pure-Python oracle, each
lookup against DuckDB SQL over the same edges, the analytics pass against
SQL and structural invariants. The last stdout line is one JSON object
{correct, attempted, failed, metrics}; with `--trace 1` the metrics are the
per-layer ones of perfbench/layertrace.py.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time
import traceback
from collections import Counter, defaultdict
from dataclasses import dataclass

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
from checks import EX, IS_PART_OF, MENTIONS, NAME  # noqa: E402


@dataclass(frozen=True)
class Workload:
    engine: str  # "pipeline" (fused, in memory) or "job" (spark-submit entry point)
    n_docs: int  # documents in the corpus
    weight: int  # synth.gen_doc section multiplier (8 gives ~120 KB documents)
    read: str  # read round on the final KG: "lookups" or "analytics"
    rounds: int  # measured read rounds per run, at least
    warmup: int = 0  # read rounds run first and left out of read_s


WORKLOADS = {
    # the first lookup round of a fresh JVM ran ~1.5x slower than the next
    # and carried most of the run-to-run spread (over ten seeds, IQR/median
    # 13% with it, 8% for the second round alone), so it warms the query
    # paths and is recorded but not measured
    "build_pads": Workload("pipeline", n_docs=20, weight=8, read="lookups", rounds=2, warmup=1),
    "ingest_resume": Workload("job", n_docs=100, weight=1, read="analytics", rounds=1),
}
NEW_SHARE = 0.1  # batch B: the last 10% of the documents
SETUP_REPEATS = 3
FILES_PER_TABLE = 8
ZIPF_SKEW = 1.2  # the corpus generator's hub skew
TOP_K = 10
MAX_CLUSTER = 50
# the analytics slice: the first chunks (by URI) that mention an entity. Fewer
# than MAX_CLUSTER, so the community hierarchy has one level on every seed
# and the pass does the same number of Spark jobs from run to run
ANALYTICS_CHUNKS = 40
PAGERANK_ITERS = 10
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "kg_s": "s",
    "kg_cpu_s": "s",
    "read_s": "s",
}

Q_TWO = "PREFIX s: <http://schema.org/> SELECT ?c ?d WHERE { ?c s:mentions <%s> . ?c s:isPartOf ?d }"
Q_THREE = (
    "PREFIX s: <http://schema.org/> SELECT DISTINCT ?d ?t WHERE "
    "{ ?c s:mentions <%s> . ?c s:isPartOf ?d . ?d s:name ?t }"
)
Q_TOPK = (
    "PREFIX s: <http://schema.org/> SELECT ?e (COUNT(?c) AS ?n) WHERE "
    "{ ?c s:mentions ?e . ?c s:isPartOf <%s> } GROUP BY ?e ORDER BY DESC(?n) ?e "
    f"LIMIT {TOP_K}"
)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------------- #
# machine state                                                               #
# --------------------------------------------------------------------------- #


def _proc_table() -> dict:
    """pid -> (ppid, state, utime+stime+cutime+cstime in clock ticks)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(d)] = (int(fields[1]), fields[0], sum(int(x) for x in fields[11:15]))
    return out


def _descendants(table: dict, root: int) -> list:
    children = defaultdict(list)
    for pid, (ppid, _state, _ticks) in table.items():
        children[ppid].append(pid)
    out, todo = [], list(children[root])
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children[pid])
    return out


def tree_cpu_s() -> float:
    """CPU seconds used by every process below this one: the session JVM
    and its Python workers (reaped workers count through their parent)."""
    table = _proc_table()
    ticks = sum(table[pid][2] for pid in _descendants(table, os.getpid()))
    return ticks / os.sysconf("SC_CLK_TCK")


def machine_state() -> dict:
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return {"load1": load1, "steal_jiffies": cpu[7], "busy_jiffies": sum(cpu) - cpu[3] - cpu[4]}


# --------------------------------------------------------------------------- #
# inputs                                                                      #
# --------------------------------------------------------------------------- #


def batches(wl: Workload) -> list:
    """The KG-producing operations as (op, input part, documents covered).
    The fused pipeline builds the whole corpus at once; the job ingests
    batch A, then resumes on A ∪ B."""
    if wl.engine == "pipeline":
        return [("build", "all", wl.n_docs)]
    n_a = wl.n_docs - max(1, round(wl.n_docs * NEW_SHARE))
    return [("ingest", "A", n_a), ("resume", "all", wl.n_docs)]


def write_inputs(out_dir: str, wl: Workload, seed: int) -> dict:
    """Generate the seeded corpus and its metadata and write each input
    part of `batches` as parquet directories. Returns their paths."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from wbkg.schemas import DOC_METADATA, DOCUMENTS_INTERLEAVED
    from wbkg.synth import gen_doc, gen_metadata_row

    per_doc = {"docs": [], "meta": []}
    for i in range(wl.n_docs):
        d = gen_doc(i, wl.n_docs, seed, wl.weight)
        per_doc["docs"].append([{"doc_id": d["doc_id"], "spans": d["spans"]}])
        per_doc["meta"].append(gen_metadata_row(i, wl.n_docs, seed))
    schemas = {
        "docs": to_arrow_schema(DOCUMENTS_INTERLEAVED),
        "meta": to_arrow_schema(DOC_METADATA),
    }
    paths = {}
    for _op, part, n in batches(wl):
        for table, rows_of in per_doc.items():
            path = os.path.join(out_dir, f"{table}_{part}")
            os.makedirs(path)
            for f in range(FILES_PER_TABLE):
                rows = [r for i in range(f, n, FILES_PER_TABLE) for r in rows_of[i]]
                pq.write_table(
                    pa.Table.from_pylist(rows, schema=schemas[table]),
                    os.path.join(path, f"part-{f:05d}.parquet"),
                )
            paths[f"{table}_{part}"] = path
    return paths


# --------------------------------------------------------------------------- #
# Spark session                                                               #
# --------------------------------------------------------------------------- #


def start_spark(work: str, event_log_dir: str | None):
    """local[4] session whose scratch files stay inside `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
            "WBKG_DRIVER_MEM": DRIVER_MEM,
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        }
    )
    os.environ.pop("WBKG_PRETOUCH", None)  # no 2 GB heap pre-touch in set-up
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    from wbkg.session import get_spark

    spark = get_spark("perfbench", master="local[4]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, then wait until every process this run
    started (the JVM and its Python workers) has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while True:
        table = _proc_table()
        alive = [p for p in _descendants(table, os.getpid()) if table[p][1] != "Z"]
        if not alive:
            break
        if time.time() > deadline:
            for pid in alive:
                with contextlib.suppress(OSError):
                    os.kill(pid, 9)
        time.sleep(0.2)
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass


# --------------------------------------------------------------------------- #
# operations                                                                  #
# --------------------------------------------------------------------------- #


class Recorder:
    """Times each operation (wall and JVM + worker CPU) and, when tracing,
    opens the root span the operation's layer spans nest under."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.ops: list = []
        self.op_spans: list = []

    @contextlib.contextmanager
    def op(self, kind: str, **info):
        rec = {"op": kind, **info}
        span = self.tracer.span("bench", kind) if self.tracer else contextlib.nullcontext()
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        with span as sp:
            yield rec
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = tree_cpu_s() - cpu0
        log(f"{kind} {info.get('template', '')} {rec['wall_s']:.3f}s")
        self.ops.append(rec)
        if sp is not None:
            self.op_spans.append(sp)


def build_pipeline(spark, inputs: dict, part: str, wl: Workload):
    """Fused in-memory build of one batch's KG -> (edges, row count)."""
    from wbkg import pipeline
    from wbkg.extract import build_pattern_rows
    from wbkg.synth import build_entity_dict_rows, build_unbis_rows, entity_dict_df

    docs = spark.read.parquet(inputs[f"docs_{part}"])
    meta = spark.read.parquet(inputs[f"meta_{part}"])
    edict = entity_dict_df(spark, wl.n_docs)
    pats = build_pattern_rows(build_entity_dict_rows(wl.n_docs), build_unbis_rows())
    res = pipeline.run_pipeline(spark, docs, edict, pats, metadata_df=meta, link_strategy="broadcast")
    return res["edges"], res["edges"].count()


def submit_job(spark, inputs: dict, part: str, wl: Workload, work_dir: str):
    """One call of the spark-submit entry point -> the job's JSON report."""
    from wbkg import job

    argv = [
        "--n-docs", str(wl.n_docs),
        "--input", inputs[f"docs_{part}"],
        "--metadata", inputs[f"meta_{part}"],
        "--work-dir", work_dir,
        "--link-strategy", "salted",
    ]
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = job.main(argv, spark=spark)
    if rc != 0:
        raise RuntimeError(f"job.main exited with {rc}")
    return json.loads(out.getvalue().strip().splitlines()[-1])


class ParamPool:
    """Read parameters from the final KG. Lookups: entities ranked by the
    number of chunks mentioning them and drawn Zipf over that rank, so hub
    and tail entities both occur; chunk and document follow from the entity.
    Analytics: the slice of the first ANALYTICS_CHUNKS mentioning chunks."""

    def __init__(self, triples: list):
        ent_chunks, names, doc_of = defaultdict(set), defaultdict(set), {}
        for s, p, o in triples:
            if s.startswith(EX + "chunk/"):
                if p == MENTIONS:
                    ent_chunks[o].add(s)
                elif p == IS_PART_OF:
                    doc_of[s] = o
        for s, p, o in triples:
            if p == NAME and s in ent_chunks:
                names[s].add(o)
        self.ents = sorted(ent_chunks, key=lambda e: (-len(ent_chunks[e]), e))
        self.weights = [1.0 / (rank + 1) ** ZIPF_SKEW for rank in range(len(self.ents))]
        self.ent_chunks = {e: sorted(c) for e, c in ent_chunks.items()}
        self.names = {e: sorted(n) for e, n in names.items()}
        self.doc_of = doc_of
        chunks = sorted(set(doc_of) & {c for cs in ent_chunks.values() for c in cs})
        # chunk URIs below this bound form the analytics slice
        self.slice_end = (
            chunks[ANALYTICS_CHUNKS] if len(chunks) > ANALYTICS_CHUNKS else chunks[-1] + "~"
        )

    def draw(self, rng: random.Random) -> dict:
        ent = rng.choices(self.ents, weights=self.weights)[0]
        chunk = rng.choice(self.ent_chunks[ent])
        return {"ent": ent, "name": rng.choice(self.names[ent]), "chunk": chunk,
                "doc": self.doc_of[chunk]}


def lookup_templates(edges, ref: checks.LookupReference) -> dict:
    """name -> (engine call returning a DataFrame, DuckDB reference, normal form)."""
    from pyspark.sql import functions as F

    from wbkg import query, sparql

    mention_edges = edges.filter(
        (F.col("pred") == MENTIONS) & F.col("subj").startswith(EX + "chunk/")
    )
    return {
        "docs_mentioning": (
            lambda p: query.docs_mentioning(edges, p["name"]),
            lambda p: ref.docs_mentioning(p["name"]),
            sorted,
        ),
        "neighborhood_2hop": (
            lambda p: query.entity_neighborhood(edges, p["ent"], hops=2),
            lambda p: ref.entity_neighborhood(p["ent"]),
            sorted,
        ),
        "sibling_chunks": (
            lambda p: query.sibling_chunks_via_entities(mention_edges, p["chunk"]),
            lambda p: ref.sibling_chunks(p["chunk"]),
            sorted,
        ),
        "sparql_2pat": (
            lambda p: sparql.sparql_select(edges, Q_TWO % p["ent"]),
            lambda p: ref.sparql_two(p["ent"]),
            Counter,
        ),
        "sparql_3pat": (
            lambda p: sparql.sparql_select(edges, Q_THREE % p["ent"]),
            lambda p: ref.sparql_three(p["ent"]),
            Counter,
        ),
        "sparql_topk": (
            lambda p: sparql.sparql_select(edges, Q_TOPK % p["doc"]),
            lambda p: ref.top_entities(p["doc"], TOP_K),
            list,
        ),
    }


def analytics_pass(edges, slice_end: str):
    """Co-occurrence graph of the slice's chunk mentions, hierarchical
    communities and PageRank over it -> collected (edges, communities, ranks)."""
    from pyspark.sql import functions as F

    from wbkg import communities, graph_analytics

    prefix = EX + "chunk/"
    linked = edges.filter(
        (F.col("pred") == MENTIONS) & F.col("subj").startswith(prefix)
        & (F.col("subj") < slice_end)
    ).select(
        F.expr(f"substring(subj, {len(prefix) + 1})").alias("chunk_id"),
        F.lit(None).cast("string").alias("qid_c"),
        F.col("obj").alias("rdf_safe_c"),
    )
    co = communities.cooccurrence_edges(linked).persist()
    co_rows = co.collect()
    comms = communities.final_communities(
        communities.hierarchical_communities(co, max_cluster_size=MAX_CLUSTER)
    ).collect()
    ranks = graph_analytics.pagerank(co, iterations=PAGERANK_ITERS).collect()
    co.unpersist()
    return co_rows, comms, ranks


def check_analytics(co_rows, comms, ranks, expected_co) -> dict:
    """Co-occurrence edges equal the SQL reference; every graph node sits in
    exactly one leaf community of at most MAX_CLUSTER chunks; PageRank ranks
    every node once and sums to 1."""
    nodes = sorted({r[0] for r in co_rows} | {r[1] for r in co_rows})
    sizes = Counter(r[1] for r in comms)
    problems = []
    if sorted(tuple(r) for r in co_rows) != expected_co:
        problems.append("co-occurrence edges differ from the SQL reference")
    if sorted(r[0] for r in comms) != nodes:
        problems.append("leaf communities do not hold each node exactly once")
    if sizes and max(sizes.values()) > MAX_CLUSTER:
        problems.append(f"a leaf community holds more than {MAX_CLUSTER} chunks")
    if sorted(r[0] for r in ranks) != nodes or abs(sum(r[1] for r in ranks) - 1.0) > 1e-6:
        problems.append("PageRank does not rank each node once with ranks summing to 1")
    return {"ok": not problems, "edges": len(co_rows), "nodes": len(nodes),
            "communities": len(sizes), "problems": problems}


# --------------------------------------------------------------------------- #
# one run                                                                     #
# --------------------------------------------------------------------------- #


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    wl = WORKLOADS[workload]
    work = os.path.join(HERE, ".work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    machine0 = machine_state()
    event_dir = os.path.join(work, "eventlog") if trace else None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, event_dir)
        session_s = time.perf_counter() - t0
        try:
            out = measure(spark, wl, seed, seconds, trace, work)
        finally:
            t_stop = time.perf_counter()
            stop_spark(spark)
        out["setup_s"] += session_s
        out["record"].update(session_s=session_s, stop_s=time.perf_counter() - t_stop,
                             machine_start=machine0, machine_end=machine_state())
        if trace:
            tracer = out.pop("tracer")
            out["layers"] = tracer.layer_metrics(event_dir, out["op_spans"])
            out["record"]["spans"] = tracer.summary
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(spark, wl: Workload, seed: int, seconds: float, trace: bool, work: str) -> dict:
    prep = []
    inputs_dir = os.path.join(work, "inputs")
    for _ in range(SETUP_REPEATS):
        shutil.rmtree(inputs_dir, ignore_errors=True)
        t0 = time.perf_counter()
        inputs = write_inputs(inputs_dir, wl, seed)
        prep.append(time.perf_counter() - t0)

    tracer = None
    if trace:
        from layertrace import Tracer

        tracer = Tracer(spark)
        tracer.install()
    try:
        rec = Recorder(tracer)
        results, rounds = closed_loop(spark, wl, seed, seconds, work, inputs, rec)
    finally:
        if tracer is not None:
            tracer.uninstall()

    kg_ops = [o for o in rec.ops if "triples" in o]
    return {
        "metrics": {
            "kg_s": sum(o["wall_s"] for o in kg_ops),
            "kg_cpu_s": sum(o["cpu_s"] for o in kg_ops),
            "read_s": statistics.mean(rounds[wl.warmup:]),
        },
        "setup_s": statistics.median(prep),
        "attempted": sum(r["attempted"] for r in results),
        "failed": sum(r["failed"] for r in results),
        "tracer": tracer,
        "op_spans": rec.op_spans,
        "record": {"prep_s": prep, "ops": rec.ops, "read_rounds_s": rounds, "checks": results},
    }


def closed_loop(spark, wl: Workload, seed: int, seconds: float, work: str, inputs: dict,
                rec: Recorder):
    """The KG-producing operations, then read rounds on the final KG: the
    warm-up rounds and at least `wl.rounds` more, and more again until all
    operations have taken `seconds`. Returns (checks, round walls)."""
    import pyarrow.parquet as pq

    results, n_done = [], 0
    job_dir = os.path.join(work, "job")
    for kind, part, n in batches(wl):
        spark.catalog.clearCache()
        spark._jvm.System.gc()
        with rec.op(kind) as op:
            if wl.engine == "pipeline":
                edges, op["triples"] = build_pipeline(spark, inputs, part, wl)
            else:
                report = submit_job(spark, inputs, part, wl, job_dir)
                op["triples"], op["recomputed"] = report["edges"], report["recomputed"]
        if wl.engine == "pipeline":
            table = edges.select("subj", "pred", "obj").toArrow()
        else:
            table = pq.read_table(os.path.join(job_dir, "edges"), columns=["subj", "pred", "obj"])
        got = list(zip(*(table.column(c).to_pylist() for c in ("subj", "pred", "obj"))))
        res = checks.compare_edges(got, checks.oracle_triples(n, wl.n_docs, seed, wl.weight))
        if kind == "resume":
            # the resume must recompute exactly the new documents
            res["recomputed_docs"] = op["recomputed"]["chunks"]
            res["ok"] = res["ok"] and res["recomputed_docs"] == n - n_done
        n_done = n
        results.append({"op": kind, "attempted": 1, "failed": int(not res["ok"]), **res})

    # the read side queries the final KG as parquet: the job's own output, or
    # the pipeline's edges written out once (outside any timed operation)
    if wl.engine == "pipeline":
        kg_path = os.path.join(work, "kg")
        os.makedirs(kg_path)
        pq.write_table(table, os.path.join(kg_path, "part-00000.parquet"))
    else:
        kg_path = os.path.join(job_dir, "edges")
    spark.catalog.clearCache()
    edges = spark.read.parquet(kg_path)
    ref = checks.LookupReference(os.path.join(kg_path, "*.parquet"))
    rng = random.Random(seed * 1_000_003 + 7)
    pool = ParamPool(got)
    rounds = []
    try:
        while (len(rounds) < wl.warmup + wl.rounds
               or sum(o["wall_s"] for o in rec.ops) < seconds):
            spark._jvm.System.gc()
            n_ops = len(rec.ops)
            if wl.read == "lookups":
                res = lookup_round(edges, ref, pool, rng, rec)
            else:
                res = analytics_round(edges, pool.slice_end, ref, rec)
            rounds.append(sum(o["wall_s"] for o in rec.ops[n_ops:]))
            results.append(res)
    finally:
        ref.close()
    spark.catalog.clearCache()
    return results, rounds


def lookup_round(edges, ref, pool: ParamPool, rng: random.Random, rec: Recorder) -> dict:
    """Every lookup template once, in a seeded order with seeded parameters;
    each result is compared with the DuckDB reference."""
    templates = lookup_templates(edges, ref)
    failed = []
    for name in rng.sample(sorted(templates), len(templates)):
        engine_fn, ref_fn, normal = templates[name]
        param = pool.draw(rng)
        try:
            with rec.op("lookup", template=name):
                rows = engine_fn(param).collect()
            ok = normal(tuple(r) for r in rows) == ref_fn(param)
        except Exception:
            log(f"lookup {name} {param} raised:\n{traceback.format_exc()}")
            ok = False
        if not ok:
            failed.append(name)
            log(f"lookup {name} {param} differs from the DuckDB reference")
    return {"op": "lookups", "attempted": len(templates), "failed": len(failed),
            "ok": not failed, "wrong": failed}


def analytics_round(edges, slice_end: str, ref, rec: Recorder) -> dict:
    """One analytics pass, checked against SQL and structural invariants."""
    from wbkg.communities import DEFAULT_ENTITY_CHUNK_CAP

    with rec.op("analytics"):
        co_rows, comms, ranks = analytics_pass(edges, slice_end)
    expected_co = ref.cooccurrence(slice_end, DEFAULT_ENTITY_CHUNK_CAP)
    res = check_analytics(co_rows, comms, ranks, expected_co)
    return {"op": "analytics", "attempted": 1, "failed": int(not res["ok"]), **res}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    if not os.path.isfile(os.path.join(ROOT, "wbkg", "pipeline.py")):
        log(f"no wbkg package under {ROOT}: run from the root of a repository checkout")
        return 2
    sys.path.insert(0, ROOT)

    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    if args.trace:
        from layertrace import UNITS

        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in out["layers"].items()}
    else:
        values = {"setup_s": out["setup_s"], **out["metrics"]}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    out["record"]["process_s"] = time.perf_counter() - T_START
    log("record " + json.dumps({"workload": args.workload, "seed": args.seed,
                                "trace": args.trace, **out["record"],
                                "end_to_end": {"setup_s": out["setup_s"], **out["metrics"]}}))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
