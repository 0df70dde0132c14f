"""The workloads. Each is a ``Workload`` with:

- ``prepare(work_dir, seed)``: write the seeded inputs, return a dict;
- ``warm_up(spark, inputs)``: the first action of a fresh session, timed
  as part of ``setup_s``;
- ``run(ctx, inputs)``: checks, then whole passes until ``ctx.seconds``
  have elapsed.

Each operation is timed from outside, around calls into the engine's
public functions. Layer spans and JVM counters are taken only in a traced
run, and there only on every other pass, so the same run also measures
what tracing costs.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import re
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable

from perfbench import gen
from perfbench.trace import (
    JvmStages,
    Tracer,
    cpu_seconds,
    exec_counters,
    peak_rss_mb,
    persisted,
    python_workers,
    release_persisted,
)


@dataclass
class Context:
    spark: object
    tracer: Tracer
    seconds: float
    seed: int
    cores: int
    jvm_pid: int
    work_dir: str
    min_passes: int
    jvm: JvmStages | None = None


@dataclass
class Result:
    """What one run measured. ``ops`` and ``passes`` come from untraced
    passes only; ``layers`` holds one dict of layer counters per traced
    pass."""

    ops: list[float] = field(default_factory=list)
    passes: list[float] = field(default_factory=list)
    traced_passes: list[float] = field(default_factory=list)
    layers: list[dict] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    wrong: list[str] = field(default_factory=list)
    info: dict = field(default_factory=dict)
    worker_peaks: dict = field(default_factory=dict)

    def sample_workers(self, jvm_pid: int) -> None:
        for pid in python_workers(jvm_pid):
            self.worker_peaks[pid] = max(self.worker_peaks.get(pid, 0.0),
                                         peak_rss_mb([pid]))


@dataclass
class Workload:
    prepare: Callable
    warm_up: Callable
    run: Callable
    min_passes: int  # a run makes at least this many untraced passes
    pass_name: str  # the workload's name for one pass
    # the pass time reported: by default the median untraced pass
    pass_time: Callable = lambda res: statistics.median(res.passes)


def _loop(ctx: Context, res: Result, one_pass: Callable) -> None:
    """Whole passes until ``ctx.seconds`` have elapsed and an untraced run
    has made ``ctx.min_passes``. A traced run alternates untraced and traced
    passes, starting untraced, and makes at least three, so tracing
    overhead compares passes on both sides of a traced one.
    ``one_pass(rng, traced)`` returns the pass's layer counters (None
    when untraced)."""
    t_end = time.perf_counter() + ctx.seconds
    i = 0
    while (time.perf_counter() < t_end
           or i < (3 if ctx.tracer.enabled else ctx.min_passes)):
        traced = ctx.tracer.enabled and i % 2 == 1
        t0 = time.perf_counter()
        layer = one_pass(random.Random(ctx.seed * 1000 + i), traced)
        wall = time.perf_counter() - t0
        if traced:
            res.traced_passes.append(wall)
            res.layers.append(layer)
        else:
            res.passes.append(wall)
        res.sample_workers(ctx.jvm_pid)
        i += 1


def _report(what: str) -> None:
    """Print the exception being handled, with its traceback, to stderr."""
    print(f"{what} failed:\n{traceback.format_exc()}", file=sys.stderr)


def _attempt(res: Result, fn: Callable, *args):
    """Run one operation, counting it as attempted and, if it raises, as
    failed (the run goes on); returns its result or None."""
    res.attempted += 1
    try:
        return fn(*args)
    except Exception:
        res.failed += 1
        _report(getattr(fn, "__name__", "operation"))
        return None


# -- query_headline -------------------------------------------------------

# Drawn from bench.HEADLINE. A pass over all 87 takes ~60 s warm on 4
# cores at any scale up to sf0.01 (~75 s cold), more than one run can
# spend, so each run repeats this fixed panel. It covers every layer the
# headline loads: the reference's top-k group count, catalog +
# scan/aggregate (TPC-H q1), shuffle joins (q18), Arrow/pandas workers
# (embedding top-k), driver-side build jobs and persisted data left behind
# (skyline), the shuffle-heavy persisting tail (containment_join), and the
# batch MERGE (cdc_merge). An odd count keeps the median latency inside
# one query's cluster rather than in the gap between two.
PANEL = [
    "q_topk_group_count",
    "q_tpch_q1",
    "q_tpch_q18",
    "q_cdc_merge",
    "q_embedding_topk_arrow",
    "q_skyline",
    "q_containment_join",
]
HEADLINE_SF = 0.01
# The tables are fixed, like the engine's own test data; the seed orders
# the queries within each pass.
TABLE_SEED = 0


def _registry():
    from data_wrangle_openstreetmaps_data_spark.plans import queries

    return queries.REGISTRY


def headline_prepare(work_dir: str, seed: int) -> dict:
    sf_dir = os.path.join(work_dir, "tables")
    gen.write_tables(sf_dir, TABLE_SEED, HEADLINE_SF)
    return {"sf_dir": sf_dir}


def headline_warm_up(spark, inputs: dict) -> None:
    _registry()["q_topk_group_count"].spark(spark, inputs["sf_dir"]).count()


def _canon(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 9))
    return str(v)


def fingerprint(pdf) -> tuple[int, list[str], str]:
    """Order-insensitive (rows, sorted columns, value hash) of a pandas
    frame, with values rendered the way the repo's oracle gate renders
    them."""
    cols = sorted(pdf.columns)
    rendered = [[_canon(v) for v in pdf[c].astype(object)] for c in cols]
    rows = sorted("|".join(r) for r in zip(*rendered))
    return len(pdf), cols, hashlib.md5("\n".join(rows).encode()).hexdigest()


def _check_headline(spark, sf_dir: str) -> list[str]:
    """Collect each panel query once and compare it with its DuckDB
    oracle, rows-only where it has none; returns the queries that fail.
    The collects run three at a time: they are untimed, and they are also
    the panel's JIT warm-up."""
    from concurrent.futures import ThreadPoolExecutor

    import duckdb

    from data_wrangle_openstreetmaps_data_spark.catalog import TABLES

    reg = _registry()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def check(q: str) -> bool:
        try:
            got = reg[q].spark(spark, sf_dir).toPandas()
            if reg[q].oracle is None:
                return len(got) > 0
            want = con.cursor().execute(reg[q].oracle).fetchdf()
            return fingerprint(got) == fingerprint(want)
        except Exception:  # a query that raises fails its check
            _report(f"check of {q}")
            return False

    with ThreadPoolExecutor(3) as pool:
        ok = dict(zip(PANEL, pool.map(check, PANEL)))
    release_persisted(spark)
    con.close()
    return [q for q in PANEL if not ok[q]]


def _execute(spark, q: str, sf_dir: str) -> bool:
    """build + plan + exec of one query, the untraced timed operation."""
    df = _registry()[q].spark(spark, sf_dir)
    df._jdf.queryExecution().executedPlan()
    df.write.format("noop").mode("overwrite").save()
    return True


def _traced_query(ctx: Context, q: str, sf_dir: str) -> dict:
    """One execution with a span per phase. Jobs are told apart by job
    group, so the status store is read once, after the query span."""
    spark, tr = ctx.spark, ctx.tracer
    sc = spark.sparkContext
    reg = _registry()
    tr.new_trace()
    cpu0 = cpu_seconds(python_workers(ctx.jvm_pid))
    with tr.span("query", query=q) as qs:
        sc.setLocalProperty("spark.jobGroup.id", f"{q}:build")
        with tr.span("queries.build") as b:
            df = reg[q].spark(spark, sf_dir)
        sc.setLocalProperty("spark.jobGroup.id", f"{q}:plan")
        with tr.span("queries.plan") as p:
            df._jdf.queryExecution().executedPlan()
        sc.setLocalProperty("spark.jobGroup.id", f"{q}:exec")
        with tr.span("queries.exec") as x:
            df.write.format("noop").mode("overwrite").save()
    sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = ctx.jvm.read()
    cpu = cpu_seconds(python_workers(ctx.jvm_pid)) - cpu0
    rdds, mb = persisted(spark)
    release_persisted(spark)
    exec_s = x["end"] - x["start"]
    rec = {
        "query.wall_s": qs["end"] - qs["start"],
        "queries.build_s": b["end"] - b["start"],
        "queries.plan_s": p["end"] - p["start"],
        "queries.exec_s": exec_s,
        "queries.build_jobs": sum(j["group"] == f"{q}:build" for j in jobs),
        "python_worker.cpu_s": cpu,
        "persist.rdds_left": rdds,
        "persist.mb_left": mb,
        "persist.queries_leaking": int(rdds > 0),
        **exec_counters([j for j in jobs if j["group"] == f"{q}:exec"],
                        exec_s, ctx.cores),
    }
    qs["counters"] = rec
    return rec


def headline_run(ctx: Context, inputs: dict) -> Result:
    from data_wrangle_openstreetmaps_data_spark import catalog

    spark, sf_dir, tr = ctx.spark, inputs["sf_dir"], ctx.tracer
    res = Result()
    res.wrong = _check_headline(spark, sf_dir)
    catalog_layer = {}
    if tr.enabled:
        tr.new_trace()
        ctx.jvm.read()
        with tr.span("catalog.tables") as cs:
            for name in catalog.TABLES:
                with tr.span("catalog.table", table=name):
                    catalog.table(spark, sf_dir, name)
        catalog_layer = {"catalog.table_s": cs["end"] - cs["start"],
                         "catalog.table_jobs": len(ctx.jvm.read())}

    def one_pass(rng, traced):
        order = PANEL[:]
        rng.shuffle(order)
        if not traced:
            for q in order:
                t0 = time.perf_counter()
                if _attempt(res, _execute, spark, q, sf_dir) is not None:
                    res.ops.append(time.perf_counter() - t0)
                    res.info.setdefault(q, []).append(res.ops[-1])
                release_persisted(spark)
            return None
        layer = dict(catalog_layer)
        for q in order:
            res.attempted += 1
            try:
                rec = _traced_query(ctx, q, sf_dir)
            except Exception:
                res.failed += 1
                _report(q)
                release_persisted(spark)
                continue
            for k, v in rec.items():
                layer[k] = layer.get(k, 0) + v
        # busy share over the pass's exec spans, not a sum of shares
        layer["exec.core_busy_frac"] = layer["exec.task_run_s"] / (
            layer["queries.exec_s"] * ctx.cores)
        return layer

    _loop(ctx, res, one_pass)
    # every execution of a query whose checked result was wrong is a failure
    passes = res.attempted // len(PANEL)
    res.failed = min(res.attempted, res.failed + len(res.wrong) * passes)
    return res


# -- ingest_cdc -----------------------------------------------------------
#
# One pass is the paper's batch pipeline followed by a CDC drain: both are
# write paths that never call the catalog or the query registry.

OSM_NODES, OSM_WAYS, OSM_SHARDS = 5_000, 800, 4
CDC_STATE_ROWS, CDC_BATCHES, CDC_BATCH_ROWS = 15_000, 24, 250


def write_prepare(work_dir: str, seed: int) -> dict:
    import numpy as np

    d = os.path.join(work_dir, "osm")
    paths, goldens = gen.write_osm(d, seed, OSM_NODES, OSM_WAYS, OSM_SHARDS)
    # small inputs for the untimed first pass, which checks both paths and
    # pays the JVM's warm-up of the reshape and streaming code
    small, small_goldens = gen.write_osm(os.path.join(work_dir, "osm_small"),
                                         seed + 1, 400, 60, 1)
    c = os.path.join(work_dir, "cdc")
    os.makedirs(c, exist_ok=True)
    state = os.path.join(c, "initial.parquet")
    n_cust = CDC_STATE_ROWS // 10
    gen.write_parquet(state, gen.orders_columns(np.random.default_rng(seed),
                                         np.arange(CDC_STATE_ROWS), n_cust))
    changes, _ = gen.write_changes(os.path.join(c, "changes"), seed,
                                   CDC_STATE_ROWS, CDC_BATCHES, CDC_BATCH_ROWS,
                                   n_cust)
    changes_small, _ = gen.write_changes(os.path.join(c, "changes_small"),
                                         seed + 1, CDC_STATE_ROWS, 2, 50, n_cust)
    return {
        "glob": os.path.join(d, "part_*.osm"), "goldens": goldens,
        "small": small[0], "small_goldens": small_goldens,
        "input_mb": sum(os.path.getsize(p) for p in paths) / 1e6,
        "store": os.path.join(work_dir, "store"),
        "state": state, "changes": os.path.dirname(changes[0]),
        "changes_small": os.path.dirname(changes_small[0]),
        "change_mb": sum(os.path.getsize(f) for f in changes) / 1e6,
        "cdc_out": os.path.join(c, "state"),
        "cdc_expected": os.path.join(c, "expected"),
    }


def write_warm_up(spark, inputs: dict) -> None:
    from data_wrangle_openstreetmaps_data_spark.sources import osm

    osm.read_osm(spark, inputs["small"]).count()


def check_goldens(goldens: dict, qout: dict) -> list[str]:
    """Where the pipeline's query results differ from the generator's
    goldens (empty when they agree)."""
    if len(qout) < 5 or None in qout.values():
        return ["missing query results"]
    got = {
        "distinct_users": int(qout["unique_users"][0]["cnt"]),
        "n_nodes": next((r["cnt"] for r in qout["type_counts"] if r["type"] == "node"), None),
        "n_ways": next((r["cnt"] for r in qout["type_counts"] if r["type"] == "way"), None),
        "top_shops": [[r["shop"], r["cnt"]] for r in qout["top_shops"]],
        "top_highways": [[r["highway"], r["cnt"]] for r in qout["top_highways"]],
        "amenity_counts": {r["amenity"]: r["cnt"]
                           for r in qout["amenity_counts"] if r["amenity"]},
    }
    return [k for k in goldens if got[k] != goldens[k]]


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs) / 1e6


class _Progress:
    """Collects micro-batch progress from a StreamingQueryListener."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.events: list[dict] = []
        self.lock = threading.Lock()  # the listener runs on another thread
        outer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if p.numInputRows > 0:
                    with outer.lock:
                        outer.events.append(
                            {"batch": p.batchId, "rows": p.numInputRows,
                             **{k: v / 1e3 for k, v in p.durationMs.items()}})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())

    def take(self, spark) -> list[dict]:
        """Progress events so far, once the listener bus has caught up."""
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        with self.lock:
            out, self.events = self.events, []
        return out


def _sorted_rows(path: str):
    """A parquet state directory as a pandas frame in key order."""
    import pyarrow.parquet as pq

    df = pq.read_table(path).to_pandas()
    return df.sort_values("o_orderkey").reset_index(drop=True)


def _first_pass(ctx: Context, inputs: dict, res: Result):
    """Untimed, three things at once: the pipeline over the small corpus
    against its goldens, a two-batch drain, and the expected final CDC
    state from one batch ``merge_upsert``. Returns that expected state."""
    from concurrent.futures import ThreadPoolExecutor

    from data_wrangle_openstreetmaps_data_spark.operators.join import merge_upsert
    from data_wrangle_openstreetmaps_data_spark.plans.pipeline import wrangle_maps
    from data_wrangle_openstreetmaps_data_spark.streaming.cdc_apply import apply_cdc_stream

    spark = ctx.spark
    initial = spark.read.parquet(inputs["state"])

    def pipeline():
        small = wrangle_maps(spark, inputs["small"], None, inputs["store"])
        for df in small.audits.values():
            df.count()
        qout = {k: df.collect() for k, df in small.queries.items()}
        return not check_goldens(inputs["small_goldens"], qout)

    def drain():
        apply_cdc_stream(spark, _change_stream(spark, inputs["changes_small"],
                                               initial.schema),
                         initial, "o_orderkey", inputs["cdc_out"])
        return True

    def expected():
        merge_upsert(initial, spark.read.parquet(inputs["changes"]),
                     "o_orderkey").write.parquet(inputs["cdc_expected"])
        return True

    with ThreadPoolExecutor(3) as pool:
        for name, job in [(f.__name__, pool.submit(f))
                          for f in (pipeline, drain, expected)]:
            try:
                ok = job.result()
            except Exception:
                _report(f"first pass, {name}")
                ok = False
            if not ok:
                res.wrong.append(f"first pass ({name})")
    release_persisted(spark)
    if os.path.isdir(inputs["cdc_expected"]):
        return _sorted_rows(inputs["cdc_expected"])
    return None  # every drain then fails its check


def _change_stream(spark, path: str, schema):
    """The staged change files as a stream, one file per micro-batch."""
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(path))


def write_run(ctx: Context, inputs: dict) -> Result:
    from data_wrangle_openstreetmaps_data_spark.plans.pipeline import wrangle_maps
    from data_wrangle_openstreetmaps_data_spark.sources import osm
    from data_wrangle_openstreetmaps_data_spark.streaming.cdc_apply import apply_cdc_stream

    spark, tr = ctx.spark, ctx.tracer
    src, store = inputs["glob"], inputs["store"]
    res = Result()
    want = _first_pass(ctx, inputs, res)
    progress = _Progress(spark)
    initial = spark.read.parquet(inputs["state"])
    res.info.update(input_mb=inputs["input_mb"],
                    rows=CDC_BATCHES * CDC_BATCH_ROWS, ingest_s=[], drain_s=[])

    def one_pass(rng, traced):
        n_att, n_failed = res.attempted, res.failed
        qout: dict = {}
        tr.new_trace()
        if traced:
            ctx.jvm.read()
        t0 = time.perf_counter()
        with tr.span("ingest") as ing:
            with tr.span("osm.read") as rd:
                if traced:  # fill the raw cache wrangle_maps then reuses
                    osm.read_osm(spark, src).cache().count()
            read_jobs = ctx.jvm.read() if traced else []
            with tr.span("json_sink.write_store") as ws:
                wr = _attempt(res, wrangle_maps, spark, src, None, store)
            with tr.span("audit.audits") as au:
                for df in (wr.audits.values() if wr else ()):
                    _attempt(res, df.count)
            with tr.span("pipeline.queries") as pq:
                for k, df in (wr.queries.items() if wr else ()):
                    qout[k] = _attempt(res, df.collect)
        ingest_s = time.perf_counter() - t0
        if res.failed > n_failed or check_goldens(inputs["goldens"], qout):
            res.wrong.append(f"ingest {len(res.passes) + len(res.traced_passes)}")
            res.failed = n_failed + (res.attempted - n_att)
        ingest_jobs = read_jobs + ctx.jvm.read() if traced else []
        store_mb = _dir_mb(store) if traced else 0.0
        leftover = persisted(spark)[0] if traced else 0
        release_persisted(spark)

        t1 = time.perf_counter()
        with tr.span("cdc.drain") as dr:
            try:
                final = apply_cdc_stream(
                    spark, _change_stream(spark, inputs["changes"], initial.schema),
                    initial, "o_orderkey", inputs["cdc_out"])
            except Exception:
                _report("drain")
                final = None
        drain_s = time.perf_counter() - t1
        epochs = progress.take(spark)
        res.attempted += CDC_BATCHES
        if (final is None or len(epochs) != CDC_BATCHES
                or not _sorted_rows(final).equals(want)):
            res.failed += CDC_BATCHES
            res.wrong.append(f"drain {len(res.passes) + len(res.traced_passes)}")
        if not traced:
            res.ops.extend(e["triggerExecution"] for e in epochs)
            res.info["ingest_s"].append(ingest_s)
            res.info["drain_s"].append(drain_s)
            return None
        drain_jobs = ctx.jvm.read()
        # jobs of micro-batch N carry "batch = N" in their description
        written: dict[int, float] = {}
        for j in drain_jobs:
            m = re.search(r"batch = (\d+)", j["description"])
            if m:
                written[int(m.group(1))] = written.get(int(m.group(1)), 0.0) + j["output_mb"]
        state_mb = _median([written.get(e["batch"], 0.0) for e in epochs])
        read_mb = sum(j["input_mb"] for j in read_jobs)
        return {
            "osm.read_s": rd["end"] - rd["start"],
            "osm.scan_mb": read_mb,
            "osm.scan_amplification": read_mb / inputs["input_mb"],
            "json_sink.write_store_s": ws["end"] - ws["start"],
            "json_sink.store_mb": store_mb,
            "audit.audits_s": au["end"] - au["start"],
            "pipeline.queries_s": pq["end"] - pq["start"],
            "persist.rdds_left": leftover,
            "ingest.wall_s": ingest_s,
            "cdc.drain_s": drain_s,
            "cdc.add_batch_s": _median([e.get("addBatch", 0.0) for e in epochs]),
            "cdc.wal_commit_s": _median([e.get("walCommit", 0.0) for e in epochs]),
            "cdc.query_planning_s": _median([e.get("queryPlanning", 0.0) for e in epochs]),
            "cdc.state_mb_written": state_mb,
            "cdc.write_amplification": state_mb / (inputs["change_mb"] / CDC_BATCHES),
            **exec_counters(ingest_jobs + drain_jobs, ingest_s + drain_s,
                            ctx.cores),
        }

    _loop(ctx, res, one_pass)
    return res


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def headline_total(res: Result) -> float:
    """A pass as ``bench.py`` totals it: the sum over the panel of each
    query's median latency, which one slow execution does not move."""
    return sum(statistics.median(res.info[q]) for q in PANEL)


WORKLOADS = {
    "query_headline": Workload(headline_prepare, headline_warm_up, headline_run,
                               min_passes=5, pass_name="headline pass",
                               pass_time=headline_total),
    "ingest_cdc": Workload(write_prepare, write_warm_up, write_run,
                           min_passes=2, pass_name="ingest + drain"),
}
