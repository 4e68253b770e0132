"""headline_sf001: the 21 headline queries at scale factor 0.01.

Set-up writes the ten driver tables from the seed. A pass runs each of
the 21 queries of ``bench.HEADLINE`` through ``queries_dict()`` in a
seeded order: the query function builds its DataFrame, then ``toArrow``
computes every output column and brings the result to the driver.
A query's wall is build plus action.

Set-up runs every query's DuckDB oracle once and keeps the row count
and order-insensitive digest of its result. After each timed call,
``gpq_spark.oracle.compare`` checks the output against that digest
(outside the timed window); on a mismatch it reruns the oracle for the
details.

The first pass runs in a fresh session, so it includes the one-time
costs a new Spark application pays per query shape (code generation,
JIT, Python worker start) along with the per-query driver floor.
"""

from __future__ import annotations

import os
import random
import struct
import time
from contextlib import nullcontext

from harness import ActionPlans, add_spark_layer, geomean, median, sum_counters, tail
from inputs import driver_tables

SF = 0.01
MIN_PASSES = 1
Q1 = "q1_pricing_summary"

# the headline set of the repository's bench.py, in its order
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_nation_volume",
    "q_topk_suppliers_per_nation",
    "q_sessionize_events",
    "q_asof_join_events_orders",
    "dedup_exact_docs",
    "dedup_minhash_pairs",
    "dedup_ngram_jaccard_pairs",
    "ann_topk",
    "text_fingerprint",
    "geo_bbox_filter",
    "geo_roundtrip",
    "q_ktruss_edges",
    "jpeg_roundtrip_stats",
    "text_pair_cosine",
    "stream_sessionize_ooo",
    "zorder_orders",
    "multimodal_warc_gz",
    "multimodal_tar_entries",
    "text_charlm_xent",
]


class _Collected:
    """An already-collected result, in the shape ``oracle.compare`` reads
    from both sides: a DataFrame (``toArrow``) and a DuckDB connection
    (``sql(...).arrow()``)."""

    def __init__(self, table):
        self.table = table

    def toArrow(self):  # noqa: N802 - pyspark API name
        return self.table

    def sql(self, _query):
        return self

    def arrow(self):
        return self.table


def _keeps_sums(plans: list[tuple[str, str]]) -> bool:
    """Self-test: the executed plan of q1's timed action, the last
    action to finish in its window, still computes the SUM aggregates
    (the plan ``count()`` runs prunes them)."""
    return bool(plans) and "sum(" in plans[-1][1]


def _warm_up(spark, sf_dir: str, cpus: int) -> None:
    """First-use costs every query shares, paid in set-up so that the
    seeded order does not charge them to whichever query runs first: a
    Parquet scan with a shuffle aggregate, and a Python worker on every
    core running the package's geometry kernel."""
    from gpq_spark.functions.geometry import st_envelope

    spark.read.parquet(f"{sf_dir}/lineitem.parquet").groupBy("l_returnflag").count().collect()
    points = [(struct.pack("<BIdd", 1, 1, float(i), float(i)),) for i in range(8 * cpus)]
    df = spark.createDataFrame(points, "g binary").repartition(cpus)
    df.select(st_envelope("g").alias("e")).collect()


def run(r) -> dict:
    from gpq_spark import oracle
    from gpq_spark.entry_queries import oracles_dict, queries_dict

    sf_dir = r.work.sub("tables")
    fns = queries_dict()
    oracles = oracles_dict()
    order = list(HEADLINE)
    random.Random(r.seed).shuffle(order)
    r.notes.update(sf=SF, order=order)

    r.start()
    r.notes["table_rows"] = driver_tables(sf_dir, r.seed, SF)
    with r.tracer.span("session.warmup_s"):
        _warm_up(r.spark, sf_dir, r.cpus)
    con = oracle.duckdb_connection(sf_dir)
    cache = oracle.OracleCache(os.path.join(r.work.path, "oracle-cache.json"),
                               oracle.data_fingerprint(sf_dir))
    t0 = time.perf_counter()
    for name in order:
        # comparing the oracle's result with itself puts its digest in
        # the cache; DuckDB runs once
        result = _Collected(con.sql(oracles[name]).arrow())
        oracle.compare(result, result, oracles[name], cache)
    r.notes["oracle_setup_s"] = time.perf_counter() - t0
    plans = ActionPlans(r.spark)

    tr = r.tracer
    passes = []
    t_start = r.begin_timed()
    n_pass = 0
    while not r.done(t_start, n_pass, MIN_PASSES):
        n_pass += 1
        walls: list[float] = []
        windows: list[dict] = []
        for name in order:
            counters: dict = {}
            try:
                with plans.capture() if name == Q1 else nullcontext([]) as q1_plans, \
                        tr.spark_window(counters):
                    t0 = time.perf_counter()
                    df = fns[name](r.spark, sf_dir)
                    t1 = time.perf_counter()
                    table = df.toArrow()
                    t2 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 - counted, not fatal
                r.fail(name, exc)
                continue
            r.record("query", t2 - t0)
            walls.append(t2 - t0)
            res = oracle.compare(_Collected(table), con, oracles[name], cache)
            r.check(res["match"], f"{name}: {res.get('detail', '')}"[:300])
            if name == Q1:
                r.notes["q1_action"] = q1_plans[-1][0] if q1_plans else None
                r.check(_keeps_sums(q1_plans), "q1: timed plan lost its SUM aggregates")
            if tr.enabled:
                tr.add(f"q.{name}.build_s", t1 - t0)
                tr.add(f"q.{name}.action_s", t2 - t1)
                tr.add(f"q.{name}.jobs", counters["jobs"])
                windows.append(counters)
        if walls:
            passes.append({"pass_s": sum(walls), "geomean_s": geomean(walls)})
        if tr.enabled:
            add_spark_layer(tr, sum_counters(windows))
    r.passes = passes
    con.close()
    queries = r.calls.get("query", [float("nan")])
    t, pct, beyond = tail(queries)
    r.notes.update(p50_s=median(queries), tail_s=t, tail_percentile=pct, tail_beyond=beyond, oracle_cache_hits=cache.hits)
    return {
        "pass_s": median([p["pass_s"] for p in passes]),
        "geomean_s": median([p["geomean_s"] for p in passes]),
    }
