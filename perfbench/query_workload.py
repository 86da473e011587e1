"""The ``interactive`` and ``pipeline`` workloads: one client runs a
seed-shuffled list of registered queries, each built and executed to
the noop sink, in a closed loop."""

from __future__ import annotations

import random
import time
from concurrent.futures import ThreadPoolExecutor

import checks
import common
import datagen
import spans as tr

INTERACTIVE = (
    "tpch_q1_pricing_summary", "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping_priority", "tpch_q4_order_priority",
    "tpch_q5_region_revenue", "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items", "agg_distinct", "agg_rollup",
    "window_topk_per_group", "temporal_asof_bitemporal", "xtql_temporal_asof",
    "xtql_temporal_join_aggregate", "sql_asof_join_dialect", "join_inner_equi",
    "graph_star_supplier_profile", "sql_nest_many_nest_one",
    "events_retention_cohorts",
)

PIPELINE = (
    "entity_fuzzy_match_blocked", "dedup_ngram_jaccard",
    "curation_decontaminate_ngram", "knn_brute_force_cosine",
    "stream_stateful_sessions", "recursion_fixpoint_ancestors",
)

# Fixture registration is repeated and its median reported, so one
# slow repetition does not move setup_s.
SETUP_REPEATS = 3


def _register(spark, data_dir: str) -> None:
    from core2_spark.catalog import register_views

    register_views(spark, data_dir, datagen.TABLES)


def _oracle_frames(data_dir: str, names) -> dict:
    import duckdb

    from core2_spark.queries.registry import all_oracles

    oracles = all_oracles()
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    try:
        return {n: con.execute(oracles[n]).df() for n in names}
    finally:
        con.close()


def run(args, tmp: str, data_root: str, tracer) -> dict:
    from core2_spark.queries.registry import all_queries

    names = INTERACTIVE if args.workload == "interactive" else PIPELINE
    rng = random.Random(args.seed)
    data_dir = datagen.generate(
        f"{data_root}/s{args.seed}-x{args.scale}", args.seed, args.scale
    )
    session_s, spark = common.timed(common.start_session, tmp)
    sc = spark.sparkContext
    registry = all_queries()
    fns = {n: registry[n] for n in names}
    register_s = sorted(
        common.timed(_register, spark, data_dir)[0] for _ in range(SETUP_REPEATS)
    )[SETUP_REPEATS // 2]

    # Warm pass, one query per thread on every core: JIT, Python
    # workers and schema caches fill here.  Its collected results are
    # the ones checked against the oracle.
    def collect(n):
        try:
            return n, fns[n](spark, data_dir).toPandas(), None
        except Exception as exc:  # noqa: BLE001 — reported as a failure
            return n, None, f"{n}: warm run raised {exc!r:.200}"

    t = time.perf_counter()
    with ThreadPoolExecutor(common.cpus()) as pool:
        warm = list(pool.map(collect, rng.sample(names, len(names))))
    warm_s = time.perf_counter() - t
    results = {n: pdf for n, pdf, err in warm if err is None}
    failures = [err for _n, _pdf, err in warm if err is not None]

    lat, per_query, ops, dfs, attempted = [], {}, [], {}, 0
    gc0 = tr.gc_seconds(spark) if tracer else 0.0
    start = time.perf_counter()
    while True:
        for n in rng.sample(names, len(names)):
            attempted += 1
            op = f"q{attempted}"
            t = time.perf_counter()
            try:
                if tracer:
                    with tracer.span("client.query", op):
                        sc.setJobGroup(op + ":build", n)
                        with tracer.span("queries.build"):
                            df = fns[n](spark, data_dir)
                        sc.setJobGroup(op, n)
                        with tracer.span("sink.noop"):
                            df.write.format("noop").mode("overwrite").save()
                    ops.append(op)
                    dfs[n] = df
                else:
                    fns[n](spark, data_dir).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 — reported as a failure
                failures.append(f"{n}: timed run raised {exc!r:.200}")
                continue
            lat.append(time.perf_counter() - t)
            per_query.setdefault(n, []).append(lat[-1])
        # whole passes only, as many as come closest to --seconds
        elapsed = time.perf_counter() - start
        if elapsed + elapsed / (attempted / len(names)) / 2 >= args.seconds:
            break
    wall = time.perf_counter() - start
    gc_s = tr.gc_seconds(spark) - gc0 if tracer else 0.0
    peak = common.peak_rss_mb(spark)
    heap = common.live_heap_mb(spark)

    # Correctness, outside every timed region.
    t = time.perf_counter()
    want = _oracle_frames(data_dir, list(results))
    mismatches = {n: checks.mismatch(got, want[n]) for n, got in results.items()}
    failures += [f"{n}: differs from its oracle: {why}" for n, why in mismatches.items() if why]
    check_s = time.perf_counter() - t

    layers = {}
    if tracer:
        layers = common.query_path_layers(spark, tracer, ops, dfs, gc_s)
    common.stop_session(spark)
    return {
        "attempted": attempted + len(names),
        "failures": failures,
        "checks": {"oracle_checked": len(mismatches),
                   "oracle_matches": sum(why is None for why in mismatches.values())},
        "setup": {"session_s": session_s, "register_s": register_s, "warm_s": warm_s},
        "latency": common.latency_metrics(lat, wall) if lat else None,
        "peak_rss_mb": peak,
        "heap_live_mb": heap,
        "layers": layers,
        "per_query_s": per_query,
        "extra": {"check_s": f"{check_s:.3f}", "timed_wall_s": f"{wall:.3f}"},
    }
