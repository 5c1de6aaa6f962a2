"""One run of one workload, in its own process; `run.py` starts it.

    python3 perfbench/workload.py --workload NAME --seed N --seconds S \
        --trace 0|1 --started EPOCH --tmp DIR

The process works inside DIR (its cwd, TMPDIR and SPARK_LOCAL_DIRS)
and prints one JSON object as its last line: correct, attempted,
failed, and the end-to-end metrics (trace 0) or the per-layer ones
(trace 1). One closed-loop client issues one call at a time; every
output is checked after the timed region ends.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import pages  # noqa: E402
import tables  # noqa: E402
import trace  # noqa: E402

# q5_local_supplier_volume is left out: its 2-dp revenue sums land on a
# rounding boundary on some seeds, where Spark and DuckDB round apart.
TPCH = [
    "q1_pricing_summary", "q3_shipping_priority", "q4_order_priority",
    "q6_forecast_revenue", "q7_volume_shipping",
    "q8_market_share", "q10_returned_items", "q13_customer_distribution",
    "q14_promo_revenue", "q15_top_supplier", "q17_small_quantity",
    "q18_large_volume_customer", "q19_disjunctive_predicates",
    "q21_waiting_supplier", "q22_dormant_customers",
]
EVENT_WINDOWS = ["events_funnel_steps", "sessionize_events", "events_tumbling_hourly"]
# The refresh also resolves the day's scraped plays (the production
# `pipeline.resolve_plays` over the vendored fixture games) and loads the
# day's player pages into SQLite, so the scrape layers run on it too.
PLAYER_LOAD = "scrape_player_load"
CURATION = [
    "text_tfidf_topk", "text_bpe_apply",
    "dedup_incremental_minhash", "retrieval_rrf_fusion", "ann_ivf_recall",
    "embedding_pq_codes", "curation_pipeline_e2e", "pii_redact",
    "multimodal_frame_sample", "udaf_grouped_pandas",
    "scrape_core_resolved_plays", PLAYER_LOAD,
]


@dataclass(frozen=True)
class QuerySpec:
    """A query workload: its queries, their scale, its style and the
    nominal seconds of one timed pass on a 4-core host. A long-lived
    session calls every query once over tables made from the next seed
    before timing starts (one call per core at a time), then serves the queries in a seeded order,
    pass after pass, over one path. A refresh job is timed from a cold
    session and runs its queries in pipeline order, each pass over a
    fresh snapshot path. A run times round(seconds / pass_s) passes (at
    least one), so that every run does the same work."""

    queries: list[str]
    scale: float
    refresh: bool
    pass_s: float

    def passes(self, seconds: float) -> int:
        return max(1, round(seconds / self.pass_s))


QUERY_WORKLOADS = {
    "sql_analytics": QuerySpec(TPCH + EVENT_WINDOWS, 0.1, refresh=False, pass_s=15.0),
    "curation_ml": QuerySpec(CURATION, 0.01, refresh=True, pass_s=45.0),
}
SCRAPE_GAMES = 30
PLAYER_LOAD_GAMES = 3  # the page cache a refresh reads its player pages from
# The session default heap is 16g; the benchmark caps it so that a run
# stays well inside a shared 15 GB host.
DRIVER_MEMORY = "4g"
QUERY_MODULES = ["relational", "events", "text", "dedup", "similarity",
                 "curation", "udfs", "multimodal", "scrape"]
# where lsh_state (TMPDIR) and ivf_state (the cwd's warehouse) write
STATE_DIRS = ("dfs_lsh_state", "spark-warehouse")


def _spark(app: str, tmp: str, traced: bool):
    from deep_field_spark.session import get_spark

    conf = {"spark.driver.memory": DRIVER_MEMORY}
    if traced:
        log_dir = os.path.join(tmp, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        })
    t = time.perf_counter()
    spark = get_spark(app, extra_conf=conf)
    return spark, time.perf_counter() - t


def _state_bytes_since(tmp: str, since: float) -> int:
    total = 0
    for d in STATE_DIRS:
        for base, _dirs, files in os.walk(os.path.join(tmp, d)):
            for name in files:
                st = os.stat(os.path.join(base, name))
                if st.st_mtime >= since:
                    total += st.st_size
    return total


def page_cache(root: str, n_games: int, seed: int) -> pages.Cache:
    """Render the seeded page cache under `root` after its round-trip
    self-check; returns the generator's truth."""
    cache = pages.build(n_games, seed)
    rendered = pages.pages(cache)
    pages.self_check(cache, rendered)
    pages.write(root, rendered)
    return cache


def player_load(spark, cache_root: str, db_path: str) -> None:
    """The player path of `orchestrate.scrape_from_cache` (cache read,
    player-page parse, player dim, SQLite sink of the `player` table),
    made of the same public calls of the scraping modules."""
    from pyspark.sql import functions as F

    from deep_field_spark.scraping import cache, pipeline, sqlite_sink

    read = cache.read_cache(spark, cache_root).cache()
    read.groupBy("page_type").count().collect()
    player_pages = read.filter(F.col("page_type") == "PlayerPage").select("name_id", "html")
    players = pipeline.players_dim_from_parsed(pipeline.parse_player_pages(player_pages)).cache()
    players.count()
    sqlite_sink.create_tables(db_path)
    sqlite_sink.write_table(players, db_path, "player")
    players.unpersist()
    read.unpersist()


def run_queries(args) -> tuple[dict, dict]:
    import __spark_entry__ as entry
    from deep_field_spark.queries import load_registry

    spec = QUERY_WORKLOADS[args.workload]
    timed_dir = os.path.join(args.tmp, "data", "timed")
    warm_dir = os.path.join(args.tmp, "data", "warm")
    cache_root = os.path.join(args.tmp, "bbref_cache")
    tables.write(timed_dir, spec.scale, args.seed)
    if not spec.refresh:
        tables.write(warm_dir, spec.scale, args.seed + 1)
    cache = page_cache(cache_root, PLAYER_LOAD_GAMES, args.seed) \
        if PLAYER_LOAD in spec.queries else None
    spark, start_s = _spark(f"perfbench-{args.workload}", args.tmp, args.trace)
    fns = entry.queries()
    registry = load_registry()
    module = {q: "scraping" if q == PLAYER_LOAD else registry[q].fn.__module__.rsplit(".", 1)[-1]
              for q in spec.queries}

    def warm(q: str) -> None:
        try:
            fns[q](spark, warm_dir).collect()
        except Exception:  # counted when the timed pass calls it again
            traceback.print_exc()

    t = time.perf_counter()
    if not spec.refresh:
        # Concurrent calls overlap the planning, codegen and JIT of
        # different queries; the caches they fill are the session's.
        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
            list(pool.map(warm, spec.queries))
    warm_s = time.perf_counter() - t

    rng = random.Random(args.seed)
    sc = spark.sparkContext
    passes = spec.passes(args.seconds)
    results, calls, state_b = [], [], []
    errors = 0
    first = time.time()
    cpu0, t0 = trace.tree_cpu_s(os.getpid()), time.perf_counter()
    ticks0 = trace.host_cpu_ticks()
    for p in range(passes):
        path = timed_dir
        order = list(spec.queries)
        if spec.refresh:
            path = os.path.join(args.tmp, f"snapshot-{p}")
            os.symlink(timed_dir, path)
        else:
            rng.shuffle(order)
        pass_started = time.time()
        for q in order:
            if args.trace:
                sc.setJobGroup(f"item:{p}:{q}", q)
            t = time.perf_counter()
            try:
                if q == PLAYER_LOAD:
                    db = os.path.join(args.tmp, f"players-{p}.db")
                    player_load(spark, cache_root, db)
                    results.append((q, None, db))
                else:
                    df = fns[q](spark, path)
                    results.append((q, list(df.columns), [tuple(r) for r in df.collect()]))
            except Exception:  # a failed call is a failed operation
                errors += 1
                traceback.print_exc()
            finally:
                calls.append((module[q], time.perf_counter() - t))
                print(f"item {p}:{q} {calls[-1][1]:.3f} s", file=sys.stderr)
        state_b.append(_state_bytes_since(args.tmp, pass_started))
    wall = time.perf_counter() - t0
    cpu = trace.tree_cpu_s(os.getpid()) - cpu0
    steal = trace.steal_share(ticks0)
    peak_mb = trace.tree_peak_rss_mb(os.getpid())
    spark.stop()

    oracle = entry.oracle_sql()
    con = checks.oracle_utils.duckdb_connect(timed_dir)
    expected: dict[str, tuple] = {}
    mismatches = 0
    for q, cols, rows in results:
        if cols is None:
            why = checks.check_players(rows, cache)
        else:
            if q not in expected:
                expected[q] = checks.oracle_rows(con, oracle[q])
            why = checks.compare(cols, rows, *expected[q])
        if why is not None:
            mismatches += 1
            print(f"check failed: {q}: {why}", file=sys.stderr)
    con.close()
    items = len(results) + errors
    print(f"phases: setup {first - args.started:.1f} s, timed {wall:.1f} s ({passes} passes, "
          f"{items / wall:.4f} items/s, host CPU steal {steal:.1%}), "
          f"checked {time.time() - first - wall:.1f} s after", file=sys.stderr)

    counts = {"attempted": items, "failed": errors + mismatches}
    # the rate over the time the host left the machine's CPUs; see
    # trace.steal_share
    rate = items / (wall * (1 - steal))
    if not args.trace:
        return counts, {
            "setup_s": (first - args.started, "s"),
            "items_per_s": (rate, "1/s"),
            "cpu_s_per_item": (cpu / items, "s"),
        }
    m = {
        "session.start_s": (start_s, "s"),
        "session.warmup_s": (warm_s, "s"),
        "session.peak_rss_mb": (peak_mb, "MB"),
        "operators.state_mb_per_pass": (sum(state_b) / 1e6 / passes, "MB"),
        "trace.items_per_s": (rate, "1/s"),
    }
    for mod in QUERY_MODULES:
        times = [s for name, s in calls if name == mod]
        m[f"queries.{mod}.s_per_call"] = (sum(times) / len(times) if times else 0.0, "s")
    log = trace.read_event_log(os.path.join(args.tmp, "eventlog")).select("item:")
    m.update(trace.spark_metrics(log, items, wall))
    scrape_items = {q for q in spec.queries if module[q] in ("scrape", "scraping")}
    m.update(trace.scrape_metrics(
        log.where(lambda job: job.group.rsplit(":", 1)[-1] in scrape_items), passes))
    return counts, m


# ----------------------------------------------------------- scrape_etl

def run_scrape(args) -> tuple[dict, dict]:
    from deep_field_spark.scraping import cli
    from deep_field_spark.scraping.orchestrate import scrape_from_cache

    root = os.path.join(args.tmp, "bbref_cache")
    cache = page_cache(root, SCRAPE_GAMES, args.seed)
    years = cli.validate_years(cache.year, None)
    db = cli.sanitize_db_name("stats")
    spark, start_s = _spark("deep_field_spark_scraper", args.tmp, args.trace)

    ok = True
    first = time.time()
    cpu0, t0 = trace.tree_cpu_s(os.getpid()), time.perf_counter()
    ticks0 = trace.host_cpu_ticks()
    try:
        scrape_from_cache(spark, root, db_path=db, parquet_root=None,
                          allow_mock_players=True, year_range=years, fetch_fn=None,
                          crawl_delay=cli.clamp_crawl_delay(cli.MIN_CRAWL_DELAY))
    except Exception:  # the whole batch failed: every game is a failed operation
        ok = False
        traceback.print_exc()
    wall = time.perf_counter() - t0
    cpu = trace.tree_cpu_s(os.getpid()) - cpu0
    steal = trace.steal_share(ticks0)
    peak_mb = trace.tree_peak_rss_mb(os.getpid())
    spark.stop()

    items = len(cache.games)
    rate = items / (wall * (1 - steal))
    print(f"phases: setup {first - args.started:.1f} s, batch {wall:.1f} s, "
          f"host CPU steal {steal:.1%}", file=sys.stderr)
    templates = checks.template_plays()
    if ok:
        bad, why = checks.check_scrape(db, cache, templates)
        for line in why:
            print(f"check failed: {line}", file=sys.stderr)
    else:
        bad = {g.name_id for g in cache.games}
    counts = {"attempted": items, "failed": len(bad)}
    if not args.trace:
        return counts, {
            "setup_s": (first - args.started, "s"),
            "items_per_s": (rate, "1/s"),
            "cpu_s_per_item": (cpu / items, "s"),
        }
    plays = sum(len(templates[g.template]) for g in cache.games)
    # the session runs nothing but the batch, so every job is the batch's
    log = trace.read_event_log(os.path.join(args.tmp, "eventlog"))
    m = {
        "session.start_s": (start_s, "s"),
        "session.warmup_s": (0.0, "s"),
        "session.peak_rss_mb": (peak_mb, "MB"),
        "operators.state_mb_per_pass": (0.0, "MB"),
        "trace.items_per_s": (rate, "1/s"),
    }
    for mod in QUERY_MODULES:
        m[f"queries.{mod}.s_per_call"] = (0.0, "s")
    m.update(trace.spark_metrics(log, items, wall))
    m.update(trace.scrape_metrics(log, 1))
    m["scraping.db_bytes_per_play"] = (os.path.getsize(db) / plays if ok else 0.0, "B")
    return counts, m


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True,
                   choices=[*QUERY_WORKLOADS, "scrape_etl"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--started", type=float, required=True)
    p.add_argument("--tmp", required=True)
    args = p.parse_args()
    run = run_scrape if args.workload == "scrape_etl" else run_queries
    counts, metrics = run(args)
    print(json.dumps({
        "correct": True,
        **counts,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
