"""Registry workloads: named queries from ``__spark_entry__.queries()``
forced through the noop sink, one client, passes in seeded order.

Runs in the benchmark process (which is then the Spark driver):

1. set up ``setups`` times (SparkSession + registry dict + one trivial
   job); the median is ``setup_s``;
2. an untimed warm-up pass that collects every query (one per core at
   a time) and compares it with its DuckDB oracle
   (``__spark_entry__.oracle_sql()``);
3. timed whole passes until ``seconds`` have passed, at least two.

Between operations only ``spark.catalog.clearCache()`` runs, so state
that outlives a query (pinned RDDs) stays visible in the gauges.
"""

from __future__ import annotations

import hashlib
import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import common

HEADLINE = [
    "ts_window_query", "ts_minmax_downsample_time", "ts_minmax_downsample_count",
    "ts_fill_gaps", "ts_gap_spans", "ts_montage", "ts_event_summary",
    "ts_epoch_rebase", "ts_cut_resample", "ts_realtime_resample",
    "ts_rollup_downsample", "doc_exact_dedup", "doc_token_stats", "doc_lang_id",
    "doc_minhash_lsh_pairs", "doc_simhash", "emb_cosine_topk",
]

# one pass runs each query once, too little work for a steady figure;
# a third pass would not fit the time the benchmark has for a run when
# the host is busy
MIN_PASSES = 2

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canonical(table) -> "pd.DataFrame":
    """A result as a frame over name-sorted columns, rows sorted by
    every column, so two engines' answers compare exactly."""
    cols = sorted(table.column_names)
    df = table.select(cols).to_pandas()
    return df.sort_values(cols, kind="mergesort", na_position="last",
                          ignore_index=True) if len(df) else df


def same(got, want) -> bool:
    """Exact equality of two canonical frames (NaN equals NaN)."""
    import numpy as np

    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    for c in got.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            if not np.array_equal(a.astype(float), b.astype(float), equal_nan=True):
                return False
        elif not (a == b).all():
            return False
    return True


def oracle_answer(con, sql: str, sf_dir: str):
    """The DuckDB oracle's answer, kept on disk per data set and SQL
    text so the oracle runs once per checkout."""
    import pyarrow.parquet as pq

    key = hashlib.sha1((sf_dir + "\0" + sql).encode()).hexdigest()
    path = os.path.join(common.WORK, "oracle", key + ".parquet")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(con.execute(sql).arrow(), path + ".tmp")
        os.replace(path + ".tmp", path)
    return canonical(pq.read_table(path))


def run(args, sf_dir: str, names: list[str], setups: int) -> dict:
    common.prepare_env()
    import duckdb

    import __spark_entry__ as entry
    from pennsieve_streaming_spark.session import get_spark

    # -- set-up, repeated; the first one also launches the JVM --------
    setup_s = []
    for i in range(setups):
        t0 = time.perf_counter()
        spark = get_spark("perfbench-registry", extra_conf=common.spark_conf())
        qs = entry.queries()
        spark.range(1).count()
        setup_s.append(time.perf_counter() - t0)
        if i < setups - 1:
            spark.stop()
    sc = spark.sparkContext
    box = {"sentinel_s": common.sentinel_s(spark)}

    rng = random.Random(args.seed)
    attempted = failed = 0
    wrong: set[str] = set()
    out_rows: dict[str, int] = {}
    errors: list[str] = []

    # -- warm-up pass: collect and compare with the DuckDB oracle ------
    # Untimed, so the queries run side by side (one per core): it only
    # has to warm the JVM and produce answers to check.
    t_warm = time.perf_counter()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    osql = entry.oracle_sql()
    warm = names[:]
    rng.shuffle(warm)

    def answer(name):
        try:
            return name, canonical(qs[name](spark, sf_dir).toArrow()), None
        except Exception as e:  # noqa: BLE001 - reported, counted
            return name, None, f"{name}: {type(e).__name__}: {str(e)[:200]}"

    spark.catalog.clearCache()
    with ThreadPoolExecutor(os.cpu_count() or 1) as pool:
        answers = list(pool.map(answer, warm))
    spark.catalog.clearCache()
    for i, (name, got, error) in enumerate(answers):
        attempted += 1
        if got is not None and args.corrupt and i == 0 and len(got):
            c = got.columns[0]
            got.loc[0, c] = "corrupt" if got[c].dtype == object else -1
        if got is not None:
            out_rows[name] = len(got)
            if not same(got, oracle_answer(con, osql[name], sf_dir)):
                error = f"{name}: result differs from its DuckDB oracle"
        if error:
            failed += 1
            wrong.add(name)
            errors.append(error)
    con.close()
    warm_s = time.perf_counter() - t_warm

    # -- timed passes: untraced, then (trace mode) traced --------------
    plain_ops, plain_wall, _ = _passes(spark, qs, sf_dir, names, rng, args.seconds,
                                       False, wrong)
    ops, wall, spans = plain_ops, plain_wall, common.Spans()
    if args.trace:
        ops, wall, spans = _passes(spark, qs, sf_dir, names, rng, args.seconds,
                                   True, wrong)
    attempted += len(plain_ops) + (len(ops) if args.trace else 0)
    failed += sum(o["failed"] for o in plain_ops)
    if args.trace:
        failed += sum(o["failed"] for o in ops)
    errors += [o["error"] for o in plain_ops + (ops if args.trace else []) if o.get("error")]

    spark.catalog.clearCache()
    gauges = common.engine_gauges(spark)
    spark.stop()

    done = [o for o in ops if "total" in o]
    med = medians(done)
    pass_s = sum(m["cycle"] for m in med.values())
    totals = [m["total"] for m in med.values()]
    e2e = {
        "setup_s": common.median(setup_s),
        "ops_per_s": len(med) / pass_s,
        "latency_p50_ms": common.pctl(totals, 50) * 1e3,
        "latency_p90_ms": common.pctl(totals, 90) * 1e3,
        "first_frame_p50_ms": common.pctl([m["build"] for m in med.values()], 50) * 1e3,
        "rows_per_s": sum(out_rows.get(q, 0) for q in med) / pass_s,
        "live_heap_mb": gauges["live_heap_mb"],
        "peak_rss_mb": gauges["peak_rss_mb"],
    }
    plain_med = medians([o for o in plain_ops if "total" in o])
    detail = {"setups_s": setup_s, "warmup_s": warm_s, "passes": max(o["pass"] for o in ops) + 1,
              "wall_ops_per_s": len(done) / wall,
              "untraced_ops_per_s": len(plain_med) / sum(m["cycle"] for m in plain_med.values())}
    layer = {"util.persisted_rdds": gauges["persisted_rdds"]}
    if args.trace:
        first = [o for o in done if o["pass"] == 0]
        n = max(1, len(first))
        layer.update({
            "wait_ms": common.median([o["wait"] * 1e3 for o in done]),
            "build_ms": common.median([o["build"] * 1e3 for o in done]),
            "deliver_ms": common.median([o["exec"] * 1e3 for o in done]),
            "first_frame_p50_ms": e2e["first_frame_p50_ms"],
            "spark.jobs_per_op": sum(o["jobs"] for o in first) / n,
            "spark.tasks_per_op": sum(o["tasks"] for o in first) / n,
            "spark.build_jobs_per_op": sum(o["build_jobs"] for o in first) / n,
            "transport.frames_per_op": 0.0,
            "transport.bytes_per_op": 0.0,
            "trace.overhead_pct": 100.0 * (1 - e2e["ops_per_s"] / detail["untraced_ops_per_s"]),
        })
        build_jobs = {o["name"]: o["build_jobs"] for o in first}
        detail["queries"] = {
            name: {"registry.build_s": m["build"], "registry.execute_s": m["exec"],
                   "registry.build_jobs": build_jobs.get(name)}
            for name, m in med.items()
        }
        detail["self_ms"] = spans.self_ms()
    return {"attempted": attempted, "failed": failed, "errors": errors,
            "e2e": e2e, "layer": layer, "detail": detail, "box": box,
            "spans": spans}


def medians(done: list[dict]) -> dict[str, dict[str, float]]:
    """Per query, the median over its passes of each of its times
    (``cycle`` is from ``clearCache()`` to the sink's return). The
    end-to-end figures are taken from these, so one pass the box slowed
    down moves none of them."""
    per_q: dict[str, list[dict]] = {}
    for o in done:
        per_q.setdefault(o["name"], []).append(o)
    return {name: {k: common.median([o[k] for o in qo])
                   for k in ("cycle", "total", "build", "exec")}
            for name, qo in sorted(per_q.items())}


def _passes(spark, qs, sf_dir, names, rng, seconds, trace, wrong):
    """Whole passes over ``names`` in seeded order until ``seconds``
    have passed, and at least ``MIN_PASSES``. Returns (ops, wall
    seconds, spans)."""
    sc = spark.sparkContext
    spans = common.Spans()
    ops = []
    t_start = time.perf_counter()
    n_pass = 0
    while n_pass < MIN_PASSES or time.perf_counter() - t_start < seconds:
        order = names[:]
        rng.shuffle(order)
        for name in order:
            rid = f"{'t' if trace else 'u'}{n_pass}-{name}"
            op = {"name": name, "pass": n_pass, "failed": 0}
            tw = time.perf_counter()
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            try:
                if trace:
                    sc.setJobGroup(rid + ":build", rid)
                df = qs[name](spark, sf_dir)
                t1 = time.perf_counter()
                if trace:
                    sc.setJobGroup(rid + ":exec", rid)
                df.write.mode("overwrite").format("noop").save()
                t2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001 - reported, counted
                op.update(failed=1, error=f"{name}: {type(e).__name__}: {str(e)[:200]}")
                ops.append(op)
                continue
            # a query whose warm-up answer was wrong is wrong every time
            op.update(failed=int(name in wrong), wait=t0 - tw, build=t1 - t0,
                      exec=t2 - t1, total=t2 - t0, cycle=t2 - tw)
            if trace:
                bj, bt = common.job_counts(sc, rid + ":build")
                ej, et = common.job_counts(sc, rid + ":exec")
                op.update(build_jobs=bj, jobs=bj + ej, tasks=bt + et)
                spans.add("client.request", rid, tw, t2, query=name)
                spans.add("registry.wait", rid, tw, t0, parent="client.request")
                spans.add("registry.build", rid, t0, t1, parent="client.request",
                          jobs=bj, tasks=bt)
                spans.add("registry.execute", rid, t1, t2, parent="client.request",
                          jobs=ej, tasks=et)
            ops.append(op)
        n_pass += 1
    if trace:
        sc.setJobGroup("perfbench-idle", "idle")
    return ops, time.perf_counter() - t_start, spans
