"""Turns one run's raw records (result.json from the JVM) into the named
metrics BENCHMARK.json lists: the end-to-end metrics of an untraced run,
or the per-layer metrics of a traced run."""
import math
import statistics

SALES_QUERIES = [
    "q01_counts", "q02_sample", "q02_sample_customer", "q02_sample_lineitem",
    "q02_sample_part", "q03_sales_by_day", "q04_sales_by_month", "q05_top_products",
    "q06_top_customers", "q07_status_distribution", "q08_average_order_value",
    "q09_products_without_sales", "q10_customers_without_orders", "q11_latest_order_detail",
    "q12_order_totals_reconciliation", "q13_sales_by_category", "q14_date_range_sales",
    "v_order_totals", "v_sales_by_day"]
COMPOSITES = ["txt_bm25_compacted", "emb_knn_lsh_compacted", "doc_curate"]

END_TO_END = {
    "ops_per_s": "1/s", "cpu_s_per_op": "s", "live_mem_mb": "MB", "setup_s": "s"}

PER_LAYER = {
    "pipeline.batch_s": "s", "pipeline.batch_plain_s": "s", "pipeline.rows_per_s": "rows/s",
    "pipeline.write_amp": "ratio", "pipeline.jobs": "count", "pipeline.driver_gap_s": "s",
    "pipeline.core_util": "ratio",
    **{f"{m}.batch_task_s": "s" for m in ("pipeline", "csvextract", "upsert", "snapshot")},
    "csvextract.s": "s", "csvextract.rows": "count", "csvextract.bytes_read": "bytes",
    "csvextract.read_amp": "ratio",
    "transform.s": "s", "transform.rows_in": "count", "transform.rows_out": "count",
    "transform.dups_dropped": "count", "transform.rejects": "count",
    "transform.shuffle_bytes": "bytes",
    "upsert.s": "s", "upsert.inserted": "count", "upsert.updated": "count",
    "upsert.bytes_written": "bytes", "upsert.files_written": "count", "upsert.jobs": "count",
    "snapshot.merge_commit_s": "s", "snapshot.bytes_written": "bytes",
    "snapshot.files_written": "count", "snapshot.jobs": "count", "snapshot.commits": "count",
    "salesqueries.plan_s": "s", "salesqueries.exec_s": "s",
    "salesqueries.jobs_per_query": "count", "salesqueries.shuffle_bytes": "bytes",
    **{f"salesqueries.{q}.s": "s" for q in SALES_QUERIES},
    "lifecycle.scenario_s": "s",
    **{f"lifecycle.{c}.s": "s" for c in COMPOSITES},
    "lifecycle.jobs": "count", "lifecycle.driver_gap_s": "s",
    "lifecycle.bytes_written": "bytes", "lifecycle.files_written": "count",
    "spark.task_s": "s", "spark.input_bytes": "bytes", "spark.output_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes", "jvm.gc_s": "s",
    "jvm.peak_rss_mb": "MB", "spark.sql_executions": "count",
    "ops_failed_frac": "ratio", "trace.overhead_frac": "ratio",
}


def percentile(values, q):
    """Nearest-rank percentile, or None unless at least ten samples lie
    beyond it (so a p50 needs 20 samples and a p90 needs 100)."""
    if not values:
        return None
    xs = sorted(values)
    rank = max(1, math.ceil(q * len(xs)))
    if len(xs) - rank < 10:
        return None
    return xs[rank - 1]


def latency_summary(ops):
    """Per op name: sample count, mean, and the median and p90 where the
    percentile rule allows them (None where it withholds them)."""
    by = {}
    for op in ops:
        by.setdefault(op["name"], []).append(op["s"])
    by["all"] = [op["s"] for op in ops]
    return {k: {"n": len(v), "mean_s": _mean(v), "p50_s": percentile(v, 0.5),
                "p90_s": percentile(v, 0.9)} for k, v in by.items()}


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(res):
    ops = res["ops"]
    total = sum(op["s"] for op in ops)
    return {
        "ops_per_s": len(ops) / total if total > 0 else 0.0,
        "cpu_s_per_op": _mean(op.get("cpu_s", 0.0) for op in ops),
        "live_mem_mb": res["live_mem_mb"],
        # the JVM's own start, then the median of three full set-ups
        "setup_s": res["jvm_start_s"] + statistics.median(res["setup_reps_s"]),
    }


def per_layer(workload, res, exp, cores):
    ops = res["ops"]
    tr = [op.get("trace", {}) for op in ops]
    m = dict.fromkeys(PER_LAYER, 0.0)
    # every workload: Spark totals per op, and what the tracing cost
    for k, f in [("spark.task_s", "task_s"), ("spark.input_bytes", "input_bytes"),
                 ("spark.output_bytes", "output_bytes"),
                 ("spark.shuffle_write_bytes", "shuffle_write_bytes"),
                 ("spark.spill_bytes", "spill_bytes"),
                 ("spark.sql_executions", "sql_executions")]:
        m[k] = _mean(t.get(f, 0) for t in tr)
    m["jvm.gc_s"] = _mean(op.get("gc_s", 0.0) for op in ops)
    m["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    wall = sum(op["s"] for op in ops)
    m["trace.overhead_frac"] = res.get("trace_overhead_s", 0.0) / wall if wall else 0.0
    m["ops_failed_frac"] = sum(1 for op in ops if not op.get("ok")) / len(ops) if ops else 0.0

    if workload == "etl":
        txn = [op["s"] for op in ops if op["name"].startswith("txn")]
        plain = [op["s"] for op in ops if op["name"].startswith("plain")]
        m["pipeline.batch_s"] = _mean(txn)
        m["pipeline.batch_plain_s"] = _mean(plain)
        inputs = [op.get("check", {}).get("input", "base") for op in ops]
        rows = [exp[i]["rows_in_total"] for i in inputs]
        csv_bytes = [exp[i]["csv_bytes"] for i in inputs]
        m["pipeline.rows_per_s"] = sum(rows) / wall if wall else 0.0
        m["pipeline.write_amp"] = _mean(t.get("output_bytes", 0) / b for t, b in zip(tr, csv_bytes))
        m["pipeline.jobs"] = _mean(t.get("jobs", 0) for t in tr)
        m["pipeline.driver_gap_s"] = _mean(op["s"] - t.get("busy_s", 0.0) for op, t in zip(ops, tr))
        m["pipeline.core_util"] = _mean(t.get("task_s", 0.0) / (op["s"] * cores)
                                        for op, t in zip(ops, tr) if op["s"] > 0)
        # task seconds of full batches, by the module their stages came from
        for mod in ("pipeline", "csvextract", "upsert", "snapshot"):
            m[f"{mod}.batch_task_s"] = _mean(t.get("task_s_by_module", {}).get(mod, 0.0) for t in tr)
        iso = res.get("isolated", {})
        ex, tf = iso.get("csvextract", {}), iso.get("transform", {})
        up, sn = iso.get("upsert", {}), iso.get("snapshot", {})
        m["csvextract.s"] = ex.get("s", 0.0)
        m["csvextract.rows"] = ex.get("rows", 0)
        m["csvextract.bytes_read"] = ex.get("input_bytes", 0)
        m["csvextract.read_amp"] = _mean(t.get("csv_input_bytes", 0) / b for t, b in zip(tr, csv_bytes))
        m["transform.s"] = tf.get("s", 0.0)
        for k in ("rows_in", "rows_out", "dups_dropped", "rejects"):
            m[f"transform.{k}"] = tf.get(k, 0)
        m["transform.shuffle_bytes"] = tf.get("shuffle_write_bytes", 0)
        m["upsert.s"] = up.get("s", 0.0)
        for k in ("inserted", "updated", "files_written", "jobs"):
            m[f"upsert.{k}"] = up.get(k, 0)
        m["upsert.bytes_written"] = up.get("output_bytes", 0)
        m["snapshot.merge_commit_s"] = sn.get("s", 0.0)
        for k in ("files_written", "jobs", "commits"):
            m[f"snapshot.{k}"] = sn.get(k, 0)
        m["snapshot.bytes_written"] = sn.get("output_bytes", 0)

    if workload == "queries_lifecycle":
        qs = [(op, t) for op, t in zip(ops, tr) if op["name"] in SALES_QUERIES]
        m["salesqueries.plan_s"] = _mean(t.get("plan_s", 0.0) for _, t in qs)
        m["salesqueries.exec_s"] = _mean(t.get("exec_s", 0.0) for _, t in qs)
        m["salesqueries.jobs_per_query"] = _mean(t.get("jobs", 0) for _, t in qs)
        m["salesqueries.shuffle_bytes"] = _mean(t.get("shuffle_write_bytes", 0) for _, t in qs)
        for q in SALES_QUERIES:
            m[f"salesqueries.{q}.s"] = _mean(op["s"] for op in ops if op["name"] == q)
        cs = [(op, t) for op, t in zip(ops, tr) if op["name"] in COMPOSITES]
        m["lifecycle.scenario_s"] = _mean(op["s"] for op, _ in cs)
        for c in COMPOSITES:
            m[f"lifecycle.{c}.s"] = _mean(op["s"] for op in ops if op["name"] == c)
        m["lifecycle.jobs"] = _mean(t.get("jobs", 0) for _, t in cs)
        m["lifecycle.driver_gap_s"] = _mean(op["s"] - t.get("busy_s", 0.0) for op, t in cs)
        m["lifecycle.bytes_written"] = _mean(t.get("output_bytes", 0) for _, t in cs)
        m["lifecycle.files_written"] = _mean(op.get("check", {}).get("files_written", 0) for op, _ in cs)
    return m


def summarize(workload, res, exp, traced, cores):
    vals, units = (per_layer(workload, res, exp, cores), PER_LAYER) if traced \
        else (end_to_end(res), END_TO_END)
    return {k: {"value": float(vals[k]), "unit": units[k]} for k in units}
