"""Metric definitions and the statistics the benchmark reports.

END_TO_END and PER_LAYER are the names and units the command prints;
BENCHMARK.json lists the same ones.  LAYER_TABLE holds every per-layer
figure a traced run can record (the printed ones and each workload's layer
probes, which go to the run artifact), with the end-to-end metric and
workloads it is expected to move.
"""
import math
import statistics

# The workloads BENCHMARK.json lists, whose end-to-end metrics are gated.
WORKLOADS = ["etl_month", "dedup_corpus"]
# Runnable, checked and traced like the others, but not gated: a pass of
# sub-second queries spreads by 15-25 % from run to run (see README).
EXTRA_WORKLOADS = ["analytics_mix"]
ALL_WORKLOADS = WORKLOADS + EXTRA_WORKLOADS

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "cpu_s": "s",
    "items_per_s": "1/s",
}

# Workload-specific end-to-end figures: written to the run artifact and
# shown by `run.py --all`, not part of the one-line result, whose metrics
# must exist on every workload.
EXTRA_END_TO_END = {
    "records_per_s": ("rec/s", ["etl_month", "dedup_corpus"]),
    "queries_per_s": ("q/s", ["analytics_mix"]),
    "query_p50_ms": ("ms", ["analytics_mix"]),
    "query_p90_ms": ("ms", ["analytics_mix"]),
    "stored_bytes_per_input_byte": ("ratio", ["etl_month"]),
    "error_rate": ("ratio", ALL_WORKLOADS),
}

ANALYTICS_QUERIES = [
    "q1_agg", "q3_join_topk", "q5_star_join", "q_window", "q_range_join", "q_salted_join",
    "q_ev_session", "q_ev_asof"]

FUNCTION_BODIES = [
    "tokenNgrams", "tokenShingles", "minhashSig", "simhash60", "simhash96",
    "winnowFingerprint", "repetitionStats", "arrayJaccard", "arrayIntersectSize",
    "cosineBandKeys"]

LAYERS = ["bench", "sources", "functions", "queries", "operators", "plans", "streaming"]

# name -> (unit, better, target end-to-end metric, target workloads)
LAYER_TABLE = {}


def _layer(name, unit, better, target, workloads):
    LAYER_TABLE[name] = (unit, better, target, workloads)


_ETL, _AN, _DD = ["etl_month"], ["analytics_mix"], ["dedup_corpus"]
_layer("sources.blast_explode_mb_per_s", "MB/s", "higher", "cpu_s, items_per_s", _ETL)
_layer("sources.dbf_full_ns_per_record", "ns", "lower", "cpu_s, items_per_s", _ETL)
_layer("sources.dbf_pruned_ns_per_record", "ns", "lower",
       "none yet: no workload runs the pruned .dbc reads", _ETL)
_layer("sources.scan_s", "s", "lower", "job_s", _ETL)
_layer("sources.lake_write_s", "s", "lower", "job_s", _ETL)
_layer("sources.report_s", "s", "lower", "job_s", _ETL)
_layer("sources.lake_bytes", "bytes", "lower", "stored_bytes_per_input_byte", _ETL)
_layer("sources.lake_files", "count", "lower", "stored_bytes_per_input_byte", _ETL)
for _b in FUNCTION_BODIES:
    _layer(f"functions.{_b}_ns_per_row", "ns", "lower", "cpu_s", _DD)
for _q in ["q_dedup_minhash", "q_dedup_keep"]:
    _layer(f"queries.{_q}_cold_s", "s", "lower", "job_s", _DD)
    _layer(f"queries.{_q}_warm_s", "s", "lower", "job_s", _DD)
_layer("queries.memo_relations", "count", "lower", "job_s", _DD)
_layer("queries.memo_storage_bytes", "bytes", "lower", "job_s", _DD)
_layer("queries.candidate_pairs", "count", "lower", "cpu_s", _DD)
_layer("queries.verified_pairs", "count", "higher", "cpu_s", _DD)
_layer("queries.verify_yield", "ratio", "higher", "cpu_s", _DD)
for _q in ANALYTICS_QUERIES:
    _layer(f"queries.{_q}_ms", "ms", "lower", "query_p50_ms, query_p90_ms", _AN)
_layer("operators.cc_s", "s", "lower", "job_s", _DD)
_layer("operators.cc_iterations", "count", "lower", "job_s", _DD)
for _k in ["exchanges", "sort_merge_joins", "broadcast_joins", "nested_loop_joins"]:
    _layer(f"plans.{_k}", "count", "lower", "job_s", _DD + _AN)
_layer("stages.jobs", "count", "lower", "query_p50_ms", _AN)
_layer("stages.tasks", "count", "lower", "query_p50_ms", _AN)
_layer("stages.executor_cpu_s", "s", "lower", "cpu_s", ALL_WORKLOADS)
_layer("stages.gc_s", "s", "lower", "cpu_s", ALL_WORKLOADS)
_layer("stages.gc_share", "ratio", "lower", "cpu_s", ALL_WORKLOADS)
_layer("stages.shuffle_write_bytes", "bytes", "lower", "job_s", _DD)
_layer("stages.shuffle_read_bytes", "bytes", "lower", "job_s", _DD)
_layer("stages.spill_bytes", "bytes", "lower", "job_s", _DD)
_layer("stages.task_skew", "ratio", "lower", "job_s", ALL_WORKLOADS)
_layer("stages.idle_share", "ratio", "lower", "job_s", ALL_WORKLOADS)
# The streaming drain has no end-to-end workload of its own (see README).
_layer("streaming.batches", "count", "lower", "streaming drain (traced run only)", _DD)
for _k in ["trigger_ms", "add_batch_ms", "latest_offset_ms", "query_planning_ms", "wal_commit_ms"]:
    _layer(f"streaming.{_k}", "ms", "lower", "streaming drain (traced run only)", _DD)
_layer("streaming.harness_s", "s", "lower", "streaming drain (traced run only)", _DD)
_layer("streaming.static_build_s", "s", "lower", "streaming drain (traced run only)", _DD)
_layer("streaming.state_rows", "count", "lower", "streaming drain (traced run only)", _DD)
for _l in LAYERS:
    _layer(f"self_s.{_l}", "s", "lower", "job_s", ALL_WORKLOADS)
_layer("trace.untraced_job_s", "s", "lower", "job_s", ALL_WORKLOADS)
_layer("trace.traced_job_s", "s", "lower", "job_s", ALL_WORKLOADS)
_layer("trace.overhead_ratio", "ratio", "lower", "job_s", ALL_WORKLOADS)

# The per-layer metrics of the one-line result: those every workload's
# traced job yields.  The rest of LAYER_TABLE is workload-specific.
PER_LAYER = {k: LAYER_TABLE[k] for k in [
    "stages.jobs", "stages.tasks", "stages.executor_cpu_s", "stages.gc_share",
    "stages.shuffle_write_bytes", "stages.shuffle_read_bytes", "stages.spill_bytes",
    "stages.task_skew", "stages.idle_share",
    "plans.exchanges", "plans.sort_merge_joins", "plans.broadcast_joins",
    "plans.nested_loop_joins",
    "queries.memo_relations", "queries.memo_storage_bytes",
    "trace.untraced_job_s", "trace.traced_job_s", "trace.overhead_ratio"]}


def percentile(values, p, beyond=10):
    """Nearest-rank p-th percentile (0 < p < 1), or None unless at least
    `beyond` samples lie above it, so a tail figure is never one sample."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(p * n))
    if n - rank < beyond:
        return None
    return sorted(values)[rank - 1]


def end_to_end(raw):
    """All end-to-end figures of one run, from the JVM's raw measurements."""
    jobs = raw["jobs"]
    wall = [j["wall_s"] for j in jobs]
    out = {
        "setup_s": statistics.median(raw["setup_s"]),
        "job_s": statistics.median(wall),
        "cpu_s": statistics.median([j["cpu_s"] for j in jobs]),
        "items_per_s": statistics.median([j["items"] / j["wall_s"] for j in jobs]),
    }
    wl = raw["workload"]
    rate = "queries_per_s" if wl == "analytics_mix" else "records_per_s"
    out[rate] = out["items_per_s"]
    xs = raw["samples"].get("query_ms")
    if xs is not None:
        for p in (50, 90):
            v = percentile(xs, p / 100)
            if v is not None:
                out[f"query_p{p}_ms"] = v
    out.update(raw.get("extra", {}))
    out["error_rate"] = raw["failed"] / max(1, raw["attempted"])
    return out


def spread(values):
    """Interquartile range as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
