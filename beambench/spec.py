"""The benchmark's definition: its workloads and metrics. `report.py` writes
BENCHMARK.json from this; `run.py` reports exactly these metrics."""

RUN_SECONDS = 30

WORKLOADS = [
    {"name": "beam-pipelines",
     "why": "The 8 reference batch pipelines via TextIO on seeded text/CSV/JSON "
            "(1% malformed), 2 passes, fastest each; then LeaderBoard: drain 25k "
            "events, open loop at 7,500/s with late events."},
    {"name": "registry-mix",
     "why": "Ten SparkEntry.queries over sf0.1 (q/a/w/t/j/x/d/v/p), each "
            "fully materialized by the noop sink, pins evicted per pass: parquet "
            "scans, kernels, joins, windows, pins."},
]

END_TO_END = [
    {"name": "rows_per_s", "unit": "1/s", "better": "higher", "bound": 0.25},
    {"name": "latency_p50_ms", "unit": "ms", "better": "lower", "bound": 0.25},
    {"name": "latency_p95_ms", "unit": "ms", "better": "lower", "bound": 0.25},
    {"name": "cpu_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "rss_peak_mb", "unit": "MB", "better": "lower", "bound": 0.15},
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
]


def _layer(name, unit, better="lower"):
    return {"name": name, "unit": unit, "better": better}


PER_LAYER = (
    [_layer("core.session_start_s", "s"), _layer("core.driver_ms", "ms"),
     _layer("core.scan_ms", "ms"), _layer("core.scan_bytes", "bytes"),
     _layer("core.task_cpu_s", "s"), _layer("core.gc_ms", "ms"),
     _layer("core.scheduler_delay_ms", "ms"),
     _layer("io.scan_ms", "ms"), _layer("io.scan_bytes", "bytes"),
     _layer("io.parse_rejects", "count"), _layer("io.write_ms", "ms"),
     _layer("io.write_bytes", "bytes"), _layer("io.files_written", "count")]
    + [_layer(f"functions.{k}_ms", "ms")
       for k in ("tokenize", "shingles", "minhash", "simhash")]
    + [_layer("operators.exchange_bytes", "bytes"),
       _layer("operators.shuffle_write_ms", "ms"),
       _layer("operators.fetch_wait_ms", "ms"), _layer("operators.agg_ms", "ms"),
       _layer("operators.sort_ms", "ms"), _layer("operators.join_build_ms", "ms"),
       _layer("operators.spill_bytes", "bytes"),
       _layer("operators.peak_mem_mb", "MB")]
    + [_layer(f"queries.{f}_ms", "ms") for f in "qawtjxdvp"]
    + [_layer("queries.pin_builds", "count"), _layer("queries.pin_build_ms", "ms"),
       _layer("queries.pin_bytes", "bytes"),
       _layer("queries.pin_read_rows", "count", "higher")]
    + [_layer(f"pipelines.{p}_ms", "ms") for p in (
        "wordcount", "tfidf", "autocomplete", "userscore", "hourlyteamscore",
        "trafficmaxlaneflow", "trafficroutes", "topwikipediasessions")]
    + [_layer("streaming.triggers", "count"),
       _layer("streaming.trigger_ms_p50", "ms"),
       _layer("streaming.query_planning_ms", "ms"),
       _layer("streaming.wal_commit_ms", "ms"),
       _layer("streaming.commit_offsets_ms", "ms"),
       _layer("streaming.latest_offset_ms", "ms"),
       _layer("streaming.add_batch_ms", "ms"),
       _layer("streaming.drain_rows_per_s", "1/s", "higher"),
       _layer("streaming.state_rows", "count"),
       _layer("streaming.state_mem_bytes", "bytes"),
       _layer("streaming.state_commit_ms", "ms"),
       _layer("streaming.rows_dropped_late", "count"),
       _layer("streaming.input_lag_files", "count"),
       _layer("trace.rows_per_s", "1/s", "higher")]
)


def benchmark_json():
    return {
        "command": ["python3", "beambench/run.py"],
        "paths": ["beambench"],
        "run_seconds": RUN_SECONDS,
        "workloads": WORKLOADS,
        "end_to_end": END_TO_END,
        "per_layer": PER_LAYER,
    }
