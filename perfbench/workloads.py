"""Workload definitions: sizes and query lists (why each exists: NOTES.md)."""

# Eight of the suite's relational and CDC queries: scans, joins, windows,
# merges and aggregates over parquet. Each costs ~0.5-1.6 s warm at this
# scale, mostly fixed per-job cost; eight keep a warm-up plus a timed
# pass inside the run budget.
ETL_QUERIES = [
    "cdc_filter", "cdc_enrich", "cdc_latest_by_key", "cdc_merge_upsert", "cdc_scd2",
    "rel_pricing_summary", "rel_join_agg", "rel_window_topn",
]
ETL_SF = 0.01

# 1,000 changes/s as 50-change files every 50 ms. With 500-change files
# every 250 ms, landings phase-lock with ~500 ms micro-batches and the
# median latency jumps between two values from run to run. At 2,000
# changes/s the sink's one connection is busy ~40% of the time, so a
# slower host stretches the micro-batches, which then carry more rows:
# latency moved ~2x as much as the host's speed (ten-seed spread 33%)
PACED_INTERVAL_MS = 50
PACED_PER_FILE = 50
PACED_WARM_FILES = 60       # the warm-up files insert the live set; not measured
# then the schedule runs this long unmeasured: micro-batches keep getting
# faster for ~8 s after the warm-up files, as the JIT compiles the
# per-row paths
PACED_WARM_S = 8
PACED_LIVE = 3000
BACKLOG_CHANGES = 75_000
BACKLOG_PER_FILE = 5000
BACKLOG_FILES_PER_TRIGGER = 3
# three full-size micro-batches of another query before the measured drain;
# the measured query's first micro-batch stays its slowest (~1.7x the
# median) even so, a cost every new query pays; with one warm-up micro-batch
# the drain used ~30% more CPU per change
BACKLOG_WARM_CHANGES = 45_000
LATENCY_LIMIT_MS = 2000     # a change committed later than this misses the limit
