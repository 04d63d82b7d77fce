"""Workload definitions and metric names of the benchmark."""

# Short registry queries: core relational, cleaning, text and layout-pruning
# operators, the multi-file OSM reads (q81, q305), two write-then-read
# roundtrips (q62, q308), a query whose construction runs checkpoint jobs
# (q265) and the q80 pair join.
QUERY_SHORT = [
    "q01_pricing_summary", "q16_tag_classify", "q34_token_stats",
    "q134_bucketed_join", "q81_osm_count_tags", "q305_osm_e2e",
    "q62_sink_roundtrip", "q308_avro_roundtrip", "q265_weekly_profile",
    "q80_ppjoin_jaccard",
]

# name -> (kind, parameters); "sf" scales the generated tables, "nodes" the
# generated .osm file.
WORKLOADS = {
    "query_short": {"kind": "queries", "queries": QUERY_SHORT, "sf": 0.01},
    "osm_ingest": {"kind": "osm", "nodes": 110_000},
}

# Untimed passes before the timed ones: the first is the cold JVM, and the
# second is still 10-25 % slower than later ones.
WARMUP_PASSES = 2

# Set-up rounds per run, each a fresh JVM that loads the program and starts a
# session; setup_s is the median round.
SETUP_ROUNDS = 3

END_TO_END = [
    ("setup_s", "s", "lower"),
    ("pass_s", "s", "lower"),
    ("live_heap_mb", "MB", "lower"),
    ("ok_ratio", "ratio", "higher"),
]

# (name, unit, better) of every per-layer metric of a traced run.
PER_LAYER = [
    ("construct.ms", "ms", "lower"), ("construct.jobs", "count", "lower"),
    ("construct.tables_jobs", "count", "lower"),
    ("construct.checkpoint_jobs", "count", "lower"),
    ("plan.ms", "ms", "lower"),
    ("exec.jobs", "count", "lower"), ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"), ("exec.sched_ms", "ms", "lower"),
    ("task.run_ms", "ms", "lower"), ("task.cpu_ms", "ms", "lower"),
    ("task.gc_ms", "ms", "lower"), ("task.core_util", "ratio", "higher"),
    ("scan.input_mb", "MB", "lower"), ("scan.records", "count", "lower"),
    ("shuffle.read_mb", "MB", "lower"), ("shuffle.write_mb", "MB", "lower"),
    ("shuffle.fetch_wait_ms", "ms", "lower"), ("spill.mb", "MB", "lower"),
    ("write.ms", "ms", "lower"), ("output.mb", "MB", "lower"),
    ("output.files", "count", "lower"),
    ("osm.read.mb_per_s", "MB/s", "higher"),
    ("osm.parse.mb_per_s", "MB/s", "higher"), ("osm.parse.elements", "count", "higher"),
    ("osm.scan.ms", "ms", "lower"), ("osm.scan.tasks", "count", "higher"),
    ("osm.scan.core_util", "ratio", "higher"), ("osm.shape.ms", "ms", "lower"),
    ("osm.rows.nodes", "count", "higher"), ("osm.rows.nodes_tags", "count", "higher"),
    ("osm.rows.ways", "count", "higher"), ("osm.rows.ways_tags", "count", "higher"),
    ("osm.rows.ways_nodes", "count", "higher"), ("osm.rows.corrupt", "count", "higher"),
    ("jvm.session_s", "s", "lower"), ("jvm.gc_ms", "ms", "lower"),
    ("jvm.peak_rss_mb", "MB", "lower"),
    ("check.ms", "ms", "lower"),
    ("trace.pass_s", "s", "lower"), ("trace.overhead_pct", "%", "lower"),
]
