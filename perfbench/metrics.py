"""The benchmark's metric catalog: every metric's unit, which direction is
better, the layer it measures and what it should move. BENCHMARK.json
lists the same names; test_perfbench.py keeps the two in step.

Layers are the repository's modules: engine (GraftSession, BoundedCaches,
Lineage, GraftBridge), queries (the SparkEntry catalog), operators (the
round loops), functions (pair scorers, n-gram LMs), pipeline (Runner),
pipelines (Core/Dimension/Service/Poa and the transforms they call), io
(the parquet seam in Main.registry and ObjectStore) and exec (the Spark
jobs, stages and tasks under all of them).
"""

# The queries the `queries` workload runs, in this fixed order: single-pass
# relational (q1), the pair scorers (d4, d22, d55), the BoundedCaches
# persist ladder with re-rooting (t89), and the round loops (d53, d54).
QUERIES = [
    "q1_pricing_summary", "d4_ngram_jaccard_pairs", "d22_tf_cosine_pairs",
    "d55_jw_best_match", "t89_trigram_kn_perplexity", "d53_bfs_distances", "d54_scc"]

# The pipelines whose own time is reported, and the module totals.
PIPELINES = [
    "resolutions", "udos", "udo_status_history", "udo_specialties", "users", "companies",
    "operational_offices", "udo_types", "specialties", "production_factors"]
MODULES = ["core", "auac", "cronos", "poa"]

# name -> (unit, better, bound, what it is)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25,
                "median of 5 set-ups of a GraftSession.local that has run one trivial job, "
                "each after stopping the previous session in the warm harness JVM"),
    "wall_s": ("s", "lower", 0.25,
               "one timed pass: the whole DAG for migrate; construction plus execution "
               "of every query, in order, for queries"),
    "op_geomean_s": ("s", "lower", 0.25,
                     "geometric mean of the per-operation medians (queries or pipelines), "
                     "so one slow operation cannot drown the others"),
    "rows_per_s": ("rows/s", "higher", 0.25,
                   "rows written (migrate: target rows; queries: result rows) per wall second"),
    "peak_cached_mb": ("MB", "lower", 0.2,
                       "peak bytes of cached RDD blocks (memory plus disk) during the pass, "
                       "from block updates"),
}

# name -> (unit, better, layer, the end-to-end metric and workload it should move)
PER_LAYER = {}


def _add(name, unit, better, layer, moves):
    PER_LAYER[name] = (unit, better, layer, moves)


for _q in QUERIES:
    _add(f"queries.{_q}.construct_s", "s", "lower", "queries",
         "op_geomean_s on queries (construct-time loops, persists, driver planning)")
    _add(f"queries.{_q}.exec_s", "s", "lower", "queries",
         "op_geomean_s on queries (d55/d22/d4 pair scoring)")
    _add(f"queries.{_q}.jobs", "count", "lower", "operators",
         "wall_s on queries (fewer jobs per round from an Iterate combinator)")
    _add(f"queries.{_q}.shuffle_mb", "MB", "lower", "exec",
         "wall_s on queries (truncation primitive, pair pruning)")
for _name, _unit, _layer, _moves in [
        ("exec.jobs", "count", "exec", "wall_s on queries (round loops)"),
        ("exec.stages", "count", "exec", "wall_s on queries (round loops)"),
        ("exec.tasks", "count", "exec", "wall_s on queries (round loops)"),
        ("exec.shuffle_write_mb", "MB", "exec", "wall_s on queries (round loops)"),
        ("exec.task_s", "s", "exec", "op_geomean_s on queries (summed executor run time)"),
        ("exec.gc_s", "s", "exec", "wall_s on queries and migrate"),
        ("exec.spill_mb", "MB", "exec", "wall_s on queries (disk spill)"),
        ("exec.task_skew", "ratio", "exec",
         "wall_s on queries and migrate (max over stages of max/median task time)"),
        ("exec.driver_only_s", "s", "exec",
         "wall_s on queries and migrate (operation time with no job of it running)"),
        ("exec.planning_s", "s", "engine",
         "op_geomean_s on queries (Catalyst analysis, optimization and planning per pass)"),
        ("engine.cache.blocks", "count", "engine", "peak_cached_mb on queries"),
        ("engine.cold_setup_s", "s", "engine",
         "setup_s on both (the harness JVM's first set-up, timed from JVM start)"),
        ("io.read_mb", "MB", "io", "wall_s on migrate and queries"),
        ("io.read_rows", "rows", "io", "wall_s on migrate and queries"),
        ("io.write_mb", "MB", "io", "wall_s and rows_per_s on migrate"),
        ("io.write_rows", "rows", "io", "wall_s and rows_per_s on migrate"),
        ("io.files_written", "count", "io", "wall_s and rows_per_s on migrate"),
        ("io.objects_written", "count", "io", "rows_per_s on migrate (attachment uploads)"),
        ("io.objects_mb", "MB", "io", "rows_per_s on migrate (attachment uploads)"),
        ("trace.overhead_s", "s", "exec", "none: traced minus untraced wall_s"),
        ("trace.nesting_violations", "count", "exec", "none: spans sticking out of their parent"),
        ("error_rate", "ratio", "pipeline", "none: failed or incorrect operations / attempted")]:
    _add(_name, _unit, "lower", _layer, _moves)
_add("io.objects_per_s", "1/s", "higher", "io",
     "rows_per_s on migrate (objects per second of pipeline.resolutions.s)")
for _p in PIPELINES:
    _add(f"pipeline.{_p}.s", "s", "lower", "pipelines", "wall_s and rows_per_s on migrate")
for _m in MODULES:
    _add(f"pipeline.{_m}_s", "s", "lower", "pipelines", "wall_s on migrate (module total)")
_add("pipeline.jobs_per_pipeline", "count", "lower", "pipeline", "wall_s on migrate")

# Modules no workload exercises.
UNMEASURED = ["streaming", "multimodal", "plans"]
