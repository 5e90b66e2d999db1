"""Per-layer metrics of the traced phase, and the metric -> layer map.

CATALOGUE is the single list of per-layer metrics: name, unit, the
workloads that exercise the layer, and the end-to-end metric it should
move (on which workload). A traced run reports every entry; an entry
whose layer the workload does not run reads 0 in the JSON result and
"not run on this workload" in the printed table.

Sources: walls are span durations (median over traced units); task,
GC, shuffle and spill figures come from Spark's event log for the jobs
run under each span's job group; counts come from the collected
outputs and from extra calls made only in traced runs
(Workload.traced_extras).
"""

from __future__ import annotations

import glob
import statistics

from .trace import parse_event_log, task_skew

GB, CU = "geo_batch", "curation"
ALL = (GB, CU)

# (name, unit, workloads, moves)
CATALOGUE = [
    ("session.get_spark.wall_s", "s", ALL,
     "process_start_to_setup_end_s of the run record (all); not setup_s"),
    ("session.cached_mb", "MB", ALL, "peak_rss_mb (all)"),
    ("join.build_zone_index.wall_s", "s", (GB,), "setup_s (geo_batch)"),
    ("join.spatial_join.task_s_per_mrow", "s", (GB,), "rows_per_s, cpu_s_per_mrow (geo_batch)"),
    ("join.spatial_join.candidates", "count", (GB,), "rows_per_s, cpu_s_per_mrow (geo_batch)"),
    ("join.spatial_join.matches", "count", (GB,), "rows_per_s, cpu_s_per_mrow (geo_batch)"),
    ("join.refine_selectivity", "ratio", (GB,), "rows_per_s, cpu_s_per_mrow (geo_batch)"),
    ("join.spatial_join.shuffle_mb", "MB", (GB,), "rows_per_s (geo_batch)"),
    ("join.spatial_join.reduce_task_skew", "ratio", (GB,), "rows_per_s (geo_batch)"),
    ("join.spatial_join.spill_mb", "MB", (GB,), "rows_per_s (geo_batch)"),
    ("join.spatial_join.probe_wall_s", "s", (GB,), "query_s_p50 (geo_batch)"),
    ("join.nearest_zone_polygons.wall_s", "s", (GB,), "query_s_p50 (geo_batch)"),
    ("skew.cell_histogram.wall_s", "s", (GB,), "rows_per_s (geo_batch)"),
    ("skew.plan_salts.hot_cells", "count", (GB,), "rows_per_s (geo_batch)"),
    ("extract.extract_points.task_s_per_mrow", "s", (GB,), "rows_per_s, cpu_s_per_mrow (geo_batch)"),
    ("extract.extract_points.points_per_page", "ratio", (GB,), "rows_per_s, cpu_s_per_mrow (geo_batch)"),
    ("tiles.rollup.task_s_per_mrow", "s", (GB,), "rows_per_s (geo_batch)"),
    ("tiles.rollup.cells_out", "count", (GB,), "rows_per_s (geo_batch)"),
    ("checkpoint.stage.wall_s", "s", (GB,), "rows_per_s (geo_batch)"),
    ("checkpoint.stage.bytes_per_row", "B", (GB,), "rows_per_s (geo_batch)"),
    ("checkpoint.stage.files", "count", (GB,), "rows_per_s (geo_batch)"),
    ("knn.build_knn_index.wall_s", "s", (GB,), "setup_s (geo_batch)"),
    ("knn.knn_join.wall_s", "s", (GB,), "query_s_p50 (geo_batch)"),
    ("knn.knn_join.jobs_per_call", "count", (GB,), "query_s_p50 (geo_batch)"),
    ("knn.knn_join.idle_core_s", "s", (GB,), "query_s_p50 (geo_batch)"),
    ("text.eval_shingle_hashes.wall_s", "s", (CU,), "setup_s (curation)"),
    ("text.decontaminate.wall_s", "s", (CU,), "rows_per_s, peak_rss_mb (curation)"),
    ("text.decontaminate.shuffle_mb", "MB", (CU,), "rows_per_s, peak_rss_mb (curation)"),
    ("text.trigram_familiarity.wall_s", "s", (CU,), "rows_per_s, peak_rss_mb (curation)"),
    ("text.trigram_familiarity.shuffle_mb", "MB", (CU,), "rows_per_s, peak_rss_mb (curation)"),
    ("text.trigram_familiarity.spill_mb", "MB", (CU,), "rows_per_s, peak_rss_mb (curation)"),
    ("text.lsh_candidate_pairs.wall_s", "s", (CU,), "rows_per_s, peak_rss_mb (curation)"),
    ("text.lsh_candidate_pairs.pairs_out", "count", (CU,), "rows_per_s, peak_rss_mb (curation)"),
    ("text.line_dedup.wall_s", "s", (CU,), "rows_per_s, peak_rss_mb (curation)"),
    ("sim.cosine_topk.wall_s", "s", (CU,), "query_s_p50 (curation)"),
    ("sim.cosine_topk.python_s", "s", (CU,), "query_s_p50 (curation)"),
    ("sim.cosine_topk.dots_per_s", "1/s", (CU,), "query_s_p50 (curation)"),
    ("spark.jobs_per_op", "count", ALL, "query_s_p50, cpu_s_per_mrow (all)"),
    ("spark.gc_s_per_op", "s", ALL, "query_s_p50, cpu_s_per_mrow (all)"),
    ("spark.idle_core_frac", "ratio", ALL, "query_s_p50, cpu_s_per_mrow (all)"),
    ("spark.task_retries", "count", ALL, "query_s_p50, cpu_s_per_mrow (all)"),
    ("trace.overhead_s", "s", ALL, "none: the traced run's own cost"),
]

UNIT = {name: unit for name, unit, _, _ in CATALOGUE}

# direction of "better" for BENCHMARK.json; every other entry is lower.
# matches, points_per_page, cells_out and pairs_out are fixed by the
# inputs (a change to them fails the output digests), so their
# direction only fills the required field.
HIGHER = {"join.refine_selectivity", "sim.cosine_topk.dots_per_s",
          "join.spatial_join.matches", "extract.extract_points.points_per_page",
          "tiles.rollup.cells_out", "text.lsh_candidate_pairs.pairs_out"}


def benchmark_entries() -> list[dict]:
    """The per_layer list of BENCHMARK.json."""
    return [{"name": n, "unit": u, "better": "higher" if n in HIGHER else "lower"}
            for n, u, _, _ in CATALOGUE]


def cached_mb(spark) -> float:
    """Executor memory held by cached blocks right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / 2**20


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class _Ops:
    """Event-log and span figures of one op name across traced units."""

    def __init__(self, tr, ev, name):
        self.spans = tr.by_name(name)
        self.stats = [ev.get(s.sid) for s in self.spans]
        self.stats = [s for s in self.stats if s is not None]

    def wall(self) -> float:
        return _med(s.wall_s for s in self.spans)

    def total(self, attr) -> float:
        return sum(getattr(s, attr) for s in self.stats)

    def per_call(self, attr) -> float:
        return self.total(attr) / max(1, len(self.spans))


def overhead_by_op(untraced, traced) -> dict[str, float]:
    """Per op name, the median over pairs of passes on the same inputs
    of traced minus untraced seconds (ops of one name summed within a
    pass)."""
    diffs: dict[str, list[float]] = {}
    for un, tr_ in zip(untraced, traced):
        if un.index != tr_.index:
            raise ValueError("traced and untraced passes must pair")
        for name in {o.name for o in un.ops} | {o.name for o in tr_.ops}:
            diffs.setdefault(name, []).append(
                sum(o.seconds for o in tr_.ops if o.name == name)
                - sum(o.seconds for o in un.ops if o.name == name))
    return {name: statistics.median(d) for name, d in sorted(diffs.items())}


def per_layer(wl, tr, ev_dir: str, untraced, traced, extras,
              cached: float, cores: int) -> tuple[dict, dict]:
    """name -> (value, unit) for every CATALOGUE entry, and the per-op
    breakdowns behind trace.overhead_s and spark.idle_core_frac."""
    logs = sorted(glob.glob(f"{ev_dir}/*"))
    ev = {}
    for p in logs:
        ev.update(parse_event_log(p))
    op = lambda n: _Ops(tr, ev, n)  # noqa: E731
    m: dict[str, float] = {}
    m["session.get_spark.wall_s"] = op("session.get_spark").wall()
    m["session.cached_mb"] = cached
    n_units = len(traced)
    rows = sum(u.rows_in for u in traced)

    def rows_out(name):
        return [o.rows_out for u in traced for o in u.ops if o.name == name]

    for build in ("join.build_zone_index", "knn.build_knn_index",
                  "text.eval_shingle_hashes"):
        if tr.by_name(build):
            m[f"{build}.wall_s"] = op(build).wall()

    if wl.name == GB:
        pts = sum(rows_out("extract.extract_points"))
        matches = sum(rows_out("join.spatial_join"))
        cands = sum(x["candidates"] for x in extras)
        bj, sj = op("join.spatial_join"), op("join.spatial_join.salted")
        m["join.spatial_join.task_s_per_mrow"] = bj.total("task_s") / (pts / 1e6)
        m["join.spatial_join.candidates"] = cands / n_units
        m["join.spatial_join.matches"] = matches / n_units
        m["join.refine_selectivity"] = matches / cands if cands else 0.0
        m["join.spatial_join.shuffle_mb"] = sj.per_call("shuffle_write_b") / 2**20
        m["join.spatial_join.reduce_task_skew"] = _med(
            task_skew(s.reduce_task_s) for s in sj.stats)
        m["join.spatial_join.spill_mb"] = sj.per_call("spill_b") / 2**20
        m["skew.cell_histogram.wall_s"] = op("skew.cell_histogram").wall()
        m["skew.plan_salts.hot_cells"] = _med(x["hot_cells"] for x in extras)
        m["extract.extract_points.task_s_per_mrow"] = \
            op("extract.extract_points").total("task_s") / (rows / 1e6)
        m["extract.extract_points.points_per_page"] = pts / rows
        m["tiles.rollup.task_s_per_mrow"] = \
            op("tiles.rollup").total("task_s") / (matches / 1e6)
        m["tiles.rollup.cells_out"] = _med(rows_out("tiles.rollup"))
        m["checkpoint.stage.wall_s"] = op("checkpoint.stage").wall()
        staged = rows_out("checkpoint.stage")
        m["checkpoint.stage.bytes_per_row"] = \
            sum(x["stage_bytes"] for x in extras) / max(1, sum(staged))
        m["checkpoint.stage.files"] = _med(x["stage_files"] for x in extras)
        m["join.spatial_join.probe_wall_s"] = op("join.spatial_join.probe").wall()
        m["join.nearest_zone_polygons.wall_s"] = \
            op("join.nearest_zone_polygons").wall()
        k = op("knn.knn_join")
        m["knn.knn_join.wall_s"] = k.wall()
        m["knn.knn_join.jobs_per_call"] = k.per_call("jobs")
        m["knn.knn_join.idle_core_s"] = (
            cores * sum(s.wall_s for s in k.spans) - k.total("task_s")
        ) / max(1, len(k.spans))
    elif wl.name == CU:
        for name in ("text.decontaminate", "text.trigram_familiarity",
                     "text.lsh_candidate_pairs", "text.line_dedup",
                     "sim.cosine_topk"):
            m[f"{name}.wall_s"] = op(name).wall()
        m["text.decontaminate.shuffle_mb"] = \
            op("text.decontaminate").per_call("shuffle_write_b") / 2**20
        tf = op("text.trigram_familiarity")
        m["text.trigram_familiarity.shuffle_mb"] = \
            tf.per_call("shuffle_write_b") / 2**20
        m["text.trigram_familiarity.spill_mb"] = tf.per_call("spill_b") / 2**20
        m["text.lsh_candidate_pairs.pairs_out"] = \
            _med(rows_out("text.lsh_candidate_pairs"))
        c = op("sim.cosine_topk")
        m["sim.cosine_topk.python_s"] = c.per_call("python_s")
        m["sim.cosine_topk.dots_per_s"] = wl.dots_per_call() / c.wall()

    op_names = {o.name for u in traced for o in u.ops}
    ops = [_Ops(tr, ev, n) for n in sorted(op_names)]
    n_ops = sum(len(o.spans) for o in ops)
    task_s = sum(o.total("task_s") for o in ops)
    op_wall = sum(s.wall_s for o in ops for s in o.spans)
    m["spark.jobs_per_op"] = sum(o.total("jobs") for o in ops) / n_ops
    m["spark.gc_s_per_op"] = sum(o.total("gc_s") for o in ops) / n_ops
    m["spark.idle_core_frac"] = 1.0 - task_s / (cores * op_wall)
    m["spark.task_retries"] = sum(o.total("failed_tasks") for o in ops)
    overhead = overhead_by_op(untraced, traced)
    m["trace.overhead_s"] = sum(overhead.values())
    idle = {name: 1.0 - o.total("task_s")
            / (cores * sum(s.wall_s for s in o.spans))
            for name, o in zip(sorted(op_names), ops)}
    return ({name: (float(m.get(name, 0.0)), unit)
             for name, unit in UNIT.items()},
            {"overhead_s_by_op": overhead, "idle_core_frac_by_op": idle})


def applies(name: str, workload: str) -> bool:
    return any(n == name and workload in w for n, _, w, _ in CATALOGUE)


def table(metrics: dict, workload: str) -> str:
    """Human-readable per-layer table for the run log."""
    lines = [f"per-layer metrics, workload {workload}:"]
    for name, unit, _, moves in CATALOGUE:
        v = metrics[name][0]
        shown = f"{v:.6g} {unit}" if applies(name, workload) \
            else "not run on this workload"
        lines.append(f"  {name:42s} {shown:28s} moves {moves}")
    return "\n".join(lines)
