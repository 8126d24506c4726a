"""The per-layer table of a traced run: spans from the benchmark joined
with the Spark event log (layers.py), reduced to the names in
metrics.PER_LAYER. A layer the workload does not exercise reads 0.

Build-side values (stats, build, positions) are means per ingest call
of the timed phase; request-side values are means per request or per
query of the timed phase; the streaming writer and the ANN build run
in the serve workload's set-up, so their values come from the set-up
spans; `spark.*` totals cover every job of the timed phase.
"""

from __future__ import annotations

from layers import (
    attribute_jobs,
    covered,
    descendants,
    driver_time,
    median,
    read_event_log,
    rollup,
    self_times,
    span_costs,
)
from metrics import PER_LAYER

LAYERS = {"session", "corpus", "stats", "build", "codec", "positions", "query",
          "streaming", "similarity"}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def compute(res, spans, log_path: str) -> tuple[dict, dict, int]:
    """(metric values, per-span-name table of the timed phase, number of
    jobs outside every span)."""
    jobs, stages = read_event_log(log_path)
    owner = attribute_jobs(jobs, spans)
    costs = span_costs(jobs, stages, owner)
    timed = res.timed_span
    in_timed = descendants(spans, timed.sid)
    v = {name: 0.0 for name in PER_LAYER}
    v.update(res.extra)
    v["session.start_s"] = res.session_s

    def calls(name):
        return [s for s in spans if s.name == name and s.sid in in_timed]

    def named(name):
        return [s for s in spans if s.name == name]

    def cost(s):
        return rollup(spans, costs, s.sid)

    prep = calls("stats.prepare_docs")
    if prep:
        cs = [cost(s) for s in prep]
        v["stats.busy_s"] = _mean(s.dur for s in prep)
        v["stats.docs"] = _mean(s.attrs.get("docs", 0) for s in prep)
        v["stats.executor_cpu_s"] = _mean(c.get("cpu_s") for c in cs)
        v["stats.python_run_s"] = _mean(c.get("python_run_s") for c in cs)
        v["stats.python_bytes_in"] = _mean(c.get("python_bytes_in") for c in cs)
        v["stats.python_bytes_out"] = _mean(c.get("python_bytes_out") for c in cs)
        v["stats.bytes_written"] = _mean(c.get("output_bytes") for c in cs)

    build = calls("build.build_index")
    if build:
        cs = [cost(s) for s in build]
        v["build.busy_s"] = _mean(s.dur for s in build)
        v["build.jobs"] = _mean(c.jobs for c in cs)
        for key in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
            v[f"build.{key}"] = _mean(c.get(key) for c in cs)
        v["build.gc_s"] = _mean(c.get("gc_s") for c in cs)
        v["build.executor_cpu_s"] = _mean(c.get("cpu_s") for c in cs)
        v["build.python_run_s"] = _mean(c.get("python_run_s") for c in cs)

    pos = calls("positions.build_positions")
    if pos:
        v["positions.busy_s"] = _mean(s.dur for s in pos)
        v["positions.rows"] = _mean(s.attrs.get("rows", 0) for s in pos)

    reqs = calls("query.topk") + calls("query.phrase_topk")
    if reqs:
        cs = [cost(s) for s in reqs]
        for kind in ("or", "and", "filtered", "phrase"):
            walls = [s.dur for s in reqs if s.attrs.get("kind") == kind]
            if walls:
                v[f"query.{kind}.p50_s"] = median(walls)
        queries = sum(s.attrs.get("queries", 0) for s in reqs) or 1
        results = sum(s.attrs.get("results", 0) for s in reqs) or 1
        v["query.jobs_per_request"] = _mean(c.jobs for c in cs)
        v["query.tasks_per_request"] = _mean(c.tasks for c in cs)
        v["query.driver_s_per_request"] = _mean(driver_time(s, c) for s, c in zip(reqs, cs))
        v["query.task_wait_s_per_request"] = _mean(c.task_wait_s for c in cs)
        v["query.input_bytes_per_query"] = sum(c.get("input_bytes") for c in cs) / queries
        v["query.input_rows_per_result"] = sum(c.get("input_rows") for c in cs) / results
        v["query.shuffle_bytes_per_query"] = sum(c.get("shuffle_write_bytes") for c in cs) / queries
        v["query.executor_cpu_s_per_query"] = sum(c.get("cpu_s") for c in cs) / queries
        v["query.python_run_s_per_query"] = sum(c.get("python_run_s") for c in cs) / queries

    batches = [s for s in named("streaming.incremental_index") if s.attrs.get("kind") == "upsert"]
    if batches:
        v["streaming.ingest.busy_s_per_batch"] = _mean(s.dur for s in batches)
        v["streaming.ingest.jobs_per_batch"] = _mean(cost(s).jobs for s in batches)
        v["streaming.ingest.docs_per_s"] = sum(s.attrs["docs"] for s in batches) / sum(s.dur for s in batches)
    deletes = named("streaming.delete_documents")
    if deletes:
        v["streaming.delete.busy_s"] = sum(s.dur for s in deletes)
    streamed = calls("streaming.topk_all_generations")
    if streamed:
        cs = [cost(s) for s in streamed]
        v["streaming.serve.p50_s"] = median([s.dur for s in streamed])
        v["streaming.serve.jobs_per_request"] = _mean(c.jobs for c in cs)
        v["streaming.serve.task_wait_s_per_request"] = _mean(c.task_wait_s for c in cs)

    ann_build = named("similarity.build_ann_index")
    if ann_build:
        busy = sum(s.dur for s in ann_build)
        v["similarity.build.busy_s"] = busy
        v["similarity.build.vecs_per_s"] = sum(s.attrs["vectors"] for s in ann_build) / busy
    search = calls("similarity.ann_ivf_search")
    if search:
        cs = [cost(s) for s in search]
        queries = sum(s.attrs.get("queries", 0) for s in search) or 1
        v["similarity.search.p50_s"] = median([s.dur for s in search])
        v["similarity.search.jobs_per_request"] = _mean(c.jobs for c in cs)
        v["similarity.search.input_bytes_per_query"] = sum(c.get("input_bytes") for c in cs) / queries
        v["similarity.search.executor_cpu_s_per_query"] = sum(c.get("cpu_s") for c in cs) / queries

    phase = rollup(spans, costs, timed.sid)
    v["spark.jobs"] = phase.jobs
    v["spark.tasks"] = phase.tasks
    v["spark.tasks_failed"] = phase.tasks_failed
    v["spark.gc_s"] = phase.get("gc_s")
    v["spark.spill_bytes"] = phase.get("spill_bytes")

    layer_spans = [(s.start, s.end) for s in spans
                   if s.sid in in_timed and s.sid != timed.sid and s.layer in LAYERS]
    v["trace.span_coverage"] = covered(layer_spans, timed.start, timed.end) / timed.dur
    v["trace.requests"] = len(res.latencies)
    v["trace.latency_p50_s"] = res.latency_p50()
    v["trace.items_per_s"] = res.items_per_s()
    return v, _span_table(spans, in_timed), sum(1 for j in owner.values() if j is None)


def _span_table(spans, in_timed) -> dict:
    """span name -> (calls, wall s, self s) over the timed phase."""
    self_s = self_times(spans)
    table: dict[str, list] = {}
    for s in spans:
        if s.sid in in_timed:
            row = table.setdefault(s.name, [0, 0.0, 0.0])
            row[0] += 1
            row[1] += s.dur
            row[2] += self_s[s.sid]
    return table


def print_table(values: dict, spans_by_name: dict, unattributed: int, out) -> None:
    print(f"# {'span (timed phase)':44s} {'calls':>6s} {'wall s':>9s} {'self s':>9s}", file=out)
    for name, (n, wall, own) in sorted(spans_by_name.items()):
        print(f"# {name:44s} {n:6d} {wall:9.3f} {own:9.3f}", file=out)
    print(f"# jobs outside every span: {unattributed}", file=out)
    print(f"# {'metric':44s} {'value':>14s}  unit", file=out)
    for name, unit in PER_LAYER.items():
        print(f"# {name:44s} {values[name]:14.6g}  {unit}", file=out)
    out.flush()
