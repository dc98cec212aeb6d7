"""The traced run: one process that records spans around each public call,
reads Spark's event log per span, and prints the per-layer table.

Every traced run, whichever the workload, runs the same probes and prints
every metric of ``TABLE``; only the pipeline size depends on the workload
(its own size for ``batch_large``, 50k turns otherwise):

* the production pass at the pipeline size, its cumulative prefixes
  (scan, +parse, +enrich, +route) materialised with a ``noop`` write and
  differenced, because parse, enrich and route fuse into one stage, and
  each aggregate family collected on its own over the pass's output;
* the floor fit from 5k passes and the pipeline-size pass, and a
  ``local[1]`` against ``local[n]`` pass at 50k turns;
* the ten registry queries at 50k turns;
* one stream cycle at 50k turns: ``run_stream`` in 4 micro-batches, a
  state read, ``compact_state``, a state read.

The tracing overhead is the mean of two traced 5k passes minus the mean
of two untraced ones, run untraced-traced-traced-untraced in this process;
Spark's event log is on for all four.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

import ops
from prep import BATCH_N, QUERY_N, WARM_N, WORK, sf_dir
import tracing as tr

FAMILIES = ("key_stats_and_catalog", "service_stats", "template_stats",
            "active_series")
LAYERS = ("sources", "parse", "enrich", "route", "aggregate", "pipeline",
          "registry", "stream")

# metric -> (unit, end-to-end metric it should move @ workload where most)
TABLE: dict[str, tuple[str, str]] = {
    "session.start_s": ("s", "setup_s @ all"),
    "sources.build_s": ("s", "turns_per_s @ query_mix"),
    "sources.jobs": ("count", "turns_per_s @ query_mix"),
    "parse.build_s": ("s", "turns_per_s @ batch_large"),
    "parse.exec_s": ("s", "turns_per_s @ batch_large"),
    "parse.cpu_s": ("s", "turns_per_s @ batch_large"),
    "parse.tasks": ("count", "turns_per_s @ batch_large"),
    "enrich.build_s": ("s", "turns_per_s @ batch_large"),
    "enrich.exec_s": ("s", "turns_per_s @ batch_large"),
    "enrich.jobs": ("count", "turns_per_s @ batch_large"),
    "route.build_s": ("s", "turns_per_s @ batch_large"),
    "route.write_s": ("s", "turns_per_s @ batch_large"),
    "route.write_bytes": ("bytes", "turns_per_s @ batch_large"),
    "route.files": ("count", "turns_per_s @ batch_large"),
    "route.jobs": ("count", "turns_per_s @ batch_large"),
    "aggregate.build_s": ("s", "turns_per_s @ batch_large"),
    "aggregate.collect_s": ("s", "turns_per_s @ batch_large"),
    "aggregate.jobs": ("count", "turns_per_s @ batch_large"),
    "aggregate.stages": ("count", "turns_per_s @ batch_large"),
    "aggregate.shuffle_read_bytes": ("bytes", "turns_per_s @ batch_large"),
    "aggregate.shuffle_write_bytes": ("bytes", "turns_per_s @ batch_large"),
    "aggregate.spill_bytes": ("bytes", "turns_per_s @ batch_large"),
    "aggregate.cpu_s": ("s", "turns_per_s @ batch_large"),
    "aggregate.gc_s": ("s", "turns_per_s @ batch_large"),
    "aggregate.cpu_util": ("share", "turns_per_s @ batch_large"),
    **{
        f"aggregate.{f}.{m}": (u, "turns_per_s @ batch_large")
        for f in FAMILIES
        for m, u in (("exec_s", "s"), ("jobs", "count"),
                     ("shuffle_write_bytes", "bytes"))
    },
    "pipeline.jobs": ("count", "turns_per_s @ query_mix"),
    "pipeline.build_s": ("s", "turns_per_s @ query_mix"),
    "pipeline.cpu_util": ("share", "turns_per_s @ query_mix"),
    "pipeline.floor_s": ("s", "turns_per_s @ query_mix"),
    "pipeline.per_turn_us": ("us", "turns_per_s @ batch_large"),
    "pipeline.speedup_1_to_n": ("x", "turns_per_s @ batch_large"),
    "stream.batch_s": ("s", "stream probe only (no stream workload)"),
    "stream.jobs_per_batch": ("count", "stream probe only (no stream workload)"),
    "stream.sink_bytes": ("bytes", "stream probe only (no stream workload)"),
    "stream.state_bytes": ("bytes", "stream probe only (no stream workload)"),
    "stream.compact_s": ("s", "stream probe only (no stream workload)"),
    "stream.read_build_s": ("s", "stream probe only (no stream workload)"),
    "stream.read_exec_s": ("s", "stream probe only (no stream workload)"),
    "stream.read_jobs": ("count", "stream probe only (no stream workload)"),
    **{
        f"registry.{q}.{m}": (u, "turns_per_s @ query_mix")
        for q in ops.QUERIES
        for m, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"),
                     ("shuffle_write_bytes", "bytes"))
    },
    **{
        f"{layer}.self_s": ("s", "turns_per_s @ batch_large"
                            if layer not in ("registry", "stream")
                            else "turns_per_s @ query_mix"
                            if layer == "registry"
                            else "stream probe only (no stream workload)")
        for layer in LAYERS
    },
    "trace.overhead_s": ("s", "none (instrumentation cost per 5k pass)"),
}


def _dir_bytes(path: Path) -> tuple[int, int]:
    files = [p for p in path.rglob("*.parquet") if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)


def traced_run(sess, args, expect: dict, counter, session_start_s: float):
    """Returns (metrics, printable table)."""
    from otlp_cardinality_checker_spark.streaming import stream
    from otlp_cardinality_checker_spark.sources.transcripts import truth_paths

    spark = sess.spark
    # the stream's 4-file source is input preparation, not measured work
    src = Path(truth_paths(sf_dir(QUERY_N))["transcripts"]).parent / "stream_src"
    stream._ensure_stream_source(spark, sf_dir(QUERY_N), str(src))

    tracer = tr.Tracer(spark=spark, enabled=False)
    tr.instrument(tracer)
    ncpu = sess.cores
    run_dir = WORK / "run"
    pipe_n = BATCH_N if args.workload == "batch_large" else QUERY_N

    def pass_at(n: int, keep: bool = False, traced: bool = True):
        tracer.enabled = traced
        tracer.new_trace()
        out = run_dir / ("keep" if keep else "pass")
        dt, ok = ops.pipeline_pass(
            spark, sf_dir(n), out, expect.get(n), tracer, keep=keep
        )
        if n in expect:
            counter.add(ok)
        tracer.enabled = True
        return dt

    # tracing overhead, in ABBA order so a linear drift (such as the JIT
    # still warming after set-up) cancels; the traced 5k passes are also the
    # small point of the fit. A traced run must end within 180 s on a noisy
    # 4-core host, so no further warm-up pass precedes them.
    untraced_5k = [pass_at(WARM_N, traced=False)]
    traced_5k = statistics.mean(pass_at(WARM_N) for _ in range(2))
    untraced_5k = statistics.mean(untraced_5k + [pass_at(WARM_N, traced=False)])

    # the production pass at the pipeline size, kept for the family probes
    t_big = pass_at(pipe_n, keep=True)
    pass_span = _named(tracer, "pipeline.pass")[-1]
    routed_dir = run_dir / "keep" / "routed"
    write_bytes, write_files = _dir_bytes(routed_dir)

    # cumulative prefixes, materialised with a noop write
    from otlp_cardinality_checker_spark.operators import enrich, parse, route
    from otlp_cardinality_checker_spark.sources import transcripts

    def prefix(name: str, build):
        df = build()
        with tracer.span(f"prefix.{name}", "probe"):
            df.write.format("noop").mode("overwrite").save()

    sfp = sf_dir(pipe_n)

    def scan():
        return transcripts.load_transcripts(spark, sfp, with_truth=False)

    def dims():
        return transcripts.load_dims(spark, sfp)

    tracer.new_trace()
    prefix("scan", scan)
    prefix("parse", lambda: parse.parse_turns(scan()))
    prefix("enrich", lambda: enrich.enrich_turns(parse.parse_turns(scan()), *dims()))
    prefix("route", lambda: route.route_turns(
        enrich.enrich_turns(parse.parse_turns(scan()), *dims())))

    # each aggregate family on its own over the pass's output
    from otlp_cardinality_checker_spark.operators import aggregate as agg

    mat = spark.read.parquet(str(routed_dir))

    def both(pair):
        return ops.tagged("key_stats", pair[0]).unionByName(
            ops.tagged("attribute_catalog", pair[1]))

    fam_build = {
        "key_stats_and_catalog": lambda: both(agg.key_stats_and_catalog(mat)),
        "service_stats": lambda: agg.service_stats(mat),
        "template_stats": lambda: agg.template_stats(mat),
        "active_series": lambda: agg.active_series(mat, exact=False),
    }
    for f, build in fam_build.items():
        df = build()
        with tracer.span(f"family.{f}", "probe"):
            df.collect()

    # floor fit and single-thread speedup
    speed_n = QUERY_N
    t_n = pass_at(speed_n) if pipe_n != speed_n else t_big
    spark = sess.restart(1)
    tracer.spark = spark
    pass_at(WARM_N, traced=False)  # a fresh context's first pass is slower
    t_1 = pass_at(speed_n)
    spark = sess.restart(ncpu)
    tracer.spark = spark

    # the registry queries
    import __spark_entry__ as entry

    queries = entry.queries()
    tracer.new_trace()
    for q in ops.QUERIES:
        dt, ok = ops.run_query(spark, queries, q, sf_dir(QUERY_N),
                               expect[QUERY_N], tracer)
        counter.add(ok)

    # one stream cycle
    tracer.new_trace()
    cyc = ops.stream_cycle(spark, sf_dir(QUERY_N), run_dir / "stream",
                           expect[QUERY_N], QUERY_N, tracer=tracer)
    counter.add(cyc["ok"])
    sink_bytes = sum(_dir_bytes(p)[0] for p in cyc["out"].glob("sink_*"))
    state_bytes = _dir_bytes(cyc["out"] / "agg_state")[0]

    sess.spark.stop()  # flushes the event log
    spans = tracer.spans
    tracer.dump(run_dir / "spans.json")
    jobs = tr.read_event_log(run_dir / "eventlog")
    by_span = tr.attribute(jobs, spans)

    def jobs_under(span: tr.Span) -> list[dict]:
        return [j for s in tr.descendants(spans, span) for j in by_span.get(s.id, [])]

    def dur(s: tr.Span) -> float:
        return s.end - s.start

    def layer_sum(root: tr.Span, layer: str, metric) -> float:
        return sum(metric(s) for s in tr.descendants(spans, root)
                   if s.layer == layer and _top_of_layer(s, spans, layer))

    m: dict[str, float] = {}
    m["session.start_s"] = session_start_s
    # --- the production pass at the pipeline size
    P = pass_span
    m["sources.build_s"] = layer_sum(P, "sources", dur)
    m["sources.jobs"] = sum(len(jobs_under(s)) for s in tr.descendants(spans, P)
                            if s.layer == "sources")
    m["parse.build_s"] = layer_sum(P, "parse", dur)
    m["enrich.build_s"] = layer_sum(P, "enrich", dur)
    m["route.build_s"] = sum(dur(s) for s in _under(spans, P, "route.route_turns"))
    w = _under(spans, P, "route.write")[0]
    m["route.write_s"] = dur(w)
    m["route.write_bytes"] = write_bytes
    m["route.files"] = write_files
    m["route.jobs"] = len(jobs_under(w))
    ab = _under(spans, P, "aggregate.build")[0]
    ac = _under(spans, P, "aggregate.collect")[0]
    m["aggregate.build_s"] = dur(ab)
    m["aggregate.collect_s"] = dur(ac)
    at = tr.job_totals(jobs_under(ac))
    m["aggregate.jobs"] = at["jobs"]
    m["aggregate.stages"] = at["stages"]
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "cpu_s", "gc_s"):
        m[f"aggregate.{k}"] = at[k]
    m["aggregate.cpu_util"] = at["cpu_s"] / (dur(ac) * ncpu)
    pt = tr.job_totals(jobs_under(P))
    m["pipeline.jobs"] = pt["jobs"]
    m["pipeline.build_s"] = (
        sum(dur(s) for s in _under(spans, P, "pipeline.routed_turns")) + dur(ab)
    )
    m["pipeline.cpu_util"] = pt["cpu_s"] / (dur(P) * ncpu)
    per_turn = (t_big - traced_5k) / (pipe_n - WARM_N)
    m["pipeline.floor_s"] = traced_5k - per_turn * WARM_N
    m["pipeline.per_turn_us"] = per_turn * 1e6
    m["pipeline.speedup_1_to_n"] = t_1 / t_n
    # --- prefixes
    pre = {k: _named(tracer, f"prefix.{k}")[-1]
           for k in ("scan", "parse", "enrich", "route")}
    ptot = {k: tr.job_totals(jobs_under(s)) for k, s in pre.items()}
    m["parse.exec_s"] = dur(pre["parse"]) - dur(pre["scan"])
    m["parse.cpu_s"] = ptot["parse"]["cpu_s"] - ptot["scan"]["cpu_s"]
    m["parse.tasks"] = ptot["parse"]["tasks"]
    m["enrich.exec_s"] = dur(pre["enrich"]) - dur(pre["parse"])
    m["enrich.jobs"] = ptot["enrich"]["jobs"] - ptot["parse"]["jobs"]
    # --- families
    for f in FAMILIES:
        s = _named(tracer, f"family.{f}")[-1]
        t = tr.job_totals(jobs_under(s))
        m[f"aggregate.{f}.exec_s"] = dur(s)
        m[f"aggregate.{f}.jobs"] = t["jobs"]
        m[f"aggregate.{f}.shuffle_write_bytes"] = t["shuffle_write_bytes"]
    # --- registry (last run of each query)
    for q in ops.QUERIES:
        b = _named(tracer, f"registry.{q}.build")[-1]
        e = _named(tracer, f"registry.{q}.exec")[-1]
        t = tr.job_totals(jobs_under(b) + jobs_under(e))
        m[f"registry.{q}.build_s"] = dur(b)
        m[f"registry.{q}.exec_s"] = dur(e)
        m[f"registry.{q}.jobs"] = t["jobs"]
        m[f"registry.{q}.shuffle_write_bytes"] = t["shuffle_write_bytes"]
    # --- stream
    C = _named(tracer, "stream.cycle")[-1]
    batches = _under(spans, C, "stream._process_batch")
    m["stream.batch_s"] = statistics.median(dur(b) for b in batches)
    m["stream.jobs_per_batch"] = (
        sum(len(jobs_under(b)) for b in batches) / max(len(batches), 1)
    )
    m["stream.sink_bytes"] = sink_bytes
    m["stream.state_bytes"] = state_bytes
    m["stream.compact_s"] = cyc["compact_s"]
    reads = _under(spans, C, "stream.read")
    m["stream.read_build_s"] = statistics.median(
        dur(s) for r in reads for s in _under(spans, r, "stream.current_key_stats"))
    m["stream.read_exec_s"] = statistics.median(
        dur(s) for r in reads for s in _under(spans, r, "stream.read.exec"))
    m["stream.read_jobs"] = statistics.median(len(jobs_under(r)) for r in reads)
    # --- self times
    roots = {
        **{la: [P] for la in LAYERS if la not in ("registry", "stream")},
        "registry": [s for s in spans if s.layer == "registry"
                     and s.name.count(".") == 1][-len(ops.QUERIES):],
        "stream": [C],
    }
    for la in LAYERS:
        m[f"{la}.self_s"] = sum(
            tr.self_time(s, spans)
            for r in roots[la] for s in tr.descendants(spans, r) if s.layer == la
        )
    m["trace.overhead_s"] = traced_5k - untraced_5k

    lines = [f"per-layer table ({args.workload}, seed {args.seed}, "
             f"pipeline pass at {pipe_n} turns, probes at {QUERY_N})"]
    for k, (unit, moves) in TABLE.items():
        lines.append(f"  {k:<48} {m[k]:>16.6g} {unit:<6} -> {moves}")
    (run_dir / "layers.json").write_text(json.dumps(
        {"metrics": m, "by_label": by_label(spans, by_span, ncpu)}, indent=1))
    metrics = {k: (float(m[k]), TABLE[k][0]) for k in TABLE}
    return metrics, "\n".join(lines)


def by_label(spans, by_span: dict, ncpu: int) -> dict:
    """Per span name: calls, wall, and the totals of the jobs attributed
    directly to those spans, with ``cpu_util`` = executor CPU / (wall x
    cores)."""
    out: dict[str, dict] = {}
    for s in spans:
        row = out.setdefault(s.name, {"calls": 0, "wall_s": 0.0, "_jobs": []})
        row["calls"] += 1
        row["wall_s"] += s.end - s.start
        row["_jobs"] += by_span.get(s.id, [])
    for row in out.values():
        row.update(tr.job_totals(row.pop("_jobs")))
        row["cpu_util"] = row["cpu_s"] / (row["wall_s"] * ncpu) if row["wall_s"] else 0.0
    return out


def _named(tracer: tr.Tracer, name: str) -> list[tr.Span]:
    return [s for s in tracer.spans if s.name == name]


def _under(spans, root, name: str) -> list[tr.Span]:
    return [s for s in tr.descendants(spans, root) if s.name == name]


def _top_of_layer(span: tr.Span, spans, layer: str) -> bool:
    """True when no ancestor of ``span`` is in the same layer, so nested
    calls of one layer count once."""
    by_id = {s.id: s for s in spans}
    p = by_id.get(span.parent)
    while p is not None:
        if p.layer == layer:
            return False
        p = by_id.get(p.parent)
    return True
