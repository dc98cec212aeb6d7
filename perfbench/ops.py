"""The operations the benchmark times, and the check each result must pass.

Every operation returns its wall time and whether its result was correct.
The calls go through the library's modules by attribute, so a traced run's
wrappers (``tracing.instrument``) see them.
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path

from prep import fingerprint
from tracing import Tracer

# the cardinality "REST API" reads of the query_mix workload; all ten have
# an oracle_sql() entry
QUERIES = (
    "route_counts", "key_stats_exact", "template_stats", "attribute_catalog",
    "active_series_exact", "watched_values", "session_diff",
    "high_cardinality", "service_overview", "paginated_keys",
)
TEMPLATE_COLS = ("role", "severity", "template", "count", "example", "pct")
STREAM_BATCHES = 4
OFF = Tracer()  # a disabled tracer records nothing: untraced runs use it


def tagged(name: str, df):
    """``df`` as (agg, row-as-JSON) rows, so unlike frames can be unioned."""
    from pyspark.sql import functions as F

    return df.select(
        F.lit(name).alias("agg"),
        F.to_json(F.struct(*df.columns)).alias("row"),
    )


def pipeline_pass(spark, sf_dir: str, out_dir: Path, expect: dict | None,
                  tracer: Tracer = OFF, keep: bool = False) -> tuple[float, bool]:
    """The production pass of ``bench.py:pipeline_pass``, timed whole:
    ``routed_turns`` -> snappy parquet partitioned by sink -> read back ->
    the five aggregate families as one union ``collect``.

    Correct when the per-sink totals of the ``service_stats`` rows equal the
    ``route_counts`` oracle and the ``template_stats`` rows match their
    oracle fingerprint (``expect=None`` skips the check). ``keep`` leaves
    the routed parquet in ``out_dir``."""
    from otlp_cardinality_checker_spark.operators import aggregate as agg
    from otlp_cardinality_checker_spark.plans import pipeline

    routed_path = out_dir / "routed"
    t0 = time.time()
    with tracer.span("pipeline.pass", "pipeline"):
        routed = pipeline.routed_turns(
            spark, sf_dir, engine="sql", with_truth=False
        )
        with tracer.span("route.write", "route"):
            (
                routed.write.mode("overwrite")
                .option("compression", "snappy")
                .partitionBy("sink")
                .parquet(str(routed_path))
            )
        with tracer.span("pipeline.read_back", "pipeline"):
            mat = spark.read.parquet(str(routed_path))

        with tracer.span("aggregate.build", "aggregate"):
            ks_df, cat_df = agg.key_stats_and_catalog(mat)
            union = (
                tagged("key_stats", ks_df)
                .unionByName(tagged("service_stats", agg.service_stats(mat)))
                .unionByName(tagged("template_stats", agg.template_stats(mat)))
                .unionByName(tagged("attribute_catalog", cat_df))
                .unionByName(
                    tagged("active_series", agg.active_series(mat, exact=False))
                )
            )
        with tracer.span("aggregate.collect", "aggregate"):
            rows = union.collect()
    dt = time.time() - t0
    ok = True if expect is None else check_pass(rows, expect)
    if not keep:
        shutil.rmtree(out_dir, ignore_errors=True)
    return dt, ok


def check_pass(rows, expect: dict) -> bool:
    by_agg: dict[str, list[dict]] = {}
    for r in rows:
        by_agg.setdefault(r["agg"], []).append(json.loads(r["row"]))
    sink_rows: dict[str, int] = {}
    for s in by_agg.get("service_stats", []):
        sink_rows[s["sink"]] = sink_rows.get(s["sink"], 0) + s["sample_count"]
    templates = [
        tuple(t.get(c) for c in TEMPLATE_COLS)
        for t in by_agg.get("template_stats", [])
    ]
    return (
        sink_rows == expect["sink_rows"]
        and fingerprint(TEMPLATE_COLS, templates)
        == expect["fingerprints"]["template_stats"]
    )


def run_query(spark, queries: dict, name: str, sf_dir: str,
              expect: dict | None, tracer: Tracer = OFF) -> tuple[float, bool]:
    """Build and collect one registry query; correct when its fingerprint
    equals the oracle's (``expect=None`` skips the check)."""
    t0 = time.time()
    with tracer.span(f"registry.{name}", "registry"):
        with tracer.span(f"registry.{name}.build", "registry"):
            df = queries[name](spark, sf_dir)
        with tracer.span(f"registry.{name}.exec", "registry"):
            rows = [tuple(r) for r in df.collect()]
    dt = time.time() - t0
    if expect is None:
        return dt, True
    return dt, fingerprint(df.columns, rows) == expect["fingerprints"][name]


def stream_cycle(spark, sf_dir: str, out_dir: Path, expect: dict,
                 n_turns: int, stop_after: int | None = None,
                 tracer: Tracer = OFF) -> dict:
    """Writes beside reads: ``run_stream`` over fresh out and checkpoint
    dirs, a state read, ``compact_state``, another state read.

    Correct when the stream ran all its micro-batches, the lineage rows
    summed over sinks equal the input turns, every read agrees with the
    first, and the exact (sink, key, count) rows match the batch
    ``key_stats_exact`` oracle. A stream that stops early (``stop_after``,
    or a timed-out ``awaitTermination``) therefore fails the check."""
    from otlp_cardinality_checker_spark.streaming import stream

    shutil.rmtree(out_dir, ignore_errors=True)
    out, ckpt = out_dir / "out", out_dir / "ckpt"
    with tracer.span("stream.cycle", "stream"):
        batches = stream.run_stream(
            spark, sf_dir, str(out), str(ckpt),
            stop_after_batches=stop_after,
        )
        fps = []

        def read():
            with tracer.span("stream.read", "stream"):
                df = stream.current_key_stats(spark, str(out))
                with tracer.span("stream.read.exec", "stream"):
                    rows = df.collect()
            fps.append((
                fingerprint(df.columns, [tuple(r) for r in rows]),
                fingerprint(
                    ["sink", "key", "count"],
                    [(r["sink"], r["key"], r["count"]) for r in rows],
                ),
            ))

        read()
        t = time.time()
        stream.compact_state(spark, str(out))
        compact_s = time.time() - t
        read()
    lineage = [
        row
        for f in sorted((out / "lineage").glob("batch_*.json"))
        for row in json.loads(f.read_text())
    ]
    ok = (
        batches == STREAM_BATCHES
        and sum(r["n_rows"] for r in lineage) == n_turns
        and all(f == fps[0] for f in fps)
        and fps[0][1] == expect["key_counts"]
    )
    return {"compact_s": compact_s, "ok": ok, "out": out}
