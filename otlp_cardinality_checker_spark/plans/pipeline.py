"""Batch plan up to the routed turns: load -> parse -> enrich -> route.

This is the Spark-native equivalent of the reference's ingest lifecycle
(`/root/reference/internal/analyzer/logs.go:103-313` +
`internal/storage/memory/store.go:252-317`). Callers build one declarative
aggregate plan per output over the shared routed frame
(``operators.aggregate``); Catalyst handles partial aggregation (the
reference's analyzer-side partial merge) and AQE handles runtime shuffle
sizing. Building the routed frame submits no Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.enrich import enrich_turns
from ..operators.parse import parse_turns
from ..operators.route import route_turns
from ..sources.transcripts import load_dims, load_transcripts


def routed_turns(
    spark: SparkSession,
    sf_dir: str,
    engine: str = "sql",
    with_truth: bool = True,
    n_turns: int | None = None,
    patterns_yaml: str | None = None,
) -> DataFrame:
    turns = load_transcripts(spark, sf_dir, with_truth=with_truth, n_turns=n_turns)
    role_dim, tool_dim = load_dims(spark, sf_dir)
    parsed = parse_turns(turns, engine=engine, patterns_yaml=patterns_yaml)
    enriched = enrich_turns(parsed, role_dim, tool_dim)
    return route_turns(enriched)
