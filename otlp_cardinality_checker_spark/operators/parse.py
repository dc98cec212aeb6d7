"""Parse stage: raw transcript turns -> parsed turns.

Reference lifecycle step 2 (`/root/reference/internal/analyzer/logs.go:103-313`):
per record the analyzer resolves severity, feeds the body to template
extraction, and flattens attributes. Here that becomes one narrow projection
appended to the input columns:

    severity_inferred : string            (logs.go:51-65 semantics)
    template          : string            (logtemplate.go:52-97 semantics)
    attrs             : map<string,string> (metrics.go:379-405 semantics)
    has_invalid_utf8  : boolean           (http.go:110-115 taint semantics)

Engines:

* ``sql`` (default): pure Catalyst — regexp chains + higher-order array
  functions. Whole-stage codegen end to end; `.explain` shows a single
  Project over the scan, so column pruning/pushdown still reach parquet.
* ``pandas``: one Arrow-batched ``mapInPandas`` doing the same work with
  vectorized pandas ops (no per-row Python in the mask chain). Kept as the
  grok-style reference engine and for the cross-engine property test.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.attributes import ATTRIBUTE_KEYS, attrs_frame, attrs_map_expr
from ..functions.masking import masked_frame, template_from_masked, template_series
from ..functions.severity import severity_expr, severity_series
from ..session import jvm_cached

INVALID_UTF8_MARKER = "�"

PARSED_COLUMNS = ("severity_inferred", "template", "attrs", "has_invalid_utf8")


def parse_turns(
    df: DataFrame, engine: str = "sql", patterns_yaml: str | None = None
) -> DataFrame:
    """Parse stage. ``patterns_yaml`` overrides the built-in mask table
    with a user YAML file (reference: config/patterns.yaml +
    patterns.go:35-63) — the override flows through BOTH engines so the
    cross-engine property still holds for user patterns."""
    patterns = None
    if patterns_yaml:
        from ..functions.masking import load_patterns_yaml

        patterns = load_patterns_yaml(patterns_yaml)
    if engine == "sql":
        return _parse_sql(df, patterns)
    if engine == "pandas":
        return _parse_pandas(df, patterns)
    raise ValueError(f"unknown parse engine: {engine!r}")


def _parse_sql(df: DataFrame, patterns=None) -> DataFrame:
    # masked_frame: stacked-projection mask chain with leaf-guarded
    # pattern skips — row-identical to template_expr's inline chain but
    # ~35% cheaper on the mask passes (see masking.masked_frame docstring;
    # OPTIMIZATION_r06.md has the measurements).
    masked = masked_frame(df, src="text", out="__masked", patterns=patterns)
    return masked.select(*df.columns, *jvm_cached("parse_sql", _parsed_columns))


def _parsed_columns() -> tuple[Column, ...]:
    """The PARSED_COLUMNS projection over ``text`` and ``__masked``. A
    pure Column tree, built once per JVM: each of its ~1,800 nodes costs
    one Py4J round trip to build."""
    text = F.col("text")
    return (
        severity_expr(text).alias("severity_inferred"),
        template_from_masked(F.col("__masked")).alias("template"),
        attrs_map_expr(text).alias("attrs"),
        F.coalesce(text.contains(INVALID_UTF8_MARKER), F.lit(False)).alias(
            "has_invalid_utf8"
        ),
    )


def _parse_pandas(df: DataFrame, patterns=None) -> DataFrame:
    import pandas as pd

    compiled = None
    if patterns is not None:
        from ..functions.masking import compile_patterns

        compiled = compile_patterns(patterns)
    in_fields = df.schema.fieldNames()
    out_schema = (
        df.schema.simpleString()[7:-1]  # strip struct< >
        + ",severity_inferred:string,template:string,attrs:map<string,string>"
        + ",has_invalid_utf8:boolean"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            text = pdf["text"].astype("string").fillna("")
            out = pdf[list(in_fields)].copy()
            out["severity_inferred"] = severity_series(text)
            out["template"] = template_series(text, compiled)
            attrs = attrs_frame(text)
            out["attrs"] = [
                {k: v for k, v in zip(ATTRIBUTE_KEYS, row) if v is not pd.NA and pd.notna(v)}
                for row in attrs.itertuples(index=False, name=None)
            ]
            out["has_invalid_utf8"] = text.str.contains(
                INVALID_UTF8_MARKER, regex=False
            ).astype(bool)
            yield out

    return df.mapInPandas(batches, schema=out_schema)
