"""Inputs and expected results, made before any timing starts.

``--seed`` picks a window of the library's deterministic generator: row
``i`` of a window is the library's row ``offset + i`` (same text, role,
tool, truth), so every window has the same shape and different values.
Window 0 is byte-for-byte the library's own ``datagen.ensure_dataset``
output.

Each size lives under the window's data root at the path the library
derives from an sf dir name (``n_turns_for_sf``), so ``load_dims`` and
``truth_paths`` find a complete dataset with truth and never generate one
inside a timed pass. The expected results are the fingerprints of the
DuckDB ``oracle_sql()`` results, computed once per window and size.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_work"  # inputs, expectations and scratch of all runs

WARM_N = 5_000       # warm-up pass, and the small point of the floor fit
QUERY_N = 50_000     # query_mix, and the traced probes
BATCH_N = 100_000    # batch_large

# windows the seed picks from; window k starts at library row k * STRIDE
N_WINDOWS = 8
WINDOW_STRIDE = 1_000_000


def sf_name(n_turns: int) -> str:
    """The sf dir name whose derived size is exactly ``n_turns``."""
    from otlp_cardinality_checker_spark.datagen import n_turns_for_sf

    name = f"sf{n_turns / 5_000_000:g}"
    if n_turns_for_sf(name) != n_turns:
        raise ValueError(f"no sf dir name derives {n_turns} turns")
    return name


def sf_dir(n_turns: int) -> str:
    """An (empty) sf dir whose name derives ``n_turns``."""
    d = WORK / "sf" / sf_name(n_turns)
    d.mkdir(parents=True, exist_ok=True)
    return str(d)


def window_of(seed: int) -> int:
    return seed % N_WINDOWS


def write_window(n_turns: int, window: int) -> Path:
    """Materialise ``n_turns`` rows of ``window`` where the library reads
    them (``DATA_ROOT/v{GEN_VERSION}_n{n}``), with truth, idempotently."""
    import numpy as np
    import pandas as pd

    from otlp_cardinality_checker_spark import datagen as dg
    from otlp_cardinality_checker_spark.functions.attributes import extract_attrs
    from otlp_cardinality_checker_spark.functions.masking import template_of
    from otlp_cardinality_checker_spark.functions.severity import severity_of

    out = dg.DATA_ROOT / f"v{dg.GEN_VERSION}_n{n_turns}"
    if (out / "_SUCCESS_TRUTH").exists():
        return out
    idx = np.arange(n_turns, dtype=np.int64) + window * WINDOW_STRIDE
    conv_id = [f"conv_{i // dg.TURNS_PER_CONV:06d}" for i in idx]
    roles = [dg._role_of(int(i)) for i in idx]
    tools = [dg._tool_of(int(i)) if r == "tool" else None for i, r in zip(idx, roles)]
    texts = [dg._text_of(int(i), r, t) for i, r, t in zip(idx, roles, tools)]
    turn_idx = (idx % dg.TURNS_PER_CONV).astype(np.int32)
    ts = (
        pd.Timestamp("2026-01-01T00:00:00") + pd.to_timedelta(idx, unit="s")
    ).astype("datetime64[us]")
    transcripts = pd.DataFrame({
        "conv_id": pd.array(conv_id, dtype="string"),
        "turn_idx": turn_idx,
        "role": pd.array(roles, dtype="string"),
        "text": pd.array(texts, dtype="string"),
        "tool": pd.array(tools, dtype="string"),
        "ts": ts,
    })
    truth = pd.DataFrame({
        "conv_id": transcripts["conv_id"],
        "turn_idx": transcripts["turn_idx"],
        "severity_inferred": pd.array([severity_of(t) for t in texts], dtype="string"),
        "template": pd.array([template_of(t) for t in texts], dtype="string"),
    })
    attrs = [
        (c, int(t), k, v)
        for c, t, text in zip(conv_id, turn_idx, texts)
        for k, v in extract_attrs(text).items()
    ]
    truth_attrs = pd.DataFrame(
        attrs, columns=["conv_id", "turn_idx", "key", "value"]
    ).astype({"conv_id": "string", "turn_idx": "int32", "key": "string",
              "value": "string"})
    out.mkdir(parents=True, exist_ok=True)
    dg._write_many(transcripts, out / "transcripts.parquet")
    dg._write(dg.role_dim(), out / "role_dim.parquet")
    dg._write(dg.tool_dim(), out / "tool_dim.parquet")
    dg.write_metric_dim(out / "metric_dim.parquet")
    dg._write(truth, out / "truth.parquet")
    dg._write(truth_attrs, out / "truth_attrs.parquet")
    (out / "_SUCCESS").touch()
    (out / "_SUCCESS_TRUTH").touch()
    return out


# ---------------------------------------------------------------------------
# fingerprints (the order-insensitive row hash of scripts/check_oracle.py)
# ---------------------------------------------------------------------------


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        # pandas renders an integer column holding NULLs as float NaN
        return "NULL" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def fingerprint(cols, rows) -> list:
    """[row count, sorted column names, value hash], order-insensitive."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return [len(rows), ",".join(sorted(cols)), h]


def expectations(sf_dir: str, names: tuple[str, ...]) -> dict:
    """Oracle fingerprints for ``names`` at ``sf_dir`` (which must include
    ``route_counts`` and ``key_stats_exact``), plus the per-sink
    ``route_counts`` rows and the (sink, key, count) rows of
    ``key_stats_exact`` that the batch and stream checks use. Cached next
    to the dataset."""
    from otlp_cardinality_checker_spark.datagen import DATA_ROOT, GEN_VERSION, n_turns_for_sf

    cache = DATA_ROOT / f"v{GEN_VERSION}_n{n_turns_for_sf(sf_dir)}" / "expect.json"
    if cache.exists():
        return json.loads(cache.read_text())
    import duckdb

    os.environ["SPARK_GRAFT_ORACLE_SF"] = sf_dir
    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    fps, rows_of = {}, {}
    for name in names:
        res = con.execute(sql[name])
        cols = [d[0] for d in res.description]
        # fetched through pandas, as scripts/check_oracle.py does
        rows = list(res.df().itertuples(index=False, name=None))
        fps[name] = fingerprint(cols, rows)
        rows_of[name] = (cols, rows)
    con.close()
    cols, rows = rows_of["route_counts"]
    sink_rows = {r[cols.index("sink")]: int(r[cols.index("n_rows")]) for r in rows}
    cols, rows = rows_of["key_stats_exact"]
    key_counts = fingerprint(
        ["sink", "key", "count"],
        [tuple(r[cols.index(c)] for c in ("sink", "key", "count")) for r in rows],
    )
    out = {"fingerprints": fps, "sink_rows": sink_rows, "key_counts": key_counts}
    cache.write_text(json.dumps(out))
    return out
