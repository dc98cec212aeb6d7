"""Shows that the benchmark's correctness checks can fail.

    python3 perfbench/selfcheck.py

On a tiny input (5k turns of window 0) it runs each kind of checked
operation twice: once against the true expectations, which must pass, and
once sabotaged, which must raise the failed share above 0:

* a registry query against a deliberately wrong expected fingerprint;
* a pipeline pass against wrong per-sink totals;
* a stream stopped after 2 of its 4 micro-batches, as a stream that hits
  its ``awaitTermination`` timeout would return.

Exits 0 when every check behaves so, 1 otherwise.
"""

from __future__ import annotations

import copy
import os
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import run  # noqa: E402


def main() -> int:
    run._configure(seed=0)
    import ops
    import prep

    n = prep.WARM_N
    prep.write_window(n, 0)
    sf = prep.sf_dir(n)
    good = prep.expectations(sf, ops.QUERIES)
    wrong_fp = copy.deepcopy(good)
    wrong_fp["fingerprints"]["key_stats_exact"][2] = "0" * 16
    wrong_sinks = copy.deepcopy(good)
    wrong_sinks["sink_rows"]["chat"] += 1

    sess = run.Session(int(os.environ["SPARK_GRAFT_CPUS"]), None)
    spark = sess.start()
    import __spark_entry__ as entry

    queries = entry.queries()
    scratch = prep.WORK / "run" / "selfcheck"

    def share(step) -> float:
        c = run.Counter()
        c.add(step())
        return c.failed / c.attempted

    cases = {
        "query": lambda e: ops.run_query(
            spark, queries, "key_stats_exact", sf, e)[1],
        "pass": lambda e: ops.pipeline_pass(spark, sf, scratch / "pass", e)[1],
        "stream": lambda stop: ops.stream_cycle(
            spark, sf, scratch / "stream", good, n, stop_after=stop)["ok"],
    }
    results = {}
    try:
        results["query, true expectation"] = (share(lambda: cases["query"](good)), 0)
        results["query, wrong fingerprint"] = (share(lambda: cases["query"](wrong_fp)), 1)
        results["pass, true expectation"] = (share(lambda: cases["pass"](good)), 0)
        results["pass, wrong sink totals"] = (share(lambda: cases["pass"](wrong_sinks)), 1)
        results["stream, all batches"] = (share(lambda: cases["stream"](None)), 0)
        results["stream, truncated"] = (share(lambda: cases["stream"](2)), 1)
    finally:
        sess.shutdown()
    bad = 0
    for name, (got, want) in results.items():
        ok = (got > 0) == bool(want)
        bad += not ok
        print(f"{'ok  ' if ok else 'FAIL'} {name}: failed_share={got:g}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
