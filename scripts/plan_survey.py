#!/usr/bin/env python
"""Survey corpus-entry physical plans for duplicated work: per entry,
count Exchange nodes, parquet scans per table, ReusedExchange nodes and
Python-eval nodes. High scan multiplicity of one table inside a single
entry usually means a subplan is being re-derived instead of shared —
the triangle/dedup_quality class of fix (guide §1.2 "don't compute
things you throw away").

Usage: python scripts/plan_survey.py [--min-exchange 4] [names...]
Entries whose fn() does eager work (streaming drains, iterative loops)
only show the FINAL plan; their loop bodies are audited separately.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from empujar_spark.session import get_spark  # noqa: E402
from empujar_spark.plans.corpus import CORPUS  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# eager / side-effecting entries: fn() drains streams or runs warehouse
# round trips; their returned plan is a stub of the real work
SKIP_PREFIX = ("streaming_",)
SKIP = {
    "etl_pipeline_summary",
    "pretrain_pipeline_summary",
    "drift_monitor_summary",
    "bloom_fold_lifecycle",
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--min-exchange", type=int, default=4)
    args = ap.parse_args()

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    spark = get_spark("plan_survey")
    names = args.names or [
        n
        for n in CORPUS
        if n not in SKIP and not n.startswith(SKIP_PREFIX)
    ]
    rows = []
    for name in names:
        try:
            df = CORPUS[name].fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERR {e}")
            continue
        n_ex = len(re.findall(r"\bExchange\b", plan)) - len(
            re.findall(r"ReusedExchange", plan)
        )
        n_reuse = len(re.findall(r"ReusedExchange", plan))
        n_py = len(re.findall(r"EvalPython|MapInArrow|MapInPandas|FlatMapGroupsInPandas", plan))
        scans = Counter(
            m.group(1)
            for m in re.finditer(r"Location: [^\n]*?/(\w+)\.parquet", plan)
        )
        rows.append((name, n_ex, n_reuse, n_py, scans))
    rows.sort(key=lambda r: r[1], reverse=True)
    for name, n_ex, n_reuse, n_py, scans in rows:
        if n_ex < args.min_exchange and max(scans.values(), default=0) < 3:
            continue
        scan_s = ",".join(f"{t}x{c}" for t, c in scans.most_common())
        print(
            f"{name:42s} ex={n_ex:3d} reuse={n_reuse:2d} py={n_py:2d} {scan_s}"
        )


if __name__ == "__main__":
    main()
