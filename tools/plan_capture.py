#!/usr/bin/env python
"""Dump .explain('formatted') of named registered queries to
plans/<round>/<name>_<tag>.txt (an optimization round's before/after
evidence). The lifecycle/iterative queries execute eager driver-side
steps at construction; the dump records the RETURNED frame's plan —
the per-JOB attribution for those lives in OPTIMIZATION_<round>.md.

Usage: python tools/plan_capture.py <round> <tag> q1 [q2 ...]
e.g.   python tools/plan_capture.py r17 before manifest_projection_read
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    rnd, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = _REPO / "plans" / rnd
    out_dir.mkdir(parents=True, exist_ok=True)

    from postgre_to_clickhouse_spark.queries import QUERIES
    from postgre_to_clickhouse_spark.session import get_spark

    spark = get_spark("p2c-plan-capture")
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        (out_dir / f"{name}_{tag}.txt").write_text(txt)
        print(name, "->", f"plans/{rnd}/{name}_{tag}.txt", len(txt), "chars")
    spark.stop()


if __name__ == "__main__":
    main()
