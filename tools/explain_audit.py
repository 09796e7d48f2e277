"""Plan audit: dump `.explain("formatted")` for the key operators and grep
for the plan properties that matter at 100 TB (SURVEY.md §4):

- broadcast joins on constraint/alias/prefix sides (no shuffle of the big side)
- no BatchEvalPython/ArrowEvalPython in the validation plan (pure JVM)
- partial+final hash aggregation for the report analytics

Writes plans to BENCH/plans/*.txt and prints a one-line verdict per check.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry  # noqa: E402

from shacl_validator_spark.session import get_spark  # noqa: E402

OUT = os.path.join(ROOT, "BENCH", "plans")


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    os.makedirs(OUT, exist_ok=True)
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    qs = entry.queries()

    checks = []

    def audit(name: str, predicate, description: str):
        df = qs[name](spark, sf_dir)
        text = plan_of(df)
        with open(os.path.join(OUT, f"{name}.txt"), "w") as f:
            f.write(text)
        ok = predicate(text)
        checks.append((name, description, ok))
        print(("PASS " if ok else "FAIL ") + f"{name}: {description}")

    audit(
        "shacl_report_summary",
        lambda t: "BroadcastHashJoin" in t and "BatchEvalPython" not in t
        and "ArrowEvalPython" not in t,
        "validation uses broadcast joins, no Python in plan",
    )
    audit(
        "severity_summary",
        lambda t: "HashAggregate" in t,
        "partial+final hash aggregation",
    )
    audit(
        "shacl_dcat_ap_es_report",
        lambda t: "BroadcastHashJoin" in t and "BatchEvalPython" not in t
        and "ArrowEvalPython" not in t,
        "full-suite validation: broadcast joins, no Python in plan",
    )

    n_fail = sum(1 for _, _, ok in checks if not ok)
    print(f"\n{len(checks) - n_fail}/{len(checks)} plan checks passed; plans in BENCH/plans/")
    raise SystemExit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
