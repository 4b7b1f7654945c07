"""Full-registry partitioning-invariance sweep (see
tests/test_determinism.py for the per-commit quarter-sample and the
rationale). Writes INVARIANCE_r{N}.json at the repo root.

Usage: python tools/run_invariance_sweep.py [round_number] [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_data_lake_spark.queries import load_all  # noqa: E402
from big_data_data_lake_spark.session import get_spark  # noqa: E402
from big_data_data_lake_spark.testing import (  # noqa: E402
    INVARIANCE_PERTURB,
    check_query_invariance,
)


def main() -> None:
    rnd = sys.argv[1] if len(sys.argv) > 1 else "0"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
    spark = get_spark()
    violations: dict[str, list[str]] = {}
    names = sorted(load_all())
    for n in names:
        issues = check_query_invariance(spark, n, sf_dir)
        if issues:
            violations[n] = issues
            print(f"VARIES {n}: {'; '.join(issues)}", flush=True)
    record = {
        "queries_checked": len(names),
        "violations": violations,
        "sf_dir": sf_dir,
        "perturb": INVARIANCE_PERTURB,
    }
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        f"INVARIANCE_r{rnd}.json",
    )
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    print(f"wrote {out}: {len(names)} checked, {len(violations)} violations")


if __name__ == "__main__":
    main()
