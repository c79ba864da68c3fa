"""Capture .explain('formatted') for a set of queries.

Usage: python scripts/capture_plans.py ROUND TAG query [query ...]
Writes plans/<ROUND>/<query>_<TAG>.txt (e.g. ROUND=r15, TAG=before)
for the scale factor in SPARK_GRAFT_SF_DIR. Note: iterative operators
embed localCheckpoint leaves, so the formatted plan covers the final
fragment (from the last checkpoint on); construction-time sizing
counts execute.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from zoom_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    rnd, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(f"capture-plans-{rnd}")
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    out_dir = os.path.join(REPO, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
