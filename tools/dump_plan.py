"""Dump .explain("formatted") for registered queries to files.

Usage: python tools/dump_plan.py OUTDIR SUFFIX q1 [q2 ...]
Writes OUTDIR/<query>_<SUFFIX>.txt for each query.

Store-lifecycle gates return an eager localCheckpoint (their cost is
commit jobs, not the final plan), so for those the file holds only the
checkpoint's scan, not the work that produced it.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)
    from s1tiling_spark.session import build_session

    import __spark_entry__ as e

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_session(
        master=f"local[{cpus}]",
        app_name="s1ts-dump-plan",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    from s1tiling_spark.operators.cache import release_cached

    qs = e.queries()
    for name in names:
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(buf.getvalue())
        release_cached()
        spark.catalog.clearCache()
        print(f"wrote {name}_{suffix}.txt", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
