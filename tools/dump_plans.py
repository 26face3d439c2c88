"""Dump `.explain("formatted")` for declared queries into
plans/<tag>/<query>_<suffix>.txt of the repository holding this script.

    python tools/dump_plans.py TAG SUFFIX SF_DIR QUERY [QUERY ...]

The queries are imported from the CURRENT directory's checkout, so one
command per side gives a before/after pair in the same plans/<tag>/:

    cd <parent checkout> && python <repo>/tools/dump_plans.py T before SF q...
    cd <repo>            && python tools/dump_plans.py T after SF q...
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.getcwd())

import __spark_entry__ as entrymod  # noqa: E402
from bi_etl_and_integration_spark import get_session  # noqa: E402


def main(argv: list[str]) -> None:
    if len(argv) < 4:
        sys.exit(__doc__)
    tag, suffix, sf_dir, names = argv[0], argv[1], argv[2], argv[3:]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(root, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_session(f"dump_plans_{suffix}")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    for name in names:
        df = queries[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        # checkout-independent text, so before/after dumps diff cleanly
        plan = (buf.getvalue()
                .replace(os.path.abspath(sf_dir), "<sf_dir>")
                .replace(os.getcwd(), "<checkout>"))
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"-- {name} ({suffix})\n"
                     f"-- sf: {os.path.basename(os.path.normpath(sf_dir))}"
                     f"\n\n{plan}")
        print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
