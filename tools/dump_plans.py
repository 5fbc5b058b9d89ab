"""Dump per-query formatted plans to plans/<round>/<query>_<tag>.txt.

Captures ``df.explain('formatted')`` for each entry query on one
scale-factor directory, so before/after diffs within a round are
like-for-like. Usage:

    python tools/dump_plans.py r13 after [query ...] [--sf-dir DIR]

Default query set: every headline query (bench.HEADLINE). The data
directory defaults to $SPARK_GRAFT_SF_DIR; the committed captures were
taken at sf0.001.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

from bench import HEADLINE  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("round", help="plans/ subdirectory, e.g. r13")
    ap.add_argument("tag", nargs="?", default="after")
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    args = ap.parse_args()
    if not args.sf_dir:
        ap.error("pass --sf-dir or set SPARK_GRAFT_SF_DIR")

    import __spark_entry__ as entry
    from baloo_spark.session import get_session

    spark = get_session(f"plans_{args.round}")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    os.makedirs(f"plans/{args.round}", exist_ok=True)
    sf = os.path.basename(os.path.normpath(args.sf_dir))
    for name in args.queries or HEADLINE:
        df = qs[name](spark, args.sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(mode="formatted")
        path = f"plans/{args.round}/{name}_{args.tag}.txt"
        with open(path, "w") as f:
            f.write(f"# {name} ({args.tag}) — df.explain('formatted') "
                    f"at {sf}\n\n")
            f.write(buf.getvalue().strip() + "\n")
        print("wrote", path)


if __name__ == "__main__":
    main()
