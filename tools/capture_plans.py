"""Capture .explain("formatted") for named queries into plans/r16/.

Usage:
    python tools/capture_plans.py before q_scan_agg q_join3 ...
    python tools/capture_plans.py after --all-headline
    python tools/capture_plans.py before --ops llm_chunk_overlap_dedup_capped ...

Headline bench names resolve through bench.HEADLINE; --ops takes raw
registry names. Output: plans/r16/<name>_<tag>.txt
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, SF_DIR
from highspeedrailwaybigdatasystem_spark.registry import all_queries
from highspeedrailwaybigdatasystem_spark.session import build_session

OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r17"),
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("tag", choices=("before", "after"))
    ap.add_argument("names", nargs="*")
    ap.add_argument("--all-headline", action="store_true")
    ap.add_argument("--ops", action="store_true",
                    help="names are raw registry op names, not bench names")
    args = ap.parse_args()

    os.makedirs(OUT_DIR, exist_ok=True)
    spark = build_session("capture_plans", shuffle_partitions=16)
    qs = all_queries()

    if args.all_headline:
        todo = list(HEADLINE.items())
    elif args.ops:
        todo = [(n, n) for n in args.names]
    else:
        todo = [(n, HEADLINE[n]) for n in args.names]

    for out_name, qname in todo:
        df = qs[qname](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(OUT_DIR, f"{out_name}_{args.tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {out_name} ({qname}) @ {SF_DIR} — {args.tag}\n")
            fh.write(buf.getvalue())
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
