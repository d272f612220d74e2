"""Dump .explain('formatted') for named bench entries to plans/r<N>/.

Usage: python scripts/dump_round_plans.py --round=N <before|after> name1 name2 ...
       python scripts/dump_round_plans.py --round=N <before|after> --slowest=35
Writes plans/r<N>/<name>_<before|after>.txt, the plan evidence that
OPTIMIZATION_r<N>.md cites.  --slowest=K adds the K slowest entries of
BENCH_RUNS.json.  sf dir: $SPARK_GRAFT_SF_DIR, else the sf0.1 test data.
"""

from __future__ import annotations

import io
import json
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    rnd = 0
    slowest = 0
    args: list[str] = []
    for a in sys.argv[1:]:
        if a.startswith("--round="):
            rnd = int(a.split("=", 1)[1])
        elif a.startswith("--slowest="):
            slowest = int(a.split("=", 1)[1])
        else:
            args.append(a)
    if rnd <= 0 or not args or args[0] not in ("before", "after"):
        raise SystemExit(__doc__)
    suffix, names = args[0], args[1:]

    import __spark_entry__ as e
    from data_catalog_spark.session import get_spark

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    outdir = os.path.join(here, "plans", f"r{rnd}")
    os.makedirs(outdir, exist_ok=True)

    spark = get_spark(app_name=f"plans-r{rnd}-{suffix}")
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()
    if slowest:
        with open(os.path.join(here, "BENCH_RUNS.json")) as fh:
            runs = json.load(fh)["runs"]
        best = {k: min(v) for k, v in runs.items() if k in qs}
        names += [
            k
            for k, _ in sorted(best.items(), key=lambda kv: -kv[1])[:slowest]
            if k not in names
        ]
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    for name in names:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} — explain('formatted'), sf_dir={sf_dir}\n")
            f.write(buf.getvalue().rstrip() + "\n")
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
