"""sf10 heavy-tail stress (r4 verdict item 2): wall-clock for the five
most expensive registry keys at sf1 AND sf10 in one session (same boot,
same JVM — the only admissible comparison discipline, BENCH.md §2), plus
per-key scaling exponents log10(t10/t1).

Emits one JSON line for BENCH.md §20.
"""
import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# Spark's Python workers import the package through PYTHONPATH, not sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
sys.path.insert(0, str(ROOT))

from phenoscape_owl_tools_spark.session import get_spark

KEYS = ["property_chains", "simhash_near_dups", "dedup_windows",
        "dedup_ngram_jaccard", "evolutionary_profiles"]


def main():
    import __spark_entry__ as e
    spark = get_spark("stress-sf10")
    qs = e.queries()
    out = {"keys": {}}
    # warmup: fork python workers + pandas import at full width
    spark.range(10**6).selectExpr("sum(id)").collect()
    for sf_name, sf_dir in (("sf1", str(ROOT / ".scratch" / "sf1")),
                            ("sf10", str(ROOT / ".scratch" / "sf10"))):
        for k in KEYS:
            t0 = time.perf_counter()
            n = qs[k](spark, sf_dir).count()
            dt = round(time.perf_counter() - t0, 1)
            out["keys"].setdefault(k, {})[sf_name] = {"rows": n, "s": dt}
            print(f"{sf_name} {k}: {n} rows in {dt}s", file=sys.stderr)
    import math
    for k, v in out["keys"].items():
        v["exponent"] = round(
            math.log10(max(v["sf10"]["s"], 0.1) / max(v["sf1"]["s"], 0.1)), 2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
