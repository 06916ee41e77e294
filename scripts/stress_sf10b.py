"""sf10 stress, part 2: the keys the exact-ngram abort displaced —
evolutionary_profiles (heavy tail #5) and dedup_minhash_lsh (X3, the
DOCUMENTED scale path for near-dup at clone density where the exact
n-gram verifier's co-occurrence relation exceeds local disk).
Same-boot sf1 + sf10, JSON to stdout."""
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

KEYS = ["evolutionary_profiles", "dedup_minhash_lsh"]


def main():
    import __spark_entry__ as e
    spark = get_spark("stress-sf10b")
    qs = e.queries()
    out = {"keys": {}}
    spark.range(10**6).selectExpr("sum(id)").collect()
    for sf_name, sf_dir in (("sf1", str(ROOT / ".scratch" / "sf1")),
                            ("sf10", str(ROOT / ".scratch" / "sf10"))):
        for k in KEYS:
            t0 = time.perf_counter()
            n = qs[k](spark, sf_dir).count()
            dt = round(time.perf_counter() - t0, 1)
            out["keys"].setdefault(k, {})[sf_name] = {"rows": n, "s": dt}
            print(f"{sf_name} {k}: {n} rows in {dt}s", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
