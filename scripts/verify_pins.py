"""Check benchmark builds against their pinned answers.

    python3 scripts/verify_pins.py kb_sf0.04 0-24
    python3 scripts/verify_pins.py corpus_sf0.04 3-5

Rebuilds each seed of the range in one JVM, with the benchmark's own input
generator and pipeline (``perfbench/run.py``), and compares the answer
table's (rows, checksum) to ``perfbench/pins.json`` and checks it for
duplicate rows. Prints one line per seed; exits 1 if any seed mismatches.
Reads ``perfbench/`` and writes nothing there: scratch files go under
``.perfbench/`` and are removed.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent / "perfbench"
sys.path.insert(0, str(BENCH))

import run  # noqa: E402
from answers import answer_errors, load_pins, pinned  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workload", choices=sorted(run.WORKLOADS))
    ap.add_argument("seeds", help="inclusive range a-b")
    args = ap.parse_args(argv)
    a, b = (int(x) for x in args.seeds.split("-"))

    pipeline, pins = run.WORKLOADS[args.workload], load_pins()
    work = run.ROOT / ".perfbench" / f"verify-{args.workload}-{os.getpid()}"
    run.launch_env(work)
    spark = run.start_spark(work, trace=False)
    failed = 0
    try:
        for seed in range(a, b + 1):
            inputs, _, _ = run.generate_inputs(work / f"s{seed}", seed, pipeline.n_docs)
            rows, checksum, distinct = pipeline.answer(pipeline.run(spark, inputs))
            errors = answer_errors(args.workload, seed, (rows, checksum), distinct, pins)
            if pinned(pins, args.workload, seed) is None:
                errors.append("no pin")
            failed += bool(errors)
            print(args.workload, seed, rows, checksum, "; ".join(errors) or "ok", flush=True)
            shutil.rmtree(work / f"s{seed}")
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        if not any(work.parent.iterdir()):
            work.parent.rmdir()
    print(f"{args.workload}: {b - a + 1 - failed}/{b - a + 1} seeds match their pins")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
