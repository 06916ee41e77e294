"""Answer checks: pinned build outputs and row-multiset comparison.

``pins.json`` maps workload -> seed -> [row count, content checksum] of the
final output table (the KB's ``triples``, the corpus build's ``kept_ids``),
as ``catalog.content_checksum`` computes it. Every answer table must
also be free of duplicate rows, the only check a seed without a pin gets;
``python3 perfbench/run.py --pin`` adds pins.
"""

from __future__ import annotations

import json
from pathlib import Path

from queries import normalize

PINS = Path(__file__).resolve().parent / "pins.json"


def load_pins(path: Path = PINS) -> dict:
    return json.loads(path.read_text()) if path.exists() else {}


def pinned(pins: dict, workload: str, seed: int) -> tuple[int, int] | None:
    pair = pins.get(workload, {}).get(str(seed))
    return None if pair is None else (int(pair[0]), int(pair[1]))


def answer_errors(workload: str, seed: int, answer: tuple[int, int],
                  distinct_rows: int, pins: dict) -> list[str]:
    """Mismatches of the answer table: duplicate rows, (rows, checksum) vs pin."""
    errors = []
    if distinct_rows != answer[0]:
        errors.append(f"{answer[0] - distinct_rows} duplicate rows in {answer[0]}")
    want = pinned(pins, workload, seed)
    if want is not None and answer != want:
        errors.append(f"build wrote {answer}, pinned answer is {want}")
    return errors


def same_rows(got, want) -> bool:
    """Equal as multisets of stringified rows."""
    return normalize(got) == normalize(want)
