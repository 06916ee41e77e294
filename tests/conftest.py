from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # tests: small local parallelism


@pytest.fixture(scope="session")
def spark():
    from phenoscape_owl_tools_spark.session import get_spark

    s = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus(tmp_path_factory):
    from phenoscape_owl_tools_spark.fixtures import generate_corpus, write_corpus

    c = generate_corpus(seed=42, n_docs=150)
    out = tmp_path_factory.mktemp("fixtures")
    paths = write_corpus(c, out)
    return c, paths


SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


@pytest.fixture
def both_routes(monkeypatch):
    """Run a check under both routes of ``iterbarrier.fits_driver``: the
    driver route and the Spark route of every operator that routes on it
    (the closure and connected-components fixpoints, cascade SemDeDup).

    Use as a decorator on a nested zero-argument function: it runs once on
    the driver route (test-sized inputs always fit one partition) and once
    with ``TARGET_ROWS_PER_PARTITION`` patched to 0, so every non-empty
    input takes the Spark route. A failure notes the route it came from.
    """
    from phenoscape_owl_tools_spark import iterbarrier

    def run(check):
        for route in ("driver", "spark"):
            with monkeypatch.context() as m:
                if route == "spark":
                    m.setattr(iterbarrier, "TARGET_ROWS_PER_PARTITION", 0)
                try:
                    check()
                except BaseException as exc:
                    exc.add_note(f"route: {route}")
                    raise
        return check

    return run
