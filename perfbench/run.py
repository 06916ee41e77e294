"""The repository benchmark: one command, two workloads, checked answers.

    python3 perfbench/run.py --workload kb_sf0.04 --seed 1 --seconds 10 --trace 0

Each run is one process, one client, a closed loop, on ``local[nproc]``:

``kb_sf0.04``
    A cold ``plans.kb_build.run`` over 2,000 seeded documents. With
    ``--trace 1`` the run then persists ``triples`` with
    ``catalog.write_table`` and runs the analyst loop: the 10-query SPARQL
    cycle of ``queries.py`` over the persisted table, repeated until
    ``--seconds`` have passed.
``corpus_sf0.04``
    A cold ``plans.corpus_build.run`` over 2,000 documents of the same shape
    with embeddings, a benchmark slice, a token budget and ``seq_len``.

Both builds run in memory (no ``out_dir``: every stage is an eager local
checkpoint), so a run fits the time a run may take: in a fresh JVM the
per-job overhead of hundreds of jobs, not the input size, sets a pass's
time, and persisting each stage would add about as much again.

Set-up (session start and input generation, generation done three times to
check it repeats byte for byte) is timed apart. The end-to-end metrics are
CPU seconds of the program's threads (``tree_cpu_s``): ``setup_s`` for the
set-up, ``build_cpu_s`` for the pass. On a shared host the wall time of the
same pass moves by a third from run to run with the neighbours' load; the
traced run reports it per layer (``trace.setup_wall_s``, ``trace.build_s``).
Answers are checked after
the timed work: (rows, checksum) of the final table against ``pins.json``
and that table free of duplicate rows; every query against its DuckDB twin.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and the end-to-end metrics, or with ``--trace 1`` the per-layer
metrics from spans (``spans.py``) and Spark's event log (``eventlog.py``).

``--pin --workload W --seeds 0-24`` records the pinned answers instead.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "phenoscape_owl_tools_spark"
SEQ_LEN = 2048
GEN_REPEATS = 3
KB_STAGES = ["linked_mentions", "triples", "homology_triples", "gene_profiles"]
CORPUS_STAGES = ["doc_stats", "exact_groups", "neardup_pairs", "dup_clusters",
                 "semantic_kept", "contaminated", "packed"]
DIM_ROWS = 6000  # a KB stage under this many rows counts as dimension-scale


def _stat(path: str) -> list[str] | None:
    """Fields of a ``stat`` file after the command name (field 3 on)."""
    try:
        with open(path, encoding="ascii", errors="replace") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _tree_stats(root_pid: int) -> dict[int, list[str]]:
    """pid -> ``/proc/<pid>/stat`` fields of ``root_pid`` and all its
    descendants."""
    parent, stat = {}, {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (f := _stat(f"/proc/{d}/stat")) is not None:
            parent[int(d)], stat[int(d)] = int(f[1]), f
    live, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in live:
                live.add(c)
                frontier.append(c)
    return {p: stat[p] for p in live if p in stat}


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of ``root_pid`` and all its descendants, in MB."""
    return sum(int(f[21]) for f in _tree_stats(root_pid).values()) * os.sysconf("SC_PAGE_SIZE") / 2**20


# JVM service threads: JIT compilers, garbage collectors, VM operations
JVM_SERVICE_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread", "G1 ",
                       "VM Thread", "VM Periodic", "Sweeper thread", "Service Thread")


def tree_cpu_s() -> tuple[float, float]:
    """(program, JVM service) CPU seconds, user + system, used so far by
    this process and all its descendants, the JVM and its Python workers,
    exited ones included (a process that ended was reaped by its parent,
    whose child times then hold it). The JVM's service threads are counted
    apart: how much a fresh JVM compiles and collects in the background
    depends on timing and heap thresholds, and is more than half its CPU
    time on a pass. Time the host took from this machine (steal) is in
    neither."""
    ticks = service_ticks = 0
    for pid, f in _tree_stats(os.getpid()).items():
        ticks += sum(int(x) for x in f[11:15])
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm", encoding="ascii", errors="replace") as fh:
                    service = fh.read().startswith(JVM_SERVICE_THREADS)
            except OSError:
                continue
            if service and (t := _stat(f"/proc/{pid}/task/{tid}/stat")) is not None:
                service_ticks += int(t[11]) + int(t[12])
    hz = os.sysconf("SC_CLK_TCK")
    return (ticks - service_ticks) / hz, service_ticks / hz


class PeakRss(threading.Thread):
    """Samples the process tree's resident memory until stopped."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.peak = 0.0
        self._interval = interval
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(self._interval):
            self.peak = max(self.peak, tree_rss_mb(os.getpid()))

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak


def launch_env(work: Path) -> None:
    """Environment the JVM and its Python workers inherit: workers import the
    package through PYTHONPATH (a driver-side sys.path entry is not passed
    on), Spark and Python temp files stay inside the work dir."""
    cpus = len(os.sched_getaffinity(0))
    for d in ("local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    extra = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join([str(ROOT), str(HERE)] + ([extra] if extra else []))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path.insert(0, str(ROOT))


def versions() -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {"nproc": len(os.sched_getaffinity(0)), "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "pandas": pandas.__version__}


def start_spark(work: Path, trace: bool):
    from phenoscape_owl_tools_spark.session import get_spark

    # compiler threads then live as long as the JVM, so none takes its time with it
    jvm = f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={work / 'tmp'}"
    conf = {"spark.driver.extraJavaOptions": jvm,
            "spark.ui.showConsoleProgress": "false"}
    if trace:
        (work / "events").mkdir()
        conf |= {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": (work / "events").as_uri(),
                 "spark.eventLog.compress": "false"}
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def generate_inputs(work: Path, seed: int, n_docs: int) -> tuple[Path, float, float]:
    """Write the seeded inputs GEN_REPEATS times; check the bytes repeat.
    Returns (input dir, median generation seconds, median CPU seconds)."""
    import gen

    times, cpu, digests = [], [], set()
    for i in range(GEN_REPEATS):
        t0, c0 = time.perf_counter(), time.process_time()
        out = gen.write(work / f"inputs{i}", seed, n_docs)
        times.append(time.perf_counter() - t0)
        cpu.append(time.process_time() - c0)
        h = hashlib.sha256()
        for f in sorted(out.iterdir()):
            h.update(f.name.encode() + f.read_bytes())
        digests.add(h.hexdigest())
    if len(digests) != 1:
        raise RuntimeError(f"input generation is not deterministic for seed {seed}")
    for i in range(1, GEN_REPEATS):
        shutil.rmtree(work / f"inputs{i}")
    return work / "inputs0", statistics.median(times), statistics.median(cpu)


def kb_inputs(spark, d: Path):
    """The KB build's inputs over the generated tables (as
    scripts/run_kb_build.py derives them from the sf test tables)."""
    from pyspark.sql import functions as F

    from phenoscape_owl_tools_spark.plans import kb_build
    from phenoscape_owl_tools_spark.sources import tpch_kg as KG

    flat = spark.read.parquet(str(d / "documents.parquet"))
    orders = spark.read.parquet(str(d / "orders.parquet"))
    part = spark.read.parquet(str(d / "part.parquet"))
    terms = KG.terms(flat)
    key = F.col("p_partkey")
    return kb_build.KBInputs(
        documents=KG.span_documents(flat),
        terms=terms,
        synonyms=terms.limit(0).select(F.col("iri"), F.col("label").alias("synonym")),
        subclass_edges=KG.subclass_edges(flat),
        equiv_edges=KG.equiv_edges(flat),
        gene_annotations=KG.gene_annotations(orders),
        homology=part.select(
            F.concat(F.lit("http://kg.example.org/part/"), key.cast("string")).alias("structure1"),
            F.lit("http://kg.example.org/taxon/1").alias("taxon1"),
            F.when(key % 3 == 0, "not hom to").when(key % 3 == 1, "hom to")
            .otherwise("ser hom to").alias("relation"),
            F.concat(F.lit("http://kg.example.org/part/"), (key + 1).cast("string")).alias("structure2"),
            F.lit("http://kg.example.org/taxon/2").alias("taxon2"),
            F.lit(None).cast("string").alias("evidence_code"),
            F.concat(F.lit("PMID:"), key.cast("string")).alias("publication"),
        ),
    )


class Pipeline:
    """One of the two build workloads: its input size, how to run a pass,
    and which table's (rows, checksum) is its answer."""

    def __init__(self, name: str, n_docs: int):
        self.name = name
        self.n_docs = n_docs

    def run(self, spark, d: Path):
        if self.name == "kb_build":
            from phenoscape_owl_tools_spark.plans import kb_build

            return kb_build.run(spark, kb_inputs(spark, d))
        from phenoscape_owl_tools_spark.plans import corpus_build

        read = lambda t: spark.read.parquet(str(d / f"{t}.parquet"))  # noqa: E731
        cfg = corpus_build.CorpusConfig(budget_tokens=10 * self.n_docs, seq_len=SEQ_LEN)
        return corpus_build.run(spark, read("documents"), benchmark=read("benchmark"),
                                embeddings=read("embeddings"), config=cfg)

    def answer(self, res) -> tuple[int, int, int]:
        """(rows, content checksum, distinct rows) of the pass's answer table."""
        from phenoscape_owl_tools_spark import catalog

        df = res.stages[self.answer_table]
        return df.count(), int(catalog.content_checksum(df)), df.distinct().count()

    @property
    def answer_table(self) -> str:
        return "triples" if self.name == "kb_build" else "kept_ids"


WORKLOADS = {"kb_sf0.04": Pipeline("kb_build", n_docs=2000),
             "corpus_sf0.04": Pipeline("corpus_build", n_docs=2000)}


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: Path):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.pipeline = WORKLOADS[workload]
        self.work = work
        self.tracer = None
        self.trace = trace
        self.errors: list[str] = []
        self.answer: tuple[int, int] | None = None
        self.attempted = 0
        self.windows: dict[str, list[tuple[float, float]]] = {}
        self.ops, self.answers = [], []

    def span(self, name: str, label: str | None = None):
        return self.tracer.span(name, label) if self.tracer else nullcontext()

    def run(self, t_start: float, cpu_start: float) -> dict:
        spark = start_spark(self.work, self.trace)
        try:
            inputs, gen_s, gen_cpu_s = generate_inputs(self.work, self.seed, self.pipeline.n_docs)
            spark.read.parquet(str(inputs / "documents.parquet")).schema  # noqa: B018
            setup_s = time.perf_counter() - t_start - gen_s * (GEN_REPEATS - 1)
            setup_cpu_s = tree_cpu_s()[0] - cpu_start - gen_cpu_s * (GEN_REPEATS - 1)
            if self.trace:
                from spans import Tracer, instrument

                self.tracer = Tracer(spark.sparkContext)
                instrument(self.tracer)
            measure_start = time.time()
            metrics = {"setup_s": setup_cpu_s, "setup_wall_s": setup_s} | self.build(spark, inputs)
            if self.trace and self.pipeline.name == "kb_build":
                metrics |= self.query_loop(spark)
            self.windows["measure"] = [(measure_start, time.time())]
            self.check_answers()
            if self.trace:  # the stage frames are checkpointed: cheap counts
                self.stage_rows = {n: df.count() for n, df in self.cold.stages.items()}
        finally:
            if self.tracer:
                self.tracer.close()
            stop_spark(spark)
        return metrics

    def build(self, spark, inputs: Path) -> dict:
        """One cold pass over the generated inputs."""
        self.attempted += 1
        (c0, j0), t0, w0 = tree_cpu_s(), time.perf_counter(), time.time()
        with self.span(f"{self.pipeline.name}.run", "build"):
            self.cold = self.pipeline.run(spark, inputs)
        build_s = time.perf_counter() - t0
        c1, j1 = tree_cpu_s()
        self.windows["build"] = [(w0, time.time())]
        return {"build_cpu_s": c1 - c0, "build_s": build_s, "jvm_service_cpu_s": j1 - j0}

    def query_loop(self, spark) -> dict:
        import queries
        from phenoscape_owl_tools_spark import sparql
        from phenoscape_owl_tools_spark.catalog import read_table, write_table

        # the analyst reads the KB as persisted (the build ran in memory)
        write_table(self.cold.stages["triples"], self.work / "out" / "triples", bucket_col="subj")
        triples = read_table(spark, self.work / "out" / "triples")
        ops = queries.schedule(self.seed, cycles=100)
        answers, lat = [], []
        t0 = time.perf_counter()
        i = 0
        while i < len(ops) and (i % len(queries.CYCLE) or time.perf_counter() - t0 < self.seconds):
            op = ops[i]
            q0 = time.perf_counter()
            try:
                if op.kind == "update":
                    g = sparql.update(triples, op.sparql)
                    with self.span("bench.count", op.template):
                        ans = [(g.count(),)]
                else:
                    df = sparql.evaluate(triples, op.sparql)
                    with self.span("bench.collect", op.template):
                        ans = df.collect()
            except Exception:  # a failed query is counted, the loop goes on
                traceback.print_exc()
                ans = None
            lat.append(time.perf_counter() - q0)
            answers.append(ans)
            i += 1
        loop_s = time.perf_counter() - t0
        self.attempted += i
        self.ops, self.answers = ops[:i], answers
        path = [x for o, x in zip(self.ops, lat) if o.kind == "path"]
        upd = [x for o, x in zip(self.ops, lat) if o.kind == "update"]
        return {"query.per_s": i / loop_s,
                "query.p50_ms": 1000 * statistics.median(lat),
                "query.p90_ms": 1000 * statistics.quantiles(lat, n=10, method="inclusive")[8],
                "query.path_p50_ms": 1000 * statistics.median(path),
                "query.update_p50_ms": 1000 * statistics.median(upd),
                "query.count": float(i)}

    def check_answers(self) -> None:
        """Outside the timed work: the answer table against the pin and
        for duplicates, then every query answer against its DuckDB twin."""
        from answers import answer_errors, load_pins, same_rows

        with self.span("bench.count", self.pipeline.answer_table):
            rows, checksum, distinct = self.pipeline.answer(self.cold)
        self.answer = (rows, checksum)
        self.errors += answer_errors(self.workload, self.seed, self.answer, distinct, load_pins())
        if not self.ops:
            return
        import duckdb

        con = duckdb.connect()
        try:
            src = (self.work / "out" / "triples").as_posix()
            con.execute(f"CREATE TABLE t AS SELECT subj, pred, obj FROM "
                        f"read_parquet('{src}/*/*.parquet', hive_partitioning = false)")
            for op, ans in zip(self.ops, self.answers):
                if ans is None:
                    self.errors.append(f"{op.template}: raised")
                elif not same_rows(ans, con.execute(op.sql).fetchall()):
                    self.errors.append(f"{op.template}: wrong answer to {op.sparql}")
        finally:
            con.close()


def layer_metrics(bench: Bench, e2e: dict) -> dict:
    """Per-layer metrics from the tracer's spans and the event log."""
    import eventlog
    from spans import frame_label, self_times, stage_windows

    spans = bench.tracer.spans
    by_id = {s.id: s for s in spans}
    selft = self_times(spans)
    log = eventlog.read(bench.work / "events")

    def ancestors(s):
        while s.parent is not None:
            s = by_id[s.parent]
            yield s

    def under(names: set[str]):
        """Spans named in ``names`` with no such ancestor (no double count)."""
        return [s for s in spans if s.name in names
                and not any(a.name in names for a in ancestors(s))]

    def subtree(roots) -> set[str]:
        ids = {r.id for r in roots}
        return {s.id for s in spans if s.id in ids or any(a.id in ids for a in ancestors(s))}

    def jobs_in(span_ids: set[str]) -> set[int]:
        return {j.id for j in log.jobs.values() if j.group in span_ids}

    def jobs_between(t0: float, t1: float) -> set[int]:
        return {j.id for j in log.jobs.values() if t0 <= j.submit < t1}

    runs = [s for s in spans if s.name.endswith("_build.run")]
    # catalog calls in the measured work: the builds' input fingerprints,
    # the analyst's persisted KB; not the answer check's checksum
    (t0, t1), = bench.windows["measure"]
    measured_spans = [s for s in spans if s.end is not None and t0 <= s.start and s.end <= t1]
    writes = [s for s in measured_spans if s.name == "catalog.write_table"]
    out = bench.work / "out"
    m: dict[str, float] = {
        "catalog.write_s": sum(s.duration for s in writes),
        "catalog.write_calls": float(len(writes)),
        "catalog.jobs_per_write": len(jobs_in(subtree(writes))) / max(1, len(writes)),
        "catalog.written_mb": sum(f.stat().st_size for f in out.rglob("*") if f.is_file()) / 2**20,
        "catalog.checksum_s": sum(s.duration for s in measured_spans if s.name == "catalog.content_checksum"),
        "catalog.checksum_calls": float(sum(s.name == "catalog.content_checksum" for s in measured_spans)),
        "catalog.read_s": sum(s.duration for s in measured_spans if s.name == "catalog.read_table"),
        "kb_build.driver_s": sum((selft[s.id] for s in runs if s.name == "kb_build.run"), 0.0),
        "corpus_build.driver_s": sum((selft[s.id] for s in runs if s.name == "corpus_build.run"), 0.0),
    }

    # stage wall time in the cold pass; Python-worker time of its jobs
    cold = next(s for s in runs if s.label == "build")
    frames = {n: frame_label(df) for n, df in bench.cold.stages.items()}
    windows = stage_windows(spans, cold, frames)
    stage_s = {name: t1 - t0 for name, t0, t1 in windows}
    for name in KB_STAGES + CORPUS_STAGES:
        m[f"stage.{name}.s"] = stage_s.get(name, 0.0)
    m["stage.dim_stages.s"] = 0.0 + sum(
        t for n, t in stage_s.items()
        if bench.pipeline.name == "kb_build" and bench.stage_rows[n] < DIM_ROWS)
    win = {name: (t0, t1) for name, t0, t1 in windows}
    mention = eventlog.summarize(log, jobs_between(*win["linked_mentions"])) \
        if "linked_mentions" in win else {}
    m["mention.python_run_s"] = mention.get("python_run_s", 0.0)
    m["mention.python_init_s"] = mention.get("python_init_s", 0.0) + mention.get("python_start_s", 0.0)
    m["mention.python_sent_mb"] = mention.get("python_sent_mb", 0.0)
    sem = eventlog.summarize(log, jobs_in(subtree(under({s.name for s in spans if s.name.startswith("semdedup.")}))))
    m["semdedup.python_run_s"] = sem["python_run_s"]

    closures = under({"closure.el_closure", "closure.transitive_closure"})
    m["closure.s"] = sum(s.duration for s in closures)
    m["closure.calls"] = float(len(closures))
    m["closure.jobs"] = float(len(jobs_in(subtree(closures))))
    m["iterbarrier.checkpoints"] = float(sum(s.name == "iterbarrier.checkpoint" for s in spans))
    m["iterbarrier.roundtrips"] = float(sum(s.name == "iterbarrier.roundtrip" for s in spans))
    m["salting.choose_s"] = sum(s.duration for s in spans if s.name == "salting.choose_salt_factor")
    m["salting.factor"] = float(bench.cold.manifests.get("_config", {}).get("presence_path_salt", 0))
    m["components.s"] = sum(s.duration for s in under({"components.connected_components"}))

    queries_ = under({"sparql.evaluate", "sparql.update"})
    n_q = max(1, len(queries_))
    parse = [s for s in spans if s.name == "sparql.parse"]
    actions = [s for s in spans if s.name in ("bench.collect", "bench.count") and s.label != bench.pipeline.answer_table]
    m["sparql.parse_ms"] = 1000 * sum(s.duration for s in parse) / n_q
    m["sparql.plan_ms"] = 1000 * (sum(s.duration for s in queries_) - sum(s.duration for s in parse)) / n_q
    m["sparql.execute_ms"] = 1000 * sum(s.duration for s in actions) / n_q
    m["sparql.jobs_per_query"] = len(jobs_in(subtree(queries_ + actions))) / n_q
    for k in ("query.per_s", "query.p50_ms", "query.p90_ms", "query.path_p50_ms",
              "query.update_p50_ms", "query.count"):
        m[k] = e2e.get(k, 0.0)

    measured = jobs_between(t0, t1)
    tot = eventlog.summarize(log, measured)
    intervals = [(log.jobs[j].submit, log.jobs[j].end or t1) for j in measured]
    m["spark.jobs"] = float(len(measured))
    m["spark.tasks"] = tot["tasks"]
    m["spark.no_job_s"] = (t1 - t0) - eventlog.busy_union(intervals, t0, t1)
    for k in ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_mb",
              "shuffle_read_mb", "spill_mb", "task_skew_max", "python_run_s"):
        m[f"spark.{k}"] = tot[k]
    m["spark.unattributed_job_frac"] = (
        sum(log.jobs[j].group is None for j in measured) / max(1, len(measured)))
    m["mem.peak_rss_mb"] = e2e["peak_rss_mb"]
    m["jvm.service_cpu_s"] = e2e["jvm_service_cpu_s"]
    m["trace.setup_wall_s"] = e2e["setup_wall_s"]
    m["trace.build_s"] = e2e["build_s"]
    m["trace.build_cpu_s"] = e2e["build_cpu_s"]
    return m


E2E = ["setup_s", "build_cpu_s"]
UNITS = {"per_s": "1/s", "_ms": "ms", "_s": "s", ".s": "s", "_mb": "MB", "_frac": "ratio",
         "skew_max": "ratio"}


def unit(name: str) -> str:
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)), "count")


def pin(workload: str, seeds: list[int], root_work: Path) -> None:
    """Record (rows, checksum) of each seed's build in pins.json."""
    from answers import PINS, load_pins

    work = root_work / f"pin-{workload}-{os.getpid()}"
    launch_env(work)
    spark = start_spark(work, trace=False)
    pins = load_pins()
    try:
        for seed in seeds:
            p = WORKLOADS[workload]
            inputs, _ = generate_inputs(work / f"s{seed}", seed, p.n_docs)
            pins.setdefault(workload, {})[str(seed)] = list(p.answer(p.run(spark, inputs))[:2])
            print(workload, seed, pins[workload][str(seed)], file=sys.stderr, flush=True)
            shutil.rmtree(work / f"s{seed}")
            PINS.write_text(json.dumps(pins, indent=1, sort_keys=True) + "\n")
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    t_start, cpu_start = time.perf_counter(), tree_cpu_s()[0]
    ap = argparse.ArgumentParser(description="repository benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true", help="record pinned answers")
    ap.add_argument("--seeds", default="0-24", help="with --pin: a-b range")
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    root_work = ROOT / ".perfbench"
    if args.pin:
        a, b = (int(x) for x in args.seeds.split("-"))
        pin(args.workload, list(range(a, b + 1)), root_work)
        return 0

    work = root_work / f"{args.workload}-{os.getpid()}"
    launch_env(work)
    rss = PeakRss()
    rss.start()
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        e2e = bench.run(t_start, cpu_start)
        e2e["peak_rss_mb"] = rss.stop()
        metrics = layer_metrics(bench, e2e) if args.trace else {k: e2e[k] for k in E2E}
    finally:
        if rss.is_alive():
            rss.stop()
        shutil.rmtree(work, ignore_errors=True)
        if not any(root_work.iterdir()):
            root_work.rmdir()
    for err in bench.errors:
        print("perfbench: " + err, file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "answer": bench.answer,
                      **versions(), **{k: v for k, v in e2e.items() if k not in E2E}}),
          file=sys.stderr)
    result = {
        "correct": not bench.errors,
        "attempted": bench.attempted,
        "failed": len(bench.errors),
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
