"""The closed-loop workloads.  One client, one ``local[4]`` session: every
operation waits for its job to finish before the next one starts.

A workload object goes through ``setup`` (session start, input generation
and materialization, untimed warm-up), ``measure`` (timed rounds until the
window closes: a job on backfill, a pass of the mix on queries) and
``check`` (correctness, outside the window); a traced run then probes the
layers on ``probe_path()`` (see run.py).
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

import inputs
from extraction import Reference, committed_hashes
from harness import CORES, QUERY_MIX, data_dir, start_session, timed
from statusstore import group_stats, job_group

GEN_REPS = 3  # input generation runs per set-up; set-up reports the median
STAGE_KEYS = (
    "tasks", "task_max_s", "task_p50_s", "skew", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


class Op:
    """One timed operation: latency, the work it did, its kind (the query
    name on queries), the round it belongs to, and its job group (traced
    operations only)."""

    def __init__(self, name: str, seconds: float, work: float, kind: str, rnd: int,
                 group: str | None):
        self.name, self.seconds, self.work, self.kind = name, seconds, work, kind
        self.round, self.group = rnd, group
        self.traced = group is not None
        self.failed = False


def round_times(ops: list[Op], traced: bool | None = None) -> list[float]:
    """Wall time of each round (the sum of its operations), of all rounds
    or only of the traced or untraced ones."""
    times: dict[int, float] = {}
    for op in ops:
        if traced is None or op.traced == traced:
            times[op.round] = times.get(op.round, 0.0) + op.seconds
    return list(times.values())


class Workload:
    name = ""
    work_unit = ""  # what throughput counts

    def __init__(self, seed: int):
        self.seed = seed
        self.spark = None
        self.ops: list[Op] = []
        self.errors: list[str] = []
        self.setup_parts: dict[str, float] = {}
        self.shape: dict[str, float] = {}

    # -- helpers --------------------------------------------------------
    def _gen(self, fn) -> None:
        """Run the input generator GEN_REPS times; record the median."""
        secs = [timed(fn)[1] for _ in range(GEN_REPS)]
        self.setup_parts["gen_s"] = statistics.median(secs)

    def _start(self) -> None:
        self.spark, self.setup_parts["session_s"] = start_session(CORES)

    def _op(self, i: int, rnd: int, fn, tracer, kind: str = "job") -> Op:
        """Time ``fn()`` (which returns the work done) as operation ``i``, in
        a span ``<workload>.<kind>`` when traced.  An operation that raises
        is a failed operation, not a crashed run."""
        name = f"{self.name}-{i}"
        group = name if tracer is not None else None
        t0 = time.perf_counter()
        try:
            if tracer is None:
                work, secs = timed(fn)
            else:
                tracer.trace_id = group
                with job_group(self.spark, group, group), tracer.span(f"{self.name}.{kind}"):
                    work, secs = timed(fn)
            return Op(name, secs, work, kind, rnd, group)
        except Exception as exc:  # noqa: BLE001 - reported, counted as failed
            self.errors.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            op = Op(name, time.perf_counter() - t0, 0, kind, rnd, group)
            op.failed = True
            return op

    def measure(self, seconds: float, tracer=None) -> list[Op]:
        """Timed rounds in a window of ``seconds``: a round starts when more
        than half of one as long as the last one fits in the window, so the
        rounds fill the window to within half a round either way.  With a
        tracer the rounds alternate untraced and traced, at least one of
        each, so both kinds run in the same warm state."""
        t0 = time.perf_counter()
        rnd, last = 0, 0.0
        while rnd < (2 if tracer else 1) or time.perf_counter() - t0 + last / 2 <= seconds:
            r0 = time.perf_counter()
            self.ops += self.round(rnd, tracer if rnd % 2 else None)
            last = time.perf_counter() - r0
            rnd += 1
        return self.ops

    def stage_layers(self, ops: list[Op]) -> dict[str, float]:
        """status-store counters per traced op, median over the ops."""
        self.stats = group_stats(self.spark, CORES)
        per_op = [self.stats[op.group] for op in ops if op.group in self.stats]
        return {
            f"stage.{k}": statistics.median(s[k] for s in per_op) for k in STAGE_KEYS
        } if per_op else {}

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def scaling(self, contract_path: str, py_pages_per_s: float) -> dict:
        """One fresh extraction job in this ``local[4]`` session and one in
        a ``local[1]`` session (the last thing a traced run does) → scaling
        and per-core efficiency."""
        from pdf_craft_spark.plans.checkpoint import run_with_resume

        def pages_per_s(tag: str) -> float:
            docs = self.spark.read.parquet(contract_path)
            _, secs = timed(run_with_resume, self.spark, docs, data_dir(tag), tag)
            return self.shape["pages"] / secs

        pps4 = pages_per_s("local4")
        self.stop()
        self.spark, _ = start_session(1)
        pps1 = pages_per_s("local1")
        return {
            "spark.local4_pages_per_s": pps4,
            "spark.local1_pages_per_s": pps1,
            "spark.scaling_eff": pps4 / (CORES * pps1),
            "kernel.spark_core_eff": pps1 / py_pages_per_s,
        }


class Backfill(Workload):
    """One ``run_with_resume`` of a heavy-tailed corpus per job, each into a
    fresh parquet sink.  A round is one job."""

    name = "backfill"
    work_unit = "pages"
    N_BOOKS = 100
    WARM_JOBS = 3

    def setup(self, tracer=None) -> None:
        self._start()
        self.path = data_dir("corpus")

        def gen():
            self.docs = inputs.backfill_corpus(self.seed, self.N_BOOKS)
            shutil.rmtree(self.path, ignore_errors=True)
            inputs.write_contract(self.path, self.docs, CORES)

        self._gen(gen)
        self.shape = inputs.corpus_shape(self.docs)
        # job latency keeps falling over the first jobs of a session (JIT,
        # Python worker start): warm up with WARM_JOBS untimed jobs
        _, self.setup_parts["warm_s"] = timed(
            lambda: [self._job(f"warm{i}") for i in range(self.WARM_JOBS)]
        )

    def _job(self, run_id: str) -> int:
        from pdf_craft_spark.plans.checkpoint import run_with_resume

        docs = self.spark.read.parquet(self.path)
        run_with_resume(self.spark, docs, data_dir("out", run_id), run_id)
        return self.shape["pages"]

    def round(self, rnd: int, tracer) -> list[Op]:
        i = len(self.ops)
        op = self._op(i, rnd, lambda: self._job(f"job{i}"), tracer)
        op.out = data_dir("out", f"job{i}")
        return [op]

    def throughput(self, ops: list[Op]) -> float:
        return statistics.median([op.work / op.seconds for op in ops])

    def check(self, report) -> None:
        ref = Reference(self.docs)
        for op in self.ops:
            got, dups = committed_hashes(os.path.join(op.out, "spans"))
            bad = sum(got.get(d) != h for d, h in ref.spans.items()) + len(set(got) - set(ref.spans))
            if bad or dups:
                op.failed = True
                report.fail(f"{op.name}: {bad} docs differ from the kernel, {dups} duplicate spans")

    def probe_path(self) -> str:
        return self.path

    def probe_docs(self):
        return self.docs


class Queries(Workload):
    """A fixed mix of registry queries over seeded tables, each into a noop
    sink.  A round is one pass of the mix, in a seed-shuffled order."""

    name = "queries"
    work_unit = "queries"
    MIX = QUERY_MIX
    SCALE = 0.01
    PROBE_BOOKS = 100

    def setup(self, tracer=None) -> None:
        self.tables = data_dir("tables")
        self._gen(lambda: inputs.query_tables(self.seed, self.tables, self.SCALE))
        # the registry fits its data-dependent oracle literals on this
        # directory at import; without a session the fit reads parquet
        # directly
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = self.tables
        t0 = time.perf_counter()
        from pdf_craft_spark import queries

        self.registry = queries
        self.setup_parts["import_s"] = time.perf_counter() - t0
        self._start()
        self.rng = random.Random(self.seed)
        self.artifacts = ArtifactLedger(tracer) if tracer is not None else None
        # the warm pass builds the session artifacts; its results are checked
        self.results = {}
        t0 = time.perf_counter()
        self.results["warm pass"] = self._collect()
        if self.artifacts is not None:
            self.artifacts.restore()
        # the pass after it still runs about a quarter slower than later
        # ones (JIT): one more untimed pass, the way the timed ones run
        for q in self.MIX:
            self._noop(q)
        self.setup_parts["warm_s"] = time.perf_counter() - t0

    def _noop(self, q: str) -> int:
        self.registry.QUERIES[q](self.spark, self.tables).write.format("noop").mode(
            "overwrite").save()
        return 1

    def _collect(self) -> dict:
        return {q: self.registry.QUERIES[q](self.spark, self.tables).toPandas() for q in self.MIX}

    def round(self, rnd: int, tracer) -> list[Op]:
        order = list(self.MIX)
        self.rng.shuffle(order)
        ops = []
        for q in order:
            ops.append(self._op(len(self.ops) + len(ops), rnd, lambda q=q: self._noop(q), tracer, q))
        return ops

    def throughput(self, ops: list[Op]) -> float:
        return len(self.MIX) / statistics.median(round_times(ops))

    def check(self, report) -> None:
        import duckdb

        from oracles import compare

        # the timed passes read the session artifacts the warm pass built:
        # one more pass on the same session, untimed, checks that path too
        self.results["pass after the window"] = self._collect()
        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{data_dir('duckdb')}'")
        for t in os.listdir(self.tables):
            name = t.removesuffix(".parquet")
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{self.tables}/{t}')"
            )
        sql = dict(self.registry.ORACLES)
        for q in self.MIX:
            expected = con.sql(sql[q]).df()
            problems = [
                f"{which}: {p}"
                for which, results in self.results.items()
                for p in compare(results[q], expected)
            ]
            if problems:
                for op in self.ops:
                    if op.kind == q:
                        op.failed = True
                report.fail(f"{q}: {problems[0]}")

    def probe_path(self) -> str:
        path = data_dir("probe")
        self.docs = inputs.backfill_corpus(self.seed, self.PROBE_BOOKS)
        inputs.write_contract(path, self.docs, CORES)
        self.shape = inputs.corpus_shape(self.docs)
        return path

    def probe_docs(self):
        return self.docs


class ArtifactLedger:
    """Wraps ``dedup.session_artifact``: a call that builds its artifact is
    a span named after the artifact (its name up to ':'); a cache hit is a
    span named ``artifact.hit``."""

    def __init__(self, tracer):
        from pdf_craft_spark.queries import dedup

        self.module, self.original = dedup, dedup.session_artifact
        self.builds = 0

        def session_artifact(spark, name, build):
            built = []

            def counted():
                built.append(name)
                return build()

            with tracer.span("artifact.hit") as rec:
                out = self.original(spark, name, counted)
            if built:
                rec["name"] = f"artifact.{name.split(':', 1)[0]}"
                self.builds += 1
            return out

        dedup.session_artifact = session_artifact

    def restore(self) -> None:
        self.module.session_artifact = self.original


WORKLOADS = {"backfill": Backfill, "queries": Queries}
