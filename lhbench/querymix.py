"""Closed-loop clients over query-registry entries (olap_mix, corpus_ops).

One op is one registry call plus ``collect()``. Set-up runs every entry
once (the warm-up pass) and checks its rows against the entry's DuckDB
oracle with the comparison in ``tests/oracle_check.py``; those rows are
then the reference for every later op of that entry, compared as a
multiset. A second, untimed pass on the clients lets the JVM settle
before the window opens. Each client walks seeded permutations of the
entry list until the window closes and finishes the op it is in; the
window stays open until every entry has been timed at least once.
"""

from __future__ import annotations

import importlib.util
import math
import queue
import random
import threading
from dataclasses import dataclass, field

from lhbench import env
from lhbench.trace import TRACER

# SQL-shaped entries: TPC-H, TPC-DS shapes, windows, joins, aggregates,
# the profiler and the validation battery. Planning, scans and shuffles;
# no Python UDFs, no writes.
OLAP_MIX = (
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "q13_customer_distribution",
    "ds_yoy_customer_growth",
    "win_moving_avg",
    "join_interval_overlap",
    "profile_customer",
    "validate_hashdiff_summary",
    "reconcile_counts_by_grain",
)

# Operator entries: text, corpus, multimodal (pandas UDFs), dedup and
# similarity. Arrow/pandas UDF workers and explode-heavy shuffles.
CORPUS_OPS = (
    "text_html_strip",
    "corpus_vocab",
    "mm_video_features",
    "mm_audio_features",
    "mm_block_dedup",
    "knn_bruteforce",
)

WORKLOADS = {"olap_mix": (OLAP_MIX, 2), "corpus_ops": (CORPUS_OPS, 1)}


def _load_compare():
    path = env.REPO / "tests" / "oracle_check.py"
    spec = importlib.util.spec_from_file_location("lhbench_oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


class _Collected:
    """Already-collected rows shaped like the DataFrame ``compare`` takes."""

    def __init__(self, rows, columns):
        self._rows, self.columns = rows, columns

    def collect(self):
        return self._rows


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def canonical(rows) -> list:
    """Rows as a sorted list of hashable tuples: equal iff equal multisets."""
    return sorted((tuple(_norm(x) for x in r) for r in rows), key=repr)


@dataclass
class Op:
    client: int
    kind: str
    start: float
    end: float
    ok: bool
    error: str = ""
    call_s: float = 0.0
    jobs: int = 0
    tasks: int = 0

    @property
    def latency(self) -> float:
        return self.end - self.start


@dataclass
class QueryMix:
    spark: object
    sf_dir: str
    names: tuple
    clients: int
    seed: int
    reference: dict = field(default_factory=dict)
    warm_errors: dict = field(default_factory=dict)
    warm_timings: dict = field(default_factory=dict)
    count_jobs: bool = False

    def __post_init__(self):
        from lakehouse_tacklebox_spark.queries import REGISTRY

        self.specs = {n: REGISTRY[n] for n in self.names}
        self._op_ids = iter(range(1, 1 << 62))

    # -- one op -----------------------------------------------------------
    def _execute(self, name: str):
        spec = self.specs[name]
        t0 = env.now()
        df = TRACER.call("queries.call", "queries", spec.fn, self.spark, self.sf_dir)
        t1 = env.now()
        rows = TRACER.call("queries.collect", "queries", df.collect)
        return rows, list(df.columns), t0, t1, env.now()

    def _job_counts(self, group: str) -> tuple[int, int]:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                sinfo = st.getStageInfo(s)
                tasks += sinfo.numTasks if sinfo else 0
        return len(jobs), tasks

    def run_op(self, client: int, name: str) -> Op:
        group = f"lhbench-op-{next(self._op_ids)}"
        if self.count_jobs:
            self.spark.sparkContext.setJobGroup(group, name)
        t0 = env.now()
        try:
            rows, _cols, t0, t1, t2 = self._execute(name)
        except Exception as e:  # a failed op is data, not a crash
            return Op(client, name, t0, env.now(), False, f"{type(e).__name__}: {e}"[:300])
        op = Op(client, name, t0, t2, True, call_s=t1 - t0)
        ref = self.reference.get(name)
        if ref is None or canonical(rows) != ref:
            op.ok = False
            op.error = self.warm_errors.get(name, "result differs from the warm-up result")
        if self.count_jobs:
            op.jobs, op.tasks = self._job_counts(group)
            self.spark.sparkContext.setJobGroup("", "")
        return op

    # -- warm-up ------------------------------------------------------------
    def warm_up(self, threads: int = env.nproc()) -> None:
        """Run each entry once, check it against its oracle, keep its rows.

        Spark runs the entries on ``threads`` threads; one more thread runs
        the DuckDB oracles as results arrive, overlapping the two engines.
        """
        compare = _load_compare()
        todo = list(self.names)
        random.Random(self.seed).shuffle(todo)
        lock = threading.Lock()
        checks: queue.Queue = queue.Queue()

        def spark_worker(_i: int):
            while True:
                with lock:
                    if not todo:
                        return
                    name = todo.pop()
                t0 = env.now()
                try:
                    rows, cols, *_ = self._execute(name)
                except Exception as e:
                    self.warm_errors[name] = f"{type(e).__name__}: {e}"[:300]
                    continue
                self.warm_timings[name] = round(env.now() - t0, 3)
                checks.put((name, rows, cols))

        def oracle_worker():
            while (item := checks.get()) is not None:
                name, rows, cols = item
                spec = self.specs[name]
                try:
                    problems = compare(_Collected(rows, cols), spec.oracle, self.sf_dir) if spec.oracle else []
                except Exception as e:
                    problems = [f"{type(e).__name__}: {e}"[:300]]
                if problems:
                    self.warm_errors[name] = "oracle mismatch: " + "; ".join(problems)[:300]
                else:
                    self.reference[name] = canonical(rows)

        oracle = threading.Thread(target=oracle_worker)
        oracle.start()
        try:
            self._in_threads(spark_worker, threads)
        finally:
            checks.put(None)
            oracle.join()

    def settle(self) -> None:
        """Run every entry once more, untimed, split across the clients as
        the timed window runs them: the first runs after the warm-up pass
        are still compiling and caching. A wrong result here is a problem
        of the run like one in the window."""
        order = list(self.names)
        random.Random(f"{self.seed}/settle").shuffle(order)

        def client(i: int):
            for name in order[i :: self.clients]:
                op = self.run_op(i, name)
                if not op.ok:
                    self.warm_errors.setdefault(name, op.error)

        self._in_threads(client, self.clients)

    # -- timed window -------------------------------------------------------
    def window(self, seconds: float) -> tuple[list[Op], float, float]:
        """Closed loop for ``seconds``, extended until every entry has been
        timed at least once; returns (ops, start, end)."""
        ops: list[Op] = []
        start = env.now()
        deadline = start + seconds
        seen: set = set()

        def client(i: int):
            rng = random.Random(f"{self.seed}/{i}")
            while True:
                order = list(self.names)
                rng.shuffle(order)
                for name in order:
                    if env.now() >= deadline and len(seen) == len(self.names):
                        return
                    ops.append(self.run_op(i, name))
                    seen.add(name)

        self._in_threads(client, self.clients)
        return ops, start, max([o.end for o in ops], default=env.now())

    @staticmethod
    def _in_threads(target, n: int) -> None:
        errors: list = []

        def guarded(*a):
            try:
                target(*a)
            except BaseException as e:  # surface, never swallow
                errors.append(e)

        threads = [threading.Thread(target=guarded, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]


class QueryWorkload:
    """olap_mix / corpus_ops as run by ``run.py``."""

    def __init__(self, spark, name: str, seed: int, smoke: bool, trace_on: bool):
        names, clients = WORKLOADS[name]
        names = names[:2] if smoke else names
        self.mix = QueryMix(spark, env.data_dir(), names, clients, seed, count_jobs=trace_on)

    def setup(self) -> None:
        self.mix.warm_up()
        self.mix.settle()

    def measure(self, seconds: float) -> dict:
        before = self._fixture_entries()
        ops, start, end = self.mix.window(seconds)
        after = self._fixture_entries()
        extra = {"queries.fixture_cache_entries": after, "queries.fixture_misses": after - before}
        return dict(reads=ops, batches=ops, start=start, end=end, registry_ops=ops, extra=extra)

    def problems(self) -> list[str]:
        return [f"{n}: {e}" for n, e in sorted(self.mix.warm_errors.items())]

    def details(self) -> dict:
        return {"warm_up_s": self.mix.warm_timings}

    def final_layer_values(self) -> dict:
        return {}

    @staticmethod
    def _fixture_entries() -> int:
        from lakehouse_tacklebox_spark.queries import fixtures

        return len(fixtures._ROWS) + len(fixtures._PATHS)
