"""cdc_ingest: one writer and one reader sharing one SCD2 table.

The seed generates the whole change stream. Each writer batch lands one
JSON change file and applies it with streaming ``apply_changes(...,
scd_type=2)`` (availableNow), inside ``RunLogger.start_run`` /
``complete_run``; every ``MAINTAIN_EVERY`` batches it also runs
``optimize(zorder_by=["id"])`` and ``vacuum``. The reader runs a closed
loop of version-pinned point lookups and key-range scans through
``TackleTable.scan`` and time-travel reads through ``TackleTable.read``.

A pure-Python model of the stream is the reference: every reader op is
compared with the model at the batch its pinned version committed, and
the final table and run log are compared with the model at the end.
"""

from __future__ import annotations

import json
import os
import random
import threading
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

from lhbench import env
from lhbench.querymix import Op, canonical

CHANGES_PER_BATCH = 500
BATCH_S = 6.0  # expected seconds per batch: --seconds / BATCH_S timed batches
WARM_BATCHES = 2  # batch 0 creates the table, batch 1 warms the merge path
MAINTAIN_EVERY = 3
RETAIN_VERSIONS = 6  # in-run VACUUM keeps this many versions (and any a reader pins)
RANGE_WIDTH = 64
NEW_SHARE, DELETE_SHARE, LATE_SHARE = 0.3, 0.1, 0.1
PIPELINE = "cdc_ingest"
SCHEMA = "id LONG, val STRING, seq LONG, op STRING"
COLUMNS = ("id", "val", "seq", "op", "__valid_to", "__is_current")
READ_KINDS = ("lookup", "range", "time_travel")


@dataclass(frozen=True)
class Change:
    id: int
    val: str | None
    seq: int
    op: str  # UPSERT | DELETE

    def to_json(self) -> str:
        return json.dumps({"id": self.id, "val": self.val, "seq": self.seq, "op": self.op})


def generate(seed: int, batches: int, per_batch: int = CHANGES_PER_BATCH) -> list[list[Change]]:
    """Changes delivered in each batch. Sequence numbers follow generation
    order; a late change is delivered one or more batches after the batch
    that generated it. Updates favour recently created keys; deletes hit
    any existing key."""
    rng = random.Random(seed)
    delivered: list[list[Change]] = [[] for _ in range(batches)]
    seq = keys = 0
    for b in range(batches):
        for _ in range(per_batch):
            seq += 1
            r = rng.random()
            if keys == 0 or r < NEW_SHARE:
                keys += 1
                k, op = keys, "UPSERT"
            elif r < NEW_SHARE + DELETE_SHARE:
                k, op = rng.randint(1, keys), "DELETE"
            else:
                k, op = max(1, keys - int(rng.expovariate(1 / 150))), "UPSERT"
            val = None if op == "DELETE" else f"{k}:{seq}:{rng.getrandbits(64):016x}"
            at = b
            if b and rng.random() < LATE_SHARE:
                at = min(batches - 1, b + 1 + int(rng.expovariate(1.0)))
            delivered[at].append(Change(k, val, seq, op))
    return delivered


class Model:
    """The SCD2 table the change stream should produce, after each batch."""

    def __init__(self, delivered: list[list[Change]]):
        self.delivered = delivered
        self._snapshots: list[dict[int, tuple[Change, ...]]] = []
        state: dict[int, list[Change]] = defaultdict(list)
        for batch in delivered:
            for c in batch:
                state[c.id].append(c)
            self._snapshots.append({k: tuple(sorted(v, key=lambda c: c.seq)) for k, v in state.items()})

    def max_key(self, batch: int) -> int:
        return max(self._snapshots[batch], default=1)

    def history(self, key: int, batch: int) -> list[tuple]:
        cs = self._snapshots[batch].get(key, ())
        rows = []
        for i, c in enumerate(cs):
            nxt = cs[i + 1].seq if i + 1 < len(cs) else None
            current = nxt is None and c.op != "DELETE"
            rows.append((c.id, c.val, c.seq, c.op, nxt, current))
        return rows

    def current(self, batch: int, lo: int = 0, hi: int | None = None) -> list[tuple]:
        """(id, val, seq) of the latest non-deleted change per key."""
        out = []
        for k, cs in self._snapshots[batch].items():
            if k >= lo and (hi is None or k < hi) and cs[-1].op != "DELETE":
                out.append((k, cs[-1].val, cs[-1].seq))
        return out

    def history_rows(self, batch: int) -> int:
        return sum(len(v) for v in self._snapshots[batch].values())

    def live_bytes(self, batch: int) -> int:
        """Bytes of the live current view in the change-file format."""
        snap = self._snapshots[batch]
        return sum(len(cs[-1].to_json()) + 1 for cs in snap.values() if cs[-1].op != "DELETE")


def dir_files(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


@dataclass
class CdcRun:
    """One table, one change stream, one writer and one reader."""

    spark: object
    root: Path
    delivered: list
    seed: int
    model: Model = None
    ops: list = field(default_factory=list)
    batches: list = field(default_factory=list)  # writer Ops, one per timed batch
    problems: list = field(default_factory=list)
    batch_rows: list = field(default_factory=list)
    batch_jobs: list = field(default_factory=list)
    vacuum_removed: int = 0
    input_bytes: int = 0

    def __post_init__(self):
        from lakehouse_tacklebox_spark.observability.runlogger import RunLogger

        self.model = self.model or Model(self.delivered)
        self.land = self.root / "landing"
        self.land.mkdir(parents=True)
        self.table_path = str(self.root / "table")
        self.log_path = str(self.root / "runlog")
        self.checkpoint = str(self.root / "checkpoint")
        self.runlog = RunLogger(self.spark, self.log_path)
        self.published: list[tuple[int, int]] = []  # (table version, batch)
        self._pins: dict[int, int] = {}
        self._lock = threading.Lock()
        # VACUUM also deletes the checksum sidecars of live data files, so
        # a read opening one of them at that moment fails (see
        # tests/test_vacuum_sidecars.py); reads and VACUUM take turns.
        self._vacuum_lock = threading.Lock()
        self._seen: dict[str, int] = {}

    # -- writer -------------------------------------------------------------
    def table(self):
        from lakehouse_tacklebox_spark.tablestore import TackleTable

        return TackleTable(self.spark, self.table_path)

    def written_bytes(self) -> int:
        """Bytes of every file ever seen under the table and run-log dirs."""
        for root in (self.table_path, self.log_path):
            self._seen.update(dir_files(root))
        return sum(self._seen.values())

    def apply_batch(self, b: int) -> Op:
        from lakehouse_tacklebox_spark.streaming.apply_changes import apply_changes

        body = "\n".join(c.to_json() for c in self.delivered[b]) + "\n"
        self.input_bytes += len(body)
        t0 = env.now()
        try:
            before = self.table().version() if b else -1
            with open(self.land / f"batch-{b:05d}.json", "w") as f:
                f.write(body)
            run_id = self.runlog.start_run(PIPELINE, {"batch": b})
            source = self.spark.readStream.schema(SCHEMA).json(str(self.land))
            query = apply_changes(
                source,
                self.table_path,
                self.checkpoint,
                keys=["id"],
                sequence_by="seq",
                apply_as_delete_when="op = 'DELETE'",
                scd_type=2,
            )
            query.awaitTermination()
            if query.exception() is not None:
                raise RuntimeError(str(query.exception()))
            self.runlog.complete_run(run_id, metadata={"batch": b})
            table = self.table()
            version = table.version()
            done = (
                self.runlog.runs(PIPELINE)
                .filter(f"run_id = {run_id} AND status = 'SUCCESS'")
                .count()
            )
            if version <= before or done != 1:
                raise RuntimeError(f"batch {b}: version {before}->{version}, SUCCESS rows {done}")
            self.written_bytes()  # before VACUUM can delete what this batch wrote
            if b and b % MAINTAIN_EVERY == 0:
                table.optimize(zorder_by=["id"])
                self.written_bytes()
                with self._vacuum_lock:
                    self.vacuum_removed += table.vacuum(keep_versions=self._retain(table.version()))
                version = table.version()
        except Exception as e:
            return Op(0, "batch", t0, env.now(), False, f"{type(e).__name__}: {e}"[:300])
        op = Op(0, "batch", t0, env.now(), True)
        per_epoch = {p["batchId"]: p.get("numInputRows", 0) for p in query.recentProgress}
        self.batch_rows.append(sum(per_epoch.values()))
        self.batch_jobs.append(len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(str(query.runId))))
        with self._lock:
            self.published.append((version, b))
        return op

    def _retain(self, latest: int) -> int:
        with self._lock:
            oldest = min(self._pins.values(), default=latest)
        return max(RETAIN_VERSIONS, latest - oldest + 1)

    def write(self, first: int, last: int) -> None:
        for b in range(first, last):
            op = self.apply_batch(b)
            self.batches.append(op)
            if not op.ok:
                self.problems.append(op.error)
                break

    # -- reader -------------------------------------------------------------
    def _pin(self, rng: random.Random, depth: int) -> tuple[int, int, int]:
        with self._lock:
            version, batch = rng.choice(self.published[-depth:])
            token = rng.getrandbits(48)
            self._pins[token] = version
        return token, version, batch

    def read_op(self, rng: random.Random, kind: str) -> Op:
        token, version, batch = self._pin(rng, 3)
        t0 = env.now()
        try:
            self._vacuum_lock.acquire()
            table = self.table()
            top = self.model.max_key(batch)
            if kind == "lookup":
                k = rng.randint(1, top)
                got = table.scan(f"id = {k}", version=version).select(*COLUMNS).collect()
                want = self.model.history(k, batch)
            elif kind == "range":
                lo = rng.randint(1, top)
                cond = f"id >= {lo} AND id < {lo + RANGE_WIDTH}"
                got = table.scan(cond, version=version).filter("__is_current").select("id", "val", "seq").collect()
                want = self.model.current(batch, lo, lo + RANGE_WIDTH)
            else:
                got = table.read(version=version).filter("__is_current").select("id", "val", "seq").collect()
                want = self.model.current(batch)
            end = env.now()
            ok = canonical(got) == canonical(want)
            err = "" if ok else f"{kind} at v{version} (batch {batch}) differs from the model"
            return Op(1, kind, t0, end, ok, err)
        except Exception as e:
            return Op(1, kind, t0, env.now(), False, f"{type(e).__name__}: {e}"[:300])
        finally:
            self._vacuum_lock.release()
            with self._lock:
                self._pins.pop(token, None)

    def read_loop(self, stop: threading.Event) -> None:
        rng = random.Random(f"{self.seed}/reader")
        while not stop.is_set():
            op = self.read_op(rng, rng.choice(READ_KINDS))
            self.ops.append(op)
            if not op.ok:
                self.problems.append(op.error)

    def window(self, first: int, last: int) -> tuple[float, float]:
        """Writer applies batches [first, last) while the reader loops."""
        stop = threading.Event()
        errors: list = []

        def reader():
            try:
                self.read_loop(stop)
            except BaseException as e:
                errors.append(e)

        t = threading.Thread(target=reader)
        start = env.now()
        t.start()
        try:
            self.write(first, last)
        finally:
            stop.set()
            t.join()
        if errors:
            raise errors[0]
        return start, env.now()

    # -- end-of-run checks --------------------------------------------------
    def finish(self, batches: int) -> None:
        """Final OPTIMIZE + VACUUM, then compare table and run log with the model."""
        last = batches - 1
        table = self.table()
        table.optimize(zorder_by=["id"])
        self.written_bytes()
        self.vacuum_removed += table.vacuum(keep_versions=1)
        rows = table.read().select(*COLUMNS).collect()
        current = [(r.id, r.val, r.seq) for r in rows if r["__is_current"]]
        if canonical(current) != canonical(self.model.current(last)):
            self.problems.append("current view differs from the latest non-deleted change per key")
        if len(rows) != self.model.history_rows(last):
            self.problems.append(f"history has {len(rows)} rows, model {self.model.history_rows(last)}")
        runs = self.runlog.runs(PIPELINE).collect()
        success = sorted(json.loads(r.metadata)["batch"] for r in runs if r.status == "SUCCESS")
        if success != list(range(batches)):
            self.problems.append(f"run log SUCCESS rows for batches {success}, want 0..{last}")

    def log_entries(self) -> list[dict]:
        log = Path(self.table_path) / "_log"
        return [json.loads(p.read_text()) for p in sorted(log.glob("*.json"))]

    def disk_bytes(self) -> int:
        return sum(dir_files(self.table_path).values()) + sum(dir_files(self.log_path).values())


class CdcWorkload:
    """cdc_ingest as run by ``run.py``: one table fed one seeded change
    stream; each timed window applies the next ``batches`` batches."""

    def __init__(self, spark, work: Path, seed: int, smoke: bool, seconds: float, windows: int = 1):
        self.spark, self.seed = spark, seed
        self.batches = 2 if smoke else max(2, round(seconds / BATCH_S))
        self.total = WARM_BATCHES + windows * self.batches
        self.delivered = generate(seed, self.total, 40 if smoke else CHANGES_PER_BATCH)
        self.model = Model(self.delivered)
        self.run = CdcRun(spark, work / "cdc", self.delivered, seed, model=self.model)
        self.next_batch = WARM_BATCHES

    def setup(self) -> None:
        """Warm up: the first batches and one read of each kind."""
        run = self.run
        for b in range(WARM_BATCHES):
            op = run.apply_batch(b)
            if not op.ok:
                run.problems.append(op.error)
        rng = random.Random(self.seed)
        for kind in READ_KINDS:
            op = run.read_op(rng, kind)
            if not op.ok:
                run.problems.append(op.error)

    def measure(self, seconds: float) -> dict:
        run = self.run
        first, last = self.next_batch, self.next_batch + self.batches
        self.next_batch = last
        n_reads, n_batches = len(run.ops), len(run.batches)
        bytes0, removed0 = run.written_bytes(), run.vacuum_removed
        v0 = run.table().version()
        start, end = run.window(first, last)
        table = run.table()
        batches = run.batches[n_batches:]
        rewritten = sum(len(e["remove"]) for e in run.log_entries() if e["operation"] == "MERGE" and e["version"] > v0)
        busy = sum(o.latency for o in batches)
        n = max(len(batches), 1)
        extra = {
            # source rows the engine reports per batch; it counts every
            # re-read of the micro-batch, so it exceeds the changes landed
            "streaming.rows_per_batch": sum(run.batch_rows[first:last]) / n,
            "streaming.jobs_per_batch": sum(run.batch_jobs[first:last]) / n,
            "streaming.changes_per_s": sum(len(c) for c in self.delivered[first:last]) / busy if busy else 0.0,
            "tablestore.files_rewritten_per_batch": rewritten / n,
            "tablestore.active_files": table.detail()["numFiles"],
            "tablestore.bytes_written": (run.written_bytes() - bytes0) / n,
            "tablestore.vacuum_files_removed": run.vacuum_removed - removed0,
            "tablestore.log_entries": len(table.history()) + len(run.runlog.table.history()),
        }
        return dict(reads=run.ops[n_reads:], batches=batches, start=start, end=end, registry_ops=[], extra=extra)

    def problems(self) -> list[str]:
        """Final OPTIMIZE + VACUUM, then the end-of-run model checks."""
        self.run.finish(self.next_batch)
        return self.run.problems

    def details(self) -> dict:
        return {"batch_s": [round(o.latency, 3) for o in self.run.batches]}

    def final_layer_values(self) -> dict:
        """Write and space amplification; call after ``problems``."""
        run = self.run
        return {
            "tablestore.write_amp": run.written_bytes() / max(run.input_bytes, 1),
            "tablestore.space_amp": run.disk_bytes() / max(self.model.live_bytes(self.next_batch - 1), 1),
        }
