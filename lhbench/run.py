"""Lakehouse benchmark: one seeded workload, one JSON result line.

Usage, from the repository root::

    python3 lhbench/run.py --workload {olap_mix,corpus_ops,cdc_ingest} \
        --seed N --seconds S --trace {0,1} [--smoke]

Workloads (all on ``local[nproc]``; each workload's load comes from this
one process):

- ``olap_mix``: two closed-loop clients over SQL-shaped registry
  entries at sf0.1; the seed picks each client's entry order.
- ``corpus_ops``: one closed-loop client over operator entries (dedup,
  similarity, text, corpus, multimodal, graph) at sf0.1.
- ``cdc_ingest``: a writer applying a seeded change stream to an SCD2
  table while a reader queries pinned versions of it.

``--trace 0`` measures the end-to-end metrics. ``--trace 1`` wraps the
engine's layers (see ``trace.py``), runs one window with recording off
and one with it on, and prints the per-layer metrics of the traced
window plus ``overhead.<metric>`` (traced minus untraced) for every
end-to-end metric. The line before the result holds the run's stamp
(nproc, memory, code revision, seed) and details such as the tail's
percentile and sample count. ``--smoke`` shrinks every workload to a
few ops for the benchmark's own tests. Exit status 0 means the run
completed; ``correct`` says whether every output matched its reference.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from lhbench import env  # noqa: E402
from lhbench import metrics as M  # noqa: E402
from lhbench import trace  # noqa: E402
from lhbench.trace import TRACER  # noqa: E402

WORKLOADS = ("olap_mix", "corpus_ops", "cdc_ingest")


def process_start() -> float:
    """Wall-clock time this process was created (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="a few ops per workload (the benchmark's own tests)")
    return p.parse_args(argv)


def span_cost(n: int = 20000) -> float:
    """Seconds one recorded span adds, measured on a no-op wrapper."""
    f = TRACER.wrap(lambda: None, "calibrate", "calibrate")
    kept = list(TRACER.spans)
    TRACER.enabled = True
    t0 = time.perf_counter()
    for _ in range(n):
        f()
    cost = (time.perf_counter() - t0) / n
    TRACER.enabled = False
    TRACER.spans[:] = kept
    return cost


def make_workload(spark, work, args):
    """The workload object: setup / measure / problems / details /
    final_layer_values (querymix.QueryWorkload, cdc.CdcWorkload)."""
    if args.workload == "cdc_ingest":
        from lhbench.cdc import CdcWorkload

        return CdcWorkload(spark, work, args.seed, args.smoke, args.seconds, windows=3 if args.trace else 1)
    from lhbench.querymix import QueryWorkload

    return QueryWorkload(spark, args.workload, args.seed, args.smoke, bool(args.trace))


def run(args) -> tuple[dict, dict]:
    t_process = process_start()
    work = env.prepare(args.workload)
    if args.workload != "cdc_ingest":
        env.data_dir()
    rss = env.RssSampler().start()
    spark = None
    try:
        if args.trace:
            trace.install()
            TRACER.enabled = True  # set-up is traced too, for session.start_s
        spark = env.start_spark(work)
        wl = make_workload(spark, work, args)
        wl.setup()
        setup_s = time.time() - t_process
        TRACER.enabled = False
        setup_spans = list(TRACER.spans)

        def window():
            rss.reset()
            w = wl.measure(args.seconds)
            values, details = M.end_to_end(
                setup_s=setup_s, rss_mb=rss.peak_mb, reads=w["reads"], batches=w["batches"], start=w["start"], end=w["end"]
            )
            return w, values, details

        w, values, details = window()
        details.update(wl.details())
        if not args.trace:
            return _result(values, [*w["reads"], *w["batches"]], wl.problems()), details

        # Recording off, on, off again: overhead is the traced window minus
        # the mean of the two untraced ones, which cancels the drift of a
        # JVM that is still warming up between windows.
        jvm = env.JvmProbe(spark)
        pruned = [0, 0]

        def on_prune(kept_skipped):
            pruned[0] += len(kept_skipped[0])
            pruned[1] += len(kept_skipped[1])

        TRACER.observers["tablestore.table.TackleTable.prune_files"] = on_prune
        TRACER.spans.clear()
        gc0 = jvm.gc_seconds()
        jvm.reset_heap_peak()
        TRACER.enabled = True
        tw, tvalues, tdetails = window()
        TRACER.enabled = False
        gc_s, heap_mb = jvm.gc_seconds() - gc0, jvm.heap_peak_mb()
        spans = list(TRACER.spans)
        extra = {
            "session_start_s": sum(s.duration for s in setup_spans if s.name == "session.session.get_spark"),
            "pruned": tuple(pruned),
            "jvm.gc_s": gc_s,
            "jvm.heap_peak_mb": heap_mb,
            **tw["extra"],
        }
        w2, values2, _ = window()
        problems = wl.problems()
        extra.update(wl.final_layer_values())
        reads, batches = tw["reads"], tw["batches"]
        layer = M.per_layer(
            M.SpanView(spans),
            n_ops=len({id(o) for o in [*reads, *batches]}),
            n_batches=len(batches),
            n_reads=len(reads),
            registry_ops=tw["registry_ops"],
            extra=extra,
        )
        for m in M.END_TO_END:
            layer[f"overhead.{m}"] = tvalues[m] - (values[m] + values2[m]) / 2
        # set-up ran once, traced: its overhead is its span count times the
        # measured cost of one span
        layer["overhead.setup_s"] = len(setup_spans) * span_cost()
        TRACER.spans[:] = setup_spans + spans
        TRACER.dump(env.OUT_DIR / f"spans-{args.workload}-{args.seed}.jsonl")
        details.update({"traced": tdetails, "spans": len(spans), "setup_spans": len(setup_spans)})
        ops = [*w["reads"], *w["batches"], *reads, *batches, *w2["reads"], *w2["batches"]]
        return _result(layer, ops, problems, units=M.PER_LAYER), details
    finally:
        try:
            env.stop_spark(spark)
        finally:
            rss.stop()
            env.cleanup(work)


def _result(values: dict, ops, problems, units=M.END_TO_END) -> dict:
    unique = {id(o): o for o in ops}.values()
    failed = sum(not o.ok for o in unique)
    errors = [o.error for o in unique if not o.ok][:5]
    return {
        "correct": failed == 0 and not problems,
        "attempted": max(len(unique), 1),
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
        "_problems": (problems + errors)[:10],
    }


def main(argv=None) -> int:
    args = parse(argv)
    # A SIGTERM unwinds like an exception, so the JVM and its workers are
    # still stopped and waited for.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result, details = run(args)
    except env.SetupError as e:
        print(f"lhbench: cannot run here: {e}", file=sys.stderr)
        return 2
    problems = result.pop("_problems")
    info = {"stamp": env.stamp(args.workload, args.seed, args.seconds, args.trace), "details": details}
    if problems:
        info["problems"] = problems
        for p in problems:
            print(f"lhbench: {p}", file=sys.stderr)
    print(json.dumps(info))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
