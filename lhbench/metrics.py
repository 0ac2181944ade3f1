"""Metric names, units and how each is computed from one timed window.

End-to-end metrics (``--trace 0``), reported for every workload:

- ``setup_s``: process start to the first timed op: JVM start, staging,
  the warm-up pass (with its oracle checks) and, on olap_mix and
  corpus_ops, one untimed settle pass.
- ``peak_rss_mb``: peak memory of this process, its JVM and its Python
  workers (summed proportional set size, sampled every 0.2 s).
- ``success_ratio``: ops that returned the right result over ops
  attempted (1 - failure ratio; a wrong result counts as a failure).
- ``query_p50_s``, ``query_tail_s``, ``query_geomean_s``,
  ``queries_per_min``: the read ops clients wait on. olap_mix and
  corpus_ops: one registry call plus ``collect()``. cdc_ingest: the
  reader's version-pinned lookups, range scans and time-travel reads.
  The tail is the highest percentile with at least ten samples beyond
  it (the line before the result gives the percentile and the sample
  count); the geomean is over each op kind's median (registry entry or
  read kind).
- ``batch_p50_s``: median latency of the unit a writing client waits
  on. cdc_ingest: landing a change file until its commit and its
  run-log SUCCESS row are readable (plus OPTIMIZE and VACUUM every few
  batches). olap_mix and corpus_ops do not write; there each client
  submits one query at a time, so a batch is one op.

Per-layer metrics (``--trace 1``) come from the spans of the traced
window; ``per op`` divides by the window's timed ops, ``per batch`` by
its writer batches, ``per read`` by its reader ops. A layer that a
workload does not reach reports 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from lhbench import stats
from lhbench.trace import ALL_LAYERS

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "success_ratio": "ratio",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "query_geomean_s": "s",
    "queries_per_min": "1/min",
    "batch_p50_s": "s",
}

OPERATOR_FAMILIES = ("dedup", "similarity", "text", "corpus", "multimodal", "graph")

PER_LAYER = {
    "session.start_s": "s",
    "sources.load_tables_s": "s/op",
    "sources.load_tables_calls": "count/op",
    "queries.call_s": "s/op",
    "queries.collect_s": "s/op",
    "queries.jobs_per_op": "count",
    "queries.tasks_per_op": "count",
    "queries.fixture_cache_entries": "count",
    "queries.fixture_misses": "count",
    **{f"operators.{f}_s": "s/op" for f in OPERATOR_FAMILIES},
    "plans.profile_s": "s/op",
    "validation.hash_diff_s": "s/op",
    "validation.count_reconcile_s": "s/op",
    "streaming.apply_changes_s": "s/batch",
    "streaming.rows_per_batch": "count",
    "streaming.jobs_per_batch": "count",
    "streaming.changes_per_s": "1/s",
    "observability.start_run_s": "s/batch",
    "observability.complete_run_s": "s/batch",
    "tablestore.merge_s": "s/batch",
    "tablestore.append_s": "s/batch",
    "tablestore.update_s": "s/batch",
    "tablestore.files_rewritten_per_batch": "count",
    "tablestore.version_s": "s",
    "tablestore.version_calls": "count/batch",
    "tablestore.version_growth": "ratio",
    "tablestore.active_files": "count",
    "tablestore.scan_s": "s/read",
    "tablestore.files_skipped_ratio": "ratio",
    "tablestore.read_s": "s/read",
    "tablestore.optimize_s": "s/batch",
    "tablestore.vacuum_s": "s/batch",
    "tablestore.vacuum_files_removed": "count",
    "tablestore.bytes_written": "B/batch",
    "tablestore.log_entries": "count",
    "tablestore.commit_conflicts": "count",
    "tablestore.write_amp": "ratio",
    "tablestore.space_amp": "ratio",
    "jvm.gc_s": "s",
    "jvm.heap_peak_mb": "MB",
    **{f"{layer}.self_s": "s/op" for layer in ALL_LAYERS},
    **{f"overhead.{m}": u for m, u in END_TO_END.items()},
}


def end_to_end(*, setup_s, rss_mb, reads, batches, start, end) -> tuple[dict, dict]:
    """(metric values, details) for one timed window."""
    attempted = {id(o): o for o in [*reads, *batches]}.values()
    ok = sum(o.ok for o in attempted)
    by_kind = defaultdict(list)
    for o in reads:
        by_kind[o.kind].append(o.latency)
    tail, pct, n = stats.tail([o.latency for o in reads])
    span = max(end - start, 1e-9)
    values = {
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
        "success_ratio": ok / max(len(attempted), 1),
        "query_p50_s": stats.median(o.latency for o in reads),
        "query_tail_s": tail,
        "query_geomean_s": stats.geomean_of_medians(by_kind),
        "queries_per_min": 60.0 * len(reads) / span,
        "batch_p50_s": stats.median(o.latency for o in batches),
    }
    details = {
        "query_tail_percentile": round(pct, 1),
        "query_samples": n,
        "batch_samples": len(batches),
        "window_s": round(span, 3),
        "kinds": {k: {"n": len(v), "median_s": round(statistics.median(v), 4)} for k, v in sorted(by_kind.items())},
        "latencies_s": {k: [round(x, 4) for x in v] for k, v in sorted(by_kind.items())},
    }
    return values, details


class SpanView:
    """Aggregates over the spans of one window."""

    def __init__(self, spans):
        self.spans = spans

    def named(self, suffix: str) -> list:
        """Outermost spans whose name ends with ``suffix``."""
        return [s for s in self.spans if s.name.endswith(suffix) and not s.nested]

    def total(self, suffix: str) -> float:
        return sum(s.duration for s in self.named(suffix))

    def count(self, suffix: str) -> int:
        return len(self.named(suffix))

    def self_time(self, layer: str | None = None, family: str | None = None, module: str | None = None) -> float:
        t = 0.0
        for s in self.spans:
            if layer and s.layer != layer:
                continue
            if family and s.family != family:
                continue
            if module and not s.name.startswith(module + "."):
                continue
            t += s.self_s
        return t

    def errors(self, error: str) -> int:
        return sum(1 for s in self.spans if s.error == error and not s.nested)


def per_layer(view: SpanView, *, n_ops, n_batches, n_reads, registry_ops, extra) -> dict:
    """Per-layer values from one traced window; ``extra`` supplies the
    values read outside the spans (counters, disk, JVM)."""

    def per(x, n):
        return x / n if n else 0.0

    version_spans = sorted(view.named("TackleTable.version"), key=lambda s: s.start)
    tenth = len(version_spans) // 10
    growth = 0.0
    if tenth:
        first = statistics.median(s.duration for s in version_spans[:tenth])
        last = statistics.median(s.duration for s in version_spans[-tenth:])
        growth = last / first if first else 0.0
    kept, skipped = extra.get("pruned", (0, 0))
    out = {
        "session.start_s": extra.get("session_start_s", 0.0),
        "sources.load_tables_s": per(view.total("catalog.load_tables"), n_ops),
        "sources.load_tables_calls": per(view.count("catalog.load_tables"), n_ops),
        "queries.call_s": per(sum(o.call_s for o in registry_ops), len(registry_ops)),
        "queries.collect_s": per(sum(o.latency - o.call_s for o in registry_ops), len(registry_ops)),
        "queries.jobs_per_op": per(sum(o.jobs for o in registry_ops), len(registry_ops)),
        "queries.tasks_per_op": per(sum(o.tasks for o in registry_ops), len(registry_ops)),
        **{f"operators.{f}_s": per(view.self_time("operators", family=f), n_ops) for f in OPERATOR_FAMILIES},
        "plans.profile_s": per(view.self_time(module="plans.profiler"), n_ops),
        "validation.hash_diff_s": per(view.total("datavalidator.hash_diff"), n_ops),
        "validation.count_reconcile_s": per(view.total("datavalidator.count_reconcile"), n_ops),
        "streaming.apply_changes_s": per(view.total("apply_changes.apply_changes_batch"), n_batches),
        "observability.start_run_s": per(view.total("RunLogger.start_run"), n_batches),
        "observability.complete_run_s": per(view.total("RunLogger.complete_run"), n_batches),
        "tablestore.merge_s": per(view.total("MergeBuilder.execute"), n_batches),
        "tablestore.append_s": per(view.total("TackleTable.append"), n_batches),
        "tablestore.update_s": per(view.total("TackleTable.update"), n_batches),
        "tablestore.version_s": per(sum(s.duration for s in version_spans), len(version_spans)),
        "tablestore.version_calls": per(len(version_spans), n_batches),
        "tablestore.version_growth": growth,
        "tablestore.scan_s": per(view.total("TackleTable.scan"), n_reads),
        "tablestore.files_skipped_ratio": per(skipped, kept + skipped),
        "tablestore.read_s": per(view.total("TackleTable.read"), n_reads),
        "tablestore.optimize_s": per(view.total("TackleTable.optimize"), n_batches),
        "tablestore.vacuum_s": per(view.total("TackleTable.vacuum"), n_batches),
        "tablestore.commit_conflicts": view.errors("CommitConflictError"),
        **{f"{layer}.self_s": per(view.self_time(layer), n_ops) for layer in ALL_LAYERS},
    }
    for k in PER_LAYER:
        if k not in out and not k.startswith("overhead."):
            out[k] = extra.get(k, 0.0)
    return out
