"""Layer spans for the traced run and the per-layer metrics built from
them.  Each layer is named after its module; wrappers replace public
functions under the name their caller looks them up by."""

from __future__ import annotations

import os

from common import median, pct
from spans import Tracer, task_skew

HEADLINE = (
    "agg_basic",
    "join_large",
    "join_broadcast",
    "win_rank",
    "topk_per_group",
    "dedup_exact",
    "dedup_minhash",
    "text_quality",
    "ann_cosine_topk",
    "win_tumbling",
    "tpch_q5",
)

#: end-to-end metrics (name, unit); every run with tracing off prints all
END_TO_END = (
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("work_p50_s", "s"),
    ("table_mb", "MB"),
)

#: every run's record also carries the read latencies; they carry no
#: bound: on a shared 4-core host their run-to-run spread reached 0.25-0.31
READ_METRICS = (
    ("read_p50_ms", "ms"),
    ("read_p95_ms", "ms"),
)

#: per-layer metrics (name, unit); every traced run prints all of them,
#: 0 where the workload bypasses the layer
PER_LAYER = (
    ("session.start_ms", "ms"),
    ("gen.ledger_ms", "ms"),
    ("cdc.runner.epoch_ms", "ms"),
    ("cdc.runner.self_ms", "ms"),
    ("cdc.runner.unattributed_share", "ratio"),
    ("cdc.source.list_segments_ms", "ms"),
    ("cdc.source.list_segments_overlap_ms", "ms"),
    ("cdc.source.segments", "count"),
    ("cdc.source.select_batch_ms", "ms"),
    ("cdc.source.read_batch_ms", "ms"),
    ("cdc.source.batch_segments", "count"),
    ("cdc.lineage.emit_ms", "ms"),
    ("cdc.checkpoint.load_ms", "ms"),
    ("cdc.checkpoint.save_ms", "ms"),
    ("lake.merge.apply_ms", "ms"),
    ("lake.merge.self_ms", "ms"),
    ("lake.write.data_files_ms", "ms"),
    ("lake.write.job_ms", "ms"),
    ("lake.write.harvest_ms", "ms"),
    ("lake.write.files", "count"),
    ("lake.write.bytes", "B"),
    ("lake.write.rows", "count"),
    ("lake.write.write_amp", "ratio"),
    ("lake.write.executor_run_ms", "ms"),
    ("lake.write.shuffle_write_bytes", "B"),
    ("lake.write.shuffle_read_bytes", "B"),
    ("lake.write.spill_bytes", "B"),
    ("lake.write.task_skew", "ratio"),
    ("lake.core.commit_ms", "ms"),
    ("lake.core.metadata_ms", "ms"),
    ("lake.core.metadata_bytes", "B"),
    ("lake.core.snapshots", "count"),
    ("lake.maintain.fold_ms", "ms"),
    ("lake.maintain.fold_buckets", "count"),
    ("lake.maintain.fold_bytes", "B"),
    ("lake.maintain.executor_run_ms", "ms"),
    ("lake.maintain.delta_depth_max", "count"),
    ("lake.read.lookup_ms", "ms"),
    ("lake.read.lookup_p95_ms", "ms"),
    ("lake.read.candidate_files", "count"),
    ("lake.read.fallbacks", "count"),
    ("lake.read.table_files", "count"),
    ("registry.warmup_ms", "ms"),
    *((f"registry.build_ms.{q}", "ms") for q in HEADLINE),
    *((f"registry.exec_ms.{q}", "ms") for q in HEADLINE),
    ("registry.executor_run_ms", "ms"),
    ("registry.shuffle_bytes", "B"),
    ("registry.jobs", "count"),
    # the traced run's own end-to-end figures: the tracing overhead of
    # each is its value minus the median of untraced runs (--trace 0) on
    # the same workload, so it includes the event log's cost
    *((f"traced.{m}", u) for m, u in END_TO_END + READ_METRICS),
)

#: spans whose time counts as a named layer inside an epoch, and the
#: metric that sums them per epoch
EPOCH_LAYERS = {
    "cdc.checkpoint.load": "cdc.checkpoint.load_ms",
    "cdc.checkpoint.save": "cdc.checkpoint.save_ms",
    "cdc.source.list_segments": "cdc.source.list_segments_ms",
    "cdc.source.select_batch": "cdc.source.select_batch_ms",
    "cdc.source.read_batch": "cdc.source.read_batch_ms",
    "cdc.lineage.emit": "cdc.lineage.emit_ms",
    "lake.merge.apply": "lake.merge.apply_ms",
    "lake.write.data_files": "lake.write.data_files_ms",
    "lake.core.commit": "lake.core.commit_ms",
    "lake.core.metadata": "lake.core.metadata_ms",
    "lake.maintain.fold": "lake.maintain.fold_ms",
}


def install(tracer: Tracer) -> None:
    """Wrap the CDC and lake boundaries.  ``run_increment`` looks its
    callees up in ``cdc.runner``'s namespace (and ``lin`` / ``ckpt`` as
    module attributes); the merge looks up ``write_data_files`` in
    ``lake.merge``; the runner imports ``fold_deltas`` lazily from
    ``lake.maintain``; ``lookup_many_fast`` falls back through
    ``lake.read.lookup_many``."""
    from stellar_ingest.cdc import checkpoint, lineage, runner
    from stellar_ingest.lake import maintain, merge, read
    from stellar_ingest.lake.core import IceboxTable

    def n_segments(sp, _a, _k, out):
        sp.attrs["segments"] = len(out)

    def batch(sp, _a, _k, out):
        sp.attrs["chosen"] = out[0]

    def written(sp, args, _k, out):
        sp.attrs["entries"] = out
        sp.attrs["root"] = args[1].root

    def committed(sp, args, kwargs, _out):
        sp.attrs["root"] = args[0].root
        sp.attrs["added"] = kwargs.get("added_files") or []
        sp.attrs["summary"] = kwargs.get("summary") or {}

    tracer.wrap(checkpoint, "load", "cdc.checkpoint.load")
    tracer.wrap(checkpoint, "save", "cdc.checkpoint.save")
    tracer.wrap(lineage, "emit", "cdc.lineage.emit")
    tracer.wrap(runner, "list_segments", "cdc.source.list_segments", note=n_segments)
    tracer.wrap(runner, "select_batch", "cdc.source.select_batch", note=batch)
    tracer.wrap(runner, "read_batch", "cdc.source.read_batch", job_group=True)
    tracer.wrap(runner, "merge_apply", "lake.merge.apply", job_group=True)
    tracer.wrap(runner, "delta_apply", "lake.merge.apply", job_group=True)
    tracer.wrap(merge, "write_data_files", "lake.write.data_files", job_group=True, note=written)
    tracer.wrap(IceboxTable, "commit", "lake.core.commit", note=committed)
    tracer.wrap(IceboxTable, "metadata", "lake.core.metadata")
    tracer.wrap(maintain, "fold_deltas", "lake.maintain.fold", job_group=True)
    tracer.wrap(read, "lookup_many", "lake.read.fallback", job_group=True)


def _size(path: str) -> int:
    try:
        return os.path.getsize(path)
    except OSError:
        return 0


def _group(events: dict, sp) -> dict:
    return events.get(f"pb-{sp.sid}", {})


def epoch_metrics(
    tracer: Tracer, events: dict, unit: str = "cdc.runner.epoch", units_out: list | None = None
) -> dict[str, float]:
    """Per-layer numbers over the traced CDC units named ``unit`` (one
    ``run_increment`` call each): medians over units of each layer's time
    and counts.  ``units_out`` receives each unit's own numbers, in run
    order."""
    kids = tracer.children()
    units = [s for s in tracer.spans if s.name == unit]
    per: dict[str, list[float]] = {}

    def add(name: str, v: float) -> None:
        per.setdefault(name, []).append(float(v))

    for u in units:
        before = {k: len(v) for k, v in per.items()}
        desc = tracer.descendants(u, kids)
        by: dict[str, list] = {}
        for s in desc:
            by.setdefault(s.name, []).append(s)
        self_ms = tracer.self_ms(u, kids)
        add("cdc.runner.epoch_ms", u.ms)
        add("cdc.runner.self_ms", self_ms)
        add("cdc.runner.unattributed_share", self_ms / u.ms if u.ms else 0.0)
        for layer, metric in EPOCH_LAYERS.items():
            add(metric, sum(s.ms for s in by.get(layer, [])))
        add("lake.merge.self_ms", sum(tracer.self_ms(s, kids) for s in by.get("lake.merge.apply", [])))
        add(
            "cdc.source.list_segments_overlap_ms",
            sum(s.ms for s in tracer.overlapped(u, "cdc.source.list_segments")),
        )
        lists = by.get("cdc.source.list_segments", [])
        add("cdc.source.segments", max((s.attrs.get("segments", 0) for s in lists), default=0))
        chosen = [seg for s in by.get("cdc.source.select_batch", []) for seg in s.attrs.get("chosen", [])]
        add("cdc.source.batch_segments", len(chosen))
        in_bytes = sum(_size(seg.path) for seg in chosen)

        writes = by.get("lake.write.data_files", [])
        entries = [(s.attrs["root"], e) for s in writes for e in s.attrs.get("entries", [])]
        w_bytes = sum(_size(os.path.join(r, e["path"])) for r, e in entries)
        ev = [_group(events, s) for s in writes]
        job_ms = sum(g.get("job_ms", 0.0) for g in ev)
        add("lake.write.job_ms", job_ms)
        add("lake.write.harvest_ms", sum(s.ms for s in writes) - job_ms)
        add("lake.write.files", len(entries))
        add("lake.write.rows", sum(e["rows"] for _r, e in entries))
        add("lake.write.bytes", w_bytes)
        for k in ("executor_run_ms", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
            add(f"lake.write.{k}", sum(g.get(k, 0) for g in ev))
        add("lake.write.task_skew", max((task_skew(g.get("stage_tasks", {})) for g in ev), default=0.0))

        folds = by.get("lake.maintain.fold", [])
        fold_commits = [
            s
            for s in by.get("lake.core.commit", [])
            if s.attrs.get("summary", {}).get("maintenance")
        ]
        fold_bytes = sum(
            _size(os.path.join(s.attrs["root"], e["path"]))
            for s in fold_commits
            for e in s.attrs["added"]
        )
        add("lake.maintain.fold_buckets", sum(len(s.attrs["summary"].get("compacted_buckets", [])) for s in fold_commits))
        add("lake.maintain.fold_bytes", fold_bytes)
        add("lake.maintain.executor_run_ms", sum(_group(events, s).get("executor_run_ms", 0) for s in folds))
        add("lake.write.write_amp", (w_bytes + fold_bytes) / in_bytes if in_bytes else 0.0)
        if "depth" in u.attrs:
            add("lake.maintain.delta_depth_max", u.attrs["depth"])
        if units_out is not None:
            units_out.append({k: v[-1] for k, v in per.items() if len(v) > before.get(k, 0)})
    out = {k: median(v) for k, v in per.items()}
    if "lake.maintain.delta_depth_max" in per:
        out["lake.maintain.delta_depth_max"] = max(per["lake.maintain.delta_depth_max"])
    return out


def lookup_metrics(tracer: Tracer) -> dict[str, float]:
    kids = tracer.children()
    looks = [s for s in tracer.spans if s.name == "lake.read.lookup"]
    if not looks:
        return {}
    return {
        "lake.read.lookup_ms": median([s.ms for s in looks]),
        "lake.read.lookup_p95_ms": pct([s.ms for s in looks], 95),
        "lake.read.candidate_files": median([s.attrs.get("candidates", 0) for s in looks]),
        "lake.read.fallbacks": float(
            sum(1 for s in looks for c in kids.get(s.sid, []) if c.name == "lake.read.fallback")
        ),
        "lake.read.table_files": median([s.attrs.get("table_files", 0) for s in looks]),
    }


def query_metrics(tracer: Tracer, events: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    for q in HEADLINE:
        for phase in ("build", "exec"):
            xs = [s.ms for s in tracer.spans if s.name == f"registry.{phase}" and s.attrs.get("query") == q]
            out[f"registry.{phase}_ms.{q}"] = median(xs)
    passes = [s for s in tracer.spans if s.name == "registry.pass"]
    kids = tracer.children()
    per: dict[str, list[float]] = {}
    for p in passes:
        ev = [_group(events, s) for s in kids.get(p.sid, []) if s.name == "registry.exec"]
        per.setdefault("registry.executor_run_ms", []).append(sum(g.get("executor_run_ms", 0) for g in ev))
        per.setdefault("registry.shuffle_bytes", []).append(sum(g.get("shuffle_write_bytes", 0) for g in ev))
        per.setdefault("registry.jobs", []).append(sum(g.get("jobs", 0) for g in ev))
    out.update({k: median(v) for k, v in per.items()})
    return out
