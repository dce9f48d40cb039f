"""Drive one workload through set-up, its windows and its checks, and
turn what was measured into the result line.

Untraced (``--trace 0``): repeated set-up, one measured window, the
end-to-end metrics, the final correctness checks.

Traced (``--trace 1``): the window runs with every benchmark call
wrapped in a span tagged as a Spark job group and a store probe after
every write; then the workload's traced extras and a full-work guard
of repeated reads. The per-layer metrics come from the window's spans
joined with the UI's job and stage records; the extras' spans add to
the per-span detail only.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from . import core
from .harness import REPO

GUARD_REPEATS = 2


def spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


class WriteProbe:
    """After each write of the traced window: the files and bytes the
    write added under the store root, the file-log entries it
    published, and the cost of planning from the log (``live`` and
    ``state_at`` through a fresh FileLog, so the engine's own log cache
    is untouched)."""

    def __init__(self, bench, wl):
        self.b, self.wl = bench, wl
        self.prev = core.tree_files(wl.root)
        self.rows: list[dict] = []

    def __call__(self, kind: str) -> None:
        from lineage_store_database_management_system_spark.filelog import FileLog

        snap = core.tree_files(self.wl.root)
        new = {p: v for p, v in snap.items() if self.prev.get(p) != v}
        data = {p: v for p, v in new.items() if p.endswith(".parquet")}
        logs = [p for p in new if "/_filelog/" in p and p.endswith(".json") and "/ckpt-" not in p]
        entries = 0
        for p in logs:
            with open(p) as fh:
                for a in json.load(fh).get("actions", []):
                    entries += len(a.get("files", [])) + len(a.get("paths", [])) or 1
        self.rows.append({
            "kind": kind,
            "files": len(data),
            "bytes": sum(sz for sz, _ in data.values()),
            "log_entries": entries,
            "log_bytes": sum(new[p][0] for p in logs),
        })
        log = FileLog(self.wl.t.path)
        with self.b.span("filelog.live"):
            log.live("tail")
        head = log.replayable_range()[1]
        with self.b.span("filelog.state_at"):
            log.state_at(head)
        self.prev = core.tree_files(self.wl.root)


def _rows(calls: dict[str, list[dict]], names) -> list[dict]:
    return [r for n in names for r in calls.get(n, [])]


def traced_window(bench, wl) -> tuple[dict, dict]:
    """The traced window, the guard and the per-layer numbers: the
    fixed set every workload reports, and the detail of every span."""
    probe = WriteProbe(bench, wl)
    bench.after_write = probe
    bench.enable_tracing()
    wall = bench.window(wl.step, bench.seconds)
    n_ops = len(bench.samples.all())
    busy = sum(bench.samples.all())
    # The tracer's own time inside the ops is the whole difference from
    # an untraced window of the same ops; measuring it in place keeps
    # a second window's warm-up out of the ratio.
    overhead_ratio = (busy - bench.tracer.inner_cost) / busy
    bench.after_write = None
    n_window_spans = len(bench.tracer.spans)
    wl.traced_extras()
    guard_spans = []
    for name, fn in wl.guard_reads():
        for i in range(GUARD_REPEATS):
            with bench.span(f"guard.{name}.{i}") as s:
                fn()
            guard_spans.append((name, s.id))
    spans = bench.tracer.spans
    bench.disable_tracing()
    jobs = bench.fetch_jobs()
    all_calls = core.span_calls(spans, jobs)
    calls = core.span_calls(spans[:n_window_spans], jobs)

    # every repeat does the full work: no cross-repeat cache read
    guard: dict[str, list[int]] = {}
    for name, sid in guard_spans:
        js = jobs.get(core.group_id(sid), [])
        guard.setdefault(name, []).append(sum(j["input"] + j["shuffle_read"] for j in js))
    for name, per_rep in guard.items():
        bench.attempted += 1
        bench.check(all(b >= per_rep[0] for b in per_rep[1:]), f"guard {name}: repeat bytes {per_rep} fell below the first")

    layer: dict[str, float] = {"trace.overhead_ratio": overhead_ratio}
    commit = _rows(calls, wl.commit_spans)
    if commit:
        m = core.medians(commit)
        layer["lineage.commit_ms"] = m["self_ms"]
        for k in ("jobs", "driver_ms", "exec_ms"):
            layer[f"lineage.commit_{k}"] = m[k]
    commit_kinds = {n.split(".", 1)[1] for n in wl.commit_spans}
    probes = [r for r in probe.rows if r["kind"] in commit_kinds]
    if probes:
        layer["lineage.commit_files_added"] = statistics.median(r["files"] for r in probes)
        layer["lineage.commit_bytes_added"] = statistics.median(r["bytes"] for r in probes)
        layer["filelog.entries_per_commit"] = statistics.median(r["log_entries"] for r in probes)
        layer["filelog.bytes_per_commit"] = statistics.median(r["log_bytes"] for r in probes)
    fold = _rows(calls, wl.fold_spans)
    if fold:
        m = core.medians(fold)
        layer["lineage.fold_read_ms"] = m["self_ms"]
        for k in ("jobs", "driver_ms", "exec_ms", "bytes"):
            layer[f"lineage.fold_read_{k}"] = m[k]
    for name in ("filelog.live", "filelog.state_at"):
        if name in calls:
            layer[f"{name}_ms"] = core.medians(calls[name])["self_ms"]
    inner = [r for n, rows in calls.items() if not n.startswith(("op.", "guard.", "filelog.")) for r in rows]
    ops = [r for n, rows in calls.items() if n.startswith("op.") for r in rows]
    layer["spark.jobs_per_op"] = sum(r["jobs"] for r in inner) / n_ops
    layer["spark.driver_ms_per_op"] = sum(r["driver_ms"] for r in inner) / n_ops
    layer["spark.exec_ms_per_op"] = sum(r["exec_ms"] for r in inner) / n_ops
    layer["spark.input_shuffle_bytes_per_op"] = sum(r["bytes"] for r in inner) / n_ops
    layer["bench.self_ms_per_op"] = sum(r["self_ms"] for r in ops) / n_ops

    detail = {
        "window_s": wall,
        "ops": n_ops,
        "guard_bytes": guard,
        "probes": probe.rows,
        "spans": {name: core.medians(rows) for name, rows in all_calls.items()},
    }
    with open(os.path.join(bench.workdir, "spans.json"), "w") as fh:
        json.dump([s.__dict__ for s in spans], fh)
    return layer, detail


def layer_detail(spans: dict[str, dict], extra: dict) -> dict:
    """The workload's own per-layer numbers: per span name its median
    self ms (``<layer>.<call>_ms``) and, where it ran Spark jobs, its
    jobs, driver and exec ms and bytes; then the workload's counters."""
    out: dict[str, float] = {}
    for name, m in sorted(spans.items()):
        if name.startswith(("op.", "guard.")):
            continue
        out[f"{name}_ms"] = m["self_ms"]
        if m["jobs"]:
            for k in ("jobs", "driver_ms", "exec_ms", "bytes"):
                out[f"{name}_{k}"] = m[k]
    out.update(extra)
    return out


def run_workload(bench, cls) -> tuple[dict, dict]:
    phases: dict[str, float] = {}
    t0 = time.perf_counter()
    wl = cls(bench)
    phases["generate_s"] = time.perf_counter() - t0
    bench.repeated_setup(wl.build)
    t0 = time.perf_counter()
    wl.prepare()
    phases["prepare_s"] = time.perf_counter() - t0
    bench.samples = core.Samples()

    layer: dict[str, float] = {}
    e2e: dict[str, float] = {"setup_s": statistics.median(bench.setup_times)}
    if bench.traced:
        layer, detail = traced_window(bench, wl)
        detail = {"trace": detail}
    else:
        before = core.tree_files(wl.root)
        change0 = wl.change_bytes
        wall = bench.window(wl.step, bench.seconds)
        after = core.tree_files(wl.root)
        e2e.update({
            "ops_per_s": bench.ops_per_s(),
            **bench.latency_metrics(),
            "write_amp": core.amplification(core.written_bytes(before, after), wl.change_bytes - change0),
        })
        detail = {"window_s": wall}
    detail.update({
        "ops": {k: len(v) for k, v in bench.samples.by_kind.items()},
        "samples_ms": {k: [x * 1e3 for x in v] for k, v in bench.samples.by_kind.items()},
        "setup_times_s": bench.setup_times,
    })

    if bench.traced:
        layer["session.peak_rss_mb"] = bench.peak_rss_mb()
    else:
        e2e["space_amp"] = core.amplification(core.tree_bytes(core.tree_files(wl.root)), wl.live_bytes())
        e2e["peak_rss_mb"] = bench.peak_rss_mb()
    extra = wl.layer_metrics() if bench.traced else {}
    t0 = time.perf_counter()
    wl.verify()
    phases["verify_s"] = time.perf_counter() - t0
    detail["phases"] = phases
    layer["session.get_spark_ms"] = bench.layer["session.get_spark_ms"]
    for name, vals in bench.layer_samples.items():
        layer[name] = statistics.median(vals)
    layer["fail_ratio"] = bench.failed / bench.attempted
    detail["end_to_end"] = e2e
    detail["per_layer"] = layer
    if bench.traced:
        detail["layers"] = {**layer, **layer_detail(detail["trace"]["spans"], extra)}

    wanted = spec()["per_layer" if bench.traced else "end_to_end"]
    values = layer if bench.traced else e2e
    metrics, missing = {}, []
    for m in wanted:
        v = values.get(m["name"])
        if v is None:
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if missing:
        bench.fail(f"metrics not measured: {missing}")
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }
    return result, detail
