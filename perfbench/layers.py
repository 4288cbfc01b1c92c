"""Per-layer numbers of a traced run, built from its spans and the jobs and
stages Spark's status store attributes to them.

A layer is named ``<module>.<call>``. Two layers are derived by difference,
because the program runs them fused inside one call:

* ``parse.parse_envelopes`` = the noop-sink parse probe minus the scan probe
  over the same batches;
* ``sink.merge_parsed`` (delta write + commit) = the ingest calls minus the
  parse probe over the same batches.
"""

from __future__ import annotations

from .trace import covered, harvest, self_time

BASE = ("calls", "self_ms", "driver_ms", "cpu_ms", "jobs", "tasks",
        "shuffle_bytes", "input_records")

# layer -> (span names summed, span names subtracted, extra metrics)
LAYERS = {
    "generate.write_log": (("generate.write_log",), (), ()),
    "sources.scan": (("probe.scan",), (), ()),
    "parse.parse_envelopes": (("probe.parse",), ("probe.scan",), ()),
    "stream.replay_batch": (("stream.replay_batch",), (), ()),
    "stream.process_batch": (("stream.process_batch",), (), ()),
    "sink.merge_parsed": (
        ("stream.replay_batch", "stream.process_batch"), ("probe.parse",), ()),
    "sink.compact_minor": (
        ("sink.compact_minor",), (), ("bytes_rewritten", "manifests", "data_dirs")),
    "sink.compact_major": (
        ("sink.compact_major",), (), ("bytes_rewritten", "manifests", "data_dirs")),
    "search_sync.sync_once": (("search_sync.sync_once",), (), ("rows_shipped",)),
    "sink.read": (("sink.read",), (), ("rows_examined_per_row",)),
    "sink.read_route": (("sink.read_route",), (), ("rows_examined_per_row",)),
    "sink.read_changes": (("sink.read_changes",), (), ("rows_examined_per_row",)),
    "sink.lookup": (("sink.lookup",), (), ("rows_examined_per_row", "jobs_per_call")),
    "sink.lookup_many": (
        ("sink.lookup_many",), (), ("rows_examined_per_row", "jobs_per_call")),
}

UNITS = {
    "calls": "count", "self_ms": "ms", "driver_ms": "ms", "cpu_ms": "ms",
    "jobs": "count", "tasks": "count", "shuffle_bytes": "B",
    "input_records": "count", "bytes_rewritten": "B", "manifests": "count",
    "data_dirs": "count", "rows_shipped": "count",
    "rows_examined_per_row": "ratio", "jobs_per_call": "count",
}

TRACE_OVERHEAD = "trace.overhead_ms"


def metric_names() -> list[str]:
    names = [f"{layer}.{m}" for layer, (_, _, extra) in LAYERS.items()
             for m in (*BASE, *extra)]
    return names + [TRACE_OVERHEAD]


def span_rows(tracer, sc) -> dict[str, list[dict]]:
    """{span name: [per-span numbers]} for every span of the run."""
    groups = {tracer.group(s) for s in tracer.spans}
    stats = harvest(sc, groups)
    kids: dict[int, list] = {}
    for s in tracer.spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[str, list[dict]] = {}
    for s in tracer.spans:
        st = stats[tracer.group(s)]
        jobs = list(st["jobs"])
        stack = list(kids.get(s.id, []))
        while stack:  # a parent's jobs include its descendants'
            c = stack.pop()
            jobs += stats[tracer.group(c)]["jobs"]
            stack += kids.get(c.id, [])
        out.setdefault(s.name, []).append({
            "calls": 1,
            "self_ms": 1000 * self_time(s, kids.get(s.id, [])),
            "driver_ms": 1000 * (s.end - s.start - covered(s.start, s.end, jobs)),
            "cpu_ms": st["cpu_ns"] / 1e6,
            "jobs": len(st["jobs"]),
            "tasks": st["tasks"],
            "shuffle_bytes": st["shuffle_bytes"],
            "input_records": st["input_records"],
            "bytes_rewritten": st["output_bytes"],
            "manifests": s.attrs.get("manifests", 0),
            "data_dirs": s.attrs.get("data_dirs", 0),
            "rows": s.attrs.get("rows", 0),
        })
    return out


def _total(rows_by_name, names, key):
    return sum(r[key] for n in names for r in rows_by_name.get(n, []))


def layer_metrics(tracer, sc, overhead_ms: float) -> dict[str, tuple]:
    """{metric name: (value, unit)} for every per-layer metric; a layer the
    workload never calls reports zeros."""
    rows = span_rows(tracer, sc)
    out = {}
    for layer, (plus, minus, extra) in LAYERS.items():
        def tot(key):
            return _total(rows, plus, key) - _total(rows, minus, key)

        calls = _total(rows, plus, "calls")
        vals = {m: (calls if m == "calls" else tot(m)) for m in BASE}
        for m in extra:
            if m in ("manifests", "data_dirs"):  # the retention bound
                vals[m] = max([r[m] for n in plus for r in rows.get(n, [])], default=0)
            elif m == "bytes_rewritten":
                vals[m] = tot("bytes_rewritten")
            elif m == "rows_shipped":
                vals[m] = tot("rows")
            elif m == "rows_examined_per_row":
                vals[m] = vals["input_records"] / max(1, tot("rows"))
            elif m == "jobs_per_call":
                vals[m] = vals["jobs"] / max(1, calls)
        for m, v in vals.items():
            out[f"{layer}.{m}"] = (v, UNITS[m])
    out[TRACE_OVERHEAD] = (overhead_ms, "ms")
    return out
