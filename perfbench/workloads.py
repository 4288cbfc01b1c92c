"""The benchmark's workloads, driven only through ``pyspark_cdc``'s public API.

Each workload is one closed loop with one client (this driver thread):

* ``bulk_replay`` — the whole log replayed as ONE batch into a fresh MoR lake,
  then read back in full; repeated for the measured window.
* ``stream_sync`` — catch-up replay of a log pre-split into equal micro-batches:
  each cycle is ``process_batch``, then a fold when one is due, then
  ``SearchIndexSync.sync_once``; the pass ends in the mid-cycle state (a
  major-folded base plus k-1 raw deltas), which is then read in full and, in
  the traced run, served point, multi-key, tenant and change-feed reads.

See README.md for why each exists and which layer each metric reflects.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

from .gate import (
    apply_changes, digest, engine_digest, lookup_ok, oracle_state,
)
from .trace import Tracer, harvest

HOT_REPO = "org0/hot-repo"
HOT_PCT = 30
SETUP_REPS = 3

SCALES = {
    "full": {
        "bulk_replay": dict(events=30_000, keys=3_000, files=8, buckets=8,
                            min_rounds=3),
        "stream_sync": dict(batches=7, batch_events=2_000, keys=1_000, words=8,
                            buckets=4, k=2, m=2, lookups=5, multigets=1,
                            full_reads=3, routes=1, changes=1),
    },
    "toy": {
        "bulk_replay": dict(events=1_500, keys=150, files=2, buckets=4,
                            min_rounds=1),
        "stream_sync": dict(batches=7, batch_events=200, keys=60, words=8,
                            buckets=4, k=2, m=2, lookups=2, multigets=1,
                            full_reads=1, routes=1, changes=1),
    },
}
# rows of the host-stamp rep: over bench.py's 256 partitions, task overhead
# dominates, so it takes well under a second even on a throttled host
JVM_PROBE_ROWS = 100_000


def _median(xs):
    return statistics.median(xs) if xs else None


def _pct(xs, q):
    """Nearest-rank percentile of a sample."""
    if not xs:
        return None
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, -(-len(s) * q // 100) - 1))]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


class Run:
    """State of one benchmark run: spans, samples and the correctness tally."""

    def __init__(self, spark, workload, seed, seconds, trace, scale, work, cache):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.p = SCALES[scale][workload]
        self.work = work
        self.cache = cache
        self.tracer = Tracer(spark.sparkContext, f"{workload}-{seed}-{os.getpid()}")
        self.rng = random.Random(seed)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.ingest_spans = []
        self.ingest_events = 0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.report: dict = {}
        self.warm = False  # warm-up calls are neither sampled nor checked
        self.last_span = None
        self.trace_ms = 0.0  # wall the traced run adds: probes + disk counts

    # ---- operations ----

    def check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def op(self, layer, fn, metric=None, check=None, ingest=False, rows=None):
        """Time one public call in its own span; count it and check it.
        ``rows(out)`` gives the rows the call returned or shipped."""
        if self.warm:
            with self.tracer.span(f"warmup:{layer}"):
                return fn()
        self.attempted += 1
        try:
            with self.tracer.span(layer) as s:
                out = fn()
        except Exception as e:  # counted as a failed op; the run goes on
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            self.problems.append(f"{layer}: {e!r}")
            return None
        self.last_span = s
        if rows is not None:
            s.attrs["rows"] = rows(out)
        if metric:
            self.samples[metric].append(s.dur)
        if ingest:
            self.ingest_spans.append(s)
        if check is not None and not check(out):
            self.failed += 1
            self.problems.append(f"{layer}: wrong result")
        return out

    def probes(self, src_path: str) -> None:
        """Traced run only: noop-sink scan and scan+parse of one batch."""
        if not self.trace or self.warm:
            return
        from pyspark_cdc.parse import parse_envelopes
        from pyspark_cdc.sources import file_batch

        t0 = time.perf_counter()
        with self.tracer.span("probe.scan"):
            file_batch(self.spark, src_path).write.format("noop").mode("overwrite").save()
        with self.tracer.span("probe.parse"):
            parse_envelopes(file_batch(self.spark, src_path)).write.format(
                "noop").mode("overwrite").save()
        self.trace_ms += (time.perf_counter() - t0) * 1000

    def note_fold(self, span, lake) -> None:
        """Traced run only: what a fold left on disk (the retention bound)."""
        if not self.trace or self.warm or span is None:
            return
        t0 = time.perf_counter()
        meta = os.path.join(lake.table_dir, "_meta")
        data = os.path.join(lake.table_dir, "data")
        span.attrs["manifests"] = sum(
            1 for f in os.listdir(meta) if f.startswith("snap-"))
        span.attrs["data_dirs"] = len(os.listdir(data)) if os.path.isdir(data) else 0
        self.trace_ms += (time.perf_counter() - t0) * 1000

    # ---- set-up ----

    def phase(self, name: str | None) -> None:
        """Mark the start of a run phase; the report lists phase walls. A
        JVM calibration rep (bench.py's expression) stamps the host right
        before the measured window and after the run; it is recorded only
        and never gates, drops or rescales a sample."""
        from bench import _jvm_rate

        if name in ("measure", None):
            key = "jvm_probe_before_mrows_s" if name else "jvm_probe_after_mrows_s"
            self.report[key] = _jvm_rate(self.spark, JVM_PROBE_ROWS)
        now = time.perf_counter()
        if getattr(self, "_phase", None):
            prev, t0 = self._phase
            self.report.setdefault("phase_s", {})[prev] = round(now - t0, 3)
        self._phase = (name, now) if name else None

    def setup(self, make) -> None:
        """Run the set-up SETUP_REPS times; setup_s is the median wall."""
        walls = []
        for rep in range(SETUP_REPS):
            with self.tracer.span("setup", rep=rep) as s:
                make()
            walls.append(s.dur)
        self.report["setup_walls_s"] = [round(w, 4) for w in walls]
        self.samples["setup"] = walls

    def write_log(self, out_dir, **kw):
        from pyspark_cdc import generate

        with self.tracer.span("generate.write_log"):
            generate.write_log(self.spark, out_dir, include_edge_cases=False,
                               seed=self.seed, hot_pct=HOT_PCT, **kw)

    # ---- shared pieces ----

    def draw_keys(self, state, n):
        """n keys with the generator's skew: HOT_PCT% from the hot repo."""
        hot = sorted(k for k in state if k[0] == HOT_REPO)
        cold = sorted(k for k in state if k[0] != HOT_REPO)
        return [
            self.rng.choice(hot) if hot and self.rng.random() * 100 < HOT_PCT
            else self.rng.choice(cold)
            for _ in range(n)
        ]

    def serve(self, lake, state, n_lookups=0, n_multigets=0, n_full=0,
              n_routes=0, n_changes=0, changes_from=None):
        """The serving sequence on one lake state, in a fixed seeded order."""
        from bench import _consume
        from pyspark_cdc.generate import TOPICS

        route = TOPICS[0]
        n_route = sum(1 for r in state.values() if r.get("route") == route)
        for key in self.draw_keys(state, n_lookups):
            self.op("sink.lookup", lambda k=key: lake.lookup(*k).collect(),
                    metric="lookup", rows=len,
                    check=lambda rows, k=key: lookup_ok(rows, [k], state))
        for _ in range(n_multigets):
            keys = list(dict.fromkeys(self.draw_keys(state, 400)))[:100]
            self.op("sink.lookup_many", lambda ks=keys: lake.lookup_many(ks).collect(),
                    metric="multiget", rows=len,
                    check=lambda rows, ks=keys: lookup_ok(rows, ks, state))
        for _ in range(n_full):
            self.full_read(lake, state)
        for _ in range(n_routes):
            self.op("sink.read_route", lambda: _consume(lake.read(route=route)),
                    metric="read_route", rows=int, check=lambda n: n == n_route)
        if not n_changes or changes_from is None:
            return
        want = None
        if not self.warm:
            # untimed reference: the change rows, applied to the from-state
            changes = lake.read_changes(changes_from).collect()
            from_d = engine_digest(lake.read(snapshot_id=changes_from))
            self.check("read_changes: from-state + changes != to-state",
                       apply_changes(from_d, changes) == digest(state))
            want = len(changes)
        for _ in range(n_changes):
            self.op("sink.read_changes",
                    lambda: _consume(lake.read_changes(changes_from)),
                    metric="changes", rows=int, check=lambda n: n == want)

    def full_read(self, lake, state) -> None:
        """A full read(), consumed by collecting every key with its content
        sha256 — checked against the oracle, so every full read is verified."""
        want = digest(state)
        self.op("sink.read", lambda: engine_digest(lake.read()), metric="read_full",
                rows=len, check=lambda got: got == want)

    def record_disk(self, lake, state) -> None:
        self.report["disk_bytes"] = dir_bytes(lake.table_dir)
        self.report["live_rows"] = len(state)

    def final_checks(self, lake, sync, state) -> None:
        """Untimed: the index serves what the lake holds (per-key content
        sha256); the lake itself was checked by every full read."""
        self.check("index state != oracle",
                   engine_digest(sync.state()) == digest(state))
        self.record_disk(lake, state)

    # ---- metrics ----

    def ingest_cpu_ns(self) -> int:
        groups = {self.tracer.group(s) for s in self.ingest_spans}
        return sum(g["cpu_ns"] for g in harvest(self.spark.sparkContext, groups).values())

    def end_to_end(self) -> tuple[dict, dict]:
        """(gated, reported): {name: (value, unit)}. Gated metrics are the
        ones every workload measures; the rest exist on one workload only."""
        s = self.samples
        ms = lambda xs: None if not xs else 1000 * _median(xs)  # noqa: E731
        ingest_wall = sum(sp.dur for sp in self.ingest_spans)
        gated = {
            "setup_s": (_median(s["setup"]), "s"),
            "ingest_events_per_s": (
                self.ingest_events / ingest_wall if ingest_wall else None, "events/s"),
            "ingest_cpu_s_per_mevent": (
                self.ingest_cpu_ns() / 1e3 / self.ingest_events
                if self.ingest_events else None, "s/Mevent"),
            "read_full_s": (_median(s["read_full"]), "s"),
            "disk_bytes_per_live_row": (
                self.report["disk_bytes"] / max(1, self.report["live_rows"]), "B/row"),
            "ok_ops_share": (1.0 - self.failed / max(1, self.attempted), "share"),
        }
        missing = [k for k, (v, _) in gated.items() if v is None]
        if missing:
            raise RuntimeError(f"no samples for end-to-end metrics {missing}")
        p75 = _pct(s["lookup"], 75)
        reported = {
            "cycle_plain_p50_s": (_median(s["cycle_plain"]), "s"),
            "cycle_minor_p50_s": (_median(s["cycle_minor"]), "s"),
            "cycle_major_p50_s": (_median(s["cycle_major"]), "s"),
            "changes_s": (_median(s["changes"]), "s"),
            "multiget_p50_ms": (ms(s["multiget"]), "ms"),
            "read_route_s": (_median(s["read_route"]), "s"),
            "lookup_p50_ms": (ms(s["lookup"]), "ms"),
            "lookup_p75_ms": (None if p75 is None else 1000 * p75, "ms"),
        }
        return gated, {k: v for k, v in reported.items() if v[0] is not None}


# ---------------------------------------------------------------------------


def bulk_replay(run: Run) -> None:
    from pyspark_cdc.sink import ParquetLake
    from pyspark_cdc.stream import replay_batch

    p, work = run.p, run.work
    log_dir = os.path.join(work, "log")
    log_params = dict(n_events=p["events"], n_keys=p["keys"], n_files=p["files"])
    run.phase("setup")
    run.setup(lambda: run.write_log(log_dir, **log_params))
    run.phase("oracle")
    state = oracle_state(run.cache, log_dir, {"seed": run.seed, **log_params})

    def one_round(i):
        lake = ParquetLake(run.spark, os.path.join(work, f"lake{i}"),
                           n_buckets=p["buckets"], mode="mor")
        run.probes(log_dir)
        run.op("stream.replay_batch", lambda: replay_batch(run.spark, log_dir, lake),
               ingest=True)
        if not run.warm:
            run.ingest_events += p["events"]
        run.full_read(lake, state)
        return lake

    run.phase("warmup")
    run.warm = True
    shutil.rmtree(one_round("w").table_dir, ignore_errors=True)
    run.warm = False
    run.phase("measure")
    deadline = time.perf_counter() + run.seconds
    rounds = 0
    prev = None
    while rounds < p["min_rounds"] or time.perf_counter() < deadline:
        lake = one_round(rounds)
        if prev is not None:  # keep disk small; outside every timed span
            shutil.rmtree(prev.table_dir, ignore_errors=True)
        prev = lake
        rounds += 1
    run.report["rounds"] = rounds
    run.record_disk(lake, state)
    run.phase(None)


def stream_sync(run: Run) -> None:
    import pyarrow.parquet as pq

    from pyspark_cdc.search_sync import SearchIndexSync
    from pyspark_cdc.sink import ParquetLake
    from pyspark_cdc.sources import file_batch
    from pyspark_cdc.stream import process_batch

    p, work = run.p, run.work
    log_dir = os.path.join(work, "log")
    log_params = dict(n_events=p["batches"] * p["batch_events"], n_keys=p["keys"],
                      n_files=p["batches"], content_words=p["words"])
    run.phase("setup")
    run.setup(lambda: run.write_log(log_dir, **log_params))
    run.phase("oracle")
    state = oracle_state(run.cache, log_dir, {"seed": run.seed, **log_params})
    files = sorted(os.path.join(log_dir, f) for f in os.listdir(log_dir)
                   if f.endswith(".parquet"))
    sizes = [pq.read_metadata(f).num_rows for f in files]
    k, m = p["k"], p["m"]

    def cycle(lake, sync, n, tier=None):
        """Batch n (1-based): ingest, fold when due, then — in the traced run
        only, see below — sync. Returns the snapshot id a fold committed,
        else None."""
        src = files[n - 1]
        run.probes(src)
        with run.tracer.span(f"cycle.{tier or 'plain'}") as cyc:
            run.op("stream.process_batch",
                   lambda: process_batch(file_batch(run.spark, src), n, lake),
                   ingest=True)
            fold = fold_span = None
            if tier:
                fold = run.op(f"sink.compact_{tier}",
                              lambda: lake.compact_now(tier=tier), ingest=True)
                fold_span = run.last_span
            if run.trace:
                run.op("search_sync.sync_once", sync.sync_once,
                       rows=lambda st: st.get("n_rows") or 0)
        if not run.warm:
            if run.trace:
                run.samples[f"cycle_{tier or 'plain'}"].append(cyc.dur)
            run.ingest_events += sizes[n - 1]
        if fold is None:
            return None
        run.note_fold(fold_span, lake)
        return fold["id"]

    # Two unsampled warm-up batches run every call the cycles make once — a
    # minor and a major fold and, when traced, a bootstrap and an incremental
    # sync — so the sampled cycles run warm. They leave a folded base behind.
    run.phase("warmup")
    lake = ParquetLake(run.spark, os.path.join(work, "lake"),
                       n_buckets=p["buckets"], mode="mor", compact_every=None)
    sync = SearchIndexSync(run.spark, os.path.join(work, "index"), lake)
    run.warm = True
    cycle(lake, sync, 1)
    run.op("sink.compact_minor", lambda: lake.compact_now(tier="minor"))
    cycle(lake, sync, 2, tier="major")
    run.warm = False
    # The sampled cycles: a fold after every k-th batch, every m-th fold a
    # major one. One pass over the backlog, whatever --seconds says. A sync
    # costs 1.5-2 s here, and cycle latencies are in no gated metric, so
    # only the traced run syncs after every batch; the gated run syncs the
    # index once, after the last batch, and checks it.
    run.phase("measure")
    fold_snap = None
    for i, n in enumerate(range(3, len(files) + 1), start=1):
        tier = None
        if i % k == 0:
            tier = "major" if (i // k) % m == 0 else "minor"
        fold_snap = cycle(lake, sync, n, tier) or fold_snap
    if not run.trace:
        run.op("search_sync.sync_once", sync.sync_once,
               check=lambda st: st["status"] == "bootstrapped")
    run.phase("serve")
    if run.trace:
        # point and tenant reads and the change feed cost about a second a
        # call here, too much for every gated run: the traced run measures
        # them (README.md, "What is gated")
        run.serve(lake, state, p["lookups"], p["multigets"], p["full_reads"],
                  p["routes"], p["changes"], fold_snap)
    else:
        run.serve(lake, state, n_full=p["full_reads"])
    run.phase("checks")
    run.final_checks(lake, sync, state)
    run.phase(None)


WORKLOADS = {"bulk_replay": bulk_replay, "stream_sync": stream_sync}
