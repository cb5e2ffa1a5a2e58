"""Reduce one run's raw JVM record to the benchmark's metrics, and check the
batch rows against their DuckDB oracles.

End-to-end metrics (untraced) mean the same on every workload:
  setup_s            input generation + session start + warm pass
  input_rows_per_s   input rows per second of engine time: pipeline walls
                     (drain), query walls (batch)
  microbatch_ms_*    duration of one unit the engine commits: a micro-batch,
                     or on batch_maintenance one Spark job
  latency_ms_*       due time to committed result; both workloads are closed
                     loops, so all work is due at once: a backlog file when
                     its drain starts (drain), a query when its pass starts
                     (batch)
  peak_rss_mb        the JVM's VmHWM at run end, fixed heap
"""
import json
import os
from datetime import datetime

import duckdb

import stats

E2E_UNITS = {
    "setup_s": "s", "input_rows_per_s": "rows/s",
    "microbatch_ms_p50": "ms", "microbatch_ms_p95": "ms",
    "latency_ms_p50": "ms", "latency_ms_p99": "ms", "peak_rss_mb": "MB"}

# tables each batch row reads, for its input-row count
QUERY_TABLES = {
    "a1_tumbling_count": ["events"], "a4_session_windows": ["events"],
    "st1_burst_alerts": ["events"], "j1_windowed_join": ["events"],
    "tpch_q1_pricing": ["lineitem"], "tpch_q21_waiting_supp": ["lineitem", "orders"],
    "graph_kcore_incremental": ["lineitem"]}

STREAM_UNITS = ["drain_a1", "drain_a4", "drain_st1", "drain_j1"]
LAYER_UNITS = STREAM_UNITS + sorted(QUERY_TABLES)
LAYERS = ["sources", "streaming", "sinks", "sparkentry", "functions", "bench"]

PER_LAYER_UNITS = dict({
    "session.start_ms": "ms", "source.offset_ms": "ms", "source.pending_files": "count",
    "source.rows": "count", "stream.exec_ms": "ms", "stream.planning_ms": "ms",
    "state.commit_ms": "ms", "state.rows": "count", "state.bytes": "bytes",
    "state.rows_evicted": "count", "watermark.lag_ms": "ms", "sink.write_ms": "ms",
    "sink.log_ms": "ms", "sink.replayed_batches": "count", "plan.ms": "ms",
    "fn.build_ms": "ms", "fn.exec_ms": "ms", "checkpoint.resident_bytes": "bytes",
    "jobs": "count", "stages": "count", "tasks": "count", "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms", "shuffle.bytes": "bytes", "spill.bytes": "bytes",
    "scan.bytes": "bytes", "driver_gap_ms": "ms", "busy_ratio": "ratio",
    "gen.events": "count",
    "trace.overhead_pct": "%", "bench.recovery_s": "s",
    "bench.maint_wall_s": "s",
    "bench.scan_wall_s": "s", "bench.error_rate": "ratio"},
    **{f"self_ms.{layer}": "ms" for layer in LAYERS},
    **{f"{u}.{m}": unit for u in LAYER_UNITS
       for m, unit in (("wall_ms", "ms"), ("jobs", "count"), ("stages", "count"),
                       ("driver_gap_ms", "ms"))})


def _progress(records):
    return [p if isinstance(p, dict) else json.loads(p) for p in records]


def _data_batches(progress):
    return [p for p in _progress(progress) if p.get("numInputRows", 0) > 0]


def _stream_runs(workload, phase):
    """(unit, progress, checkpoint, extra) of every pipeline run in a phase."""
    if workload == "stream_drain":
        return [(f"drain_{r['pipeline']}", _progress(r["progress"]), r["checkpoint"], r)
                for p in phase["passes"] for r in p]
    return []


def _inputs(phase, sizes):
    """(files, due times, checkpoint) of every pipeline run of a drain
    phase: a backlog file is due when its drain starts."""
    files = [f"part-{k:05d}.parquet" for k in range(sizes["files"])]
    return [(files, [r["start_ns"]] * len(files), r["checkpoint"])
            for p in phase["passes"] for r in p]


def end_to_end(workload, raw, phase, sizes, gen_s, notes):
    setup = raw["setup"]
    m = {"setup_s": gen_s + (setup["session_ms"] + setup["warm_ms"]) / 1000.0,
         "peak_rss_mb": raw["peak_rss_kb"] / 1024.0}
    if workload == "stream_drain":
        runs = _stream_runs(workload, phase)
        walls = [r[3]["wall_ms"] for r in runs]
        m["input_rows_per_s"] = phase["events"] * len(runs) / (sum(walls) / 1000.0)
        units = [p["batchDuration"] for r in runs for p in _data_batches(r[1])]
        lat = [ms for files, due, ck in _inputs(phase, sizes)
               for ms in stats.file_latencies_ms(ck, files, due)]
    else:
        runs = [q for p in phase["passes"] for q in p]
        rows = sum(sizes[t] for q in runs for t in QUERY_TABLES[q["query"]])
        m["input_rows_per_s"] = rows / (sum(q["wall_ms"] for q in runs) / 1000.0)
        units = phase["job_ms"]
        lat = [q["done_ms"] for q in runs]
    if any(x is None for x in lat):
        notes.append(f"{sum(x is None for x in lat)} inputs never committed")
        lat = [x for x in lat if x is not None]
    m["microbatch_ms_p50"] = stats.percentile(units, 50)
    m["microbatch_ms_p95"] = stats.percentile(units, 95)
    m["latency_ms_p50"] = stats.percentile(lat, 50)
    m["latency_ms_p99"] = stats.percentile(lat, 99)
    for name, xs, q in (("microbatch_ms_p95", units, 95), ("latency_ms_p99", lat, 99)):
        notes.append(f"{name}: n={len(xs)}, {stats.tail_samples(len(xs), q)} beyond, "
                     f"tail rule {'met' if stats.tail_ok(len(xs), q) else 'not met'} "
                     f"(highest supported percentile {stats.highest_supported_percentile(len(xs))})")
    return m


def per_layer(workload, raw, sizes, cores):
    u, t = raw["untraced"], raw["traced"]
    passes = len(t["passes"])
    m = {k: 0.0 for k in PER_LAYER_UNITS}
    m["session.start_ms"] = raw["setup"]["session_ms"]
    m["gen.events"] = float(sizes.get("events", 0))
    spans = t["spans"]
    write_ms = sum(s["end_ns"] - s["start_ns"] for s in spans if s["name"] == "sink.write") / 1e6
    batches = [p for r in _stream_runs(workload, t) for p in r[1]]
    if batches:
        d = lambda p, k: p.get("durationMs", {}).get(k, 0)  # noqa: E731
        ops = lambda p: p.get("stateOperators") or []  # noqa: E731
        m["source.offset_ms"] = sum(d(p, "latestOffset") + d(p, "getBatch") for p in batches)
        m["source.rows"] = sum(p.get("numInputRows", 0) for p in batches)
        pending = [n for files, due, ck in _inputs(t, sizes)
                   for n in stats.pending_files(ck, files, due)]
        m["source.pending_files"] = sum(pending) / len(pending)
        m["stream.exec_ms"] = sum(d(p, "addBatch") for p in batches) - write_ms
        m["stream.planning_ms"] = sum(d(p, "queryPlanning") for p in batches)
        m["state.commit_ms"] = sum(o.get("commitTimeMs", 0) for p in batches for o in ops(p))
        m["state.rows"] = max(sum(o.get("numRowsTotal", 0) for o in ops(p)) for p in batches)
        m["state.bytes"] = max(sum(o.get("memoryUsedBytes", 0) for o in ops(p)) for p in batches)
        m["state.rows_evicted"] = sum(o.get("numRowsRemoved", 0) for p in batches for o in ops(p))
        m["sink.log_ms"] = sum(d(p, "walCommit") + d(p, "commitOffsets") for p in batches)
        # left out: batches before the first watermark, and batches that
        # carry the far-future flush sentinel (event times are reported in ms)
        lags = [_lag_ms(p["eventTime"]) for p in batches
                if "watermark" in p.get("eventTime", {}) and "max" in p["eventTime"]
                and _epoch_s(p["eventTime"]["watermark"]) > 0
                and _epoch_s(p["eventTime"]["max"]) * 1e6 < sizes["sentinel_us"] - 86400e6]
        m["watermark.lag_ms"] = stats.median(lags) if lags else 0.0
        for k in ("source.offset_ms", "source.rows", "stream.exec_ms", "stream.planning_ms",
                  "state.commit_ms", "state.rows_evicted", "sink.log_ms"):
            m[k] /= passes
    m["sink.write_ms"] = write_ms / passes
    m["sink.replayed_batches"] = float(t["restart"].get("replayed_batches", 0))
    m["bench.recovery_s"] = t["restart"].get("recovery_ms", 0.0) / 1000.0
    m["fn.build_ms"] = sum(s["end_ns"] - s["start_ns"] for s in spans if s["name"] == "build") / 1e6 / passes
    m["fn.exec_ms"] = sum(s["end_ns"] - s["start_ns"] for s in spans if s["name"] == "exec") / 1e6 / passes
    for layer, ns in stats.self_times(spans).items():
        if f"self_ms.{layer}" in m:
            m[f"self_ms.{layer}"] = ns / 1e6 / passes
    if workload == "batch_maintenance":
        qs = [q for p in t["passes"] for q in p]
        m["checkpoint.resident_bytes"] = float(max(q["resident_bytes"] for q in qs))
        uq = [q for p in u["passes"] for q in p]
        for g in ("maint", "scan"):
            m[f"bench.{g}_wall_s"] = sum(q["wall_ms"] for q in uq if q["group"] == g) / 1000.0 / len(u["passes"])
    # Spark execution beneath the layers, per unit and in total
    exec_ = t["exec"]
    wall_total, run_total = 0.0, 0.0
    for unit, ivs in t["unit_intervals"].items():
        c = exec_.get(unit, {})
        wall = sum(b - a for a, b in ivs) / 1e6
        inside = [(max(a, s), min(b, e)) for s, e in c.get("stage_intervals", [])
                  for a, b in ((a / 1e6, b / 1e6) for a, b in ivs) if s < b and e > a]
        gap = max(0.0, wall - stats.union_length(inside))
        if f"{unit}.wall_ms" in m:
            m[f"{unit}.wall_ms"] = wall / passes
            m[f"{unit}.jobs"] = c.get("jobs", 0) / passes
            m[f"{unit}.stages"] = c.get("stages", 0) / passes
            m[f"{unit}.driver_gap_ms"] = gap / passes
        m["driver_gap_ms"] += gap / passes
        wall_total += wall
        run_total += c.get("run_ms", 0)
    for c in exec_.values():
        for k, key in (("jobs", "jobs"), ("stages", "stages"), ("tasks", "tasks"),
                       ("exec.cpu_ms", "cpu_ms"), ("exec.gc_ms", "gc_ms"),
                       ("shuffle.bytes", "shuffle_bytes"), ("spill.bytes", "spill_bytes"),
                       ("scan.bytes", "scan_bytes"), ("plan.ms", "plan_ms")):
            m[k] += c.get(key, 0) / passes
    m["busy_ratio"] = run_total / (wall_total * cores) if wall_total else 0.0
    return m


def _epoch_s(iso):
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _lag_ms(event_time):
    """How far the watermark trails the newest event time of a batch."""
    return (_epoch_s(event_time["max"]) - _epoch_s(event_time["watermark"])) * 1000.0


def oracle_checks(raw, work):
    """Each batch row of the first measured pass against its DuckDB oracle
    over the same corpus; returns (name, ok, detail) triples."""
    con = duckdb.connect()
    corpus = os.path.join(work, "corpus")
    for f in sorted(os.listdir(corpus)):
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM '{os.path.join(corpus, f)}'")
    out = []
    for q, sql in sorted(raw["untraced"]["oracle_sql"].items()):
        path = os.path.join(work, "results", f"{q}.json")
        if not os.path.isfile(path):
            out.append((f"oracle {q}", False, "no engine result"))
            continue
        got = [[None if v is None else str(v) for v in r] for r in json.load(open(path))]
        try:
            exp = [[None if v is None else str(v) for v in r] for r in con.execute(sql).fetchall()]
        except Exception as e:  # an oracle error is a failed check, not a crash
            out.append((f"oracle {q}", False, f"oracle error: {str(e)[:200]}"))
            continue
        same = got == exp or sorted(map(tuple, got), key=str) == sorted(map(tuple, exp), key=str)
        out.append((f"oracle {q}", same and len(got) > 0, f"rows engine={len(got)} oracle={len(exp)}"))
    return out


def reduce(workload, raw, sizes, gen_s, work, trace, cores):
    """The result line and a list of notes for stderr."""
    notes = ["jvm phases (ms): " + json.dumps({k: round(v) for k, v in raw["phase_ms"].items()})]
    checks = [(c["name"], c["ok"], c["detail"]) for c in raw["checks"]]
    if workload == "batch_maintenance":
        checks += oracle_checks(raw, work)
    runs = _stream_runs(workload, raw["untraced"]) or [
        q for p in raw["untraced"]["passes"] for q in p]
    attempted = len(runs) + len(checks)
    failed = sum(1 for _, ok, _ in checks if not ok)
    notes += [f"check failed: {n}: {d}" for n, ok, d in checks if not ok]
    if trace:
        m = per_layer(workload, raw, sizes, cores)
        m["bench.error_rate"] = failed / attempted
        e2e_u = end_to_end(workload, raw, raw["untraced"], sizes, gen_s, [])
        e2e_t = end_to_end(workload, raw, raw["traced"], sizes, gen_s, [])
        m["trace.overhead_pct"] = 100.0 * (e2e_u["input_rows_per_s"] / e2e_t["input_rows_per_s"] - 1)
        metrics = {k: {"value": float(v), "unit": PER_LAYER_UNITS[k]} for k, v in m.items()}
    else:
        m = end_to_end(workload, raw, raw["untraced"], sizes, gen_s, notes)
        metrics = {k: {"value": float(m[k]), "unit": E2E_UNITS[k]} for k in E2E_UNITS}
    return ({"correct": failed == 0, "attempted": attempted, "failed": failed,
             "metrics": metrics}, notes)
