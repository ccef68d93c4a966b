"""Fold one run's JVM result into the end-to-end and per-layer metrics.

End-to-end metrics come from the op timings alone; per-layer ones from
the traced run's per-op listener figures (`layers`), the connector probes
(messages_rw) and the kernel microbenchmarks (`plans`). Per-layer values
are means per op over the warm passes, except `codegen.*`, which is per op
over the first pass (warm passes compile next to nothing). A metric that
does not apply to the workload reads 0 with a note saying so.
"""
import stats

MSG_TYPES = ["insert_messages", "insert_users", "read_channel", "read_user",
             "list_users", "all_messages", "compact_users", "upsert_users",
             "delete_channel"]
READ_KINDS = {"read_channel", "read_user", "list_users", "all_messages"}
WRITE_KINDS = {"insert_messages", "insert_users", "upsert_users",
               "delete_channel", "compact_users"}
INGEST_KINDS = {"insert_messages", "insert_users", "upsert_users"}

# per-layer metric -> (trace field, unit); mean per warm op
TRACE_MEANS = {
    "operators.build_ms": ("build_self_ms", "ms"),
    "operators.eager_jobs": ("build_jobs", "count"),
    "operators.eager_job_ms": ("build_job_ms", "ms"),
    "catalyst.analysis_ms": ("analysis_ms", "ms"),
    "catalyst.optimization_ms": ("optimization_ms", "ms"),
    "catalyst.planning_ms": ("planning_ms", "ms"),
    "catalyst.graft_rule_ms": ("graft_rule_ms", "ms"),
    "catalyst.queries": ("queries", "count"),
    "exec.jobs": ("jobs", "count"),
    "exec.stages": ("stages", "count"),
    "exec.tasks": ("tasks", "count"),
    "exec.wall_ms": ("job_wall_ms", "ms"),
    "exec.run_ms": ("run_ms", "ms"),
    "exec.cpu_ms": ("cpu_ms", "ms"),
    "exec.gc_ms": ("gc_ms", "ms"),
    "exec.task_wait_ms": ("task_wait_ms", "ms"),
    "exec.stage_skew": ("stage_skew", "ratio"),
    "exec.shuffle_write_bytes": ("shuffle_write_bytes", "B"),
    "exec.shuffle_read_bytes": ("shuffle_read_bytes", "B"),
    "exec.shuffle_fetch_wait_ms": ("shuffle_fetch_wait_ms", "ms"),
    "exec.spill_bytes": ("spill_bytes", "B"),
    "exec.input_bytes": ("input_bytes", "B"),
    "exec.input_rows": ("input_rows", "count"),
    "exec.tasks_failed": ("tasks_failed", "count"),
    "streaming.drains": ("drains", "count"),
    "streaming.batches": ("batches", "count"),
    "streaming.input_rows": ("stream_input_rows", "count"),
    "streaming.trigger_ms": ("trigger_ms", "ms"),
    "streaming.add_batch_ms": ("add_batch_ms", "ms"),
    "streaming.query_planning_ms": ("query_planning_ms", "ms"),
    "streaming.wal_commit_ms": ("wal_commit_ms", "ms"),
    "streaming.commit_offsets_ms": ("commit_offsets_ms", "ms"),
    "streaming.latest_offset_ms": ("latest_offset_ms", "ms"),
    "streaming.harness_ms": ("harness_ms", "ms"),
    "streaming.state_rows": ("state_rows", "count"),
    "streaming.state_mem_bytes": ("state_mem_bytes", "B"),
    "streaming.state_commit_ms": ("state_commit_ms", "ms"),
    "streaming.state_rows_dropped": ("state_rows_dropped", "count"),
    "unattributed_ms": ("unattributed_ms", "ms"),
}
PLANS = ["dot_ns_per_elem", "cosine_ns_per_elem", "l2sq_ns_per_elem",
         "long_dot_ns_per_elem", "winnow_ns_per_char", "shingle_ns_per_char",
         "bpe_ns_per_char"]


def _m(value, unit, n, note=""):
    d = {"value": float(value), "unit": unit, "n": n}
    if note:
        d["note"] = note
    return d


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def warm_ops(r):
    return [o for o in r["ops"] if o["pass"] >= 1]


def e2e_metrics(r):
    warm = warm_ops(r)
    lat = [o["lat_ms"] for o in warm]
    n = len(warm)
    first = [o for o in r["ops"] if o["pass"] == 0]
    return {
        "setup_s": _m(r["setup_s"], "s", 1),
        "first_pass_s": _m(r["first_pass_s"], "s", len(first)),
        "ops_per_s": _m(n / r["warm_wall_s"] if r["warm_wall_s"] else 0.0, "1/s", n),
        "lat_p50_ms": _m(stats.percentile(lat, 50) or 0.0, "ms", n),
        "lat_p90_ms": _m(stats.percentile(lat, 90) or 0.0, "ms", n),
        "cpu_s_per_op": _m(r["warm_cpu_s"] / n if n else 0.0, "s", n),
        "mem_peak_mb": _m(r["mem_peak_mb"], "MB", 1),
    }


def workload_metrics(r):
    """The workload-specific user-facing figures (messages_rw read/write
    split, ingest and space; stream drain rate) and the error rate."""
    wl = r["workload"]
    warm = warm_ops(r)
    out = {}
    na = f"n/a on {wl}"
    reads = [o["lat_ms"] for o in warm if o["kind"] in READ_KINDS]
    writes = [o["lat_ms"] for o in warm if o["kind"] in WRITE_KINDS]
    for name, xs, p in (("read_p50_ms", reads, 50), ("read_p90_ms", reads, 90),
                        ("write_p50_ms", writes, 50), ("write_p90_ms", writes, 90)):
        out[name] = _m(stats.percentile(xs, p) or 0.0, "ms", len(xs), "" if xs else na)
    ing = [o for o in warm if o["kind"] in INGEST_KINDS]
    ing_s = sum(o["lat_ms"] for o in ing) / 1000.0
    out["ingest_rows_per_s"] = _m(sum(o["rows_out"] for o in ing) / ing_s if ing_s else 0.0,
                                  "rows/s", len(ing), "" if ing else na)
    st = r.get("store", {})
    amp = st["space_bytes"] / st["live_bytes"] if st.get("live_bytes") else 0.0
    out["space_amp"] = _m(amp, "ratio", 1, "" if st else na)
    tr = {t["i"]: t for t in r.get("layers", [])}
    rows = sum(tr[o["i"]]["stream_input_rows"] for o in warm if o["i"] in tr)
    drain_ms = sum(tr[o["i"]]["trigger_ms"] + tr[o["i"]]["harness_ms"] for o in warm if o["i"] in tr)
    out["stream_rows_per_s"] = _m(rows / (drain_ms / 1000.0) if drain_ms else 0.0, "rows/s",
                                  len(warm), "" if drain_ms else
                                  ("needs --trace 1" if not tr else na))
    attempted = len(r["ops"])
    out["error_rate"] = _m(len(r["wrong"]) / attempted if attempted else 0.0, "ratio", attempted)
    return out


def layer_metrics(r):
    wl = r["workload"]
    warm = warm_ops(r)
    tr = {t["i"]: t for t in r.get("layers", [])}
    wt = [tr[o["i"]] for o in warm if o["i"] in tr]
    n = len(wt)
    no_entries = not any(o["kind"] == "entry" for o in warm)
    out = {}
    for name, (field, unit) in TRACE_MEANS.items():
        note = f"n/a on {wl}: no entry functions" if no_entries and name.startswith("operators.") else ""
        out[name] = _m(_mean([t[field] for t in wt]), unit, n, note)
    inv = sum(t["rule_invocations"] for t in wt)
    out["catalyst.rule_effective_ratio"] = _m(
        sum(t["rule_effective"] for t in wt) / inv if inv else 0.0, "ratio", n)
    first = [tr[o["i"]] for o in r["ops"] if o["pass"] == 0 and o["i"] in tr]
    out["codegen.compile_ms"] = _m(_mean([t["compile_ms"] for t in first]), "ms", len(first))
    out["codegen.compiles"] = _m(_mean([t["compiles"] for t in first]), "count", len(first))
    wall = sum(t["job_wall_ms"] for t in wt)
    out["exec.slot_util"] = _m(sum(t["run_ms"] for t in wt) / (wall * r["nproc"]) if wall else 0.0,
                               "ratio", n)
    out["exec.peak_exec_mem_bytes"] = _m(max([t["peak_exec_mem_bytes"] for t in wt] or [0]), "B", n)
    returned = [(tr[o["i"]]["input_rows"], o["rows_out"]) for o in warm
                if o["i"] in tr and o["kind"] in READ_KINDS and o["rows_out"]]
    out["exec.rows_read_per_row_returned"] = _m(
        sum(a for a, _ in returned) / sum(b for _, b in returned) if returned else 0.0,
        "ratio", len(returned), "" if returned else "reads that return rows: messages_rw only")
    out.update(source_metrics(r, warm))
    for kind in MSG_TYPES:
        xs = [o["lat_ms"] for o in warm if o["kind"] == kind]
        note = "" if xs else (f"n/a on {wl}" if wl != "messages_rw" else "no op of this type ran")
        out[f"op.{kind}.p50_ms"] = _m(stats.percentile(xs, 50) or 0.0, "ms", len(xs), note)
        out[f"op.{kind}.p90_ms"] = _m(stats.percentile(xs, 90) or 0.0, "ms", len(xs), note)
        out[f"op.{kind}.n"] = _m(len(xs), "count", len(xs), note)
    plans = r.get("plans", {})
    for k in PLANS:
        out[f"plans.{k}"] = _m(plans.get(k, 0.0), "ns", 1 if plans else 0)
    out["jvm.gc_ms"] = _m(_mean([o["gc_ms"] for o in warm]), "ms", len(warm))
    out["jvm.heap_peak_mb"] = _m(r["heap_peak_mb"], "MB", 1)
    return out


def source_metrics(r, warm):
    st = r.get("store", {})
    na = "" if st else f"n/a on {r['workload']}"
    probed = [o for o in warm if "files_before" in o]
    writes = [o for o in probed if o["kind"] in WRITE_KINDS]
    commits = sum(o["versions_added"] for o in writes)
    comp = [o for o in probed if o["kind"] == "compact_users"]
    user_bytes = sum(o.get("payload_bytes", 0) for o in writes)
    reads = [o for o in warm if "files_per_read" in o]
    return {
        "sources.commits": _m(commits / len(writes) if writes else 0.0, "count", len(writes), na),
        "sources.commit_ms": _m(sum(o["lat_ms"] for o in writes) / commits if commits else 0.0,
                                "ms", commits, na),
        "sources.manifest_resolve_ms": _m(_mean([o["resolve_ms"] for o in probed]), "ms",
                                          len(probed), na),
        "sources.live_files": _m(st.get("live_files_end", 0.0), "count", 1, na),
        "sources.live_files_start": _m(st.get("live_files_start", 0.0), "count", 1, na),
        "sources.files_per_read": _m(st.get("files_per_read_end", 0.0), "count", 1, na),
        "sources.files_per_read_start": _m(st.get("files_per_read_start", 0.0), "count", 1, na),
        "sources.files_per_read_op": _m(_mean([o["files_per_read"] for o in reads]), "count",
                                        len(reads), na),
        "sources.write_amp": _m(sum(o["bytes_added"] for o in writes) / user_bytes
                                if user_bytes else 0.0, "ratio", len(writes), na),
        "sources.space_bytes": _m(st.get("space_bytes", 0.0), "B", 1, na),
        "sources.live_bytes": _m(st.get("live_bytes", 0.0), "B", 1, na),
        "sources.compactions": _m(len(comp), "count", len(comp), na),
        "sources.compact_ms": _m(_mean([o["lat_ms"] for o in comp]), "ms", len(comp), na),
        "sources.compact_bytes": _m(_mean([o["bytes_retired"] for o in comp]), "B", len(comp), na),
        "sources.versions": _m(st.get("versions", 0.0), "count", 1, na),
    }


def metrics(r):
    """(end-to-end, per-layer) metric dicts: name -> {value, unit, n[, note]}."""
    per_layer = workload_metrics(r)
    per_layer.update(layer_metrics(r))
    return e2e_metrics(r), per_layer


def first_pass_view(r):
    """First-pass per-op means of the traced fields (cold costs)."""
    tr = {t["i"]: t for t in r.get("layers", [])}
    first = [tr[o["i"]] for o in r["ops"] if o["pass"] == 0 and o["i"] in tr]
    return {name: _mean([t[f] for t in first]) for name, (f, _) in TRACE_MEANS.items()}
