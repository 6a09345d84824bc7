"""Turn one run's measurements into the metrics BENCHMARK.json names.

The end-to-end metrics are the same names on both workloads, each with a
per-workload meaning (see README.md), because every run must report every
gated metric. The workload-specific figures are also printed under their
own names in the detail line that precedes the result line."""

from __future__ import annotations

from stats import median, tail

#: name -> unit, in BENCHMARK.json order
END_TO_END = {
    "setup_s": "s",
    "query_p50_ms": "ms",
    "write_p50_ms": "ms",
    "ingest_vps": "vectors/s",
    "maintenance_s": "s",
    "space_amp": "ratio",
    "recall_at_10": "fraction",
}

PER_LAYER = {
    "session.start_s": "s",
    "api.search.plan_s": "s",
    "api.search.exec_s": "s",
    "api.search.jobs": "count",
    "api.search.tasks": "count",
    "api.batch_insert.s": "s",
    "api.batch_insert.jobs": "count",
    "api.delete.s": "s",
    "api.delete.jobs": "count",
    "api.compact.s": "s",
    "api.log_files": "count",
    "api.log_rows_per_live_row": "ratio",
    "api.search_approx.self_s": "s",
    "knn.auto.s": "s",
    "knn.auto.tasks": "count",
    "knn.auto.shuffle_bytes": "bytes",
    "knn.auto.twophase": "count",
    "similarity.ivf_fit.s": "s",
    "similarity.cell_skew": "ratio",
    "hnsw.build.s": "s",
    "hnsw.search.plan_s": "s",
    "hnsw.search.exec_s": "s",
    "hnsw.search.jobs": "count",
    "hnsw.search.input_bytes": "bytes",
    "hnsw.search.cells_probed": "count",
    "hnsw.search.rows_probed": "count",
    "sources.write_snapshot.s": "s",
    "sources.snapshot_bytes_per_user_byte": "ratio",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    # the end-to-end metrics as the traced run measured them; minus the
    # untraced run's figures, they give the tracing overhead
    **{f"traced.{k}": v for k, v in END_TO_END.items()},
}

#: request kinds that belong to the timed and close phases
MEASURED_KINDS = {"search", "insert", "delete", "stats", "compact", "ann", "build", "knn", "snapshot"}


def detail(workload, run, setup_s, rss_mb):
    """Every figure of the run under its own name and unit, tails with their
    percentile and sample count, and what the generator produced."""
    lat, info, cfg = run.lat, run.info, run.cfg
    out = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss_mb, "MB"),
        "ops_failed_frac": (run.failed / max(run.attempted, 1), "fraction"),
        "space_amp": (space_amp(run), "ratio"),
        "ingest_vps": (info["ingest_vps"], "vectors/s"),
    }
    for name in ("search", "ann", "write", "stats", "compact"):
        xs = lat[name]
        if not xs:
            continue
        out[f"{name}_p50_ms"] = (1e3 * median(xs), "ms")
        out[f"{name}_n"] = (len(xs), "count")
        t = tail(xs)
        if t is not None:
            out[f"{name}_tail_ms"] = (1e3 * t[0], "ms")
            out[f"{name}_tail_pct"] = (t[1], "percentile")
    if lat["build"]:
        out["index_build_s"] = (median(lat["build"]), "s")
        out["cell_skew"] = (info["cell_skew"], "ratio")
    if lat["ann"]:
        out["ann_recall_at_10"] = (sum(lat["recall"]) / len(lat["recall"]), "fraction")
    if "batch_knn_qps" in info:
        out["batch_knn_qps"] = (info["batch_knn_qps"], "queries/s")
    if "snapshot_save_s" in info:
        out["snapshot_save_s"] = (info["snapshot_save_s"], "s")
    for k, v in info["query_shares"].items():
        out[f"queries.{k}"] = (v, "count" if k == "queries" else "fraction")
    return {
        "workload": workload, "seed": run.seed, "seconds": run.seconds,
        "sizes": {k: cfg[k] for k in ("n", "dim", "metric")},
        "phase_s": info["phase_s"], "warm_ups": info["warm_searches"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }


def space_amp(run):
    return run.info["table_bytes"] / (run.model.count() * run.cfg["dim"] * 8)


def end_to_end(run, setup_s):
    lat, info = run.lat, run.info
    online = bool(lat["search"])
    q = lat["search"] if online else lat["ann"]
    writes = lat["write"] if online else info["ingest_s"]
    maint = median(lat["compact"] if online else lat["build"])
    vals = {
        "setup_s": setup_s,
        "query_p50_ms": 1e3 * median(q),
        "write_p50_ms": 1e3 * median(writes),
        "ingest_vps": info["ingest_vps"],
        "maintenance_s": maint,
        "space_amp": space_amp(run),
        "recall_at_10": sum(lat["recall"]) / len(lat["recall"]),
    }
    return {k: {"value": vals[k], "unit": u} for k, u in END_TO_END.items()}


def per_layer(run, tr, events, session_s, e2e):
    """Per-layer figures from the traced run's spans, job groups and event
    log; 0 for a layer the workload does not call."""
    def reqs(kind):
        return [g for g, k in tr.groups.items() if k == kind]

    def span_med(name, req_ids=None):
        xs = [s["end"] - s["start"] for s in tr.spans
              if s["name"] == name and (req_ids is None or s["req"] in req_ids)]
        return median(xs) or 0.0

    def jobs_med(req_ids, i=0):
        return median([tr.job_counts(r)[i] for r in req_ids]) or 0

    search = set(run.samples["search_req"])
    ann = set(run.samples["ann_req"])
    inserts = reqs("insert") or reqs("ingest")
    knn = reqs("knn")
    builds = reqs("build")
    ann_self = tr.self_times("ann.plan", ann)
    build_s = span_med("build", set(builds))
    ivf_s = span_med("similarity.ivf_fit", set(builds))
    measured = [g for g, k in tr.groups.items() if k in MEASURED_KINDS]
    ev = [events.get(g, {}) for g in measured]
    n_req = max(len(measured), 1)
    live_bytes = run.model.count() * run.cfg["dim"] * 8
    vals = {
        "session.start_s": session_s,
        "api.search.plan_s": span_med("search.plan", search),
        "api.search.exec_s": span_med("search.exec", search),
        "api.search.jobs": jobs_med(search),
        "api.search.tasks": jobs_med(search, 1),
        "api.batch_insert.s": span_med("insert") or span_med("ingest"),
        "api.batch_insert.jobs": jobs_med(inserts),
        "api.delete.s": span_med("delete"),
        "api.delete.jobs": jobs_med(reqs("delete")),
        "api.compact.s": span_med("compact"),
        "api.log_files": median(run.samples["log_files"]) or 0,
        "api.log_rows_per_live_row": median(run.samples["log_rows_per_live_row"]) or 0.0,
        "api.search_approx.self_s": median(ann_self) or 0.0,
        "knn.auto.s": span_med("knn.plan", set(knn)) + span_med("knn.exec", set(knn)),
        "knn.auto.tasks": jobs_med(knn, 1),
        "knn.auto.shuffle_bytes": sum(events.get(g, {}).get("shuffle_write_bytes", 0) for g in knn),
        "knn.auto.twophase": sum(1 for s in tr.spans if s["name"] == "knn.knn_batch_twophase"),
        "similarity.ivf_fit.s": ivf_s,
        "similarity.cell_skew": run.info.get("cell_skew", 0.0),
        "hnsw.build.s": max(build_s - ivf_s, 0.0),
        "hnsw.search.plan_s": span_med("hnsw.search", ann),
        "hnsw.search.exec_s": span_med("ann.exec", ann),
        "hnsw.search.jobs": jobs_med(ann),
        "hnsw.search.input_bytes": median([events.get(g, {}).get("input_bytes", 0) for g in ann]) or 0,
        "hnsw.search.cells_probed": min(run.cfg.get("nprobe", 0), len(getattr(run, "cell_n", {}))),
        "hnsw.search.rows_probed": median(run.samples["rows_probed"]) or 0,
        "sources.write_snapshot.s": span_med("sources.write_snapshot"),
        "sources.snapshot_bytes_per_user_byte": run.info.get("snapshot_bytes", 0) / live_bytes,
        "spark.tasks": sum(e.get("tasks", 0) for e in ev) / n_req,
        "spark.executor_run_s": sum(e.get("run_s", 0.0) for e in ev) / n_req,
        "spark.gc_s": sum(e.get("gc_s", 0.0) for e in ev) / n_req,
        "spark.shuffle_write_bytes": sum(e.get("shuffle_write_bytes", 0) for e in ev) / n_req,
        **{f"traced.{k}": v["value"] for k, v in e2e.items()},
    }
    return {k: {"value": vals[k], "unit": u} for k, u in PER_LAYER.items()}
