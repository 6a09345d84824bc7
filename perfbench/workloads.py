"""The two workloads. Each is a closed loop with one client and zero think
time (``VectorTable`` has a single-writer contract), run in three phases:

1. set-up: ingest the corpus with one ``batch_insert`` three times,
   each time into a fresh table (the last one is kept); the first round
   pays the cold start of the write path, so the ingest figures come from
   the other two;
2. timed: the workload's request stream for ``--seconds`` seconds, after
   warm-up, plus its maintenance operation;
3. close: the table's bytes on disk, then (``batch_ann`` only) exact batch
   kNN through ``knn_auto`` over ``table()`` and ``save_snapshot`` with its
   read-back, and last a fresh ``VectorTable.open`` of the directory.

Every answer is checked against ``model.VectorModel``."""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import traceback
import zlib
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from model import TIE_TOL, VectorModel, check_topk, distances
from stats import median

from hnsw_vector_db_spark import api
from hnsw_vector_db_spark.operators import knn
from hnsw_vector_db_spark.sources import vectorflow_snapshot

K = 10
INGEST_ROUNDS = 3
BATCH_KNN_QUERIES = 2000
#: ``build_index`` calls timed on ``batch_ann``, after one warm-up build
TIMED_BUILDS = 2
#: the timed phase runs past ``--seconds`` until each latency kind has its
#: floor of samples for a median, but never longer than ``OVERRUN_S`` past it
OVERRUN_S = 10

#: sizes and mixes; BENCHMARK.json and README.md describe the same numbers
WORKLOADS = {
    "online_rw": {
        "n": 8_000, "dim": 64, "metric": "cosine", "zipf_s": 0.0,
        "corpus_invalid": 0.0, "repeat": 0.10, "filtered": 0.25,
        # request mix: exact search / batch_insert / delete / stats
        # per cycle of 20 requests, shuffled: 70% / 20% / 5% / 5%
        "mix": {"search": 14, "insert": 4, "delete": 1, "stats": 1},
        "floors": {"search": 11, "write": 5, "compact": 3},
        "insert_rows": (50, 200), "overwrite": 0.2, "insert_invalid": 0.02,
        "delete_ids": 10, "compact_every": 2,
    },
    "batch_ann": {
        "n": 3_000, "dim": 128, "metric": "euclidean", "zipf_s": 1.1,
        "corpus_invalid": 0.01, "repeat": 0.20, "filtered": 0.25,
        "n_cells": 16, "m": 8, "ef_construction": 64, "ef": 64, "nprobe": 2,
        "floors": {"ann": 8},
    },
}

_SCHEMA = "id long, vector array<double>, metadata string"


def lang_filter(lang):
    return F.get_json_object(F.col("metadata"), "$.lang") == lang


def dir_bytes(path):
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Run:
    """One benchmark run: counts ops and failures, keeps latencies by kind,
    and the model of the live table."""

    def __init__(self, spark, scratch, seed, seconds, tracer, cfg):
        self.spark = spark
        self.scratch = scratch
        self.seed = seed
        self.seconds = seconds
        self.tr = tracer
        self.cfg = cfg
        self.attempted = 0
        self.failed = 0
        self.lat = defaultdict(list)  # kind -> seconds, timed phase only
        self.info = {}
        self.samples = defaultdict(list)  # trace-only per-request samples
        self._req = 0
        # the mixture (cluster centres and popularity) and the corpus drawn
        # from it are fixed per workload, like a benchmark dataset; the seed
        # draws the requests. The index build (KMeans has a fixed seed) and
        # the cost of each cell then do not change with the seed
        self.mixture = gen.Mixture(
            np.random.default_rng(cfg["dim"]), cfg["dim"], zipf_s=cfg["zipf_s"]
        )

    def rng(self, stream):
        """An independent generator per input stream, fixed by the seed."""
        return np.random.default_rng([self.seed, zlib.crc32(stream.encode())])

    # -- one program call --------------------------------------------------
    def call(self, kind, fn, action=None):
        """Run one program call as one request: ``fn()`` and, for a lazy
        call, ``action(result)`` (``collect``). Returns (value, seconds), or
        (None, None) after an unexpected error, which counts as failed."""
        self.attempted += 1
        self._req += 1
        req = f"{kind}-{self._req}"
        self.tr.request(req, kind)
        t0 = time.perf_counter()
        try:
            with self.tr.span(f"{kind}.plan" if action else kind):
                out = fn()
            if action is not None:
                with self.tr.span(f"{kind}.exec"):
                    out = action(out)
        except Exception:  # the run must go on to report the failure
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None, None
        finally:
            self.tr.request("bench", "bench")
        self.last_req = req
        return out, time.perf_counter() - t0

    def verify(self, what, problems):
        if problems:
            self.failed += 1
            print(f"WRONG {what}: {problems[:5]}", file=sys.stderr)

    # -- writes ------------------------------------------------------------
    def batch_df(self, ids, rows, lang):
        pdf = pd.DataFrame(
            {"id": ids, "vector": rows, "metadata": [gen.metadata(x) for x in lang]}
        )
        return self.spark.createDataFrame(pdf, _SCHEMA)

    def batch_insert(self, vt, model, ids, rows, lang, valid, kind="insert"):
        df = self.batch_df(ids, rows, lang)
        res, dt = self.call(kind, lambda: vt.batch_insert(df))
        if res is None:
            return None
        want = {"inserted": int(valid.sum()), "failed": int((~valid).sum())}
        self.verify(f"{kind} counts", [] if res == want else [f"got {res}, want {want}"])
        model.upsert(ids[valid], [r for r, v in zip(rows, valid) if v], lang[valid])
        return dt

    def ingest(self, path):
        """Create a table and load the corpus with one ``batch_insert``.
        Returns (table, model, seconds of the batch_insert)."""
        cfg = self.cfg
        rng = np.random.default_rng([cfg["dim"], zlib.crc32(b"corpus")])
        n = cfg["n"]
        X, _ = self.mixture.points(rng, n)
        lang = gen.langs(rng, n)
        valid = rng.random(n) >= cfg["corpus_invalid"]
        rows = [x if v else None for x, v in zip(X, valid)]
        ids = np.arange(n, dtype=np.int64)
        vt, _ = self.call("create", lambda: api.VectorTable.create(
            self.spark, path, dim=cfg["dim"], metric=cfg["metric"]))
        model = VectorModel(cfg["dim"], cfg["metric"])
        return vt, model, self.batch_insert(vt, model, ids, rows, lang, valid, kind="ingest")

    def setup(self):
        """Ingest the corpus ``INGEST_ROUNDS`` times, each round into a fresh
        table; keep the last. Returns the median round time. The ingest
        figures leave out the first, cold round."""
        rounds, ingest_s = [], []
        t_setup = time.perf_counter()
        for r in range(INGEST_ROUNDS):
            t0 = time.perf_counter()
            self.vt, self.model, dt = self.ingest(os.path.join(self.scratch, f"table-{r}"))
            rounds.append(time.perf_counter() - t0)
            ingest_s.append(dt)
            if r:
                shutil.rmtree(os.path.join(self.scratch, f"table-{r - 1}"))
        self.info["ingest_vps"] = self.model.count() / median(ingest_s[1:])
        self.info["ingest_s"] = ingest_s[1:]
        self.info["phase_s"] = {"setup_rounds": time.perf_counter() - t_setup,
                                "_mark": time.perf_counter()}
        return median(rounds)

    # -- reads -------------------------------------------------------------
    def check_exact(self, what, model, rows, q, lang):
        """Exact top-k rows (id, dist, metadata) against brute force; returns
        the recall of the model's top-k."""
        lang_idx = None if lang is None else gen.LANGS.index(lang)
        exp_ids, exp_d = model.exact(q, K, lang_idx)
        problems = check_topk(
            [r["id"] for r in rows], [r["dist"] for r in rows], exp_ids, exp_d,
            self.true_dist(model, q, lang_idx), TIE_TOL[model.metric],
        )
        problems += self.check_metadata(model, rows)
        self.verify(what, problems)
        return self.recall(rows, exp_ids)

    @staticmethod
    def true_dist(model, q, lang_idx):
        def f(i):
            s = model.row(i)
            if s is None or (lang_idx is not None and model.lang[s] != lang_idx):
                return None
            return float(distances(model.X[s : s + 1], q, model.metric)[0])
        return f

    @staticmethod
    def check_metadata(model, rows):
        out = []
        for r in rows:
            s = model.row(r["id"])
            if s is not None and json.loads(r["metadata"]) != {"lang": gen.LANGS[model.lang[s]]}:
                out.append(f"id {r['id']}: metadata {r['metadata']!r}")
        return out

    @staticmethod
    def recall(rows, exp_ids):
        if len(exp_ids) == 0:
            return 1.0
        got = {int(r["id"]) for r in rows}
        return len(got & {int(i) for i in exp_ids}) / len(exp_ids)

    def sample_log(self, vt, model):
        """Trace only: files in the live log generation and log rows the
        resolve window reads per live row."""
        if not self.tr.enabled:
            return
        d = os.path.join(vt.path, f"log-{vt.meta['log_gen']}")
        files = [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        self.samples["log_files"].append(len(files))
        self.samples["log_rows_per_live_row"].append(rows / max(model.count(), 1))

    def search(self, vt, model, q, lang, timed=True):
        where = None if lang is None else lang_filter(lang)
        if timed:
            self.sample_log(vt, model)
        rows, dt = self.call(
            "search", lambda: vt.search(q, k=K, where=where), lambda df: df.collect()
        )
        if rows is None:
            return
        rec = self.check_exact("search", model, rows, q, lang)
        if timed:
            self.lat["search"].append(dt)
            self.lat["recall"].append(rec)
            self.samples["search_req"].append(self.last_req)
        return dt

    def search_approx(self, vt, model, q, lang, timed=True):
        cfg = self.cfg
        where = None if lang is None else lang_filter(lang)
        if timed:
            self.sample_log(vt, model)
        rows, dt = self.call(
            "ann",
            lambda: vt.search_approx(q, k=K, ef=cfg["ef"], nprobe=cfg["nprobe"], where=where),
            lambda df: df.collect(),
        )
        if rows is None:
            return
        lang_idx = None if lang is None else gen.LANGS.index(lang)
        # the API carries the query as array<float> and rounds distances to
        # 6 decimals, so the reported distance is checked against the
        # float32 query with a tolerance of a few units in the 6th decimal
        q32 = np.asarray(q, dtype=np.float32).astype(np.float64)
        true32 = self.true_dist(model, q32, lang_idx)
        problems = []
        ids = [int(r["id"]) for r in rows]
        if len(ids) > K or len(set(ids)) != len(ids):
            problems.append(f"{len(ids)} hits, {len(set(ids))} distinct")
        dists = [r["dist"] for r in rows]
        if dists != sorted(dists):
            problems.append("hits not in distance order")
        for r in rows:
            td = true32(r["id"])
            if td is None:
                problems.append(f"id {r['id']} is not an admissible live row")
            elif abs(td - r["dist"]) > 2e-6:
                problems.append(f"id {r['id']}: reported {r['dist']!r}, true {td!r}")
        problems += self.check_metadata(model, rows)
        self.verify("search_approx", problems)
        exp_ids, _ = model.exact(q, K, lang_idx)
        rec = self.recall(rows, exp_ids)
        if timed:
            self.lat["ann"].append(dt)
            self.lat["recall"].append(rec)
            self.samples["ann_req"].append(self.last_req)
            if self.tr.enabled:
                self.samples["rows_probed"].append(self.rows_probed(vt, q))
        return dt

    def rows_probed(self, vt, q):
        """Trace only: rows in the ``nprobe`` cells a query routes to, from
        the persisted centroids and the index's per-cell row counts."""
        C = np.asarray(vt.meta["centroids"])
        d = distances(C, np.asarray(q), self.cfg["metric"])
        probed = np.argsort(d, kind="stable")[: self.cfg["nprobe"]]
        return int(sum(self.cell_n.get(int(c), 0) for c in probed))

    def stats(self, vt, model):
        rows, dt = self.call("stats", vt.stats, lambda df: df.collect())
        if rows is None:
            return
        r = rows[0].asDict()
        want = {
            "total_vectors": model.count(), "dim": model.dim, "metric": model.metric,
            "max_elements": 1_000_000, "version": model.version,
        }
        self.verify("stats", [] if r == want else [f"got {r}, want {want}"])
        return dt

    def delete(self, vt, model, ids):
        n, dt = self.call("delete", lambda: vt.delete(ids))
        if n is not None:
            want = model.delete(ids)
            self.verify("delete count", [] if n == want else [f"got {n}, want {want}"])
        return dt

    def compact(self, vt, model):
        n, dt = self.call("compact", vt.compact)
        if n is not None:
            self.verify("compact", [] if n == model.count() else [f"{n} rows, want {model.count()}"])
        return dt

    # -- close phase -----------------------------------------------------------
    def close(self, batch_rng=None):
        """Measure the table's size, run the batch phase when given its query
        generator, then check a fresh ``VectorTable.open``."""
        t0 = time.perf_counter()
        self.info["phase_s"]["timed"] = t0 - self.info["phase_s"].pop("_mark")
        if batch_rng is not None:
            self.batch_phase(batch_rng)
        self.info["table_bytes"] = dir_bytes(self.vt.path)
        ids, _ = self.call(
            "reopen",
            lambda: api.VectorTable.open(self.spark, self.vt.path).table().select("id"),
            lambda df: df.toPandas()["id"].to_numpy(),
        )
        if ids is not None:
            ok = np.array_equal(np.sort(ids), self.model.live_ids())
            self.verify("reopen", [] if ok else [f"{len(ids)} ids, model has {self.model.count()}"])
        self.info["phase_s"]["close"] = time.perf_counter() - t0

    def batch_phase(self, query_rng):
        """Exact batch kNN over ``table()`` checked against brute force, then
        ``save_snapshot`` checked by reading it back."""
        vt, model, cfg = self.vt, self.model, self.cfg
        Q = np.array([self.mixture.query(query_rng)[0] for _ in range(BATCH_KNN_QUERIES)])
        qdf = self.spark.createDataFrame(
            pd.DataFrame({"query_id": np.arange(len(Q), dtype=np.int64), "query_vec": list(Q)}),
            "query_id long, query_vec array<double>",
        )
        rows, dt = self.call(
            "knn",
            lambda: knn.knn_auto(qdf, vt.table(), k=K, metric=cfg["metric"],
                                 id_col="id", vector_col="vector"),
            lambda df: df.collect(),
        )
        if rows is not None:
            self.info["batch_knn_qps"] = len(Q) / dt
            self.verify("batch kNN", self.check_batch(model, Q, rows))
        snap = os.path.join(self.scratch, "snapshot")
        _, dt = self.call("snapshot", lambda: vt.save_snapshot(snap))
        if dt is not None:
            self.info["snapshot_save_s"] = dt
            self.info["snapshot_bytes"] = dir_bytes(snap)
            back, _ = self.call(
                "readback",
                lambda: vectorflow_snapshot.read_snapshot_vectors(self.spark, snap),
                lambda df: df.select("id", "vector", "metadata").toPandas(),
            )
            if back is not None:
                self.verify("snapshot read-back", self.check_table(model, back))

    @staticmethod
    def check_batch(model, Q, rows):
        got = defaultdict(list)
        for r in rows:
            got[int(r["query_id"])].append((int(r["rank"]), int(r["id"]), float(r["dist"])))
        problems = []
        exact = model.exact_batch(Q, K)
        for qi, q in enumerate(Q):
            hits = sorted(got.get(qi, []))
            exp_ids, exp_d = exact[qi]
            problems += [f"query {qi}: {p}" for p in check_topk(
                [h[1] for h in hits], [h[2] for h in hits], exp_ids, exp_d,
                Run.true_dist(model, q, None), TIE_TOL[model.metric])]
        return problems

    @staticmethod
    def check_table(model, pdf):
        if not np.array_equal(np.sort(pdf["id"].to_numpy()), model.live_ids()):
            return [f"{len(pdf)} ids, model has {model.count()}"]
        problems = []
        for i, v, md in zip(pdf["id"], pdf["vector"], pdf["metadata"]):
            s = model.row(i)
            if not np.array_equal(np.asarray(v, dtype=np.float64), model.X[s]):
                problems.append(f"id {i}: vector differs")
            elif json.loads(md) != {"lang": gen.LANGS[model.lang[s]]}:
                problems.append(f"id {i}: metadata {md!r}")
        return problems


def running(run, deadline):
    now = time.perf_counter()
    if now < deadline:
        return True
    short = any(len(run.lat[k]) < n for k, n in run.cfg["floors"].items())
    return short and now < deadline + OVERRUN_S


def warm(op, max_n=10, min_n=3, settle=0.15):
    """Call ``op()`` (returns seconds) until two consecutive calls agree
    within ``settle`` of each other, at least ``min_n`` and at most
    ``max_n`` times. Returns the number of calls."""
    prev = None
    for i in range(1, max_n + 1):
        dt = op()
        if dt is not None and prev is not None and i >= min_n and abs(dt - prev) <= settle * prev:
            return i
        prev = dt
    return max_n


def online_rw(run):
    cfg = run.cfg
    vt, model = run.vt, run.model
    # warm-up: searches until JIT settles, then one of each other op
    wq = gen.QueryStream(run.rng("warm-queries"), run.mixture, 0.0, cfg["filtered"])
    def warm_search():
        q, lang, _ = wq.next()
        return run.search(vt, model, q, lang, timed=False)
    run.info["warm_searches"] = warm(warm_search)
    # one untimed delete, stats and compact so no timed call is the first
    run.delete(vt, model, [10**12])
    run.stats(vt, model)
    run.compact(vt, model)
    wrng = run.rng("writes")
    next_id = cfg["n"]
    requests = gen.request_kinds(run.rng("requests"), cfg["mix"])
    qs = gen.QueryStream(run.rng("queries"), run.mixture, cfg["repeat"], cfg["filtered"])
    writes = 0
    deadline = time.perf_counter() + run.seconds
    while running(run, deadline):
        kind = next(requests)
        if kind == "search":
            q, lang, _ = qs.next()
            run.search(vt, model, q, lang)
        elif kind == "insert":
            lo, hi = cfg["insert_rows"]
            ids, rows, lang, valid, next_id = gen.write_batch(
                wrng, run.mixture, model.live_ids(), next_id,
                int(wrng.integers(lo, hi + 1)), cfg["overwrite"], cfg["insert_invalid"])
            dt = run.batch_insert(vt, model, ids, rows, lang, valid)
            if dt is not None:
                run.lat["write"].append(dt)
            writes += 1
        elif kind == "delete":
            ids = gen.delete_ids(wrng, model.live_ids(), next_id, cfg["delete_ids"])
            dt = run.delete(vt, model, ids)
            if dt is not None:
                run.lat["write"].append(dt)
            writes += 1
        else:
            dt = run.stats(vt, model)
            if dt is not None:
                run.lat["stats"].append(dt)
        if writes >= cfg["compact_every"]:
            dt = run.compact(vt, model)
            if dt is not None:
                run.lat["compact"].append(dt)
            writes = 0
    run.info["query_shares"] = qs.shares()
    run.close()


def batch_ann(run):
    cfg = run.cfg
    build = dict(n_cells=cfg["n_cells"], m=cfg["m"], ef_construction=cfg["ef_construction"])
    vt, model = run.vt, run.model
    # the first build pays the cold start of the build path (about 10 s
    # against 5.5 s warm), so it is warm-up; each later one rebuilds the
    # index from the same rows
    run.call("warm", lambda: vt.build_index(**build))
    for _ in range(TIMED_BUILDS):
        _, dt = run.call("build", lambda: vt.build_index(**build))
        if dt is not None:
            run.lat["build"].append(dt)
    idx = pq.read_table(os.path.join(vt.path, "hnsw_index"), columns=["cell", "n"])
    run.cell_n = dict(zip(idx["cell"].to_pylist(), idx["n"].to_pylist()))
    ns = list(run.cell_n.values())
    run.info["cell_skew"] = max(ns) / (sum(ns) / len(ns))
    # warm-up: the first search of a fresh index pays the cold start of the
    # search path; one search is all the run's time allows
    q, lang, _ = gen.QueryStream(run.rng("warm-queries"), run.mixture, 0.0, 0.0).next()
    run.search_approx(vt, model, q, lang, timed=False)
    run.info["warm_searches"] = 1
    qs = gen.QueryStream(run.rng("queries"), run.mixture, cfg["repeat"], cfg["filtered"])
    deadline = time.perf_counter() + run.seconds
    while running(run, deadline):
        q, lang, _ = qs.next()
        run.search_approx(vt, model, q, lang)
    run.info["query_shares"] = qs.shares()
    run.close(run.rng("batch-queries"))


RUNNERS = {"online_rw": online_rw, "batch_ann": batch_ann}
