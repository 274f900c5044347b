"""Benchmark of the rust_s2_spark engine on one ``local[nproc]`` Spark
session.

    python3 perfbench/run.py --workload <ingest|region_query>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Set-up (session start, seeded inputs,
stored table, one warm-up call of each operation kind, and for
region_query one whole untimed cycle) is timed as ``setup_s``. Then a
single client runs the workload's fixed cycle of operations back to
back, whole cycles until ``--seconds`` have passed and at least the
workload's ``timed_cycles`` have run, checking each result against an
independent answer (closed loop; the answer check is not timed).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are the per-layer ones, from a
separate run in which every other operation is traced (spans, job
groups, Spark event log). A traced run also writes its spans and the
workload-specific layer metrics to
``.perfbench_out/trace-<workload>-seed<n>.json``.
The line before the result holds run details (host readings, the tail
percentile used, failures). Exit code 0 when every output was correct,
1 when one was not, 2 when the benchmark could not run at all.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    __package__ = "perfbench"

from perfbench import env  # noqa: E402

# Input sizes per scale. "full" is what BENCHMARK.json runs; "tiny" is
# the self-test's.
SCALES = {
    "full": {
        "ingest_images": 8_000, "ingest_buckets": 8,
        "rq_images": 20_000, "rq_join_caps": 1_000, "rq_within_probes": 500,
        "knn_batch": (200, 300, 400),
        "nd_docs": 200, "nd_phash": 2_000, "udf_rows": 1_000_000,
    },
    "tiny": {
        "ingest_images": 1_500, "ingest_buckets": 4,
        "rq_images": 3_000, "rq_join_caps": 50, "rq_within_probes": 50,
        "knn_batch": (20, 40, 60),
        "nd_docs": 60, "nd_phash": 300, "udf_rows": 50_000,
    },
}
OP_TIMEOUT_S = 60.0
# stop starting operations after this much wall time (the run must end
# within 180 s including session shutdown)
HARD_LIMIT_S = 140.0
END_TO_END = {
    "setup_s": "s", "ops_per_s": "1/s", "items_per_s": "1/s", "op_p50_s": "s",
    "op_tail_s": "s", "peak_rss_mb": "MB", "stored_bytes_per_item": "B",
}


def wrong_answer(r):
    """A deliberately wrong result, for the self-test of the gate."""
    if isinstance(r, bool):
        return not r
    if isinstance(r, int):
        return r + 1_000_003
    if isinstance(r, dict):
        return {k: v + 1 for k, v in r.items()} or {0: 1}
    if isinstance(r, set):
        return r ^ {(-1, -2)}
    if isinstance(r, list):
        return [(a, b, j + 0.25, h, kp) for a, b, j, h, kp in r] or [(-1, -2, 0.0, 0, True)]
    if isinstance(r, tuple) and isinstance(r[0], str):
        return r[:-1] + ([],)
    if isinstance(r, tuple):
        return (wrong_answer(r[0]),) + r[1:]
    raise TypeError(type(r))


def tail(lats: list[float]) -> tuple[float, float, int]:
    """(latency, percentile, samples beyond it) at the highest
    percentile with at least 10 samples beyond it, when the run supports
    one at p90 or above (110+ operations); otherwise the p90, linearly
    interpolated between the two operations around it."""
    xs = sorted(lats)
    n = len(xs)
    if n >= 110:
        idx = n - 11
        return xs[idx], 100.0 * idx / (n - 1), n - 1 - idx
    v = statistics.quantiles(xs, n=10, method="inclusive")[-1] if n > 1 else xs[0]
    return v, 90.0, sum(1 for x in xs if x > v)


class Runner:
    def __init__(self, args):
        self.args = args
        self.t_begin = time.monotonic()
        self.dirs = env.RunDirs()
        env.prepare_process_env(self.dirs)
        self.host = env.HostReadings()
        self.session = None
        self.wl = None
        self.probe_ops = []

    def start(self) -> None:
        import numpy as np

        from perfbench.trace import Tracer
        from perfbench.workloads import WORKLOADS, Ctx

        t0 = time.perf_counter()
        self.session = env.Session(self.dirs, event_log=bool(self.args.trace))
        self.session_s = time.perf_counter() - t0
        self.tracer = Tracer(self.session.spark.sparkContext)
        self.ctx = Ctx(
            spark=self.session.spark, tracer=self.tracer,
            rng=np.random.default_rng(self.args.seed), data_dir=self.dirs.path("data"),
            scale=SCALES[self.args.scale],
        )
        self.wl = WORKLOADS[self.args.workload](self.ctx)

    def run_op(self, op, index: int, traced: bool) -> dict:
        self.ctx.op_id = index
        self.tracer.enabled = traced
        ru0 = resource.getrusage(resource.RUSAGE_SELF)
        err, res = None, None
        t0, p0 = time.time(), time.perf_counter()
        try:
            with self.tracer.span("op", index):
                res = op.run()
        except Exception as e:  # an operation that raises counts as failed
            err = f"raised {type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
        lat = time.perf_counter() - p0
        t1 = time.time()
        self.tracer.enabled = False
        ru1 = resource.getrusage(resource.RUSAGE_SELF)
        if err is None:
            try:
                err = op.check(wrong_answer(res) if self.args.wrong_answer else res)
            except Exception as e:
                err = f"check raised {type(e).__name__}: {e}"
        if err is None and lat > OP_TIMEOUT_S:
            err = f"took {lat:.1f}s > {OP_TIMEOUT_S}s"
        if err:
            print(f"perfbench: op {index} ({op.kind}) failed: {err}", file=sys.stderr)
        items = op.items(res) if err is None else 0
        after = getattr(self.wl, "after_op", None)
        if after:
            after(op)
        return {
            "index": index, "kind": op.kind, "lat": lat, "start": t0, "end": t1,
            "ok": err is None, "err": err, "items": items, "traced": traced,
            "py_cpu_s": (ru1.ru_utime - ru0.ru_utime) + (ru1.ru_stime - ru0.ru_stime),
            "result": res if self.args.trace else None, "op": op,
        }

    def execute(self) -> dict:
        a = self.args
        t0 = time.perf_counter()
        self.wl.setup()
        layout_s = time.perf_counter() - t0
        self.warm = []
        # one operation of each kind, from the first cycle, before timing;
        # independent kinds warm up concurrently (cold starts mostly wait)
        cycle = self.wl.cycle
        self.wl.warming = True
        for group in self.wl.warm_groups:
            ops = [self.wl.next_op(cycle.index(kind)) for kind in group]
            with ThreadPoolExecutor(max_workers=len(ops)) as pool:
                futures = [pool.submit(self.run_op, op, f"warm-{op.kind}", False) for op in ops]
                self.warm += [f.result() for f in futures]
        self.wl.warming = False
        # then whole cycles at full size, one operation at a time
        first = len(cycle)
        for i in range(first, first + self.wl.warm_cycles * len(cycle)):
            self.warm.append(self.run_op(self.wl.next_op(i), f"warm-{i}", False))
        first += self.wl.warm_cycles * len(cycle)
        setup_s = self.session_s + time.perf_counter() - t0
        self.setup_parts = {"session_s": self.session_s, "layout_s": layout_s,
                            "warmup_s": setup_s - self.session_s - layout_s}
        ops = []
        start = time.monotonic()
        # whole cycles only, at least the workload's timed_cycles (two or
        # more). A traced run traces every other operation, swapping which
        # between cycles, so each position in the cycle is timed once
        # traced and once untraced.
        need = self.wl.timed_cycles * len(cycle)
        while True:
            if len(ops) % len(cycle) == 0 and len(ops) >= need:
                if time.monotonic() - start >= a.seconds:
                    break
            if time.monotonic() - self.t_begin > HARD_LIMIT_S:
                break
            i = first + len(ops)
            traced = bool(a.trace) and sum(divmod(len(ops), len(cycle))) % 2 == 0
            ops.append(self.run_op(self.wl.next_op(i), i, traced=traced))
        self.ops = ops
        out = {"setup_s": setup_s}
        if a.trace:
            out["probes"] = self.layer_probes()
        out["peak_rss_mb"] = self.session.peak_rss_mb()
        return out

    def layer_probes(self) -> dict:
        """Direct calls into single layers on the run's own inputs."""
        import numpy as np
        from pyspark.sql import functions as F

        from perfbench import inputs
        from perfbench.workloads import max_file_rows_over_mean, read_table
        from rust_s2_spark.functions import s2_cell_from_latlng
        from rust_s2_spark.kernels import cellid as k
        from rust_s2_spark.operators.covering_join import covering_ranges, region_filter
        from rust_s2_spark.plans.stats import build_cell_stats
        from rust_s2_spark.sources.images import read_images_table, write_images_table

        wl, p = self.wl, {}
        t = read_table(wl.table, ["lat", "lng"])
        lat, lng = t.column("lat").to_numpy()[:100_000], t.column("lng").to_numpy()[:100_000]

        def ns_per_row(fn, rows):
            ts = []
            for _ in range(3):
                t = time.perf_counter()
                fn()
                ts.append(time.perf_counter() - t)
            return statistics.median(ts) * 1e9 / rows

        p["kernels.cell_from_latlng_ns_per_row"] = ns_per_row(lambda: k.cell_from_latlng(lat, lng), len(lat))
        cells = k.cell_from_latlng(lat, lng)
        p["kernels.parent_ns_per_row"] = ns_per_row(lambda: k.parent(cells, 7), len(cells))
        c10 = k.parent(cells[:5_000], 10)
        p["kernels.all_neighbors_ns_per_row"] = ns_per_row(lambda: k.all_neighbors(c10, 10), len(c10))

        regions = wl.regions
        if not regions:
            from rust_s2_spark.geometry import Cap

            rng = np.random.default_rng(self.args.seed)
            sel = rng.choice(len(lat), size=12, replace=False)
            regions = [Cap.from_latlng_degrees(float(lat[j]), float(lng[j]), float(rng.uniform(0.05, 5)))
                       for j in sel]
        ms, ncells = [], []
        for r in regions:
            t = time.perf_counter()
            cov = covering_ranges(r)
            ms.append((time.perf_counter() - t) * 1000.0)
            ncells.append(len(cov.lo))
        p["geometry.covering_ms_per_region"] = statistics.median(ms)
        p["geometry.covering_cells_per_region"] = statistics.fmean(ncells)

        p["sources.max_file_rows_over_mean"] = max_file_rows_over_mean(wl.table)

        # table writes of one fixed size into fresh key ranges, after the
        # session has written before (no cold start in them)
        n_w, ts = self.ctx.scale["ingest_images"], []
        for j in range(3):
            out = self.dirs.path("data", f"probe_write_{j}")
            sf = inputs.write_orders(out + "__orders", 90_000_000 + j * n_w, n_w)
            t = time.perf_counter()
            write_images_table(self.ctx.spark, sf, out, with_bytes=False,
                               n_buckets=self.ctx.scale["ingest_buckets"])
            ts.append(time.perf_counter() - t)
        p["sources.write_s_per_1k_images"] = statistics.median(ts) * 1000.0 / n_w

        img = read_images_table(self.ctx.spark, wl.table)
        # single-region scans: the workload's own when it has them,
        # otherwise region_filter counts of the run's regions over the
        # workload's stored table
        p["_scans"] = []
        if not wl.scan_kinds:
            for r in regions[:6]:
                t0 = time.time()
                n = region_filter(img, r).count()
                p["_scans"].append({"kind": "probe_cap", "start": t0, "end": time.time(), "items": n})

        self.tracer.enabled = True
        # UDF boundary: one projection with and one without the UDF on two
        # sizes of the run's own points (cached), so that the fixed
        # per-task cost (worker start, UDF set-up, scheduling) cancels in
        # the slope between the sizes. The first round warms up.
        import pandas as pd

        big = self.ctx.scale["udf_rows"]
        frames = {
            rows: self.ctx.spark.createDataFrame(
                pd.DataFrame({"lat": np.resize(lat, rows), "lng": np.resize(lng, rows)})).cache()
            for rows in (big // 10, big)
        }
        for f in frames.values():
            f.count()
        variants = {"plain": (F.col("lat") * 1e6 + F.col("lng")).cast("long"),
                    "udf": s2_cell_from_latlng("lat", "lng")}
        p["_udf_runs"] = []
        for rnd in range(4):
            for rows, f in frames.items():
                for variant, col in variants.items():
                    with self.tracer.span("functions.udf_probe", "probe", group=True):
                        f.select(col.alias("c")).agg(F.sum(F.col("c") % 7)).collect()
                    if rnd:
                        p["_udf_runs"].append((variant, rows, self.tracer.spans[-1]["group"]))
        for f in frames.values():
            f.unpersist()
        t = time.perf_counter()
        with self.tracer.span("plans.build_cell_stats", "probe", group=True):
            build_cell_stats(img, levels=(7,)).collect()
        p["plans.stats_build_s"] = time.perf_counter() - t
        self.tracer.enabled = False
        if wl.knn_batches:
            # kNN serving: probe batches through a streaming_knn query over
            # the stored table; the first batch warms the query up
            from perfbench.workloads import KnnServer

            server = KnnServer(wl)
            try:
                for j in range(wl.knn_batches):
                    i = 1_000_000 + j
                    self.probe_ops.append(self.run_op(server.op(i, j), f"knn-{j}", False))
            finally:
                server.close()
        cand = getattr(wl, "candidates_per_kept_pair", None)
        if cand:
            v = cand(self.ops)
            if v is not None:
                p["operators.dedup.candidates_per_kept_pair"] = v
        return p

    def close(self) -> None:
        try:
            if self.wl is not None:
                self.wl.close()
        finally:
            if self.session is not None:
                self.session.stop()


def end_to_end(state: dict, ops: list[dict], wl) -> tuple[dict, dict]:
    busy = sum(o["lat"] for o in ops)
    ok = [o for o in ops if o["ok"]]
    lats = [o["lat"] for o in ops]
    t_val, t_pct, t_beyond = tail(lats)
    m = {
        "setup_s": state["setup_s"],
        "ops_per_s": len(ok) / busy,
        "items_per_s": sum(o["items"] for o in ok) / busy,
        "op_p50_s": statistics.median(lats),
        "op_tail_s": t_val,
        "peak_rss_mb": state["peak_rss_mb"],
        "stored_bytes_per_item": wl.bytes_stored / max(1, wl.images_stored),
    }
    by_kind: dict[str, list[float]] = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(o["lat"])
    detail = {"op_tail_pct": round(t_pct, 2), "op_tail_samples_beyond": t_beyond, "ops": len(ops),
              "kind_p50_s": {k: round(statistics.median(v), 4) for k, v in by_kind.items()},
              "op_lat_s": [[o["kind"], round(o["lat"], 4)] for o in ops]}
    return m, detail


def per_layer(runner: Runner, state: dict) -> tuple[dict, dict]:
    from perfbench.trace import EventLog, event_metrics, find_event_log, span_metrics

    ops, wl, probes = runner.ops, runner.wl, dict(state["probes"])
    path = find_event_log(runner.dirs.path("events"))
    log = EventLog(path)
    m = event_metrics(log, ops)
    traced = [o for o in ops if o["traced"]]
    sm = span_metrics(log, runner.tracer.spans, traced)
    out = {k: v for k, v in probes.items() if not k.startswith(("_", "operators.dedup"))}

    # rows the scans read over the rows the single-region queries return
    scans = [o for o in ops if o["kind"] in wl.scan_kinds and o["ok"]] or probes["_scans"]
    scan_kind: dict[str, list[float]] = {}
    for o in scans:
        r = scan_kind.setdefault(o["kind"], [0.0, 0.0])
        r[0] += log.records_read(o["start"], o["end"])
        r[1] += o["items"]
    read, returned = (sum(r[i] for r in scan_kind.values()) for i in (0, 1))
    out["sources.scan_rows_per_result_row"] = read / max(1.0, returned)

    # UDF boundary: slope of summed task run time between the two probe
    # sizes, UDF projection minus plain projection, less the kernel's own
    # time per row
    run_ms: dict[tuple[str, int], list[float]] = {}
    sent: list[float] = []
    for variant, rows, gid in probes["_udf_runs"]:
        tasks = log.tasks_of(log.groups.get(gid, []))
        run_ms.setdefault((variant, rows), []).append(sum(t["run_ms"] for t in tasks))
        if variant == "udf":
            sent.append(sum(
                log.sql_metric(t, "data sent to Python workers")
                + log.sql_metric(t, "data returned from Python workers") for t in tasks) / rows)
    med = {key: statistics.median(v) for key, v in run_ms.items()}
    small, big = sorted({rows for _, rows in med})
    extra = {rows: med[("udf", rows)] - med[("plain", rows)] for rows in (small, big)}
    slope_ms = (extra[big] - extra[small]) / (big - small)
    out["functions.udf_overhead_ns_per_row"] = slope_ms * 1e6 - probes["kernels.cell_from_latlng_ns_per_row"]
    out["functions.python_bytes_per_row"] = statistics.median(sent)
    out.update({k: v for k, v in m.items() if not k.startswith("_")})
    for key in ("operators.s_per_call", "operators.jobs_per_call",
                "operators.shuffle_write_bytes_per_call", "trace.unattributed_frac"):
        out[key] = sm[key]
    # traced over untraced latency of the same cycle position
    L = len(wl.cycle)
    ratios = []
    for c0 in range(0, len(ops) - 2 * L + 1, 2 * L):
        for j in range(c0, c0 + L):
            t, u = (ops[j], ops[j + L]) if ops[j]["traced"] else (ops[j + L], ops[j])
            ratios.append(t["lat"] / u["lat"])
    out["trace.overhead_frac"] = statistics.median(ratios) - 1.0 if ratios else 0.0

    specific = {}
    specific["functions.udf_fixed_ms_per_projection"] = extra[small] - slope_ms * small
    for kind, (r, n) in scan_kind.items():
        specific[f"sources.scan_rows_per_result_row.{kind}"] = r / max(1.0, n)
    if "operators.dedup.candidates_per_kept_pair" in probes:
        specific["operators.dedup.candidates_per_kept_pair"] = probes["operators.dedup.candidates_per_kept_pair"]
    knn_ops = runner.probe_ops[1:]
    if knn_ops:
        from perfbench.workloads import KnnServer

        results = sum(o["items"] for o in knn_ops) * KnnServer.k
        shuffled = event_metrics(log, knn_ops)["_shuffle_records"]
        specific["operators.knn.shuffle_records_per_result"] = shuffled / max(1, results)
        specific["operators.streaming_knn.s_per_batch"] = statistics.median(o["lat"] for o in knn_ops)
        specific["streaming.jobs_per_batch"] = statistics.fmean(
            len(log.jobs_in(o["start"] * 1000, o["end"] * 1000)) for o in knn_ops)
        specific.update(KnnServer.progress_metrics(knn_ops))
    for fn, c in sm["calls"].items():
        if fn.startswith("operators."):
            for key in ("s_per_call", "jobs_per_call", "shuffle_write_bytes_per_call"):
                specific[f"{fn}.{key}"] = c[key]
    detail = {
        "workload_specific": specific,
        "self_s": sm["self_s"],
        "unattributed_s": sm["unattributed_s"],
        "traced_op_wall_s": sm["op_wall_s"],
        "traced_ops": len(traced),
        "untraced_ops": len(ops) - len(traced),
        "spans": runner.tracer.spans,
    }
    return out, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "region_query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    ap.add_argument("--wrong-answer", action="store_true",
                    help="corrupt every result before its check (self-test of the gate)")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(env.ROOT, "rust_s2_spark")):
        print(f"perfbench: no rust_s2_spark package under {env.ROOT}", file=sys.stderr)
        return 2

    runner = Runner(args)
    try:
        try:
            runner.start()
            state = runner.execute()
        finally:
            runner.close()
        ops = runner.ops
        all_ops = runner.warm + ops + runner.probe_ops
        failed = sum(1 for o in all_ops if not o["ok"])
        e2e, detail = end_to_end(state, ops, runner.wl)
        detail.update(runner.host.finish())
        detail["setup_parts"] = runner.setup_parts
        detail["warmup_lat"] = {o["kind"]: round(o["lat"], 3) for o in runner.warm}
        detail["failed_op_frac"] = failed / len(all_ops)
        detail["errors"] = [f"{o['index']}: {o['err']}" for o in all_ops if o["err"]][:10]
        detail["wall_s"] = time.monotonic() - runner.t_begin
        if args.trace:
            metrics, tdetail = per_layer(runner, state)
            units = load_units("per_layer")
            os.makedirs(env.OUT_DIR, exist_ok=True)
            with open(os.path.join(env.OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed, "per_layer": metrics,
                           "end_to_end_traced": e2e, **detail, **tdetail}, f, indent=1, default=str)
        else:
            metrics, units = e2e, END_TO_END
        print(json.dumps({"detail": detail}))
        print(json.dumps({
            "correct": failed == 0, "attempted": len(all_ops), "failed": failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items() if k in units},
        }))
        return 0 if failed == 0 else 1
    finally:
        runner.dirs.close()


def load_units(section: str) -> dict[str, str]:
    with open(os.path.join(env.ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


if __name__ == "__main__":
    sys.exit(main())
