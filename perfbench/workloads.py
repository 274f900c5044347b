"""The workloads. Each builds its seeded inputs in ``setup`` and
then hands out operations one at a time (a closed loop with one
client). An operation's ``run`` is the timed call into the package;
its ``check`` compares the output with an independent answer from
``oracle``; ``items`` counts the work it completed."""

from __future__ import annotations

import glob
import math
import os
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

from . import inputs, oracle


@dataclass
class Op:
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], "str | None"]
    items: Callable[[Any], int]


@dataclass
class Ctx:
    spark: Any
    tracer: Any
    rng: np.random.Generator
    data_dir: str
    scale: dict
    op_id: Any = None


def _table_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def table_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in _table_files(path))


def read_table(path: str, columns: list[str]):
    import pyarrow.parquet as pq

    return pq.read_table(_table_files(path), columns=columns)


def max_file_rows_over_mean(path: str) -> float:
    import pyarrow.parquet as pq

    rows = [pq.ParquetFile(f).metadata.num_rows for f in _table_files(path)]
    rows = [r for r in rows if r > 0]
    return max(rows) / (sum(rows) / len(rows)) if rows else 1.0


class Workload:
    """Operations come in a fixed cycle of kinds; a timed phase runs
    whole cycles, so every run completes the same mix."""

    name = ""
    cycle: tuple = ()
    #: warm-up stages: the kinds in one stage run concurrently
    warm_groups: tuple = ()
    #: whole cycles run untimed after the warm-up stages
    warm_cycles = 0
    #: fewest whole cycles a run times, whatever --seconds says: ops get
    #: faster for many cycles, so a run that sometimes stops one cycle
    #: earlier would shift every metric
    timed_cycles = 2
    #: kNN probe batches a traced run serves over the stored table
    knn_batches = 0
    #: regions whose coverings the traced run times (geometry layer)
    regions: list
    #: op kinds that scan the stored table for one region and return its
    #: row count (sources.scan_rows_per_result_row)
    scan_kinds: tuple = ()

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.rng = ctx.rng
        self.table = ""
        self.images_stored = 0
        self.bytes_stored = 0
        self.regions = []
        self.warming = False

    def size(self, key: str, div: int = 4) -> int:
        """Input size of an operation; warm-up operations use a
        fraction of it (they only need to exercise each plan once)."""
        n = self.ctx.scale[key]
        return max(1, n // div) if self.warming else n

    # -- helpers ---------------------------------------------------------
    def call(self, fn_name: str, build, action):
        """One operator call: build the plan, run its action. Both sit in
        one span and one Spark job group; the action is a child span."""
        with self.tr.span(f"operators.{fn_name}", self.ctx.op_id, group=True):
            df = build()
            with self.tr.span("driver.action", self.ctx.op_id):
                return action(df)

    def write_images(self, sf: str, out: str, n_buckets: int) -> None:
        from rust_s2_spark.sources.images import write_images_table

        with self.tr.span("sources.write_images_table", self.ctx.op_id, group=True):
            write_images_table(self.spark, sf, out, with_bytes=False, n_buckets=n_buckets)

    def load_points(self):
        t = read_table(self.table, ["image_id", "lat", "lng", "phash"])
        ids = np.array([int(x) for x in t.column("image_id").to_pylist()], dtype=np.int64)
        order = np.argsort(ids)
        self.ids = ids[order]
        self.lat = t.column("lat").to_numpy()[order]
        self.lng = t.column("lng").to_numpy()[order]
        self.phash = t.column("phash").to_numpy()[order]
        self.pts = inputs.xyz(self.lat, self.lng)

    def stored_table(self, first_key: int, n: int, n_buckets: int) -> None:
        self.table = os.path.join(self.ctx.data_dir, f"{self.name}_images")
        sf = inputs.write_orders(self.table + "__orders", first_key, n)
        self.write_images(sf, self.table, n_buckets)
        self.images_stored, self.bytes_stored = n, table_bytes(self.table)
        self.load_points()

    def setup(self) -> None:
        raise NotImplementedError

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
class Ingest(Workload):
    """The ingest pipeline. ``write``: a fresh key range through
    ``write_images_table``, ``image_tiles`` with a per-tile count and
    ``build_cell_stats``. ``vote``: ``ensemble_dedup_vote`` over a
    seeded window of a generated caption corpus. ``phash``:
    ``phash_hamming_pairs`` over the latest stored images' phash plus
    planted near copies."""

    name = "ingest"
    cycle = ("write", "vote", "phash")
    # phash reads the table a write op stored
    warm_groups = (("write", "vote"), ("phash",))
    timed_cycles = 3
    tile_level = 10
    max_dist = 6

    def setup(self) -> None:
        self.base = 20_000_000 + int(self.rng.integers(0, 1000)) * 100_000
        self.doc_ids, self.texts = inputs.documents(self.rng, 3 * self.ctx.scale["nd_docs"])

    def next_op(self, i: int) -> Op:
        kind = self.cycle[i % len(self.cycle)]
        if kind == "vote":
            return self._vote_op(i)
        if kind == "phash":
            return self._phash_op(i)
        return self._write_op(i)

    def _write_op(self, i: int) -> Op:
        from pyspark.sql import functions as F

        from rust_s2_spark.kernels import cellid as k
        from rust_s2_spark.operators.tiles import image_tiles
        from rust_s2_spark.plans.stats import build_cell_stats
        from rust_s2_spark.sources.images import read_images_table

        n = self.size("ingest_images")
        first = self.base + i * self.ctx.scale["ingest_images"]
        out = os.path.join(self.ctx.data_dir, f"ingest_{i}")
        sf = inputs.write_orders(out + "__orders", first, n)
        rng = np.random.default_rng([i, int(self.rng.integers(1 << 30))])
        sample_keys = rng.choice(n, size=min(200, n), replace=False) + first
        # the sampled images' own tiles select which per-tile counts the
        # action returns; the verdict compares them with the stored rows
        slat, slng, _ = inputs.derive_images(sample_keys)
        own = k.parent(k.cell_from_latlng(slat, slng), self.tile_level).view(np.int64)
        own = [int(c) for c in np.unique(own)]

        def run():
            self.write_images(sf, out, self.ctx.scale["ingest_buckets"])
            img = read_images_table(self.spark, out)
            tiles = self.call(
                "image_tiles",
                lambda: image_tiles(img, self.tile_level).groupBy("tile_cell").count(),
                lambda df: df.agg(
                    F.count("*"), F.sum("count"),
                    F.collect_list(F.when(F.col("tile_cell").isin(own), F.struct("tile_cell", "count"))),
                ).first(),
            )
            stats = self.call(
                "build_cell_stats",
                lambda: build_cell_stats(img, levels=(7,)),
                lambda df: df.collect(),
            )
            return out, tiles, stats

        def check(res):
            path, (n_tiles, n_rows, tile_rows), stats = res
            t = read_table(path, ["image_id", "lat", "lng", "phash", "cell_id", "cell_id_biased"])
            keys = np.array([int(x) for x in t.column("image_id").to_pylist()], dtype=np.int64)
            if len(keys) != n or not np.array_equal(np.sort(keys), np.arange(first, first + n)):
                return f"stored keys differ ({len(keys)} rows)"
            lat, lng, ph = inputs.derive_images(keys)
            if not (np.array_equal(lat, t.column("lat").to_numpy())
                    and np.array_equal(lng, t.column("lng").to_numpy())
                    and np.array_equal(ph, t.column("phash").to_numpy())):
                return "stored lat/lng/phash differ from the derivation"
            cells = t.column("cell_id").to_numpy()
            if not np.array_equal(oracle.biased(cells), t.column("cell_id_biased").to_numpy()):
                return "cell_id_biased is not cell_id with the sign bit flipped"
            lo_hi = []
            for f in _table_files(path):
                b = read_table_file(f)
                if len(b):
                    if np.any(np.diff(b) < 0):
                        return f"{os.path.basename(f)} is not sorted by cell_id_biased"
                    lo_hi.append((b[0], b[-1]))
            lo_hi.sort()
            if any(lo_hi[j][1] > lo_hi[j + 1][0] for j in range(len(lo_hi) - 1)):
                return "file cell ranges overlap"
            u = cells.view(np.uint64)
            p7, n7 = np.unique(oracle.parent(u, 7), return_counts=True)
            got = {int(np.int64(r["cell"]).view(np.uint64)): int(r["n"]) for r in stats if r["level"] == 7}
            if got != dict(zip(p7.tolist(), n7.tolist())):
                return "level-7 cell stats differ"
            if not (8 * n <= n_rows <= 9 * n):
                return f"{n_rows} tile rows for {n} images"
            sel = np.isin(keys, sample_keys)
            pc, pn = np.unique(oracle.parent(u, self.tile_level), return_counts=True)
            own = dict(zip(pc.tolist(), pn.tolist()))
            want = {int(c) for c in oracle.parent(u[sel], self.tile_level).tolist()}
            got_t = {int(np.int64(r["tile_cell"]).view(np.uint64)): int(r["count"]) for r in tile_rows}
            if set(got_t) != want or any(got_t[c] < own[c] for c in want) or n_tiles < len(own):
                return "tile counts miss images' own tiles"
            return None

        op = Op("write", run, check, lambda res: n)
        op.path, op.n = out, n
        return op

    def after_op(self, op: Op) -> None:
        """Account a write op's stored bytes; keep only its table."""
        import shutil

        if op.kind != "write":
            return
        self.images_stored += op.n
        self.bytes_stored += table_bytes(op.path)
        self.table = op.path
        keep = op.path
        for d in glob.glob(os.path.join(self.ctx.data_dir, "ingest_*")):
            if d != keep:
                shutil.rmtree(d, ignore_errors=True)

    def _vote_op(self, i: int) -> Op:
        import pandas as pd

        from rust_s2_spark.operators.dedup import ensemble_dedup_vote

        rng = np.random.default_rng([i, int(self.rng.integers(1 << 30))])
        n = self.size("nd_docs")
        off = int(rng.integers(0, len(self.texts) - n))
        ids = self.doc_ids[off : off + n]
        texts = {int(a): t for a, t in zip(ids, self.texts[off : off + n])}
        docs = self.spark.createDataFrame(
            pd.DataFrame({"doc_id": ids, "text": list(texts.values())})
        )

        def run():
            return self.call(
                "ensemble_dedup_vote",
                lambda: ensemble_dedup_vote(docs, "text", "doc_id"),
                lambda df: [(int(r[0]), int(r[1]), float(r[2]), r[3], bool(r[4])) for r in df.collect()],
            )

        op = Op("vote", run, lambda rows: oracle.vote_check(texts, rows), lambda rows: n)
        op.docs = docs
        return op

    def _phash_op(self, i: int) -> Op:
        """Stored images' phash (the latest written table) plus planted
        near copies."""
        import pandas as pd

        from rust_s2_spark.operators.dedup import phash_hamming_pairs
        from pyspark.sql import functions as F

        from rust_s2_spark.sources.images import read_images_table

        rng = np.random.default_rng([i, int(self.rng.integers(1 << 30))])
        t = read_table(self.table, ["image_id", "phash"])
        stored_ids = np.array([int(x) for x in t.column("image_id").to_pylist()], dtype=np.int64)
        stored_ph = t.column("phash").to_numpy()
        m = min(self.size("nd_phash"), len(stored_ids))
        sel = np.sort(rng.choice(len(stored_ids), size=m, replace=False))
        ids, ph = stored_ids[sel], stored_ph[sel]
        planted = max(1, m // 20)
        src = rng.choice(m, size=planted, replace=False)
        flips = np.zeros(planted, dtype=np.int64)
        for j in range(planted):
            for b in rng.choice(64, size=int(rng.integers(1, self.max_dist + 1)), replace=False):
                flips[j] |= np.int64(1) << np.int64(b) if b < 63 else np.int64(-(1 << 63))
        all_ids = np.concatenate([ids, 10**12 + np.arange(planted, dtype=np.int64)])
        all_ph = np.concatenate([ph, ph[src] ^ flips])
        want = oracle.hamming_pairs(all_ids, all_ph, self.max_dist)
        planted_df = self.spark.createDataFrame(
            pd.DataFrame({"img": all_ids[m:], "phash": all_ph[m:]})
        )
        keys = [str(x) for x in ids.tolist()]
        table = self.table

        def run():
            stored = read_images_table(self.spark, table).where(F.col("image_id").isin(keys)).select(
                F.col("image_id").cast("long").alias("img"), "phash"
            )
            return self.call(
                "phash_hamming_pairs",
                lambda: phash_hamming_pairs(stored.unionByName(planted_df), "img", "phash",
                                            max_dist=self.max_dist),
                lambda df: {(int(r[0]), int(r[1])) for r in df.collect()},
            )

        def check(got):
            if got != want:
                return f"{len(got)} pairs, want {len(want)} ({len(got ^ want)} differ)"
            return None

        return Op("phash", run, check, lambda got: len(all_ids))

    def candidates_per_kept_pair(self, ops: list[dict]) -> float | None:
        """minhash candidates ÷ kept pairs on the first timed vote op's
        corpus (one extra public call, traced runs only)."""
        from rust_s2_spark.operators.dedup import minhash_lsh_pairs

        for o in ops:
            if o["kind"] == "vote" and o.get("result") is not None:
                kept = sum(1 for r in o["result"] if r[4])
                cands = minhash_lsh_pairs(o["op"].docs, "text", "doc_id", n=5, bands=4).count()
                return cands / kept if kept else None
        return None


def read_table_file(path: str) -> np.ndarray:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=["cell_id_biased"]).column("cell_id_biased").to_numpy()


# ---------------------------------------------------------------------------
class RegionQuery(Workload):
    """Read path: seeded caps, rects and loops over a stored,
    range-sorted table, and three batch joins per cycle (1k caps,
    geofence exclusion, within-distance). Each query ends in a small
    aggregate. Traced runs also serve kNN probe batches through
    ``streaming_knn`` over the same table (``KnnServer``)."""

    name = "region_query"
    # 11 of 15 ops are single caps and rects of similar cost, so the
    # median falls well inside that group rather than between kinds
    cycle = ("join_1k", "cap", "rect", "cap", "loop", "cap", "within", "cap",
             "rect", "cap", "anti", "cap", "rect", "cap", "cap")
    warm_groups = (("join_1k", "cap", "rect", "loop", "within", "anti"),)
    # the first full-size cycles still run well above steady latency
    warm_cycles = 1
    knn_batches = 4
    scan_kinds = ("cap", "rect", "loop")
    # rows a single-region query is sized to return, cycled per slot
    targets = (40, 400, 4000)

    def setup(self) -> None:
        s = self.ctx.scale
        self.stored_table(10_000_000 + int(self.rng.integers(0, 1000)) * 10_000, s["rq_images"], 64)
        from rust_s2_spark.sources.images import read_images_table

        self.img = read_images_table(self.spark, self.table)
        self.regions = []
        for i in range(12):
            self.regions.append(self._cap(np.random.default_rng([7, i, int(self.rng.integers(1 << 30))]), i)[0])

    def _nth(self, i: int) -> int:
        """How many operations of this kind came before it."""
        L, j = len(self.cycle), i % len(self.cycle)
        kind = self.cycle[j]
        return (i // L) * self.cycle.count(kind) + self.cycle[:j].count(kind)

    def _cap(self, rng, nth):
        """A cap on a hotspot (even nth) or the background, sized to
        return the nth target row count."""
        from rust_s2_spark.geometry import Cap

        lat, lng = inputs.query_center(rng, hotspot=nth % 2 == 0)
        c = inputs.xyz(lat, lng)
        r = inputs.radius_for_count(self.pts, c, self.targets[(nth // 2) % 3], 0.05, 5.0)
        r *= rng.uniform(0.9, 1.1)
        return Cap.from_latlng_degrees(lat, lng, r), lat, lng, r

    def _count(self, fn_name, build):
        from pyspark.sql import functions as F

        return self.call(fn_name, build, lambda df: df.agg(F.count("*")).first()[0])

    def next_op(self, i: int) -> Op:
        from rust_s2_spark.geometry import Rect
        from rust_s2_spark.geometry.loop import Loop
        from rust_s2_spark.operators.covering_join import (
            region_anti_join,
            region_filter,
            region_join_ancestors,
            within_distance_join_df,
        )
        from rust_s2_spark.operators.pip import pip_filter

        rng = np.random.default_rng([i, int(self.rng.integers(1 << 30))])
        kind = self.cycle[i % len(self.cycle)]
        nth = self._nth(i)
        pts = self.pts

        if kind == "cap":
            cap, *_ = self._cap(rng, nth)
            want = oracle.band(*oracle.cap_members(pts, np.array(cap.center), cap.radius2))
            return Op(kind, lambda: self._count("region_filter", lambda: region_filter(self.img, cap)),
                      _in_band(want), int)
        if kind == "rect":
            _, lat, lng, r = self._cap(rng, nth)
            h = r * 0.9
            la0, lo0 = inputs.offset(lat, lng, -h, -h)
            la1, lo1 = inputs.offset(lat, lng, h, h)
            la0, la1 = max(la0, -89.0), min(la1, 89.0)
            lo0, lo1 = max(lo0, -179.9), min(lo1, 179.9)
            rect = Rect.from_degrees(la0, lo0, la1, lo1)
            want = oracle.band(*oracle.rect_members(
                self.lat, self.lng, rect.lat.lo, rect.lat.hi, rect.lng.lo, rect.lng.hi))
            return Op(kind, lambda: self._count("region_filter", lambda: region_filter(self.img, rect)),
                      _in_band(want), int)
        if kind == "loop":
            _, lat, lng, r = self._cap(rng, nth)
            verts = inputs.loop_vertices(rng, lat, lng, r, (4, 10, 16)[nth % 3])
            lp = Loop.from_latlng_degrees(verts)
            want = oracle.band(*oracle.convex_loop_members(pts, lp.vertices))
            return Op(kind, lambda: self._count("pip_filter", lambda: pip_filter(self.img, lp)),
                      _in_band(want), int)
        if kind == "join_1k":
            from rust_s2_spark.geometry import Cap

            n = self.size("rq_join_caps", 10)
            caps = []
            for j in range(n):
                lat, lng = inputs.query_center(rng, hotspot=rng.random() < 0.3)
                caps.append(Cap.from_latlng_degrees(lat, lng, float(rng.uniform(0.05, 1.0))))
            sample = rng.choice(n, size=min(40, n), replace=False)

            def run():
                return self.call(
                    "region_join_ancestors",
                    lambda: region_join_ancestors(self.spark, self.img, caps, list(range(n)))
                    .groupBy("region_id").count(),
                    lambda df: {int(r[0]): int(r[1]) for r in df.collect()},
                )

            def check(got):
                for j in sample:
                    lo, hi = oracle.band(*oracle.cap_members(pts, np.array(caps[j].center), caps[j].radius2))
                    if not lo <= got.get(int(j), 0) <= hi:
                        return f"region {j}: {got.get(int(j), 0)} rows, want {lo}..{hi}"
                return None

            return Op(kind, run, check, lambda got: sum(got.values()))
        if kind == "anti":
            from rust_s2_spark.geometry import Cap

            caps = []
            for j in range(6):
                lat, lng = inputs.query_center(rng, hotspot=j < 3)
                r = rng.uniform(0.05, 0.15) if j < 3 else rng.uniform(1.0, 5.0)
                caps.append(Cap.from_latlng_degrees(lat, lng, float(r)))
            inside = np.zeros(len(pts), bool)
            edge = np.zeros(len(pts), bool)
            for c in caps:
                a, e = oracle.cap_members(pts, np.array(c.center), c.radius2)
                inside |= a
                edge |= e
            sure_in, maybe_in = oracle.band(inside, edge)
            n = len(pts)
            return Op(kind,
                      lambda: self._count("region_anti_join", lambda: region_anti_join(self.spark, self.img, caps)),
                      _in_band((n - maybe_in, n - sure_in)), lambda kept: n - kept)
        # within: a probe set drawn near stored rows, fixed radius
        m = self.size("rq_within_probes")
        sel = rng.choice(len(pts), size=m, replace=False)
        qlat = self.lat[sel] + rng.uniform(-0.01, 0.01, m)
        qlng = np.clip(self.lng[sel] + rng.uniform(-0.01, 0.01, m), -180, 180)
        qid = np.arange(m, dtype=np.int64)
        radius = 0.05 * float(rng.uniform(0.95, 1.05))
        probes = self.spark.createDataFrame(
            [(int(a), float(b), float(c)) for a, b, c in zip(qid, qlat, qlng)],
            "query_id long, qlat double, qlng double",
        )
        r2 = (2 * math.sin(math.radians(radius) / 2)) ** 2
        qx = inputs.xyz(qlat, qlng)
        sample = rng.choice(m, size=min(30, m), replace=False)

        def run():
            return self.call(
                "within_distance_join_df",
                lambda: within_distance_join_df(self.img, probes, radius).groupBy("query_id").count(),
                lambda df: {int(r[0]): int(r[1]) for r in df.collect()},
            )

        def check(got):
            for j in sample:
                lo, hi = oracle.band(*oracle.cap_members(pts, qx[j], r2))
                if not lo <= got.get(int(j), 0) <= hi:
                    return f"probe {j}: {got.get(int(j), 0)} pairs, want {lo}..{hi}"
            return None

        return Op(kind, run, check, lambda got: sum(got.values()))


def _in_band(want):
    lo, hi = want

    def check(got):
        return None if lo <= got <= hi else f"{got} rows, want {lo}..{hi}"

    return check


# ---------------------------------------------------------------------------
class KnnServer:
    """kNN serving over a workload's stored table: a ``streaming_knn``
    query (facts persisted by the query, stats injected); one operation
    drops one probe file into its inbox and waits until that
    micro-batch is committed to the sink."""

    k = 3
    # probes at 84-89° N, where the stored table has no rows (its
    # latitudes stop at 80°), so every batch widens past round 1
    polar = 4

    def __init__(self, wl: Workload):
        from rust_s2_spark.plans.stats import build_cell_stats
        from rust_s2_spark.streaming import streaming_knn

        self.wl, self.tr = wl, wl.tr
        d = wl.ctx.data_dir
        self.inbox, self.staging = os.path.join(d, "knn_inbox"), os.path.join(d, "knn_staging")
        os.makedirs(self.inbox)
        os.makedirs(self.staging)
        self.sink = os.path.join(d, "knn_sink")
        schema = "query_id long, qlat double, qlng double"
        stream = wl.spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(self.inbox)
        with self.tr.span("plans.build_cell_stats", "setup", group=True):
            stats = build_cell_stats(wl.img, levels=(7,))
        self.query = streaming_knn(
            wl.img, stream, self.k, sink_path=self.sink,
            checkpoint_path=os.path.join(d, "knn_ckpt"), stats=stats, radius_guess_deg=2.0,
        )
        self.next_qid = 0
        self.batches = 0

    def op(self, i: int, nth: int) -> Op:
        import pyarrow as pa
        import pyarrow.parquet as pq

        wl = self.wl
        rng = np.random.default_rng([i, int(wl.rng.integers(1 << 30))])
        m = wl.ctx.scale["knn_batch"][nth % len(wl.ctx.scale["knn_batch"])]
        # probes next to stored rows, hotspot and background in the
        # table's own proportions (30/70), plus the polar probes
        sel = rng.choice(len(wl.pts), size=m - self.polar, replace=False)
        qlat = np.concatenate([wl.lat[sel] + rng.uniform(-0.01, 0.01, len(sel)),
                               rng.uniform(84.0, 89.0, self.polar)])
        qlng = np.concatenate([np.clip(wl.lng[sel] + rng.uniform(-0.01, 0.01, len(sel)), -180, 180),
                               rng.uniform(-179.0, 179.0, self.polar)])
        qid = np.arange(self.next_qid, self.next_qid + m, dtype=np.int64)
        self.next_qid += m
        name = f"probes-{qid[0]:08d}.parquet"
        pq.write_table(pa.table({"query_id": qid, "qlat": qlat, "qlng": qlng}),
                       os.path.join(self.staging, name))
        sample = np.concatenate([rng.choice(m - self.polar, size=min(10, m - self.polar), replace=False),
                                 np.arange(m - self.polar, m)])

        def run():
            batch = self.batches
            with self.tr.span("sources.drop_file", wl.ctx.op_id):
                os.rename(os.path.join(self.staging, name), os.path.join(self.inbox, name))
            # the batch runs knn_join_df inside streaming_knn's foreachBatch
            with self.tr.span("operators.streaming_knn", wl.ctx.op_id):
                with self.tr.span("streaming.wait", wl.ctx.op_id):
                    prog = self._await(batch, m)
            self.batches += 1
            return batch, prog

        def check(res):
            batch, _ = res
            part = glob.glob(os.path.join(self.sink, f"__batch_id={batch}", "*.parquet"))
            t = pq.read_table(part, columns=["query_id", "rank", "image_id", "dist_chord2"])
            got_q = t.column("query_id").to_numpy()
            if len(got_q) != m * self.k or len(np.unique(got_q)) != m:
                return f"{len(got_q)} result rows for {m} probes"
            gi = np.array([int(x) for x in t.column("image_id").to_pylist()], dtype=np.int64)
            gd = t.column("dist_chord2").to_numpy()
            for j in sample:
                sel = got_q == qid[j]
                err = oracle.knn_check(wl.pts, wl.ids, inputs.xyz(qlat[j], qlng[j]),
                                       self.k, gi[sel], gd[sel])
                if err:
                    return f"probe {qid[j]}: {err}"
            return None

        return Op("knn", run, check, lambda res: m)

    def _await(self, batch: int, rows: int) -> dict:
        """Block until the dropped file is processed and committed (the
        call waits inside the JVM, so the benchmark does not poll), then
        return that micro-batch's progress."""
        self.query.processAllAvailable()
        for p in reversed(self.query.recentProgress):
            if p["batchId"] == batch and p["numInputRows"] > 0:
                if p["numInputRows"] != rows:
                    raise RuntimeError(f"batch {batch} read {p['numInputRows']} rows, expected {rows}")
                return p
        raise RuntimeError(f"no progress reported for batch {batch}")

    @staticmethod
    def progress_metrics(ops: list[dict]) -> dict:
        progs = [o["result"][1] for o in ops if o.get("result")]
        if not progs:
            return {}
        import statistics as st

        trig = [p["durationMs"].get("triggerExecution", 0) for p in progs]
        add = [p["durationMs"].get("addBatch", 0) for p in progs]
        return {
            "streaming.trigger_ms": st.median(trig),
            "streaming.add_batch_ms": st.median(add),
            "streaming.overhead_ms": st.median([t - a for t, a in zip(trig, add)]),
        }

    def close(self) -> None:
        self.query.stop()


WORKLOADS = {w.name: w for w in (Ingest, RegionQuery)}
