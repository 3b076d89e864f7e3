"""The benchmark workloads.

Each workload class has these phases, driven by ``run.py``:

- ``setup()``: write the seeded inputs under the run's work directory
  (timed with the session start, three times; ``setup_s`` takes the median);
- ``cold_op()``: the first op after the last set-up, cold (timed and
  added to ``setup_s``);
- ``heap_op()``: the second op, under tracemalloc (not in ``setup_s``),
  for the driver's heap peak;
- ``measure()``: the timed phase, ``ops_for(--seconds)`` runs of ``op()``;
  each op's result is verified by ``check_op`` after the clock stops;
- ``finish()``: checks that need one more Spark action, after timing;
- ``layers()``: the per-layer numbers of one traced operation.

Ops call only the engine's public functions, with the generated inputs.
"""

from __future__ import annotations

import gzip
import http.client
import os
import shutil
import statistics
import threading
import time
import tracemalloc

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from . import gen
from . import trace as tr


def write_parquet_parts(pdf: pd.DataFrame, path: str, parts: int):
    """Write ``pdf`` as ``parts`` equal part-files, one row group each."""
    os.makedirs(path, exist_ok=True)
    for name in os.listdir(path):
        os.remove(os.path.join(path, name))
    for k, chunk in enumerate(np.array_split(np.arange(len(pdf)), parts)):
        tbl = pa.Table.from_pandas(pdf.iloc[chunk], preserve_index=False)
        pq.write_table(tbl, os.path.join(path, f"part-{k:05d}.parquet"))


def ops_for(seconds: float) -> int:
    """Timed ops for a window of ``seconds``: one per 4 s (an op takes
    3-4.5 s on a 4-core box), at least three. The count depends on the
    window only, not on how fast the ops run: a time-boxed loop would give
    fast runs more, warmer ops to take the median over and so widen the
    run-to-run spread."""
    return max(3, round(seconds / 4))


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    @property
    def spark(self):
        return self.ctx.spark

    def path(self, *parts) -> str:
        return os.path.join(self.ctx.work, *parts)

    def verdict(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)

    def measure(self, seconds: float) -> dict:
        """The timed phase: op wall times (and request latencies, where
        the workload serves requests)."""
        return {"walls": self.timed_ops(ops_for(seconds))}

    def cold_op(self) -> None:
        """The first op after a fresh JVM, unchecked: it runs two to four
        times as long as a warm one (JIT, codegen cache, Python workers),
        so it is set-up, not a sample."""
        self.op()

    def heap_op(self) -> float:
        """The second op, with tracemalloc on: the peak (MB) of the
        Python heap the driver allocates during the op, above its level
        when the op starts. Memory the driver held before the op (the
        benchmark's own inputs) does not count; Arrow buffers outside the
        Python heap are not seen. The op is checked like a timed one."""
        tracemalloc.start()
        try:
            res = self.op()
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        self.check_op(res)
        return peak / 1e6

    def finish(self) -> None:
        """Checks that need one more Spark action, after timing."""

    def timed_ops(self, n: int) -> list[float]:
        """Run ``op`` ``n`` times; returns each op's wall time. Results are
        checked after the clock stops."""
        walls, results = [], []
        for _ in range(n):
            t0 = time.perf_counter()
            results.append(self.op())
            walls.append(time.perf_counter() - t0)
        for res in results:
            self.check_op(res)
        return walls

    def codec_probe(self, blobs: list[bytes], fmt: str, quality: int) -> dict[str, float]:
        """Per-tile decode and encode time, single-threaded on the driver,
        through the engine's public codec functions."""
        from versatiles_rs_spark.codecs import decode_image, encode_image

        t0 = time.perf_counter()
        imgs = [decode_image(b) for b in blobs]
        t1 = time.perf_counter()
        for img in imgs:
            encode_image(img, fmt, quality=quality)
        t2 = time.perf_counter()
        n = max(len(blobs), 1)
        return {"codecs.decode_ms": (t1 - t0) * 1e3 / n, "codecs.encode_ms": (t2 - t1) * 1e3 / n}


# ---------------------------------------------------------------------------


class IngestEncode(Workload):
    """Stored images table -> pipeline.flagship_scan (fused Arrow scan +
    decode/encode/tile kernel, 200-polygon PIP join, aggregate)."""

    name = "ingest_encode"
    n_images = 2000
    n_polygons = 200

    def setup(self) -> None:
        cpus = self.ctx.cpus
        self.images = gen.images_table(self.ctx.seed, self.n_images)
        write_parquet_parts(self.images, self.path("images"), 4 * cpus)
        self._pin_split_size(self.path("images"))

    def _pin_split_size(self, path: str) -> None:
        # same sizing as pipeline.run_flagship_scan: about 4 scan tasks per core
        total = sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
        want = self.spark.sparkContext.defaultParallelism * 4
        self.spark.conf.set("spark.sql.files.maxPartitionBytes", str(max(1 << 20, total // want)))

    def _run(self, path: str):
        from versatiles_rs_spark.pipeline import flagship_scan

        t = self.ctx.tracer
        with t.span("pipeline.build"):
            df = flagship_scan(self.spark, path, n_polygons=self.n_polygons)
        with t.span("pipeline.action"):
            rows = df.collect()
        return df, rows

    def op(self):
        return self._run(self.path("images"))[1]

    def expected(self) -> dict[str, int]:
        if not hasattr(self, "_expected"):
            from versatiles_rs_spark.fixtures import polygons_pdf

            lon, lat = gen.image_lonlat(self.images["image_id"], self.images["phash"].to_numpy())
            self._expected = gen.pip_counts(lon, lat, polygons_pdf(self.n_polygons))
        return self._expected

    def check_op(self, rows) -> None:
        got: dict[str, int] = {}
        for r in rows:
            got[r["poly_id"]] = got.get(r["poly_id"], 0) + int(r["n_images"])
        ok = got == self.expected() and all(r["tile_bytes"] > 0 and r["z"] == 12 for r in rows)
        self.verdict(ok, f"flagship_scan per-polygon counts differ ({sum(got.values())} joined)")

    def items_per_op(self) -> float:
        return self.n_images + sum(self.expected().values())

    def layers(self) -> dict[str, float]:
        t = self.ctx.tracer
        with tr.job_group(self.spark, "traced-op"):
            df, rows = self._run(self.path("images"))
        self.check_op(rows)
        out = tr.group_stats(self.spark, "traced-op")
        out = {f"spark.{k}": v for k, v in out.items()}
        out.update(tr.plan_layers(df))
        out.update(tr.pip_layers(df))
        out.update(tr.scan_layers(df))
        out["pipeline.build_s"] = t.total("pipeline.build")
        out["pipeline.action_s"] = t.total("pipeline.action")
        sample = np.random.default_rng(self.ctx.seed).choice(len(self.images), 40, replace=False)
        out.update(self.codec_probe([self.images["bytes"].iloc[i] for i in sample], *self.tile_codec()))
        return out

    @staticmethod
    def tile_codec() -> tuple[str, int]:
        """The format and quality ``flagship_scan`` encodes its tiles with
        (its defaults: target format, and the quality table at its zoom)."""
        import inspect

        from versatiles_rs_spark.operators.raster import parse_quality_table
        from versatiles_rs_spark.pipeline import flagship_scan

        p = inspect.signature(flagship_scan).parameters
        table = parse_quality_table(p["quality"].default)
        return p["target_fmt"].default, table.get(p["zoom"].default, table["default"])


# ---------------------------------------------------------------------------


class ExportServe(Workload):
    """Base tiles -> sinks.checkpoint.build_pyramid_resumable ->
    sources.pmtiles.write_pmtiles, then read_pmtiles and
    server.serve_from_config under a closed loop of HTTP clients."""

    name = "export_serve"
    z_max, z_min = 6, 5
    n_base = 400
    n_requests = 40

    def setup(self) -> None:
        self.base = gen.base_tiles(self.ctx.seed, self.z_max, self.n_base)
        shutil.rmtree(self.path("export"), ignore_errors=True)
        write_parquet_parts(self.base, self.path("base"), self.ctx.cpus)
        self.n_exports = 0

    def _export(self, base_path: str):
        from versatiles_rs_spark.sinks.checkpoint import build_pyramid_resumable
        from versatiles_rs_spark.sources.pmtiles import write_pmtiles

        t = self.ctx.tracer
        self.n_exports += 1
        out = self.path("export", f"run{self.n_exports}")
        base = self.spark.read.parquet(base_path)
        # one job group per layer call, so a traced run can count each
        with t.span("operators.raster.pyramid"), tr.job_group(self.spark, f"pyramid-{self.n_exports}"):
            levels = build_pyramid_resumable(
                self.spark, base, os.path.join(out, "levels"), self.z_max, self.z_min,
                tile_size=64, payload="bytes", fmt="png",
            )
        union = None
        for z in sorted(levels):
            lv = levels[z].select("z", "x", "y", "bytes")
            union = lv if union is None else union.unionByName(lv)
        archive = self.archive = os.path.join(out, "tiles.pmtiles")
        with t.span("sources.pmtiles.write"), tr.job_group(self.spark, f"write-{self.n_exports}"):
            n = write_pmtiles(union, archive, tile_type="png")
        self.levels = levels
        return archive, n

    def _mount(self, archive: str):
        from versatiles_rs_spark.server import serve_from_config

        cfg = os.path.join(os.path.dirname(archive), "server.yml")
        with open(cfg, "w") as f:
            f.write("server:\n  ip: 127.0.0.1\ntiles:\n")
            f.write(f"  - name: bench\n    path: {os.path.basename(archive)}\n")
        with self.ctx.tracer.span("server.mount"):
            srv, url, skipped = serve_from_config(self.spark, cfg, port=0)
        if skipped:
            srv.shutdown()
            srv.server_close()
            raise RuntimeError(f"archive not mounted: {skipped}")
        return srv, url

    @staticmethod
    def _get(url: str, key) -> tuple[int, bytes]:
        host, port = url.split("://", 1)[1].split(":")
        conn = http.client.HTTPConnection(host, int(port), timeout=120)
        try:
            z, x, y = key
            conn.request("GET", f"/tiles/bench/{z}/{x}/{y}", headers={"Accept-Encoding": "gzip"})
            resp = conn.getresponse()
            body = resp.read()
            if resp.getheader("Content-Encoding") == "gzip":
                body = gzip.decompress(body)
            return resp.status, body
        finally:
            conn.close()

    def op(self):
        return self._export(self.path("base"))

    def check_op(self, res) -> None:
        archive, n = res
        self.verdict(n == self.expected_tiles(), f"archive has {n} tiles, pyramid {self.expected_tiles()}")

    def expected_tiles(self) -> int:
        """Pyramid size from the base keys alone: each level keeps the
        distinct parents (x >> 1, y >> 1) of the level below."""
        xy = set(zip(self.base["x"], self.base["y"]))
        n = len(xy)
        for _ in range(self.z_max - self.z_min):
            xy = {(x >> 1, y >> 1) for x, y in xy}
            n += len(xy)
        return n

    def items_per_op(self) -> float:
        return self.expected_tiles()

    def measure(self, seconds: float) -> dict:
        """Repeated exports for the window, then a fixed-count closed loop
        of HTTP clients against the last archive."""
        walls = self.timed_ops(ops_for(seconds))
        srv, url = self._mount(self.archive)
        try:
            lat, statuses = self.serve(url, self.requests())
        finally:
            srv.shutdown()
            srv.server_close()
        return {"walls": walls, "latencies": lat, "statuses": statuses}

    def payloads(self) -> dict:
        if not hasattr(self, "_payloads"):
            self._payloads = {
                (int(r["z"]), int(r["x"]), int(r["y"])): bytes(r["bytes"])
                for lv in self.levels.values()
                for r in lv.select("z", "x", "y", "bytes").collect()
            }
        return self._payloads

    def requests(self) -> list:
        if not hasattr(self, "_requests"):
            self._requests = gen.zipf_requests(self.ctx.seed, list(self.payloads()), self.n_requests)
        return self._requests

    def serve(self, url: str, keys: list, clients: int | None = None):
        """Closed loop of ``clients`` (default nproc / 2): each sends its
        next request when the last one returns. Returns per-request
        latencies (s) and statuses, in request order."""
        lat = [0.0] * len(keys)
        got: list = [None] * len(keys)
        nxt = iter(range(len(keys)))
        lock = threading.Lock()

        def client():
            while True:
                with lock:
                    i = next(nxt, None)
                if i is None:
                    return
                t0 = time.perf_counter()
                try:
                    got[i] = self._get(url, keys[i])
                except (OSError, http.client.HTTPException) as e:
                    got[i] = (599, repr(e).encode())
                lat[i] = time.perf_counter() - t0

        clients = clients or max(1, self.ctx.cpus // 2)
        threads = [threading.Thread(target=client) for _ in range(clients)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        payloads = self.payloads()
        for key, (status, body) in zip(keys, got):
            want = payloads.get(tuple(key))
            ok = (status == 200 and body == want) if want is not None else status == 404
            self.verdict(ok, f"GET {key}: {status}")
        return lat, [s for s, _ in got]

    def finish(self) -> None:
        from versatiles_rs_spark.sources.pmtiles import read_pmtiles

        n = read_pmtiles(self.spark, self.archive).count()
        self.verdict(n == self.expected_tiles(), f"read back {n} tiles")

    def layers(self) -> dict[str, float]:
        from versatiles_rs_spark.sources.containers import get_tile
        from versatiles_rs_spark.sources.pmtiles import read_pmtiles, read_pmtiles_header

        t = self.ctx.tracer
        archive, n = self._export(self.path("base"))
        self.check_op((archive, n))
        pyramid = tr.group_stats(self.spark, f"pyramid-{self.n_exports}")
        write = tr.group_stats(self.spark, f"write-{self.n_exports}")
        out = {f"spark.{k}": pyramid[k] + write[k] for k in pyramid}
        h = read_pmtiles_header(archive)
        out["operators.raster.pyramid_s"] = t.total("operators.raster.pyramid")
        out["operators.raster.tiles_out"] = float(n)
        out["sources.pmtiles.write_s"] = t.total("sources.pmtiles.write")
        out["sources.pmtiles.write_jobs"] = float(write["jobs"])
        out["sources.pmtiles.bytes_per_tile"] = os.path.getsize(archive) / max(n, 1)
        out["sources.pmtiles.contents_ratio"] = h["tile_contents"] / max(h["addressed_tiles"], 1)
        with t.span("sources.pmtiles.read"):
            read_pmtiles(self.spark, archive).count()
        out["sources.pmtiles.read_s"] = t.total("sources.pmtiles.read")

        srv, url = self._mount(archive)
        try:
            out["server.mount_s"] = t.total("server.mount")
            probe = self.requests()[:10]
            sc = self.spark.sparkContext
            before = len(sc.statusTracker().getJobIdsForGroup(None))
            # one client, so the HTTP latency compares with sequential get_tile
            lat, _ = self.serve(url, probe, clients=1)
            jobs = len(sc.statusTracker().getJobIdsForGroup(None)) - before
            df = read_pmtiles(self.spark, archive)
            direct = []
            for key in probe:
                t0 = time.perf_counter()
                get_tile(df, *key)
                direct.append(time.perf_counter() - t0)
        finally:
            srv.shutdown()
            srv.server_close()
        out["server.jobs_per_request"] = jobs / len(probe)
        out["sources.containers.get_tile_ms"] = statistics.median(direct) * 1e3
        out["server.http_overhead_ms"] = (statistics.median(lat) - statistics.median(direct)) * 1e3
        sample = [self.base["bytes"].iloc[i] for i in range(0, self.n_base, self.n_base // 40)][:40]
        out.update(self.codec_probe(sample, "png", 90))
        return out


# ---------------------------------------------------------------------------


def frame_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive hash of a result's column names and values."""
    import hashlib

    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = sorted(pdf.astype(str).itertuples(index=False, name=None))
    return hashlib.md5(str((list(pdf.columns), rows)).encode()).hexdigest()


class AnalyticsTail(Workload):
    """Registry queries whose DataFrame build runs Spark jobs on the driver
    (guarded solves, eager probes), plus a relational control, over seeded
    tables; one op is one pass over the queries in seeded order."""

    name = "analytics_tail"
    queries = ("st_dbscan_events", "tpch_q3")

    def setup(self) -> None:
        os.makedirs(self.path("sf"), exist_ok=True)
        for name, pdf in gen.tail_tables(self.ctx.seed).items():
            tbl = pa.Table.from_pandas(pdf, preserve_index=False)
            pq.write_table(tbl, self.path("sf", f"{name}.parquet"))
        self.order = gen.tail_order(self.ctx.seed, self.queries)
        self.n_passes = 0

    def _query(self, name: str):
        """Build one registry query, then run it to pandas; a job group per
        query, so a traced pass can count each."""
        from versatiles_rs_spark.queries import REGISTRY

        t = self.ctx.tracer
        with tr.job_group(self.spark, f"{name}-{self.n_passes}"):
            with t.span(f"queries.{name}.build"):
                df = REGISTRY[name].fn(self.spark, self.path("sf"))
            with t.span(f"queries.{name}.action"):
                pdf = df.toPandas()
        return df, pdf

    def _pass(self) -> dict:
        self.n_passes += 1
        return {name: self._query(name) for name in self.order}

    def op(self):
        return {name: pdf for name, (_, pdf) in self._pass().items()}

    def oracle_hashes(self) -> dict[str, str]:
        """Each query's DuckDB oracle over the same tables, hashed; run once,
        on the first check, after the timed phase."""
        if not hasattr(self, "_oracle"):
            import duckdb
            from versatiles_rs_spark.queries import REGISTRY

            con = duckdb.connect()
            try:
                for f in os.listdir(self.path("sf")):
                    con.execute(f"CREATE VIEW {f.split('.')[0]} AS SELECT * FROM "
                                f"read_parquet('{self.path('sf', f)}')")
                self._oracle = {q: frame_hash(con.execute(REGISTRY[q].oracle).fetchdf())
                                for q in self.queries}
            finally:
                con.close()
        return self._oracle

    def check_op(self, results: dict) -> None:
        want = self.oracle_hashes()
        for name, pdf in results.items():
            ok = len(pdf) > 0 and frame_hash(pdf) == want[name]
            self.verdict(ok, f"{name}: {len(pdf)} rows differ from the DuckDB oracle")

    def items_per_op(self) -> float:
        return len(self.queries)

    def layers(self) -> dict[str, float]:
        t = self.ctx.tracer
        dfs = self._pass()
        self.check_op({name: pdf for name, (_, pdf) in dfs.items()})
        out: dict[str, float] = {}
        for name, (df, _) in dfs.items():
            g = tr.group_stats(self.spark, f"{name}-{self.n_passes}")
            for k, v in g.items():
                out[f"spark.{k}"] = out.get(f"spark.{k}", 0.0) + v
            for k, v in tr.plan_layers(df).items():
                out[k] = out.get(k, 0.0) + v
            out[f"queries.{name}.build_s"] = t.total(f"queries.{name}.build")
            out[f"queries.{name}.action_s"] = t.total(f"queries.{name}.action")
            out[f"queries.{name}.jobs"] = float(g["jobs"])
            out[f"queries.{name}.stages"] = float(g["stages"])
        out["queries.build_s"] = sum(out[f"queries.{q}.build_s"] for q in self.queries)
        out["queries.action_s"] = sum(out[f"queries.{q}.action_s"] for q in self.queries)
        return out


WORKLOADS = {w.name: w for w in (IngestEncode, ExportServe, AnalyticsTail)}
