"""The benchmark workloads, and the streaming layer probed in a traced run.

Each workload generates its inputs from the seed, computes its reference
answer, and then runs one repetition at a time in a closed loop: the driver
process starts the next repetition only after the previous one returned. A
repetition times only the calls into the package; its correctness check runs
after the timer stops, on every repetition.

- crawl_join: pages -> geotag extraction -> cell-prefiltered PIP join ->
  tile ownership -> (url, osm_id, tile_key) rows and per-tile doc counts
  (plans.pipeline.flagship). Extraction and the join do the work; build3d and
  the B3DM sink do none.
- city_seed: buildings -> cells -> ownership -> params -> build3d -> batch
  tables -> B3DM files + tileset.json (the package's seed command). build3d
  and the file sink do the work; text extraction and the PIP join do none.

A repetition of either workload is a sequence of small Spark jobs whose fixed
cost (planning, scheduling, Python worker round trips) falls for a minute or
more while the JVM warms up. The inputs are sized so that per-row work
outweighs that drift: a crawl_join repetition takes as long at 10,000 pages as
at 40,000, and in one run its repetitions fell by 40% over a minute at 40,000
pages but stayed within 20% of each other at 200,000.

`traced()` runs one repetition again with every layer's input materialised
before that layer's span opens, so each span holds that layer's work only.
crawl_join's traced run also probes the streaming layer (StreamTiles): one
parquet file of (ts, x, y) points per trigger into the watermarked per-tile
tumbling counts (streaming.events.streaming_tile_counts) with its state store.
"""

from __future__ import annotations

import collections
import os
import shutil
import time
from dataclasses import dataclass, field

import pandas as pd

from . import gen, reference, stats

ROWS_PER_TRIGGER = 20_000
TRACED_TRIGGERS = 10


@dataclass
class Rep:
    items: int
    seconds: float
    problems: list[str] = field(default_factory=list)


def _file_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
        if not f.startswith((".", "_"))
    )


def _materialize(df):
    """Cache a DataFrame and run it, so the next span starts from its rows."""
    df = df.persist()
    df.count()
    return df


class CrawlJoin:
    name = "crawl_join"
    item = "docs"
    warm_reps = 1  # the cold repetition; the median absorbs the ~15% slower next one
    n_pages = 160_000
    n_buildings = 1_600
    trace_problems: list[str] = []

    def __init__(self, spark, workdir: str, seed: int, partitions: int):
        self.spark, self.seed = spark, seed
        self.workdir, self.partitions = workdir, partitions
        self.pages_path = os.path.join(workdir, "pages.parquet")
        self.buildings_path = os.path.join(workdir, "buildings.parquet")

    def generate(self) -> None:
        self._pages = gen.make_pages(self.seed, self.n_pages)
        self._buildings = gen.make_buildings(self.seed, self.n_buildings)
        gen.write(self._pages, self.pages_path)
        gen.write(self._buildings, self.buildings_path)

    def prepare_reference(self) -> None:
        blds = self._buildings[self._buildings["layer"] == "buildings"]
        self.ref_pairs = reference.join_pairs(reference.page_points(self._pages), blds)
        self.ref_owner = reference.owner_tiles(blds)
        del self._pages, self._buildings

    def _inputs(self):
        from osm_data_3d_tiles_spark.sources.tables import read_pages

        return read_pages(self.spark, self.pages_path), self.spark.read.parquet(self.buildings_path)

    def run_once(self) -> Rep:
        from osm_data_3d_tiles_spark.plans.pipeline import flagship

        t0 = time.perf_counter()
        pages, buildings = self._inputs()
        out = flagship(pages, buildings)
        rows = (
            out["join_rows"].join(out["tile_assignment"], "osm_id")
            .select("url", "osm_id", "tile_key").collect()
        )
        counts = out["tile_doc_counts"].collect()
        assignment = out["tile_assignment"].collect()
        secs = time.perf_counter() - t0
        self.spark.catalog.clearCache()
        return Rep(self.n_pages, secs, self.check(rows, counts, assignment))

    def check(self, rows, counts, assignment) -> list[str]:
        problems = []
        pairs = {(r["url"], int(r["osm_id"])) for r in rows}
        if len(pairs) != len(rows):
            problems.append(f"{len(rows) - len(pairs)} duplicate join rows")
        if pairs != self.ref_pairs:
            problems.append(
                f"join pairs differ from reference: {len(pairs - self.ref_pairs)} extra, "
                f"{len(self.ref_pairs - pairs)} missing"
            )
        owner = collections.Counter(int(r["osm_id"]) for r in assignment)
        multi = [k for k, v in owner.items() if v != 1]
        if multi:
            problems.append(f"{len(multi)} buildings with more than one tile_key")
        got_owner = {int(r["osm_id"]): r["tile_key"] for r in assignment}
        if got_owner != self.ref_owner:
            wrong = {k for k in set(got_owner) | set(self.ref_owner)
                     if got_owner.get(k) != self.ref_owner.get(k)}
            problems.append(f"{len(wrong)} buildings with a tile_key other than the reference")
        if any(got_owner.get(int(r["osm_id"])) != r["tile_key"] for r in rows):
            problems.append("join rows carry a tile_key other than the assignment's")
        per_tile = {r["tile_key"]: int(r["docs"]) for r in counts}
        if sum(per_tile.values()) != len(rows):
            problems.append(f"tile doc counts sum to {sum(per_tile.values())}, not {len(rows)}")
        if per_tile != dict(collections.Counter(r["tile_key"] for r in rows)):
            problems.append("tile doc counts differ from the join rows grouped by tile")
        return problems

    def traced(self, tracer) -> dict:
        from pyspark.sql import functions as F

        from osm_data_3d_tiles_spark.functions import mercator as m
        from osm_data_3d_tiles_spark.operators.cells import building_cells_multi, with_cell_id
        from osm_data_3d_tiles_spark.operators.ownership import owner_tiles
        from osm_data_3d_tiles_spark.operators.spatial_join import pages_with_cell, spatial_join
        from osm_data_3d_tiles_spark.plans.pipeline import extract_pages

        metrics = {}
        with tracer.span(self.name):
            with tracer.span("sources"):
                pages, buildings = self._inputs()
                pages = _materialize(pages)
                blds = _materialize(buildings.filter(F.col("layer") == "buildings"))
            metrics["sources.rows"] = pages.count() + buildings.count()
            metrics["sources.bytes"] = _file_bytes(self.pages_path) + _file_bytes(self.buildings_path)

            with tracer.span("extract"):
                extracted = _materialize(extract_pages(pages))
            n_pages = extracted.count()
            metrics["extract.pages"] = n_pages
            metrics["extract.geotag_ratio"] = (
                extracted.filter(F.col("lat").isNotNull()).count() / max(n_pages, 1)
            )
            points = _materialize(extracted.filter(F.col("lat").isNotNull()).select("url", "x", "y"))

            with tracer.span("cells"):
                multi = _materialize(building_cells_multi(blds, (m.Z_LEAF, 20)))
            n_blds = blds.count()
            metrics["cells.buildings"] = n_blds
            metrics["cells.cells_per_building"] = multi.count() / max(n_blds, 1)
            cells16 = _materialize(multi.filter(F.col("z") == m.Z_LEAF).select("osm_id", "tile_x", "tile_y"))
            cells20 = _materialize(multi.filter(F.col("z") == 20).select("osm_id", "tile_x", "tile_y"))

            with tracer.span("ownership"):
                owners = _materialize(owner_tiles(cells16))
            metrics["ownership.tiles"] = owners.select("tile_key").distinct().count()
            assignment = _materialize(owners.select("osm_id", "tile_key"))

            with tracer.span("spatial_join"):
                with tracer.span("spatial_join.build") as build:
                    join_df = spatial_join(
                        points, blds, z=20, page_cols=("url",), building_cols=("osm_id",),
                        precomputed_cells=cells20, refine="broadcast",
                    )
                with tracer.span("spatial_join.refine") as refine:
                    join_rows = _materialize(join_df)
            metrics["spatial_join.build_s"] = build.end - build.start
            metrics["spatial_join.refine_s"] = refine.end - refine.start
            cand = pages_with_cell(points, 20).join(
                F.broadcast(with_cell_id(cells20, 20).select("osm_id", "cell")), "cell"
            ).count()
            matches = join_rows.count()
            metrics["spatial_join.candidates"] = cand
            metrics["spatial_join.matches"] = matches
            metrics["spatial_join.match_ratio"] = matches / max(cand, 1)

            # the per-tile doc count expression of plans.pipeline.flagship
            with tracer.span("tile_counts"):
                (
                    join_rows.join(F.broadcast(assignment), "osm_id")
                    .groupBy("tile_key").agg(F.count("*").alias("docs")).collect()
                )
        self.spark.catalog.clearCache()
        metrics.update(self._traced_stream(tracer))
        return metrics

    def _traced_stream(self, tracer) -> dict:
        """The streaming layer: the same z16 tile math in small stateful
        micro-batches, under its own root span after the crawl join's."""
        probe = StreamTiles(self.spark, self.workdir, self.seed, self.partitions)
        probe.generate()
        try:
            for _ in range(probe.warm_reps):
                probe.run_once()
            metrics = probe.traced(tracer)
            self.trace_problems = probe.check()
        finally:
            probe.stop()
        return metrics


class CitySeed:
    name = "city_seed"
    item = "buildings"
    warm_reps = 1
    n_buildings = 240
    trace_problems: list[str] = []

    def __init__(self, spark, workdir: str, seed: int):
        self.spark, self.seed = spark, seed
        self.buildings_path = os.path.join(workdir, "buildings.parquet")
        self.out_root = os.path.join(workdir, "seed_out")
        self._rep = 0

    def generate(self) -> None:
        self._buildings = gen.make_buildings(self.seed, self.n_buildings)
        gen.write(self._buildings, self.buildings_path)

    def prepare_reference(self) -> None:
        blds = self._buildings[self._buildings["layer"] == "buildings"]
        self.n_items = len(blds)
        self.ref_owner = reference.owner_tiles(blds)
        self.ref_per_tile = collections.Counter(self.ref_owner.values())
        del self._buildings

    def _out_dir(self) -> str:
        self._rep += 1
        out = os.path.join(self.out_root, f"rep{self._rep}")
        shutil.rmtree(out, ignore_errors=True)
        return out

    def run_once(self) -> Rep:
        from pyspark.sql import functions as F

        from osm_data_3d_tiles_spark.functions.params import with_building_params
        from osm_data_3d_tiles_spark.operators.batch_table import batch_tables
        from osm_data_3d_tiles_spark.operators.build3d import build_tiles_3d
        from osm_data_3d_tiles_spark.operators.cells import building_cells
        from osm_data_3d_tiles_spark.operators.ownership import owner_tiles
        from osm_data_3d_tiles_spark.plans.tileset import write_tileset
        from osm_data_3d_tiles_spark.sinks.b3dm import seed_tiles

        out = self._out_dir()
        t0 = time.perf_counter()
        blds = self.spark.read.parquet(self.buildings_path).filter(F.col("layer") == "buildings")
        owners = owner_tiles(building_cells(blds)).select("osm_id", "tile_key")
        assigned = blds.join(owners, "osm_id")
        tiles = build_tiles_3d(with_building_params(assigned))
        batch = batch_tables(assigned)
        n_written = seed_tiles(tiles, batch, out)
        tileset_path = write_tileset(out, gen.EXTENT)
        secs = time.perf_counter() - t0
        problems = self.check(out, tileset_path, n_written)
        shutil.rmtree(out, ignore_errors=True)
        return Rep(self.n_items, secs, problems)

    def check(self, out: str, tileset_path: str, n_written: int) -> list[str]:
        problems = []
        b3dm_dir = os.path.join(out, "b3dm")
        files = sorted(f for f in os.listdir(b3dm_dir) if f.endswith(".b3dm"))
        if n_written != len(files):
            problems.append(f"seed_tiles reported {n_written} tiles, {len(files)} files exist")
        per_tile, total_bytes = {}, 0
        for f in files:
            with open(os.path.join(b3dm_dir, f), "rb") as fh:
                data = fh.read()
            total_bytes += len(data)
            try:
                head = reference.parse_b3dm_header(data)
            except ValueError as e:
                problems.append(f"{f}: {e}")
                continue
            if head["glb_magic"] != b"glTF":
                problems.append(f"{f}: body is not a glb")
            per_tile[f[:-len(".b3dm")]] = head["batch_length"]
        if sum(per_tile.values()) != self.n_items:
            problems.append(f"BATCH_LENGTH sums to {sum(per_tile.values())}, not {self.n_items}")
        if per_tile != dict(self.ref_per_tile):
            problems.append(
                f"tiles or per-tile BATCH_LENGTH differ from the reference owners: "
                f"{len(set(per_tile) ^ set(self.ref_per_tile))} tiles differ"
            )
        unreferenced = set(files) - reference.tileset_content_uris(tileset_path)
        if unreferenced:
            problems.append(f"{len(unreferenced)} b3dm files not referenced by tileset.json")
        self.last_bytes = total_bytes
        return problems

    def traced(self, tracer) -> dict:
        from pyspark.sql import functions as F

        from osm_data_3d_tiles_spark.functions.params import with_building_params
        from osm_data_3d_tiles_spark.operators.batch_table import batch_tables
        from osm_data_3d_tiles_spark.operators.build3d import build_tiles_3d
        from osm_data_3d_tiles_spark.operators.cells import building_cells
        from osm_data_3d_tiles_spark.operators.ownership import owner_tiles
        from osm_data_3d_tiles_spark.plans.tileset import write_tileset
        from osm_data_3d_tiles_spark.sinks.b3dm import seed_tiles

        metrics = {}
        out = self._out_dir()
        with tracer.span(self.name):
            with tracer.span("sources"):
                buildings = _materialize(self.spark.read.parquet(self.buildings_path))
                blds = _materialize(buildings.filter(F.col("layer") == "buildings"))
            metrics["sources.rows"] = buildings.count()
            metrics["sources.bytes"] = _file_bytes(self.buildings_path)

            with tracer.span("cells"):
                cells = _materialize(building_cells(blds))
            n_blds = blds.count()
            metrics["cells.buildings"] = n_blds
            metrics["cells.cells_per_building"] = cells.count() / max(n_blds, 1)

            with tracer.span("ownership"):
                owners = _materialize(owner_tiles(cells).select("osm_id", "tile_key"))
            metrics["ownership.tiles"] = owners.select("tile_key").distinct().count()
            assigned = _materialize(blds.join(owners, "osm_id"))

            with tracer.span("params"):
                with_params = _materialize(with_building_params(assigned))

            with tracer.span("build3d"):
                tiles = _materialize(build_tiles_3d(with_params))
            n_tiles = tiles.count()
            metrics["build3d.tiles"] = n_tiles
            n_vertices = tiles.agg(F.sum("n_vertices")).first()[0] or 0
            metrics["build3d.vertices_per_building"] = n_vertices / max(n_blds, 1)

            with tracer.span("batch_table"):
                batch = _materialize(batch_tables(assigned))
            metrics["batch_table.tiles"] = batch.count()

            with tracer.span("b3dm"):
                n_files = seed_tiles(tiles, batch, out)
            metrics["b3dm.files"] = n_files
            metrics["b3dm.bytes"] = _file_bytes(os.path.join(out, "b3dm"))
            metrics["b3dm.bytes_per_building"] = metrics["b3dm.bytes"] / max(n_blds, 1)

            with tracer.span("tileset"):
                tileset_path = write_tileset(out, gen.EXTENT)
            metrics["tileset.nodes"] = len(reference.tileset_nodes(tileset_path))
        self.spark.catalog.clearCache()
        shutil.rmtree(out, ignore_errors=True)
        return metrics


class StreamTiles:
    """One parquet file of ROWS_PER_TRIGGER points per trigger; a repetition is
    one trigger."""

    name = "stream_tiles"
    warm_reps = 10  # trigger time settles after about ten triggers
    query_name = "perfbench_tile_counts"

    def __init__(self, spark, workdir: str, seed: int, partitions: int):
        self.spark, self.seed, self.partitions = spark, seed, partitions
        self.staging = os.path.join(workdir, "staging")
        self.src = os.path.join(workdir, "src")
        self.ckpt = os.path.join(workdir, "ckpt")
        self.trigger = 0
        self.ingested: list[pd.DataFrame] = []
        self.query = None

    def generate(self) -> None:
        os.makedirs(self.staging, exist_ok=True)
        os.makedirs(self.src, exist_ok=True)
        self._stage_next()

    def _stage_next(self) -> None:
        self._staged = gen.make_stream_batch(self.seed, self.trigger, ROWS_PER_TRIGGER)
        self._staged_path = os.path.join(self.staging, f"part-{self.trigger:05d}.parquet")
        gen.write(self._staged, self._staged_path)

    def start(self) -> None:
        from osm_data_3d_tiles_spark.streaming.events import streaming_tile_counts

        # the state store's partition count is frozen into the checkpoint at first start
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.partitions))
        # keep the progress of every trigger of a run, not only the last 100
        self.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
        stream = (
            self.spark.readStream.schema("ts timestamp, x double, y double")
            .option("maxFilesPerTrigger", 1).parquet(self.src)
        )
        self.query = (
            streaming_tile_counts(stream, watermark="10 minutes")
            .writeStream.format("memory").queryName(self.query_name)
            .outputMode("update").option("checkpointLocation", self.ckpt).start()
        )

    def run_once(self) -> Rep:
        """One trigger: move the staged file into the source directory and wait
        until the query has processed it."""
        if self.query is None:
            self.start()
        t0 = time.perf_counter()
        os.replace(self._staged_path, os.path.join(self.src, os.path.basename(self._staged_path)))
        self.query.processAllAvailable()
        secs = time.perf_counter() - t0
        self.ingested.append(self._staged)
        self.trigger += 1
        self._stage_next()
        return Rep(ROWS_PER_TRIGGER, secs)

    def progress(self) -> list:
        """Progress of every trigger that read data, in batch order. The last
        trigger's progress may be posted just after processAllAvailable returns."""
        deadline = time.monotonic() + 10
        while True:
            events = [p for p in self.query.recentProgress if p.numInputRows > 0]
            if len(events) >= self.trigger or time.monotonic() > deadline:
                return events
            time.sleep(0.02)

    def check(self) -> list[str]:
        """Every trigger read exactly one file, and the sink's final
        per-(window, tile) counts equal the reference."""
        problems = []
        events = self.progress()
        if len(events) != self.trigger:
            problems.append(f"{self.trigger} files ingested but {len(events)} triggers read data")
        bad = [p.batchId for p in events if p.numInputRows != ROWS_PER_TRIGGER]
        if bad:
            problems.append(f"triggers {bad} did not read exactly one file")
        rows = self.spark.sql(
            f"select unix_micros(window_start) w, tile_x, tile_y, max(n_docs) n "
            f"from {self.query_name} group by 1, 2, 3"
        ).collect()
        got = {(int(r["w"]), int(r["tile_x"]), int(r["tile_y"])): int(r["n"]) for r in rows}
        want = reference.stream_counts(pd.concat(self.ingested, ignore_index=True))
        diff = {k for k in set(got) | set(want) if got.get(k) != want.get(k)}
        if diff:
            problems.append(f"{len(diff)} of {len(want)} (window, tile) counts differ from the reference")
        return problems

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def traced(self, tracer) -> dict:
        run_id = str(self.query.runId)
        seen = len(self.progress())
        jobs_before = tracer.jobs_in_group(run_id)
        with tracer.span(self.name):
            with tracer.span("stream") as span:
                for _ in range(TRACED_TRIGGERS):
                    self.run_once()
        events = self.progress()[seen:]
        span.extra_job_ids = sorted(tracer.jobs_in_group(run_id) - jobs_before)

        def p50(key):
            return stats.median([p.durationMs.get(key, 0) for p in events])

        state = events[-1].stateOperators[0]
        return {
            "stream.add_batch_ms_p50": p50("addBatch"),
            "stream.planning_ms_p50": p50("queryPlanning"),
            "stream.wal_commit_ms_p50": p50("walCommit"),
            "stream.rows_per_trigger": stats.median([p.numInputRows for p in events]),
            "stream.state_rows": state.numRowsTotal,
            "stream.state_mem_bytes": state.memoryUsedBytes,
        }
