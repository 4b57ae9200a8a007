"""End-to-end pipeline tests on the deterministic fixtures (sf=0.001), with
numpy brute-force oracles."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_data_3d_tiles_spark.functions import geometry as g
from osm_data_3d_tiles_spark.functions import mercator as m
from osm_data_3d_tiles_spark.functions import text as tx
from osm_data_3d_tiles_spark.operators.batch_table import batch_tables
from osm_data_3d_tiles_spark.operators.cells import building_cells, covered_cells_for_building
from osm_data_3d_tiles_spark.operators.knn import building_centroids, knn_bruteforce, knn_kring
from osm_data_3d_tiles_spark.operators.ownership import owner_tiles
from osm_data_3d_tiles_spark.operators.zonal import zonal_stats
from osm_data_3d_tiles_spark.plans.pipeline import extract_pages, flagship, geotagged_points
from osm_data_3d_tiles_spark.sources import fixtures as fx

SF = 0.001


@pytest.fixture(scope="module")
def pages_pdf():
    return pd.read_parquet(fx.ensure_fixture("pages", SF))


@pytest.fixture(scope="module")
def buildings_pdf():
    return pd.read_parquet(fx.ensure_fixture("buildings", SF))


@pytest.fixture(scope="module")
def pages(spark):
    return spark.read.parquet(fx.ensure_fixture("pages", SF))


@pytest.fixture(scope="module")
def buildings(spark):
    return spark.read.parquet(fx.ensure_fixture("buildings", SF))


def oracle_join(pages_pdf, buildings_pdf) -> set[tuple[str, int]]:
    """Brute-force PIP join oracle in numpy (no cell prefilter)."""
    geo = tx.extract_geotag(pages_pdf["html"])
    mask = geo["lat"].notna().to_numpy()
    x, y = m.lonlat_to_3857(geo["lon"].to_numpy(), geo["lat"].to_numpy())
    pts = np.column_stack([x, y])[mask]
    urls = pages_pdf["url"].to_numpy()[mask]

    out = set()
    for _, b in buildings_pdf.iterrows():
        if b["layer"] != "buildings":
            continue
        rings = [
            np.asarray([[float(p[0]), float(p[1])] for p in ring]) for ring in b["geometry"]
        ]
        inside = g.points_in_polygon(pts, rings)
        for u in urls[inside]:
            out.add((u, int(b["osm_id"])))
    return out


class TestExtract:
    def test_text_invariant(self, spark, pages, pages_pdf):
        """Byte-identical extracted text per url (input-hint invariant)."""
        ext = extract_pages(pages).select("url", "text_extracted").toPandas()
        truth = pages_pdf.set_index("url")["text"]
        joined = ext.set_index("url")["text_extracted"]
        assert len(joined) == len(truth)
        assert (joined.sort_index() == truth.sort_index()).all()

    def test_geotag_count(self, pages, pages_pdf):
        n_geo = geotagged_points(pages).count()
        expected = tx.extract_geotag(pages_pdf["html"])["lat"].notna().sum()
        assert n_geo == expected


class TestSpatialJoin:
    def test_join_rows_match_oracle(self, spark, pages, buildings, pages_pdf, buildings_pdf):
        got = flagship(pages, buildings)["join_rows"].toPandas()
        got_set = set(zip(got["url"], got["osm_id"].astype(int)))
        assert got_set == oracle_join(pages_pdf, buildings_pdf)

    def test_cogroup_refine_equals_broadcast(self, spark, pages, buildings):
        """The no-driver-materialization cogrouped refine (the >200k-building
        scale path) must produce the identical join."""
        from osm_data_3d_tiles_spark.operators.spatial_join import spatial_join
        from osm_data_3d_tiles_spark.plans.pipeline import geotagged_points

        pts = geotagged_points(pages)
        blds = buildings.filter(F.col("layer") == "buildings")
        cols = ("osm_id", "height")
        a = spatial_join(pts, blds, building_cols=cols, refine="broadcast").toPandas()
        b = spatial_join(pts, blds, building_cols=cols, refine="cogroup").toPandas()
        key = lambda df: sorted(zip(df["url"], df["osm_id"], df["height"].fillna(-1.0)))
        assert list(a.columns) == list(b.columns) == ["url", "osm_id", "height"]
        assert key(a) == key(b)
        assert len(a) > 0

    def test_join_partitioning_invariance(self, spark, pages, buildings):
        """Same result at different parallelism — required for the N vs 4N scaling
        criterion to be meaningful."""
        from osm_data_3d_tiles_spark.plans.pipeline import flagship_join

        a = flagship_join(pages.repartition(2), buildings).toPandas()
        b = flagship_join(pages.repartition(13), buildings.repartition(7)).toPandas()
        key = lambda df: sorted(zip(df["url"], df["osm_id"]))
        assert key(a) == key(b)


def _seq(jseq):
    return [jseq.apply(i) for i in range(jseq.size())]


def _plan_paths(df, into_cache=False):
    """Root-to-leaf paths of the executed physical plan as (node name, output
    column names) pairs, seen through AQE wrappers and query stages. With
    `into_cache`, an InMemoryTableScan continues into the plan that filled it."""

    def walk(node, path):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan(), path)
        if cls.endswith("QueryStageExec"):
            return walk(node.plan(), path)
        if cls == "ReusedExchangeExec":
            return walk(node.child(), path)
        path = path + [(node.nodeName(), {a.name() for a in _seq(node.output())})]
        children = _seq(node.children())
        if into_cache and cls == "InMemoryTableScanExec":
            children = [node.relation().cachedPlan()]
        if not children:
            return [path]
        return [p for c in children for p in walk(c, path)]

    return walk(df._jdf.queryExecution().executedPlan(), [])


def _python_stages(paths):
    """(input columns, names of the nodes below) of every MapInPandas on the
    plan paths, each node once."""
    seen = {}
    for path in paths:
        for i, (name, _) in enumerate(path):
            if name == "MapInPandas":
                key = tuple((n, frozenset(c)) for n, c in path[: i + 1])
                below = [n for n, _ in path[i + 1:]]
                seen.setdefault(key, (path[i + 1][1], set()))[1].update(below)
    return list(seen.values())


class TestFlagshipPlan:
    def test_each_stage_runs_once(self, spark, pages, buildings):
        """No text extraction on the join path; tile_doc_counts reads the
        cached join rows instead of re-running extract + refine; the join rows
        come from one Python stage that reads only url + html and meets the
        buildings in Python, not in a BroadcastHashJoin."""
        out = flagship(pages, buildings)
        try:
            for name, df in out.items():
                assert "text_extracted" not in df._jdf.queryExecution().toString(), name
            out["join_rows"].collect()
            counts = out["tile_doc_counts"]
            counts.collect()
            names = {n for p in _plan_paths(counts) for n, _ in p}
            assert "InMemoryTableScan" in names
            assert "MapInPandas" not in names
            stages = _python_stages(_plan_paths(out["join_rows"], into_cache=True))
            assert len(stages) == 1
            reads, below = stages[0]
            assert reads == {"url", "html"}
            assert "BroadcastHashJoin" not in below
        finally:
            spark.catalog.clearCache()

    def test_layout_independent(self, spark, pages, buildings):
        """join_rows and tile_doc_counts do not depend on the partition layout:
        1 vs 16 shuffle partitions, pages in 1 vs 13 partitions."""
        before = spark.conf.get("spark.sql.shuffle.partitions")
        results = []
        try:
            for shuffle, parts in ((1, 1), (16, 13)):
                spark.conf.set("spark.sql.shuffle.partitions", str(shuffle))
                out = flagship(pages.repartition(parts), buildings)
                rows = sorted((r["url"], r["osm_id"]) for r in out["join_rows"].collect())
                counts = sorted(tuple(r) for r in out["tile_doc_counts"].collect())
                results.append((rows, counts))
                spark.catalog.clearCache()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", before)
            spark.catalog.clearCache()
        assert results[0] == results[1]
        assert len(results[0][0]) > 0 and len(results[0][1]) > 0


class TestNonFiniteGeotag:
    def test_pole_and_out_of_range_latitudes_join_nothing(self, spark):
        """lat = -90 gives y = -inf and |lat| > 90 gives y = NaN (or a point
        off the grid at lat = 90): such pages join nothing and fail nothing,
        while a page inside a footprint still joins."""
        from osm_data_3d_tiles_spark.plans.pipeline import flagship_join

        lon, lat = 4.85, 45.75
        x, y = (float(v[0]) for v in m.lonlat_to_3857(np.array([lon]), np.array([lat])))
        ring = [[x - 5, y - 5], [x + 5, y - 5], [x + 5, y + 5], [x - 5, y + 5], [x - 5, y - 5]]
        blds = spark.createDataFrame(
            [(7, "buildings", [ring], ["outer"])],
            "osm_id long, layer string, geometry array<array<array<double>>>, "
            "ring_types array<string>",
        )
        tags = {"in": f"{lat};{lon}", "south": f"-90;{lon}", "north": f"90;{lon}",
                "over": f"95;{lon}", "under": f"-91.5;{lon}", "none": None}
        rows = [
            (url, (f'<meta name="geo.position" content="{tag}">' if tag else "<p>x</p>").encode())
            for url, tag in tags.items()
        ]
        pages_df = spark.createDataFrame(rows, "url string, html binary")
        got = [tuple(r) for r in flagship_join(pages_df, blds).collect()]
        assert got == [("in", 7)]


class TestOwnership:
    def test_exactly_one_owner(self, buildings):
        blds = buildings.filter(F.col("layer") == "buildings")
        owners = owner_tiles(building_cells(blds)).toPandas()
        assert owners["osm_id"].is_unique
        assert len(owners) == blds.count()

    def test_owner_is_min_order_candidate(self, buildings, buildings_pdf):
        blds = buildings.filter(F.col("layer") == "buildings")
        owners = owner_tiles(building_cells(blds)).toPandas().set_index("osm_id")
        for _, b in buildings_pdf[buildings_pdf["layer"] == "buildings"].head(20).iterrows():
            cand = covered_cells_for_building(b["geometry"], b["ring_types"])
            best = min(cand, key=lambda c: (c[0] // 16, c[1] // 16, c[0], c[1]))
            row = owners.loc[int(b["osm_id"])]
            assert (row["tile_x"], row["tile_y"]) == best

    def test_straddlers_exist(self, buildings):
        """Fixture guarantees multi-tile buildings — the dedup actually bites."""
        blds = buildings.filter(F.col("layer") == "buildings")
        cells = building_cells(blds).groupBy("osm_id").count().toPandas()
        assert (cells["count"] > 1).any()


def owner_batch_tables(buildings):
    blds = buildings.filter(F.col("layer") == "buildings")
    assignment = owner_tiles(building_cells(blds)).select("osm_id", "tile_key")
    return batch_tables(blds.join(assignment, "osm_id"))


class TestBatchTables:
    def test_shapes_and_order(self, spark, buildings):
        out = owner_batch_tables(buildings).toPandas()
        assert (out["batch_length"] > 0).all()
        for _, row in out.iterrows():
            assert len(row["osm_id"]) == row["batch_length"]
            assert list(row["osm_id"]) == sorted(row["osm_id"])
            for bc in row["box_center"]:
                assert len(bc) == 3 and bc[2] == 10.0
                assert 4.0 < bc[0] < 5.5 and 45.0 < bc[1] < 46.5
        total = out["batch_length"].sum()
        n_blds = buildings.filter(F.col("layer") == "buildings").count()
        assert total == n_blds  # each building in exactly its owner tile

    def test_osm_url(self, spark, buildings):
        out = owner_batch_tables(buildings).toPandas()
        urls = [u for row in out["osm_url"] for u in row]
        assert all(u.startswith("https://www.openstreetmap.org/") for u in urls)


class TestZonal:
    def test_zonal_matches_oracle(self, spark, buildings, buildings_pdf):
        raster = spark.read.parquet(fx.ensure_fixture("raster"))
        blds = buildings.filter(F.col("layer") == "buildings")
        got = zonal_stats(blds, raster).toPandas().set_index("osm_id")
        for _, b in buildings_pdf[buildings_pdf["layer"] == "buildings"].head(15).iterrows():
            cells = covered_cells_for_building(b["geometry"], b["ring_types"])
            vals = [float((cx * 31 + cy * 17) % 1000) for cx, cy in cells]
            row = got.loc[int(b["osm_id"])]
            assert row["cell_count"] == len(vals)
            assert row["value_sum"] == pytest.approx(sum(vals))


class TestKNN:
    def test_kring_equals_bruteforce(self, spark, buildings):
        queries = spark.read.parquet(fx.ensure_fixture("knn_queries")).limit(25)
        blds = buildings.filter(F.col("layer") == "buildings")
        cents = building_centroids(blds).persist()
        brute = knn_bruteforce(queries, cents).toPandas()
        kring = knn_kring(queries, cents).toPandas()
        key = lambda df: sorted(zip(df["query_id"], df["rank"], df["osm_id"]))
        assert key(brute) == key(kring)
        assert len(brute) > 0

    def test_completion_bound_is_strict(self, spark):
        # A candidate whose k-th distance is EXACTLY r·span must NOT finalize:
        # an unexplored ring-(r+1) cell can hold an fp-tied centroid with a
        # smaller osm_id that the tie-break prefers.
        from osm_data_3d_tiles_spark.functions import mercator as m
        from osm_data_3d_tiles_spark.operators.knn import _complete_pred

        span = m.tile_span(16)
        r = 2
        rows = [
            (1, 1, 1, (r * span) ** 2),       # exactly at the bound → incomplete
            (2, 1, 1, (r * span * 0.999) ** 2),  # strictly inside → complete
        ]
        df = spark.createDataFrame(rows, ["query_id", "rank", "k", "dist2"])
        done = df.filter(_complete_pred(r, span)).toPandas()
        assert sorted(done["query_id"]) == [2]

    def test_exact_on_cell_boundary_centroids(self, spark):
        # End-to-end boundary regression: query on an exact cell corner with
        # centroids placed exactly on ring-boundary distances (the at-bound
        # geometry the strict inequality protects) still matches brute force.
        from osm_data_3d_tiles_spark.functions import mercator as m
        from osm_data_3d_tiles_spark.operators.knn import knn_bruteforce, knn_kring

        span = m.tile_span(16)
        cents = spark.createDataFrame(
            [
                (100, 2 * span, 0.0),           # exactly r·span right, big id
                (1, -2 * span, 0.0),            # exactly on the left boundary
                (50, 0.0, 8 * span),            # farther shell
                (51, 9 * span, 9 * span),
            ],
            ["osm_id", "cx", "cy"],
        )
        queries = spark.createDataFrame(
            [(0, 0.0, 0.0, 2), (1, 0.0, 0.0, 4)], ["query_id", "x", "y", "k"]
        )
        brute = knn_bruteforce(queries, cents).toPandas()
        kring = knn_kring(queries, cents, initial_ring=2, max_ring=16).toPandas()
        key = lambda df: sorted(zip(df["query_id"], df["rank"], df["osm_id"]))
        assert key(brute) == key(kring)


class TestKNNHex:
    def test_hex_kring_equals_bruteforce(self, spark, buildings):
        from osm_data_3d_tiles_spark.operators.knn import knn_hex_kring

        queries = spark.read.parquet(fx.ensure_fixture("knn_queries")).limit(25)
        blds = buildings.filter(F.col("layer") == "buildings")
        cents = building_centroids(blds).persist()
        brute = knn_bruteforce(queries, cents).toPandas()
        hexed = knn_hex_kring(queries, cents).toPandas()
        key = lambda df: sorted(zip(df["query_id"], df["rank"], df["osm_id"]))
        assert key(brute) == key(hexed)
        assert len(brute) > 0

    def test_hex_kring_small_cells_forces_expansion(self, spark, buildings):
        # tiny hexes make the first disk nearly always insufficient -> the
        # escalation loop and the brute-force fallback both get exercised,
        # and the result must STILL be exact.
        from osm_data_3d_tiles_spark.operators.knn import knn_hex_kring

        queries = spark.read.parquet(fx.ensure_fixture("knn_queries")).limit(8)
        blds = buildings.filter(F.col("layer") == "buildings")
        cents = building_centroids(blds).persist()
        brute = knn_bruteforce(queries, cents).toPandas()
        hexed = knn_hex_kring(
            queries, cents, size=m.tile_span(16) / 8, initial_ring=1, max_ring=4
        ).toPandas()
        key = lambda df: sorted(zip(df["query_id"], df["rank"], df["osm_id"]))
        assert key(brute) == key(hexed)
