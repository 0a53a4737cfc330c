package graft

import graft.core.{DuckD, Geo, SparkD, Zones}
import graft.ops.{Ann, Clump, Dedup, Focal, Knn, PipJoin, Raster, RasterClip, Relational, Tables, Text, VectorOps, Zonal}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every oracle-checked query derives the `pages` corpus from `documents`
  * through the SAME generated SQL on both engines (core/Dialect.scala), so
  * the DuckDB comparison is bit-exact by construction. */
object SparkEntry {

  /** Flagship: geocode → cell assign → point-in-polygon join → zonal agg,
    * on sf0.001. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("pip_zonal_count")(spark, "/root/testdata/sf0.001")

  // ---- shared twin-SQL fragments -------------------------------------
  private def pagesWith(d: graft.core.Dialect): String =
    s"WITH pages AS (${Geo.pagesCte(d)})"

  /** 5°×5° LidarTile-style tile key (lidar_tile.rs:45-82): anchored floor
    * division; tiles with < 3 points dropped (min_points). Same string is
    * valid in both dialects. */
  private def tileX = "cast(floor((lon - -180.0e0) / 5.0e0) as bigint)"
  private def tileY = "cast(floor((lat - -90.0e0) / 5.0e0) as bigint)"

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    spatialQueries ++ Zonal.queries ++ Raster.queries ++ Relational.queries ++
      Knn.queries ++ Text.queries ++ Dedup.queries ++ Ann.queries ++
      Focal.queries ++ VectorOps.queries ++ RasterClip.queries ++
      graft.ops.Terrain.queries ++ graft.ops.Stats.queries ++
      graft.ops.Distance.queries ++ graft.ops.Extras.queries ++
      graft.ops.Extras2.queries ++ graft.ops.FocalMore.queries ++
      graft.ops.Filters3.queries ++ graft.ops.Stretch.queries ++
      graft.ops.ShapeMetrics.queries ++ graft.ops.Hydro.queries ++
      graft.ops.Tin.queries ++ graft.ops.KnnShellGate.queries ++
      graft.ops.Extras3.queries ++ graft.ops.Terrain2.queries ++
      graft.ops.Extras4.queries ++ graft.ops.Grids.queries ++
      graft.ops.Lidar.queries ++ graft.ops.Hydro2.queries ++
      graft.ops.Color.queries ++ graft.ops.Streams2.queries ++
      graft.ops.HydroFill.queries ++ graft.ops.Cost.queries ++
      graft.ops.TerrainIdx.queries ++ graft.ops.Lidar2.queries ++
      graft.ops.Extras5.queries ++ graft.ops.Hydro3.queries ++
      graft.ops.Morph2.queries ++ graft.ops.Extras6.queries ++
      graft.ops.Horizon.queries ++ graft.ops.Hydro4.queries ++
      graft.ops.Hydro5.queries ++ graft.ops.Dinf.queries ++
      graft.ops.Dinf2.queries ++ graft.ops.Terrain3.queries ++
      graft.ops.Breach.queries ++ graft.ops.Multiscale.queries ++
      graft.ops.Direction.queries ++ graft.ops.Hydro6.queries ++
      graft.ops.Singles.queries ++ graft.ops.Lidar3.queries ++
      graft.ops.Terrain4.queries ++ graft.ops.Polygonize.queries ++
      graft.ops.Stochastic.queries ++ graft.ops.CellMath.queries ++
      graft.ops.ParamSweeps.queries ++ graft.ops.ParamSweeps2.queries ++
      graft.ops.ParamSweeps3.queries ++ graft.ops.Sibson.queries ++
      graft.ops.Pipeline.queries ++ Map(
        // MinimumBoundingCircle (Welzl result via exhaustive hull
        // candidates; oracle = HardOracles.circleSql structural twin).
        "minimum_bounding_circle" -> ((s: SparkSession, dir: String) => {
          // lon/lat carried through the membership probe (keep=) instead of
          // re-scanning pages and re-joining on doc_id — same rows, one
          // scan and one join fewer (r06 optimization round).
          val pts = PipJoin.zoneMembership(s, Tables.pages(s, dir),
              keep = Seq("lon", "lat"))
            .select(col("fid"), col("lon").as("x"), col("lat").as("y"))
          graft.ops.Hull.featureCircles(s, pts)
            .selectExpr("fid", "round(ccx, 6) AS ccx", "round(ccy, 6) AS ccy",
              "round(cr, 6) AS cr")
            .orderBy("fid")
        }),
        // Clump (CCL via label propagation) — no SQL-expressible oracle;
        // the driver records the weaker rows-only check, ClumpSpec pins
        // the partition against a scalar flood fill.
        "clump" -> ((s: SparkSession, dir: String) =>
          Clump.clump(s, Raster.density(s, dir, 5)
              .filter(!expr(Raster.nodataCond))
              .withColumn("v", lit(1L)))
            .orderBy("ix", "iy")),
        // MinimumConvexHull / MinimumBoundingBox per zone — no
        // SQL-expressible oracle (rows-only check); HullSpec pins the
        // kernels to the reference vectors and the two-phase merge.
        // KMeansClustering — iterative, rows-only (KMeansSpec pins vs the
        // scalar Lloyd loop).
        "kmeans_clustering" -> ((s: SparkSession, dir: String) => {
          val cells = Raster.density(s, dir, 6)
            .selectExpr("ix * 1000000 + iy AS id",
              "cast(ix as double) AS x", "cast(iy as double) AS y")
          graft.ops.KMeans.kmeans(s, cells, k = 5).orderBy("id")
        }),
        "modified_kmeans_clustering" -> ((s: SparkSession, dir: String) => {
          val cells = Raster.density(s, dir, 6)
            .selectExpr("ix * 1000000 + iy AS id",
              "cast(ix as double) AS x", "cast(iy as double) AS y")
          graft.ops.KMeans.kmeansMerged(s, cells, k0 = 10, rounds = 10,
            mergeD2 = 64.0).orderBy("id")
        }),
        "minimum_convex_hull" -> ((s: SparkSession, dir: String) => {
          // single-scan membership carry, as in minimum_bounding_circle
          val pts = PipJoin.zoneMembership(s, Tables.pages(s, dir),
              keep = Seq("lon", "lat"))
            .select(col("fid"), col("lon").as("x"), col("lat").as("y"))
          // rounded: the oracle recomputes the hull by Jarvis march (same
          // vertex sequence as the Graham clone) but its area/calipers
          // aggregations are order-free double sums.
          graft.ops.Hull.featureHulls(s, pts)
            .selectExpr("fid", "hull_n", "round(hull_area, 6) AS hull_area",
              "round(mbb_area, 4) AS mbb_area")
            .orderBy("fid")
        })
      )

  private def spatialQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // North-star #1: PIP join + zonal count over all fixture zones.
    "pip_zonal_count" -> ((s, dir) => {
      val m = PipJoin.zoneMembership(s, Tables.pages(s, dir))
      m.groupBy("fid")
        .agg(count(lit(1)).as("n_pages"),
             min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("fid")
    }),

    // Same result via the documented degraded path: shuffled salted cell
    // join (no broadcast) — proves the over-broadcast fallback is real.
    "pip_zonal_count_shuffled" -> ((s, dir) => {
      val m = PipJoin.zoneMembershipShuffled(s, Tables.pages(s, dir))
      m.groupBy("fid")
        .agg(count(lit(1)).as("n_pages"),
             min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("fid")
    }),

    // Clip (semi-join) to the zone with a hole — carries `text` through so
    // the hash compare certifies byte-identity (input_hint invariant).
    "clip_points_to_polygon" -> ((s, dir) => {
      val p = Tables.pages(s, dir)
      val keep = PipJoin.zoneMembership(s, p).filter(col("fid") === 3)
        .select("doc_id")
      p.join(keep, Seq("doc_id"), "left_semi")
        .select("doc_id", "url", "text").orderBy("doc_id")
    }),

    // Erase (anti-join) — complement of clip (erase_polygon_from_raster.rs).
    "erase_polygon_from_points" -> ((s, dir) => {
      val p = Tables.pages(s, dir)
      val keep = PipJoin.zoneMembership(s, p).filter(col("fid") === 3)
        .select("doc_id")
      p.join(keep, Seq("doc_id"), "left_anti")
        .select("doc_id", "url", "text").orderBy("doc_id")
    }),

    // LidarTile: tile assignment + min_points filter.
    "tile_assignment" -> ((s, dir) => {
      Tables.pages(s, dir)
        .withColumn("tile_x", expr(tileX)).withColumn("tile_y", expr(tileY))
        .groupBy("tile_x", "tile_y").agg(count(lit(1)).as("n_points"))
        .filter(col("n_points") >= 3)
        .orderBy("tile_x", "tile_y")
    }),

    // Batched H3/S2-style Morton cell encoder (custom codegen expression);
    // oracle recomputes the interleave bit-by-bit in plain SQL.
    "cell_encode" -> ((s, dir) => {
      PipJoin.withCell(Tables.pages(s, dir), 10)
        .select(col("doc_id"), col("ix"), col("iy"), col("cell"))
        .orderBy("doc_id")
    })
  )

  def oracleSql: Map[String, String] =
    spatialOracles ++ Zonal.oracles ++ Raster.oracles ++ Relational.oracles ++
      Knn.oracles ++ Text.oracles ++ Dedup.oracles ++ Ann.oracles ++
      Focal.oracles ++ VectorOps.oracles ++ RasterClip.oracles ++
      graft.ops.Terrain.oracles ++ graft.ops.Stats.oracles ++
      graft.ops.Distance.oracles ++ graft.ops.Extras.oracles ++
      graft.ops.Extras2.oracles ++ graft.ops.FocalMore.oracles ++
      graft.ops.Filters3.oracles ++ graft.ops.Stretch.oracles ++
      graft.ops.ShapeMetrics.oracles ++ graft.ops.Hydro.oracles ++
      graft.ops.Tin.oracles ++ graft.ops.KnnShellGate.oracles ++
      graft.ops.Extras3.oracles ++ graft.ops.Terrain2.oracles ++
      graft.ops.Extras4.oracles ++ graft.ops.Grids.oracles ++
      graft.ops.Lidar.oracles ++ graft.ops.Hydro2.oracles ++
      graft.ops.Color.oracles ++ graft.ops.Streams2.oracles ++
      graft.ops.HydroFill.oracles ++ graft.ops.Cost.oracles ++
      graft.ops.TerrainIdx.oracles ++ graft.ops.Lidar2.oracles ++
      graft.ops.Extras5.oracles ++ graft.ops.Hydro3.oracles ++
      graft.ops.Morph2.oracles ++ graft.ops.Extras6.oracles ++
      graft.ops.Horizon.oracles ++ graft.ops.Hydro4.oracles ++
      graft.ops.Hydro5.oracles ++ graft.ops.Dinf.oracles ++
      graft.ops.Dinf2.oracles ++ graft.ops.Terrain3.oracles ++
      graft.ops.Breach.oracles ++ graft.ops.Multiscale.oracles ++
      graft.ops.Direction.oracles ++ graft.ops.Hydro6.oracles ++
      graft.ops.Singles.oracles ++ graft.ops.Lidar3.oracles ++
      graft.ops.Terrain4.oracles ++ graft.ops.Polygonize.oracles ++
      graft.ops.Stochastic.oracles ++ graft.ops.CellMath.oracles ++
      graft.ops.ParamSweeps.oracles ++ graft.ops.ParamSweeps2.oracles ++
      graft.ops.ParamSweeps3.oracles ++ graft.ops.Sibson.oracles ++
      graft.ops.Pipeline.oracles ++ Map(
        "minimum_bounding_circle" -> graft.ops.HardOracles.circleSql,
        "kmeans_clustering" -> graft.ops.HardOracles.kmeansSql(),
        "modified_kmeans_clustering" -> graft.ops.HardOracles.modifiedKmeansSql(),
        "minimum_convex_hull" -> graft.ops.HardOracles.hullSql,
        "clump" -> graft.ops.HardOracles.clumpSql)

  private def spatialOracles: Map[String, String] = {
    val d = DuckD
    Map(
      "pip_zonal_count" -> {
        val perZone = Zones.fids.map { f =>
          s"SELECT $f AS fid, count(*) AS n_pages, min(doc_id) AS min_doc, " +
            s"max(doc_id) AS max_doc FROM pages WHERE ${Zones.insideZoneSql(f, "lon", "lat")}"
        }.mkString(" UNION ALL ")
        s"${pagesWith(d)} SELECT * FROM ($perZone) t WHERE n_pages > 0 ORDER BY fid"
      },
      "pip_zonal_count_shuffled" -> {
        val perZone = Zones.fids.map { f =>
          s"SELECT $f AS fid, count(*) AS n_pages, min(doc_id) AS min_doc, " +
            s"max(doc_id) AS max_doc FROM pages WHERE ${Zones.insideZoneSql(f, "lon", "lat")}"
        }.mkString(" UNION ALL ")
        s"${pagesWith(d)} SELECT * FROM ($perZone) t WHERE n_pages > 0 ORDER BY fid"
      },
      "clip_points_to_polygon" ->
        (s"${pagesWith(d)} SELECT doc_id, url, text FROM pages " +
          s"WHERE ${Zones.insideZoneSql(3, "lon", "lat")} ORDER BY doc_id"),
      "erase_polygon_from_points" ->
        (s"${pagesWith(d)} SELECT doc_id, url, text FROM pages " +
          s"WHERE NOT ${Zones.insideZoneSql(3, "lon", "lat")} ORDER BY doc_id"),
      "tile_assignment" ->
        (s"${pagesWith(d)} SELECT $tileX AS tile_x, $tileY AS tile_y, " +
          s"count(*) AS n_points FROM pages GROUP BY 1, 2 " +
          s"HAVING count(*) >= 3 ORDER BY tile_x, tile_y"),
      "cell_encode" -> {
        val ix = Geo.ix(d, "lon", 10); val iy = Geo.iy(d, "lat", 10)
        s"${pagesWith(d)} SELECT doc_id, $ix AS ix, $iy AS iy, " +
          s"${graft.expr.Morton.encodeSql(d, s"($ix)", s"($iy)", 10)} AS cell " +
          s"FROM pages ORDER BY doc_id"
      }
    )
  }
}
