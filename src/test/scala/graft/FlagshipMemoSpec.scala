package graft

import graft.core.Zones
import graft.expr.{Geocode, PointInPolygon}
import graft.io.PageGen
import graft.ops.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** `Bench.flagship` reads its corpus through the per-(session, path)
  * `Tables.parquet` memo: each call must still count its own corpus, and a
  * new session must resolve the path for itself. */
class FlagshipMemoSpec extends SparkSpec {

  private val dir = java.nio.file.Files.createTempDirectory("graft-flagship-memo").toString
  private var outs = 0

  /** Per-fid page counts the flagship committed for `corpus`. */
  private def flagship(s: SparkSession, corpus: String): Map[Int, Long] = {
    outs += 1
    val out = s"$dir/out-$outs"
    val rows = Bench.flagship(s, corpus, out)
    val got = spark.read.parquet(s"$out/data").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got.size === rows)
    got
  }

  /** The same counts from a fresh read, with the scalar PIP oracle. */
  private def recount(corpus: String): Map[Int, Long] = {
    val geo = spark.read.parquet(corpus)
      .withColumn("__geo", Geocode.geocode(col("text")))
      .select(col("__geo").getItem(1), col("__geo").getItem(0))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val byFid = Zones.worldZones.groupBy(_.fid)
    byFid.keys.toSeq.flatMap { fid =>
      val (holes, hulls) = byFid(fid).partition(_.isHole)
      val n = geo.count { case (x, y) =>
        hulls.exists(r => PointInPolygon.pointInPoly(x, y, r.xs, r.ys)) &&
          !holes.exists(r => PointInPolygon.pointInPoly(x, y, r.xs, r.ys))
      }
      if (n > 0) Some(fid -> n.toLong) else None
    }.toMap
  }

  test("flagship counts its own corpus across calls and sessions") {
    val small = PageGen.ensure(spark, dir, 3000, 2)
    val large = PageGen.ensure(spark, dir, 7000, 3)
    val (smallN, largeN) = (recount(small), recount(large))
    assert(smallN !== largeN)

    assert(flagship(spark, small) === smallN)
    assert(flagship(spark, large) === largeN)
    assert(flagship(spark, small) === smallN)
    assert(Tables.parquet(spark, small) eq Tables.parquet(spark, small))

    val other = spark.newSession()
    assert(Tables.parquet(other, large).sparkSession eq other)
    assert(flagship(other, large) === largeN)
    assert(flagship(other, small) === smallN)
  }
}
