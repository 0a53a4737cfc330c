package graft.expr

import graft.SparkSpec
import graft.core.{Ring, Zones}
import graft.ops.{PipJoin, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Zone membership through `graft_zone_probe` against the formulation it
  * replaced: the paged cells joined to the broadcast grouped ring frame and
  * filtered by PipAny (in a hull AND NOT in a hole). Every case runs with
  * whole-stage codegen and with interpreted evaluation. */
class ZoneProbeSpec extends SparkSpec {
  import spark.implicits._

  private val res = 6

  private def reference(pages: DataFrame, rings: Seq[Ring]): DataFrame =
    PipJoin.withCell(pages, res)
      .join(broadcast(PipJoin.ringCellsGrouped(spark, rings, res)), "cell")
      .filter(PipAny.pipAny(col("lon"), col("lat"), col("hxs"), col("hys")) &&
        !PipAny.pipAny(col("lon"), col("lat"), col("oxs"), col("oys")))
      .select("doc_id", "fid")

  private def rows(df: DataFrame): Seq[(Long, Int)] =
    df.select("doc_id", "fid").as[(Long, Int)].collect().toSeq.sorted

  private val modes = Seq(
    "CODEGEN_ONLY" -> Map("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.wholeStage" -> "true"),
    "NO_CODEGEN" -> Map("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"))

  private def withConf[T](conf: Map[String, String])(f: => T): T = {
    val old = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Membership rows in each mode, after checking them against the
    * reference in that mode. */
  private def checked(pages: DataFrame, rings: Seq[Ring]): Seq[(Long, Int)] =
    modes.map { case (mode, conf) =>
      withConf(conf) {
        val got = rows(PipJoin.zoneMembership(spark, pages, rings, res))
        assert(got === rows(reference(pages, rings)), s"mode $mode")
        got
      }
    }.head

  private def points(pts: Seq[(Double, Double)]): DataFrame =
    pts.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }.toDF("doc_id", "lon", "lat")

  private def box(fid: Int, rid: Int, hole: Boolean,
                  x0: Double, y0: Double, x1: Double, y1: Double): Ring =
    Ring(fid, rid, hole, Array(x0, x1, x1, x0, x0), Array(y0, y0, y1, y1, y0))

  test("sf0.001 pages with the world zones") {
    val got = checked(Tables.pages(spark, sf("sf0.001")), Zones.worldZones)
    assert(got.map(_._2).toSet.size >= 4, "pages must hit several zones")
  }

  test("overlapping fids in one cell explode to one row per fid") {
    // fid 10 carries a hole; fid 11 overlaps its north-east quarter, all
    // inside the res-6 cells around the origin
    val rings = Seq(
      box(10, 0, hole = false, -20.0, -10.0, 20.0, 10.0),
      box(10, 1, hole = true, -5.0, -5.0, 5.0, 5.0),
      box(11, 0, hole = false, 0.0, 0.0, 30.0, 15.0))
    val lattice = for (i <- 0 to 90; j <- 0 to 50) yield (-25.0 + i * 0.65, -15.0 + j * 0.7)
    val got = checked(points(lattice), rings)
    val perDoc = got.groupBy(_._1).values.map(_.map(_._2).sorted)
    assert(perDoc.exists(_ == Seq(10, 11)), "some point must lie in both zones")
    assert(perDoc.exists(_ == Seq(11)), "some point must lie in the hole and in fid 11 only")
  }

  test("points on cell edges and corners") {
    // every cell corner of the res-6 grid: lon steps of 360/64, lat of 180/64
    val corners = for (i <- 0 to 64; j <- 0 to 64) yield (-180.0 + i * 5.625, -90.0 + j * 2.8125)
    val got = checked(points(corners), Zones.worldZones)
    assert(got.nonEmpty)
  }

  test("points inside the Z3 hole are not in Z3") {
    val inHole = for (i <- 0 to 10; j <- 0 to 10) yield (10.5 + i * 1.9, -9.5 + j * 1.9)
    val ring = Seq((5.0, 0.0), (35.0, 25.0), (20.0, -15.0))
    val got = checked(points(inHole ++ ring), Zones.worldZones)
    assert(got.map(_._1).toSet === (inHole.length until inHole.length + ring.length)
      .map(_.toLong).toSet)
    assert(got.forall(_._2 == 3))
  }

  test("multi-part fid 4 matches in both parts") {
    val got = checked(points(Seq((-150.0, -35.0), (90.0, -42.0), (0.0, -60.0))),
      Zones.worldZones)
    assert(got === Seq((0L, 4), (1L, 4)))
  }

  test("membership plan has no join and no broadcast exchange") {
    val plan = PipJoin.zoneMembership(spark, Tables.pages(spark, sf("sf0.001")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("BroadcastExchange"), plan)
    assert(plan.contains("graft_zone_probe"), plan)
  }
}
