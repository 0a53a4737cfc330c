package perfbench

import graft.Bench
import graft.core.Zones
import graft.expr.{Geocode, MinHash, Morton, PipAny}
import graft.io.Commit
import graft.ops.{Dem, PipJoin}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Layer probes of the traced run. Each calls one public entry point in
  * isolation, so a layer's number does not depend on which workload ran. */
object Probes {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def secs(f: => Any): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def medianOf(reps: Int)(f: => Any): Double = median(Seq.fill(reps)(secs(f)))

  def all(c: Harness.Conf, spark: SparkSession, t: Spans, r: Harness.Runner): Map[String, Any] = {
    val flagship = c.workload == "flagship"
    val (corpus, pages) =
      if (flagship) (c.corpus, c.corpusPages) else (c.warmCorpus, c.warmPages)
    if (flagship) {
      // flagship ops never call SparkEntry: time one gated query as a
      // fresh-session tool call so the build/plan/exec layers exist here too
      r.op("probe:pip_zonal_count", -1, traced = true, 0L, 0L) { (id, out, layers) =>
        Harness.entryOp(r, spark.newSession(), c.sfSmall, "pip_zonal_count", id, out,
          layers, t, traced = true)
        (None, None, None)
      }
    }
    kernels() ++ ladder(spark, corpus, pages, c.work, t) ++
      commit(spark, corpus, c.work, t) ++ dem(spark, c.sfSmall, t, r)
  }

  // ---- single-thread kernels, no Spark --------------------------------

  /** ns per call of `f(i)`, after a warm-up, over at least 0.3 s. */
  private def nsPerCall(f: Int => Long): Double = {
    var sink = 0L
    def batch(n: Int): Unit = { var i = 0; while (i < n) { sink += f(i); i += 1 } }
    batch(200000)
    var calls = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 300000000L) { batch(10000); calls += 10000 }
    val ns = (System.nanoTime() - t0).toDouble / calls
    if (sink == 42) println("") // keeps the JIT from dropping the loop
    ns
  }

  def kernels(): Map[String, Any] = {
    val rng = new scala.util.Random(7)
    val words = "the a key agg row scan slow fast table value part hash merge batch".split(" ")
    val texts = Array.fill(1024)(Seq.fill(8 + rng.nextInt(88))(words(rng.nextInt(words.length))).mkString(" "))
    val bytes = texts.map(_.getBytes("UTF-8"))
    val utf8 = texts.map(UTF8String.fromString)
    def arr(rs: Seq[Array[Double]]): ArrayData =
      new GenericArrayData(rs.map(a => new GenericArrayData(a.map(x => x: Any)): Any).toArray)
    val hulls = Zones.worldZones.filter(!_.isHole).groupBy(_.fid).values.toArray
      .map(rs => (arr(rs.map(_.xs)), arr(rs.map(_.ys))))
    val pts = Array.fill(1024)((rng.nextDouble() * 360 - 180, rng.nextDouble() * 180 - 90))
    Map(
      "Geocode.hashWords_ns" -> nsPerCall(i => Geocode.hashWords(bytes(i & 1023))._1),
      "Morton.encode_ns" -> nsPerCall(i => Morton.encode(i & 1023, (i >> 10) & 1023, 10)),
      "PipAny.anyInside_ns" -> nsPerCall { i =>
        val (x, y) = pts(i & 1023)
        val (xs, ys) = hulls(i % hulls.length)
        if (PipAny.anyInside(x, y, xs, ys)) 1L else 0L
      },
      "MinHash.eval_ns" -> nsPerCall(i => MinHash.eval(utf8(i & 1023)).getLong(0)))
  }

  // ---- flagship prefix ladder ------------------------------------------

  /** Each rung is the previous one plus one call, into a noop sink; a
    * layer's cost is its rung's median wall minus the previous rung's. The
    * top rung is the flagship call itself, whose committed write replaces
    * the noop sink, so the layers add up to one flagship op. Every
    * repetition runs the rungs traced and the same flagship call untraced,
    * on the same corpus and JIT state, the two flagship calls swapping
    * places each time; `ladder.residual_ratio` is the share of the
    * untraced op the layers do not account for. Each call starts after a
    * collection, as a workload op does. */
  def ladder(spark: SparkSession, corpus: String, pages: Long, work: String,
             t: Spans): Map[String, Any] = {
    def sink(df: => org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def geo = Harness.geoPages(spark, corpus)
    var k = 0
    def flagship(): Unit = {
      k += 1
      Bench.flagship(spark, corpus, s"$work/out/ladder-$k")
    }
    val rungs = Seq[(String, () => Unit)](
      "scan" -> (() => sink(spark.read.parquet(corpus).select("doc_id", "text"))),
      "Geocode" -> (() => sink(geo.select("doc_id", "lat", "lon"))),
      "PipJoin.withCell" -> (() => sink(PipJoin.withCell(geo, 6).select("doc_id", "cell"))),
      "PipJoin.probe" -> (() => sink(PipJoin.zoneMembership(spark, geo))),
      "agg" -> (() => sink(PipJoin.zoneMembership(spark, geo).groupBy("fid")
        .agg(count(lit(1)).as("n_pages")))),
      "Commit" -> (() => flagship()))
    rungs.foreach(_._2()) // warm each plan once
    def timed(f: () => Unit): Double = { System.gc(); secs(f()) }
    val samples = (0 until 4).map { rep =>
      val below = rungs.init.map { case (name, f) => t(s"ladder:$name")(timed(f)) }
      def top() = t("ladder:Commit")(timed(() => flagship()))
      if (rep % 2 == 0) { val a = top(); (below :+ a, timed(() => flagship())) }
      else { val b = timed(() => flagship()); (below :+ top(), b) }
    }
    val walls = rungs.indices.map(i => median(samples.map(_._1(i))))
    val opWall = walls.last
    val untraced = median(samples.map(_._2))
    val perLayer = rungs.indices.map { i =>
      val prev = if (i == 0) 0.0 else walls(i - 1)
      s"${rungs(i)._1}.ns_per_page" -> (walls(i) - prev) / pages * 1e9
    }.toMap
    val candidates = PipJoin.withCell(geo, 6)
      .join(broadcast(PipJoin.ringCellsGrouped(spark, Zones.worldZones, 6)), "cell").count()
    val survivors = PipJoin.zoneMembership(spark, geo).count()
    perLayer ++ Map(
      "ladder.op_s" -> opWall, "ladder.untraced_op_s" -> untraced,
      "ladder.residual_ratio" -> (untraced - opWall) / untraced,
      "PipJoin.pip_hit_ratio" -> survivors.toDouble / candidates)
  }

  // ---- committed write against a plain parquet write -------------------

  /** The zone membership of every page, with its url and text, committed
    * per page. */
  private def tileCommit(spark: SparkSession, corpus: String, out: String): Commit.Snapshot =
    Commit.write(spark,
      PipJoin.zoneMembership(spark, Harness.geoPages(spark, corpus), keep = Seq("url", "text")),
      out, Seq(corpus, "zones:worldZones", "res:6", "keep:url,text"))

  def commit(spark: SparkSession, corpus: String, work: String, t: Spans): Map[String, Any] = {
    var k = 0
    var last: Commit.Snapshot = null
    val commitS = t("probe:Commit.write")(medianOf(3) {
      k += 1
      last = tileCommit(spark, corpus, s"$work/out/commit-$k")
    })
    val plainS = t("probe:parquet.write")(medianOf(3) {
      k += 1
      PipJoin.zoneMembership(spark, Harness.geoPages(spark, corpus), keep = Seq("url", "text"))
        .write.parquet(s"$work/out/plain-$k")
    })
    require(!last.resumed, "commit probe resumed a snapshot")
    Map("Commit.write_s" -> commitS, "Commit.overhead_s" -> (commitS - plainS),
      "Commit.bytes" -> Harness.dirBytes(last.path), "Commit.files" -> last.files)
  }

  // ---- Dem memo frames in a fresh session --------------------------------

  def dem(spark: SparkSession, dir: String, t: Spans, r: Harness.Runner): Map[String, Any] = {
    val sc = spark.sparkContext
    def stored = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val before = stored
    val s = spark.newSession()
    var demJobs, faJobs = 0
    var demS, faS = 0.0
    r.op("probe:Dem", -1, traced = true, 0L, 0L) { (id, _, layers) =>
      demS = t("Dem.dem")(secs(Dem.dem(s, dir)))
      demJobs = r.jobsSoFar(id)
      faS = t("Dem.fa")(secs(Dem.fa(s, dir)))
      faJobs = r.jobsSoFar(id) - demJobs
      layers("Dem.dem_s") = demS
      layers("Dem.fa_s") = faS
      (None, None, None)
    }
    Map("Dem.dem_s" -> demS, "Dem.fa_s" -> faS, "Dem.jobs" -> (demJobs + faJobs),
      "Dem.checkpoint_bytes" -> (stored - before),
      "Dem.s_per_job" -> (demS + faS) / math.max(1, demJobs + faJobs))
  }
}
