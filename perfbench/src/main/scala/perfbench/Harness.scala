package perfbench

import graft.{Bench, SparkEntry}
import graft.ops.Tables
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Closed-loop runner for one benchmark run: one process, one client.
  *
  * It sets up one `local[cores]` session and times that set-up as a tool
  * call pays it: from the process launch (`--launched-ns`, epoch
  * nanoseconds) to the end of one warm-up call. Corpus generation runs
  * before, in a `--prepare 1` process of its own. Then it runs one
  * workload's ops back to back for `--seconds` and writes one JSON result
  * with every op's wall time, error and output path. Output checking and
  * all statistics happen in `run.py`, outside this process. With
  * `--trace 1` each op is run twice, untraced and traced; the traced run
  * adds layer spans and Spark listener counters, and the layer probes of
  * `Probes` run after the workload.
  */
object Harness {

  final case class Conf(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, sfSmall: String, sfLarge: String,
      corpus: String, corpusSeed: Long, corpusPages: Long, warmCorpus: String, warmPages: Long,
      cores: Int, launchedNs: Long, prepare: Boolean, result: String) {
    def outDir: String = s"$work/out"
  }

  final case class Op(
      id: Int, name: String, round: Int, traced: Boolean, wallS: Double,
      error: Option[String], out: String, inPages: Long, inBytes: Long,
      rows: Option[Long], resumed: Option[Boolean], files: Option[Int],
      heapLiveMb: Double, counters: Option[Counters], layers: Map[String, Double]) {
    def toMap: Map[String, Any] = Map(
      "id" -> id, "name" -> name, "round" -> round, "traced" -> traced,
      "wall_s" -> wallS, "error" -> error, "out" -> out, "in_pages" -> inPages,
      "in_bytes" -> inBytes, "out_bytes" -> dirBytes(out), "rows" -> rows,
      "resumed" -> resumed, "files" -> files, "heap_live_mb" -> heapLiveMb,
      "spark" -> counters.map(_.toMap), "layers" -> layers)
  }

  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(g => dirBytes(g.getPath)).sum).getOrElse(0L)
  }

  def session(c: Conf): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", c.cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The flagship's own read prelude (Bench.flagship): corpus → lat/lon. */
  def geoPages(spark: SparkSession, corpus: String): DataFrame =
    spark.read.parquet(corpus)
      .withColumn("__geo", graft.expr.Geocode.geocode(col("text")))
      .withColumn("lat", col("__geo").getItem(0))
      .withColumn("lon", col("__geo").getItem(1))
      .drop("__geo")

  /** One warm-up call of the workload's op, on small inputs. */
  private def warmUp(c: Conf, spark: SparkSession): Unit = {
    c.workload match {
      case "flagship" =>
        Bench.flagship(spark, c.warmCorpus, s"${c.work}/warm/flagship")
        spark.read.parquet(c.corpus).limit(1).count()
      case "query_mix" =>
        SparkEntry.queries("cell_encode")(spark, c.sfLarge)
          .write.format("noop").mode("overwrite").save()
    }
    deleteTree(new File(s"${c.work}/warm"))
  }

  /** Seconds since the launcher started this JVM, by the wall clock. */
  private def sinceLaunch(c: Conf): Double = {
    val now = java.time.Instant.now()
    (now.getEpochSecond * 1000000000L + now.getNano - c.launchedNs) / 1e9
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Runs and records ops. */
  final class Runner(c: Conf, spark: SparkSession, t: Spans, listener: Option[OpListener]) {
    val ops = mutable.ArrayBuffer.empty[Op]
    private var nextId = 0

    private def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

    /** Times `body`; errors are recorded, never rethrown. */
    def op(name: String, round: Int, traced: Boolean, inPages: Long, inBytes: Long)(
        body: (Int, String, mutable.Map[String, Double]) => (Option[Long], Option[Boolean], Option[Int])): Unit = {
      val id = nextId
      nextId += 1
      val out = s"${c.outDir}/op-$id"
      val layers = mutable.Map.empty[String, Double]
      val sc = spark.sparkContext
      if (traced) sc.setLocalProperty(OpListener.Key, id.toString)
      t.op = if (traced) id else -1
      t.paused = !traced
      // collect the previous op's garbage outside the timed region, so a
      // collection it caused does not land in this op's wall time; the
      // heap still in use after it is what the workload retains
      System.gc()
      val live = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      val t0 = System.nanoTime()
      val (res, err) =
        try ((if (traced) t(s"op:$name")(body(id, out, layers)) else body(id, out, layers)), None)
        catch { case e: Throwable => ((None, None, None), Some(s"${e.getClass.getName}: ${e.getMessage}".take(2000))) }
      val wall = (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(OpListener.Key, null)
      t.op = -1
      t.paused = false
      val counters = if (traced) { drain(); listener.map(_.counters(id)) } else None
      ops += Op(id, name, round, traced, wall, err, out, inPages, inBytes, res._1, res._2, res._3,
        live / 1048576.0, counters, layers.toMap)
    }

    /** Jobs the listener has attributed to `op` so far. */
    def jobsSoFar(op: Int): Int = { drain(); listener.map(_.counters(op).jobs).getOrElse(0) }

    /** Runs whole rounds of ops: as many as fit `seconds` at the pace of
      * the first round, and at least two untraced, so every op of the mix
      * is measured equally often and the count does not flip between 1 and 2. */
    def loop(order: Int => Seq[String])(one: (String, Int, Boolean) => Unit): Unit = {
      // a traced run pairs each op with an untraced twin, in alternating
      // order, so the tracing overhead is not confounded with warm-up
      var pair = 0
      def runRound(round: Int): Unit =
        for (name <- order(round)) {
          if (!c.trace) one(name, round, false)
          else {
            val tracedFirst = pair % 2 == 1
            one(name, round, tracedFirst)
            one(name, round, !tracedFirst)
            pair += 1
          }
        }
      val t0 = System.nanoTime()
      runRound(0)
      val minRounds = if (c.trace) 1L else 2L // a traced run already runs each op twice
      val rounds = math.max(minRounds, math.round(c.seconds / ((System.nanoTime() - t0) / 1e9))).toInt
      for (round <- 1 until rounds) runRound(round)
    }
  }

  /** A SparkEntry op as a CLI tool call: build, plan, execute, write. */
  def entryOp(r: Runner, s: SparkSession, dir: String, name: String, id: Int, out: String,
              layers: mutable.Map[String, Double], t: Spans, traced: Boolean): Unit = {
    def timed[T](layer: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val v = t(layer)(f)
      layers(s"${layer}_s") = (System.nanoTime() - t0) / 1e9
      v
    }
    if (traced) {
      timed("Tables.pages")(Tables.pages(s, dir))
      layers("Tables.register_jobs") = r.jobsSoFar(id)
    }
    val df = timed("SparkEntry.build")(SparkEntry.queries(name)(s, dir))
    if (traced) {
      layers("SparkEntry.build_jobs") = r.jobsSoFar(id) - layers("Tables.register_jobs")
      timed("SparkEntry.plan")(df.queryExecution.executedPlan)
    }
    timed("SparkEntry.exec")(df.write.parquet(out))
  }

  /** Was the snapshot at `out` committed by a call that started at `t0ms`? */
  private def snapshotOf(out: String, t0ms: Long): (Option[Long], Option[Boolean], Option[Int]) = {
    val body = Files.readString(Paths.get(out, "_graft_snapshot.json"))
    def num(key: String) = s""""$key": (\\d+)""".r.findFirstMatchIn(body).map(_.group(1).toLong)
    (num("total_rows"), num("committed_at_epoch_ms").map(_ < t0ms), num("n_files").map(_.toInt))
  }

  def run(c: Conf, spark: SparkSession, t: Spans, listener: Option[OpListener]): Runner = {
    val r = new Runner(c, spark, t, listener)
    val rng = new scala.util.Random(c.seed)
    val corpusBytes = dirBytes(c.corpus)
    def fixtureBytes(dir: String) =
      dirBytes(s"$dir/documents.parquet") + dirBytes(s"$dir/embeddings.parquet")
    def fixturePages(s: SparkSession, dir: String) =
      s.read.parquet(s"$dir/documents.parquet").count()
    // the first calls on a fresh corpus still pay JIT compilation: four
    // untimed calls bring the measured ones close to a steady state
    def warmCalls(op: String => Unit): Unit = {
      for (k <- 0 until 4) op(s"${c.work}/warm/$k")
      deleteTree(new File(s"${c.work}/warm"))
    }
    c.workload match {
      case "flagship" =>
        warmCalls(out => Bench.flagship(spark, c.corpus, out))
        r.loop(_ => Seq("flagship")) { (name, round, traced) =>
          r.op(name, round, traced, c.corpusPages, corpusBytes) { (_, out, _) =>
            val t0ms = System.currentTimeMillis()
            t("Bench.flagship")(Bench.flagship(spark, c.corpus, out))
            snapshotOf(out, t0ms)
          }
        }
      case "query_mix" =>
        val pages = fixturePages(spark, c.sfLarge)
        val bytes = fixtureBytes(c.sfLarge)
        // a warm session has run every query before: two untimed rounds pay
        // each query's first-use class loading and codegen, and most of its
        // JIT (after one, each measured round ran ~10% faster than the last)
        for (k <- 0 until 2; name <- Bench.headline)
          SparkEntry.queries(name)(spark, c.sfLarge).write.parquet(s"${c.work}/warm/$k-$name")
        deleteTree(new File(s"${c.work}/warm"))
        r.loop(_ => rng.shuffle(Bench.headline)) { (name, round, traced) =>
          r.op(name, round, traced, pages, bytes) { (id, out, layers) =>
            entryOp(r, spark, c.sfLarge, name, id, out, layers, t, traced)
            (None, None, None)
          }
        }
    }
    r
  }

  private def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Conf(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      req("work"), req("sf-small"), req("sf-large"), req("corpus"), req("corpus-seed").toLong, req("corpus-pages").toLong,
      req("warm-corpus"), req("warm-pages").toLong, m.getOrElse("cores", "4").toInt,
      req("launched-ns").toLong, m.getOrElse("prepare", "0") == "1", req("result"))
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    require(Set("flagship", "query_mix")(c.workload), s"unknown workload ${c.workload}")
    new File(c.outDir).mkdirs()
    val spark = session(c)
    if (c.prepare) {
      // corpus generation is bench-only and cached per (seed, size); it runs
      // in a JVM of its own, so it neither counts towards a timed set-up
      // nor warms one up
      Corpus.ensure(spark, c.warmCorpus, c.warmPages, 0L)
      Corpus.ensure(spark, c.corpus, c.corpusPages, c.corpusSeed)
      spark.stop()
      return
    }
    for (p <- Seq(c.warmCorpus, c.corpus))
      require(new File(s"$p/_SUCCESS").exists(), s"no corpus at $p: run with --prepare 1 first")
    val sessionS = sinceLaunch(c)
    warmUp(c, spark)
    val setupS = sinceLaunch(c)
    System.err.println(f"[perfbench] setup ${setupS}%.2fs: session ${sessionS}%.2fs from launch, " +
      f"warm-up ${setupS - sessionS}%.2fs")
    val t = new Spans(c.trace)
    val listener = if (c.trace) Some(new OpListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val runner = run(c, spark, t, listener)
    val probes = if (c.trace) Probes.all(c, spark, t, runner) else Map.empty[String, Any]
    if (c.trace) t.writeJsonl(s"${c.work}/spans.jsonl")
    val names = c.workload match {
      case "flagship" => Seq("pip_zonal_count")
      case _ => Bench.headline
    }
    val result = Map(
      "context" -> Map(
        "workload" -> c.workload, "seed" -> c.seed, "nproc" -> Runtime.getRuntime.availableProcessors,
        "cores_used" -> c.cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
        "corpus_pages" -> c.corpusPages, "seconds" -> c.seconds),
      "setup_s" -> setupS,
      "ops" -> runner.ops.map(_.toMap).toSeq,
      "oracle_sql" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap,
      "self_s" -> t.selfSeconds,
      "probes" -> probes)
    Files.writeString(Paths.get(c.result), Json(result))
    spark.stop()
  }
}
