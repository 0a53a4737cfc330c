package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.io.File

/** Seeded page corpus with the PageGen schema (doc_id, url, warc_ts, html,
  * text, lang, n_chars). The seed changes which tokens each page draws,
  * never the page count or the text length, so every seed costs the same
  * to process. One file per split, so a scan runs one task per file. */
object Corpus {
  private val words = Seq("key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "index", "page",
    "query", "join", "shard", "block", "cache", "tile")

  def ensure(spark: SparkSession, path: String, pages: Long, seed: Long, parts: Int = 16): Unit = {
    if (new File(s"$path/_SUCCESS").exists()) return
    val arr = words.map(w => s"'$w'").mkString("array(", ", ", ")")
    val toks = (0 until 24).map(i =>
      s"element_at($arr, cast(pmod(xxhash64(id, $i, ${seed}L), 20) as int) + 1)")
    spark.range(0, pages, 1, parts)
      .withColumn("text", expr(s"concat_ws(' ', 'doc', cast(id as string), ${toks.mkString(", ")})"))
      .select(
        col("id").as("doc_id"),
        expr("'https://site-' || cast(id % 997 as string) || '.example/p/' || cast(id as string)").as("url"),
        expr("timestampadd(SECOND, cast(id % 31536000 as int), timestamp'2024-01-01 00:00:00')").as("warc_ts"),
        expr("encode('<html><body>' || text || '</body></html>', 'UTF-8')").as("html"),
        col("text"),
        expr("element_at(array('en','de','fr','zh','es'), cast(id % 5 as int) + 1)").as("lang"),
        expr("cast(length(text) as bigint)").as("n_chars"))
      .write.mode("overwrite").option("compression", "zstd").parquet(path)
  }
}
