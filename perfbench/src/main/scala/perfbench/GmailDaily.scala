package perfbench

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, from_json}

import graft.pipeline.GmailPipeline
import graft.schema.GmailSchema

/** gmail_daily: the paper's EP1 → EP2 DAG over a growing mailbox, one
  * simulated day per op. Each day lists the mailbox through PagedApiSource
  * (read through [[CountingApiClient]]), runs `GmailPipeline.extract`, then
  * EP2 ([[transformLoad]]), and every `compactEvery` days
  * `GmailPipeline.compactState`. The outputs (state table, stage-1 CSVs)
  * are checked by run.py against the generator's ground truth.
  *
  * The per-day budget (`GmailPipeline.Config.limit`) comes with the
  * generated mailbox (gen.py: the reference's 300 new messages per run);
  * the listing page size is the mail API's default of 100 ids per page,
  * which the reference does not override.
  */
final class GmailDaily(inputs: String, small: String, getDelayMs: String,
    listDelayMs: String) extends Workload {
  private val compactEvery = 2

  private val PageSize = 100

  override val opKinds: Set[String] = Set("day")

  private def days(dir: String): Int =
    Iterator.from(0).takeWhile(d => Files.isDirectory(Paths.get(s"$dir/day_$d"))).size

  private def budget(dir: String): Int =
    Files.readString(Paths.get(s"$dir/budget")).trim.toInt

  private def listing(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft.sources.PagedApiSource")
      .option("client", classOf[CountingApiClient].getName)
      .option("path", dir)
      .option("pageSize", PageSize.toString)
      .option("getDelayMs", getDelayMs)
      .option("listDelayMs", listDelayMs)
      .load()
      .select(from_json(col("json"), GmailSchema.messageType).as("m"))
      .select(col("m.*"))

  private def runDays(spark: SparkSession, in: String, out: String,
      rec: Recorder): Unit = {
    val cfg = GmailPipeline.Config(rawDir = s"$out/raw",
      stateDir = s"$out/state", stage1Dir = s"$out/stage1",
      processedDir = s"$out/raw/processed", limit = budget(in))
    CountingApiClient.reset()
    for (d <- 0 until days(in)) rec.op("day", "day") {
      rec.add("pipeline.state_files", stateFiles(cfg.stateDir))
      val today = java.sql.Date.valueOf(java.time.LocalDate.of(2024, 3, 1).plusDays(d))
      val n = rec.call("pipeline.extract")(
        GmailPipeline.extract(spark, listing(spark, s"$in/day_$d"), cfg, today))
      val rows = rec.call("pipeline.transform")(transformLoad(spark, cfg, s"day_$d"))
      rec.add("pipeline.new_msgs", n.toDouble)
      rec.add("pipeline.landed", rows.toDouble)
      if ((d + 1) % compactEvery == 0)
        rec.call("pipeline.compact")(GmailPipeline.compactState(spark, cfg.stateDir))
    }
    rec.gauge("api.list_calls", CountingApiClient.lists.get.toDouble)
    rec.gauge("api.get_calls", CountingApiClient.gets.get.toDouble)
    rec.gauge("api.list_busy_ms", CountingApiClient.listNs.get / 1e6)
    rec.gauge("api.get_busy_ms", CountingApiClient.getNs.get / 1e6)
  }

  /** EP2 as `GmailPipeline.transformLoadRaw` does it — raw blobs →
    * `formatMessages` → stage-1 CSV → archive → count of landed rows — but
    * reading the blobs with `readRaw(jsonl = true)`, the format `extract`
    * writes (as `PipelineDemo` does). `transformLoadRaw` reads every blob
    * as one JSON array (multiLine), so after `extract` it lands only the
    * first message of each part file (README.md, gmail_daily).
    */
  private def transformLoad(spark: SparkSession, cfg: GmailPipeline.Config,
      outName: String): Long = {
    val raw = new Path(cfg.rawDir)
    val fs = raw.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val blobs = fs.listStatus(raw).filter(_.isFile).map(_.getPath)
      .filter(_.getName.endsWith(".json"))
    val stage1 = s"${cfg.stage1Dir}/$outName"
    GmailPipeline.formatMessages(
      GmailPipeline.readRaw(spark, blobs.map(_.toString).toSeq, jsonl = true),
      cfg.linkedinEnabled)
      .filter(col("id").isNotNull)
      .write.mode(SaveMode.Overwrite)
      .option("header", true).option("quoteAll", true).csv(stage1)
    val processed = new Path(cfg.processedDir)
    fs.mkdirs(processed)
    blobs.foreach(b => fs.rename(b, new Path(processed, b.getName)))
    spark.read.option("header", true).option("multiLine", true).csv(stage1).count()
  }

  private def stateFiles(dir: String): Double = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) 0.0
    else {
      val st = Files.list(p)
      try st.filter(f => f.getFileName.toString.endsWith(".parquet")).count().toDouble
      finally st.close()
    }
  }

  override def warmUp(spark: SparkSession, dir: String): Unit =
    runDays(spark, small, dir, new Recorder)

  override def pass(spark: SparkSession, dir: String, rec: Recorder): Unit =
    runDays(spark, inputs, dir, rec)

  // exactly-once and field checks need the generator's ground truth: run.py
  override def checked(recs: Seq[Recorder]): Checked = Checked(0, 0, Nil)

  override def layerMetrics(recs: Seq[Recorder]): Map[String, Double] = {
    def med(f: Recorder => Double) = Stats.median(recs.map(f))
    val nDays = recs.head.ops.size.toDouble
    Map(
      "api.list_calls" -> med(_.gauges("api.list_calls")),
      "api.get_calls" -> med(_.gauges("api.get_calls")),
      "api.list_busy_ms" -> med(_.gauges("api.list_busy_ms")),
      "api.get_busy_ms" -> med(_.gauges("api.get_busy_ms")),
      "api.gets_per_new_msg" -> med(r =>
        r.gauges("api.get_calls") / r.gauges("pipeline.new_msgs")),
      "pipeline.extract_ms" -> med(_.callMs("pipeline.extract").sum),
      "pipeline.transform_ms" -> med(_.callMs("pipeline.transform").sum),
      "pipeline.compact_ms" -> med(_.callMs("pipeline.compact").sum),
      "pipeline.state_files" -> med(_.gauges("pipeline.state_files") / nDays),
      "pipeline.day_p50_s" -> Stats.median(recs.flatMap(_.ops.map(_._2))) / 1e3,
      "pipeline.msgs_per_s" -> med(r =>
        r.gauges("pipeline.landed") / r.gauges("pass_s")))
  }
}
