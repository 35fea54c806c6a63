package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.math.Ordering.Double.TotalOrdering
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}

import graft.sources.SnapshotTable
import graft.sources.SnapshotTable.PartitionSpec

/** table_churn: writes beside reads on one SnapshotTable, then a streaming
  * phase. A pass builds a fresh table from the generated batches:
  * appends (plain and days(ts)-partitioned), a metadata-only aggregate, a
  * copy-on-write delete, full, pruned and keyed reads, a merge-on-read
  * delete and upsert, time-travel and change-feed reads, small-file
  * compaction, vacuum, and an AvailableNow file stream committed one
  * micro-batch at a time with `commitAppendOnce`.
  *
  * Checks: the benchmark keeps its own model of the table (event_id →
  * row, one map per committed version). After every commit the latest
  * snapshot is read back and compared with the model, and every read op's
  * rows are compared with the model at the version it read. Check time is
  * excluded from op and pass times. `corrupt` drops one row from the first
  * full read before it is checked: the benchmark's own test that a wrong
  * output shows up in `failed`.
  */
final class TableChurn(inputs: String, small: String, corrupt: Boolean)
    extends Workload {
  import TableChurn._

  override val opKinds: Set[String] = Set("commit", "read")

  private val failures = mutable.ArrayBuffer[String]()
  private var checks = 0L

  override def warmUp(spark: SparkSession, dir: String): Unit =
    runOnce(spark, small, dir, new Recorder, mutable.ArrayBuffer(), checking = false)

  override def pass(spark: SparkSession, dir: String, rec: Recorder): Unit =
    runOnce(spark, inputs, dir, rec, failures, checking = true)

  override def checked(recs: Seq[Recorder]): Checked =
    Checked(checks, failures.size, failures.toSeq)

  private def runOnce(spark: SparkSession, in: String, dir: String,
      rec: Recorder, fails: mutable.Buffer[String], checking: Boolean): Unit = {
    val t = s"$dir/t"
    val models = mutable.Map[Int, Map[Long, Tup]]()
    var model = Map.empty[Long, Tup]
    var userBytes = 0L
    var written = 0L
    val seen = mutable.Set[String]()

    def load(name: String): DataFrame = spark.read.parquet(s"$in/$name")
    def fileBytes(name: String): Long = Files.size(Paths.get(s"$in/$name"))

    def verify(what: String, got: Seq[Tup], exp: Iterable[Tup]): Unit =
      if (checking) rec.untimed {
        checks += 1
        if (got.sorted != exp.toSeq.sorted)
          fails += s"$what: ${got.size} rows read, model has ${exp.size}"
      }

    /** After a commit: remember the model at its version, count the bytes
      * it wrote, read the latest snapshot back.
      */
    def committed(what: String, v: Int): Unit = rec.untimed {
      models(v) = model
      val now = dataFiles(t)
      now.filterNot(f => seen(f._1)).foreach(f => written += f._2)
      seen ++= now.map(_._1)
      if (checking) {
        checks += 1
        val got = tuples(SnapshotTable.read(spark, t))
        if (got.sorted != model.values.toSeq.sorted)
          fails += s"$what v$v: ${got.size} rows read, model has ${model.size}"
      }
    }

    def commit[T](name: String)(body: => T): T = rec.op("commit", s"snapshot.$name")(body)
    def read[T](name: String)(body: => T): T = rec.op("read", s"snapshot.$name")(body)

    def addRows(df: DataFrame): Unit = rec.untimed {
      model ++= tuples(df).map(r => r._1 -> r)
    }

    // ---- appends
    val appends = listNames(in, "append_")
    val parts = listNames(in, "part_")
    for (a <- appends) {
      val df = load(a)
      val v = commit("append")(SnapshotTable.commitAppend(df, t, "event_id", 2))
      addRows(df); userBytes += fileBytes(a)
      committed(s"append $a", v)
    }
    for (p <- parts) {
      val df = load(p)
      val v = commit("append_partitioned")(
        SnapshotTable.commitAppendPartitioned(df, t, PartitionSpec("days", "ts")))
      addRows(df); userBytes += fileBytes(p)
      committed(s"partitioned append $p", v)
    }
    val vAppended = SnapshotTable.latestVersion(t).get

    // ---- metadata-only aggregate (tombstone-free snapshot)
    val (n, bounds) = read("stats_agg")(SnapshotTable.statsAggCol(t, "event_id"))
    if (checking) rec.untimed {
      checks += 1
      val ks = model.keys
      val exp = Some(("l", ks.min.toString, ks.max.toString))
      if (n != model.size || bounds != exp)
        fails += s"statsAggCol: ($n, $bounds) vs model (${model.size}, $exp)"
    }

    // ---- copy-on-write delete
    val cowKeys = load("cow_keys.parquet")
    val vCow = commit("delete_cow")(
      SnapshotTable.commitDelete(spark, t, "event_id", cowKeys, "event_id")._2)
    rec.untimed { model --= keysOf(cowKeys) }
    committed("cow delete", vCow)

    // ---- reads: full, zone-pruned range, keyed point lookups
    val full = read("read")(tuples(SnapshotTable.read(spark, t)))
    verify("read", if (corrupt) full.drop(1) else full, model.values)
    val ids = model.keys.toSeq.sorted
    val (rLo, rHi) = (ids(ids.size / 3).toDouble, ids(ids.size / 3 + ids.size / 10).toDouble)
    val (pruned, filesRead, filesTotal) = read("pruned_read") {
      val (df, r, tot) = SnapshotTable.readPruned(spark, t, rLo, rHi)
      (tuples(df.filter(col("event_id").between(rLo, rHi))), r, tot)
    }
    rec.add("snapshot.files_scanned", filesRead.toDouble)
    rec.add("snapshot.files_planned", filesTotal.toDouble)
    verify("pruned read", pruned,
      model.values.filter(r => r._1 >= rLo && r._1 <= rHi))
    val probe = ids.indices.by(math.max(1, ids.size / 25)).map(ids)
    val point = read("point_read") {
      val keys = spark.createDataFrame(probe.map(Tuple1(_))).toDF("event_id")
      val (df, _, _) = SnapshotTable.readKeyedPruned(spark, t, "event_id", keys)
      tuples(df.join(keys, Seq("event_id"), "left_semi"))
    }
    verify("point read", point, probe.flatMap(model.get))

    // the change feed across the copy-on-write delete (its endpoints must
    // be tombstone-free)
    val changes = read("changes") {
      val (df, _, _) = SnapshotTable.readChanges(spark, t, vAppended, vCow)
      df.select((Cols :+ "_change").map(col): _*)
        .withColumn("ts", unix_micros(col("ts"))).collect()
        .map(r => (r.getString(6), tup(r))).toSeq
    }
    if (checking) rec.untimed {
      checks += 1
      val (a, b) = (models(vAppended), models(vCow))
      val exp = b.values.filterNot(r => a.get(r._1).contains(r)).map(("insert", _)) ++
        a.values.filterNot(r => b.get(r._1).contains(r)).map(("delete", _))
      if (changes.sorted != exp.toSeq.sorted)
        fails += s"readChanges v$vAppended..v$vCow: ${changes.size} changes, model has ${exp.size}"
    }

    // ---- merge-on-read delete and upsert
    val morKeys = load("mor_keys.parquet")
    val vMor = commit("delete_mor")(
      SnapshotTable.commitDeleteMor(spark, t, "event_id", morKeys)._2)
    rec.untimed { model --= keysOf(morKeys) }
    committed("mor delete", vMor)
    val merge = load("merge.parquet")
    val vMerge = commit("merge_mor")(
      SnapshotTable.commitMergeMor(spark, t, merge, "event_id", "event_id", 1)._2)
    addRows(merge); userBytes += fileBytes("merge.parquet")
    committed("mor merge", vMerge)

    // ---- time travel
    val old = read("time_travel")(tuples(SnapshotTable.read(spark, t, Some(vCow))))
    verify(s"time travel v$vCow", old, models(vCow).values)

    // ---- maintenance: small-file compaction, then vacuum
    val (_, _, vCompact) = commit("compact")(
      SnapshotTable.compactSmallFiles(spark, t, "event_id", Long.MaxValue, 1L << 20))
    committed("compactSmallFiles", vCompact)
    commit("vacuum")(SnapshotTable.vacuum(t, keepLast = 2))
    rec.untimed { models.keys.filter(_ < vCompact - 1).foreach(models.remove) }
    committed("vacuum", vCompact)
    val kept = read("time_travel")(tuples(SnapshotTable.read(spark, t, Some(vMerge))))
    verify(s"time travel after vacuum v$vMerge", kept, models(vMerge).values)

    // ---- streaming: one commitAppendOnce per micro-batch
    val streamDir = s"$in/stream"
    val schema = spark.read.parquet(streamDir).schema
    rec.op("stream", "stream.drain") {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(streamDir)
      val sq = graft.streaming.Streams.runWithBatchCommit(src, s"$dir/ckpt") {
        (b, id) =>
          rec.call("snapshot.append_once")(
            SnapshotTable.commitAppendOnce(b, t, "event_id", 1, id, Nil, "perfbench"))
          ()
      }
      sq.awaitTermination()
    }
    addRows(spark.read.parquet(streamDir))
    userBytes += dataFilesUnder(Paths.get(streamDir)).map(_._2).sum
    committed("stream", SnapshotTable.latestVersion(t).get)

    // ---- space
    rec.untimed {
      val data = dataFiles(t)
      val meta = dataFilesUnder(Paths.get(s"$t/_log"))
      rec.gauge("snapshot.bytes_per_row",
        (data.map(_._2).sum + meta.map(_._2).sum).toDouble / model.size)
      rec.gauge("snapshot.files_live",
        SnapshotTable.snapshot(t).map(_.files.toDouble).sum)
      rec.gauge("snapshot.meta_files", meta.size.toDouble)
      rec.gauge("snapshot.write_amp", written.toDouble / userBytes)
    }
  }

  override def layerMetrics(recs: Seq[Recorder]): Map[String, Double] = {
    def p50(name: String) = Stats.orZero(Stats.median(recs.flatMap(_.callMs(name))))
    def gauge(name: String) = Stats.median(recs.map(_.gauges(name)))
    val latencies = Seq("append", "append_partitioned", "delete_mor", "delete_cow",
      "merge_mor", "compact", "vacuum", "read", "pruned_read", "point_read",
      "time_travel", "changes", "stats_agg").map(n => s"snapshot.${n}_ms" -> p50(s"snapshot.$n"))
    val ops = recs.flatMap(_.ops)
    Map(
      "snapshot.commit_p50_ms" -> Stats.median(ops.filter(_._1 == "commit").map(_._2)),
      "snapshot.read_p50_ms" -> Stats.median(ops.filter(_._1 == "read").map(_._2)),
      "snapshot.files_scanned_frac" -> Stats.median(recs.map(r =>
        r.gauges("snapshot.files_scanned") / r.gauges("snapshot.files_planned"))),
      "stream.triggers" -> Trace.progress.size.toDouble / recs.size) ++
      StreamSplit.map { case (k, m) => m -> Stats.orZero(Stats.median(
        Trace.progress.toSeq.flatMap(p => Option(p.get(k)).map(_.toDouble)))) } ++
      Seq("snapshot.bytes_per_row", "snapshot.files_live", "snapshot.meta_files",
        "snapshot.write_amp").map(g => g -> gauge(g)) ++
      latencies
  }
}

object TableChurn {
  /** event_id, ts (epoch micros), user_id, event_type, value, props */
  type Tup = (Long, Long, Long, String, Double, String)

  /** StreamingQueryProgress.durationMs key → per-layer metric. */
  val StreamSplit = Seq("triggerExecution" -> "stream.trigger_p50_ms",
    "walCommit" -> "stream.wal_commit_ms", "queryPlanning" -> "stream.query_planning_ms",
    "latestOffset" -> "stream.latest_offset_ms", "addBatch" -> "stream.add_batch_ms",
    "commitOffsets" -> "stream.commit_offsets_ms")

  val Cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")

  private def tup(r: org.apache.spark.sql.Row): Tup =
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4), r.getString(5))

  def tuples(df: DataFrame): Seq[Tup] =
    df.select(Cols.map(col): _*).withColumn("ts", unix_micros(col("ts")))
      .collect().map(tup).toSeq

  def keysOf(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).toSeq

  def listNames(dir: String, prefix: String): Seq[String] = {
    val st = Files.list(Paths.get(dir))
    try st.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith(prefix) && n.endsWith(".parquet")).toSeq.sorted
    finally st.close()
  }

  def dataFilesUnder(root: Path): Seq[(String, Long)] =
    if (!Files.exists(root)) Nil
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toSeq
      finally st.close()
    }

  /** Data files of a table: everything outside its `_log` directory. */
  def dataFiles(table: String): Seq[(String, Long)] =
    dataFilesUnder(Paths.get(table)).filterNot(_._1.contains("/_log/"))
}
