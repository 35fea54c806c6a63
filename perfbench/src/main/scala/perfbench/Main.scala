package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set-up, the timed passes, the
  * output checks, and a JSON summary for run.py.
  *
  * {{{
  *   java -cp <classes>:<spark jars> perfbench.Main --workload gmail_daily \
  *     --inputs <dir> --small <dir> --work <dir> --seconds 10 --trace 0 \
  *     --cores 4 --out result.json
  * }}}
  *
  * Timed phase: passes run back to back until `--seconds` have elapsed
  * and at least [[MinPasses]] have run. Each pass writes under its own
  * directory, so nothing a pass builds is reused by the next. With
  * `--trace 1`, the Spark and streaming listeners are registered for the
  * timed passes only, with one untraced pass before and one after them;
  * traced minus untraced pass time is the tracing overhead.
  */
object Main {
  /** The first timed pass is slower than the next ones (about 20 % on
    * query_mix even after a warm-up on the full inputs). A pass count that
    * depends on whether the second pass fits into `--seconds` makes the
    * median bimodal: table_churn's pass is close to 10 s.
    */
  private val MinPasses = 2

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val cores = a.getOrElse("cores", "4").toInt
    val wl: Workload = workload match {
      case "gmail_daily" => new GmailDaily(a("inputs"), a("small"),
        a.getOrElse("get-delay-ms", "1"), a.getOrElse("list-delay-ms", "5"))
      case "query_mix" => new QueryMix(a("inputs"), a("small"))
      case "table_churn" => new TableChurn(a("inputs"), a("small"),
        corrupt = a.getOrElse("corrupt", "0") == "1")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // ---- set-up: the session, then every op once on the small inputs
    // (JIT and codegen warm-up). run.py times set-up from before the input
    // generation to `first_op_epoch_ms`, so JVM start and class loading count.
    val spark = graft.Graft.localSession(cores, "perfbench", Map(
      "spark.sql.files.maxPartitionBytes" -> "4m",
      "spark.hadoop.hadoop.tmp.dir" -> System.getProperty("java.io.tmpdir")))
    val w0 = System.nanoTime()
    wl.warmUp(spark, s"$work/warmup")
    val warmupS = (System.nanoTime() - w0) / 1e9
    // every pass starts from a collected heap, not from the warm-up's garbage
    System.gc()
    Thread.sleep(200) // its notification is not the timed phase's
    HeapPeak.install()
    val firstOpEpochMs = System.currentTimeMillis()

    // ---- timed phase
    var nPasses = 0
    val passS = mutable.ArrayBuffer[Double]()
    val recs = mutable.ArrayBuffer[Recorder]()
    def runPass(i: Int, traced: Boolean): (Double, Recorder) = {
      val dir = s"$work/pass_$i"
      val rec = new Recorder
      val t0 = System.nanoTime()
      if (traced) Trace.span("pass")(wl.pass(spark, dir, rec))
      else wl.pass(spark, dir, rec)
      val s = (System.nanoTime() - t0 - rec.untimedNs) / 1e9
      rec.gauge("pass_s", s)
      nPasses += 1
      (s, rec)
    }
    val allRecs = mutable.ArrayBuffer[Recorder]()
    val untracedS = mutable.ArrayBuffer[Double]()
    def untracedPass(): Unit = {
      val (s, rec) = runPass(nPasses, traced = false)
      untracedS += s
      allRecs += rec
    }
    if (trace) {
      untracedPass()
      Trace.register(spark)
      Trace.start(spark, workload)
    }
    val phaseStart = System.nanoTime()
    Trace.span("run") {
      do {
        val (s, rec) = runPass(nPasses, trace)
        passS += s
        recs += rec
        allRecs += rec
      } while ((System.nanoTime() - phaseStart) / 1e9 < seconds || passS.size < MinPasses)
    }
    if (trace) {
      Trace.stop()
      Trace.unregister(spark)
      // untraced passes on both sides, so warming over the run cancels
      untracedPass()
    }

    // ---- checks, outside every timed span
    val checked = wl.checked(allRecs.toSeq)

    val opMs = recs.flatMap(_.ops).filter(o => wl.opKinds(o._1)).map(_._2)
    // setup_s is added by run.py, from first_op_epoch_ms
    val e2e = Map(
      "run_s" -> Stats.median(passS.toSeq),
      "op_iqm_ms" -> Stats.iqm(opMs.toSeq),
      "heap_peak_mb" -> HeapPeak.mb())
    val layers =
      if (!trace) Map.empty[String, Double]
      else sparkLayer() ++ wl.layerMetrics(recs.toSeq) ++ Map(
        "trace.overhead_s" -> (Stats.median(passS.toSeq) - untracedS.sum / untracedS.size),
        "trace.spans" -> Trace.spans.size.toDouble)
    if (trace) writeTrace(s"$work/trace.json")
    val out = Jsonish.obj(Seq(
      "workload" -> Jsonish.str(workload),
      "passes" -> passS.size.toString,
      "ops" -> opMs.size.toString,
      "attempted" -> checked.attempted.toString,
      "failed" -> checked.failed.toString,
      "notes" -> Jsonish.arr(checked.notes.take(50).map(Jsonish.str)),
      "first_op_epoch_ms" -> firstOpEpochMs.toString,
      "warmup_s" -> Jsonish.num(warmupS),
      "pass_s" -> Jsonish.arr(passS.toSeq.map(Jsonish.num)),
      "end_to_end" -> Jsonish.nums(e2e.toSeq.sortBy(_._1)),
      "per_layer" -> Jsonish.nums(layers.toSeq.sortBy(_._1))))
    Files.writeString(Paths.get(a("out")), out)
    spark.stop()
  }

  /** `spark.*`: Spark work per traced pass (median over passes), summed
    * over every span of the pass.
    */
  private def sparkLayer(): Map[String, Double] = {
    val passes = Trace.spans.filter(_.name == "pass")
    def under(root: Int): Seq[Span] = {
      val kids = Trace.spans.filter(s => s.parent == root && s.name != "check").toSeq
      kids ++ kids.flatMap(k => under(k.id))
    }
    val per = passes.toSeq.map { p =>
      val ss = under(p.id)
      val cs = ss.flatMap(s => Trace.counts.get(s.id))
      val leaves = ss.filter(s => !ss.exists(_.parent == s.id))
      Map(
        "spark.jobs" -> cs.map(_.jobs).sum.toDouble,
        "spark.tasks" -> cs.map(_.tasks).sum.toDouble,
        "spark.driver_ms" -> leaves.map(Trace.driverMs).sum,
        "spark.exec_cpu_ms" -> cs.map(_.cpuNs).sum / 1e6,
        "spark.exec_run_ms" -> cs.map(_.runMs).sum.toDouble,
        "spark.gc_ms" -> cs.map(_.gcMs).sum.toDouble,
        "spark.shuffle_bytes" -> cs.map(_.shuffleBytes).sum.toDouble,
        "spark.spill_bytes" -> cs.map(_.spillBytes).sum.toDouble,
        "spark.input_bytes" -> cs.map(_.inputBytes).sum.toDouble,
        "spark.output_bytes" -> cs.map(_.outputBytes).sum.toDouble)
    }
    per.headOption.map(_.keys).getOrElse(Nil).map(k =>
      k -> Stats.median(per.map(_(k)))).toMap
  }

  /** Every span with its self time, plus a per-name summary. */
  private def writeTrace(path: String): Unit = {
    val spans = Trace.spans.toSeq.map(s => Jsonish.obj(Seq(
      "id" -> s.id.toString, "parent" -> s.parent.toString,
      "name" -> Jsonish.str(s.name), "run" -> Jsonish.str(s.run),
      "start_ms" -> s.startMs.toString,
      "dur_ms" -> Jsonish.num(s.durMs),
      "self_ms" -> Jsonish.num(Trace.selfMs(s)),
      "driver_ms" -> Jsonish.num(Trace.driverMs(s)))))
    val byName = Trace.spans.groupBy(_.name).toSeq.sortBy(_._1).map {
      case (n, ss) => n -> Jsonish.obj(Seq(
        "count" -> ss.size.toString,
        "total_ms" -> Jsonish.num(ss.map(_.durMs).sum),
        "self_ms" -> Jsonish.num(ss.map(Trace.selfMs).sum)))
    }
    Files.writeString(Paths.get(path), Jsonish.obj(Seq(
      "summary" -> Jsonish.obj(byName), "spans" -> Jsonish.arr(spans))))
  }
}

/** `heap_peak_mb`: the most heap in use right after any collection from
  * [[install]] on (the timed passes and checks), summed over the heap pools
  * of each collector's GC notification. When no collection happened, the
  * heap in use after a forced one.
  */
object HeapPeak {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new AtomicLong()
  private val seen = new AtomicLong()

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, math.max)
        seen.incrementAndGet()
      }, null, null)
    case _ =>
  }

  def mb(): Double = {
    if (seen.get == 0) {
      System.gc()
      peak.accumulateAndGet(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed, math.max)
    }
    peak.get / 1048576.0
  }
}

/** Minimal JSON rendering for the summary files. */
object Jsonish {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def nums(kv: Seq[(String, Double)]): String =
    obj(kv.map { case (k, v) => k -> num(v) })
}
