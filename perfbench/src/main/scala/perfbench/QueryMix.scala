package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry

/** query_mix: read-only. A pass runs a fixed list of declared queries from
  * both registries through the noop sink, then direct SQL calls of graft's
  * native functions. Every pass reads its own copy of the corpus, so the
  * memo and prologue fixtures the queries keep per corpus path are built
  * again, as a one-shot user pays them.
  *
  * Checks: the warm-up rehearsal (on the small corpus generated from the
  * same seed) writes every query result as parquet, which run.py compares
  * with the query's DuckDB oracle; each function call's rows are compared
  * with the function's plain Scala implementation. A query or call that
  * fails in a timed pass counts as failed too.
  */
final class QueryMix(inputs: String, small: String) extends Workload {
  import QueryMix._

  override val opKinds: Set[String] = Set("query")

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val failures = mutable.ArrayBuffer[String]()

  private def copyCorpus(from: String, to: String): Unit = {
    Files.createDirectories(Paths.get(to))
    tables.foreach(t => Files.copy(Paths.get(s"$from/$t.parquet"),
      Paths.get(s"$to/$t.parquet"), StandardCopyOption.REPLACE_EXISTING))
  }

  private def registerViews(spark: SparkSession, corpus: String): Unit =
    Seq("documents", "embeddings").foreach(t =>
      spark.read.parquet(s"$corpus/$t.parquet").createOrReplaceTempView(t))

  /** Every query and call once; `sink` consumes each result. */
  private def runAll(spark: SparkSession, corpus: String, rec: Recorder,
      sink: (String, DataFrame) => Unit): Unit = {
    Queries.foreach { q =>
      try rec.op("query", s"query.$q")(sink(q, SparkEntry.queries(q)(spark, corpus)))
      catch { case e: Exception => failures += s"$q: ${e.getMessage}" }
    }
    registerViews(spark, corpus)
    Functions.foreach { case (f, sql) =>
      try rec.op("function", s"functions.$f")(sink(f, spark.sql(sql)))
      catch { case e: Exception => failures += s"$f: ${e.getMessage}" }
    }
  }

  private def noop(name: String, df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  override def warmUp(spark: SparkSession, dir: String): Unit = {
    copyCorpus(small, s"$dir/corpus")
    val out = s"$dir/check"
    runAll(spark, s"$dir/corpus", new Recorder, (name, df) =>
      if (name.startsWith("q_")) df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      else checkFunction(name, df).foreach(m => failures += s"functions.$name: $m"))
    val oracle = Queries.map(q => q -> Jsonish.str(SparkEntry.oracleSql(q)))
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Jsonish.obj(oracle))
  }

  override def pass(spark: SparkSession, dir: String, rec: Recorder): Unit = {
    copyCorpus(inputs, s"$dir/corpus")
    runAll(spark, s"$dir/corpus", rec, noop)
  }

  // the warm-up's query results are compared with DuckDB by run.py
  override def checked(recs: Seq[Recorder]): Checked =
    Checked(recs.map(_.ops.size).sum.toLong + Functions.size, failures.size,
      failures.toSeq)

  override def layerMetrics(recs: Seq[Recorder]): Map[String, Double] = {
    def med(name: String) = Stats.median(recs.map(_.callMs(name).sum)) / 1e3
    val perQuery = Queries.map(q => s"query.${q}_s" -> med(s"query.$q"))
    val perFn = Functions.map { case (f, _) => s"functions.${f}_s" -> med(s"functions.$f") }
    val rel = Queries.filter(graft.queries.Relational.queries.contains)
    Map(
      "queries.relational_s" -> Stats.median(recs.map(r =>
        rel.map(q => r.callMs(s"query.$q").sum).sum)) / 1e3,
      "queries.ext_s" -> Stats.median(recs.map(r =>
        Queries.filterNot(rel.contains).map(q => r.callMs(s"query.$q").sum).sum)) / 1e3,
      "queries.query_p50_s" -> Stats.median(recs.flatMap(
        _.ops.filter(_._1 == "query").map(_._2))) / 1e3) ++ perQuery ++ perFn
  }
}

object QueryMix {
  /** The declared queries a pass runs, Relational first, then Ext. */
  val Queries: Seq[String] = Seq(
    "q_agg_group", "q_join_asof_native", "q_join_bloom", "q_sql_q3",
    "q_dedup_minhash", "q_dedup_semantic", "q_bm25")

  /** Direct SQL calls of the native functions: (name, query). Each result
    * row carries the inputs its check recomputes from.
    */
  val Functions: Seq[(String, String)] = Seq(
    "minhash_sig" -> "SELECT doc_id, text, minhash_sig(text, 3, 16) AS v FROM documents",
    "simhash16" -> "SELECT doc_id, text, simhash16(text) AS v FROM documents",
    "simhash64" -> "SELECT doc_id, text, simhash64(text) AS v FROM documents",
    "html_to_text" -> ("SELECT doc_id, concat('<div><style>p{x:1}</style><p>', " +
      "text, '</p>&amp;<!-- c --><b> ', lang, ' </b></div>') AS text, " +
      "html_to_text(concat('<div><style>p{x:1}</style><p>', text, " +
      "'</p>&amp;<!-- c --><b> ', lang, ' </b></div>')) AS v FROM documents"),
    "cosine_sim" -> ("SELECT a.vec_id, a.embedding AS x, b.embedding AS y, " +
      "cosine_sim(CAST(a.embedding AS ARRAY<DOUBLE>), " +
      "CAST(b.embedding AS ARRAY<DOUBLE>)) AS v FROM embeddings a " +
      "JOIN embeddings b ON b.vec_id = a.vec_id + 1"),
    "dot_product" -> ("SELECT a.vec_id, a.embedding AS x, b.embedding AS y, " +
      "dot_product(CAST(a.embedding AS ARRAY<DOUBLE>), " +
      "CAST(b.embedding AS ARRAY<DOUBLE>)) AS v FROM embeddings a " +
      "JOIN embeddings b ON b.vec_id = a.vec_id + 1"))

  private def floats(r: Row, i: Int): Array[Double] =
    r.getSeq[Float](i).map(_.toDouble).toArray

  /** Compare a function call's rows with the function's Scala reference;
    * the first mismatch, if any.
    */
  def checkFunction(f: String, df: DataFrame): Option[String] = {
    val rows = df.collect()
    def firstBad(p: Row => Boolean): Option[String] =
      rows.find(r => !p(r)).map(r => s"row ${r.get(0)} differs from the Scala reference")
    f match {
      case "minhash_sig" => firstBad { r =>
        val exp = graft.functions.MinHashSig.compute(r.getString(1), 3, 16)
          .toLongArray().toSeq
        r.getSeq[Long](2) == exp
      }
      case "simhash16" => firstBad(r =>
        r.getString(2) == graft.functions.SimHash16.compute(r.getString(1)).toString)
      case "simhash64" => firstBad(r =>
        r.getString(2) == graft.functions.SimHash64.compute(r.getString(1)).toString)
      case "html_to_text" => firstBad(r =>
        r.getString(2) == graft.ops.HtmlText.clean(r.getString(1)))
      case "cosine_sim" | "dot_product" => firstBad { r =>
        val (x, y) = (floats(r, 1), floats(r, 2))
        val dot = x.zip(y).map { case (a, b) => a * b }.sum
        val exp = if (f == "dot_product") dot
          else dot / (math.sqrt(x.map(a => a * a).sum) * math.sqrt(y.map(a => a * a).sum))
        val got = r.getDouble(3)
        math.abs(got - exp) <= 1e-6 * math.max(1.0, math.abs(exp))
      }
      case other => Some(s"no reference for $other")
    }
  }
}
