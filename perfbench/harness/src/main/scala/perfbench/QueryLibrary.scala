package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** query_library: operator-library queries (the kg_delta_identity gate
  * excepted) in a fresh session — one cold pass, then warm passes. Each
  * result is written as parquet, which computes every column; the runner
  * compares the cold and the last warm results with each query's DuckDB
  * oracle. */
object QueryLibrary {

  private val Tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Queries the ROADMAP names as the heavy cold-path leaves. */
  private val HeavyLeaves =
    Seq("f7_table_grid", "dedup_minhash_fast", "nif_type_lexicalisations")

  private def all: Seq[String] =
    SparkEntry.queries.keys.filterNot(_ == "kg_delta_identity").toSeq.sorted

  /** The timed set: every fifteenth query in name order plus the heavy
    * leaves (the whole library, cold and warm, is over a run's time
    * budget; a traced run times every query cold). */
  private def timed(o: Opts): Seq[String] =
    if (o.tiny) all.take(3)
    else (all.zipWithIndex.collect { case (q, i) if i % 15 == 0 => q } ++
          HeavyLeaves).distinct.sorted

  /** One pass: each query's wall, None when it threw. */
  private def pass(spark: SparkSession, o: Opts, qs: Seq[String],
                   out: String, r: Result): Map[String, Option[Double]] =
    qs.map { q =>
      val t0 = System.nanoTime()
      val problem =
        try {
          SparkEntry.queries(q)(spark, o.data).write.mode("overwrite")
            .parquet(s"$out/$q")
          None
        } catch { case e: Throwable => Some(s"$q: ${e.getClass.getName}: ${e.getMessage}") }
      val sec = (System.nanoTime() - t0) / 1e9
      r.op(problem)
      q -> (if (problem.isEmpty) Some(sec) else None)
    }.toMap

  def run(o: Opts, r: Result): Unit = {
    val qs = timed(o)
    // set-up: a session with the input tables resolved (three times; the
    // last session runs the passes)
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 0 until 3) {
      if (spark != null) spark.stop()
      setups += Env.time {
        spark = Env.session(o, 4)
        Tables.foreach(t => spark.read.parquet(s"${o.data}/$t.parquet").schema)
      }._2
    }
    val coldDir = s"${o.work}/queries-cold"
    val warmDir = s"${o.work}/queries-warm"
    // a traced run's cold pass covers the whole library, for per-query times
    val coldSet = if (o.trace && !o.tiny) all else qs
    val t0 = System.nanoTime()
    val s0 = if (o.trace) Trace.snap(spark) else null
    val cold = pass(spark, o, coldSet, coldDir, r)
    Env.log(f"cold pass over ${coldSet.size} queries ${cold.values.flatten.sum}%.2f s")
    if (o.trace) {
      val s1 = Trace.snap(spark)
      r.perLayer ++= Trace.coldPathMetrics(s0, s1) ++
        Trace.runtimeMetrics(s0, s1, coldSet.size)
      cold.foreach { case (q, t) => r.perLayer(s"ops.$q.s") = t.getOrElse(0.0) }
    }
    val warm = mutable.ArrayBuffer.empty[Map[String, Option[Double]]]
    while (warm.isEmpty || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      warm += pass(spark, o, qs, warmDir, r)
      Env.log(f"warm pass ${warm.last.values.flatten.sum}%.2f s")
    }
    def total(p: Map[String, Option[Double]]) =
      qs.flatMap(q => p.get(q).flatten).sum
    r.endToEnd("setup_s") = Env.median(setups.toSeq)
    r.endToEnd("cold_s") = total(cold)
    r.endToEnd("warm_s") = Env.median(warm.map(total).toSeq)
    r.detail("queries") = qs.size
    r.detail("warm_passes") = warm.size
    r.detail("query_cold_total_s") = r.endToEnd("cold_s")
    r.detail("query_warm_total_s") = r.endToEnd("warm_s")
    if (o.trace) r.perLayer("trace.warm_s") = r.endToEnd("warm_s")
    // what the runner checks: result dirs and the oracle per query
    r.strings("check_dirs") = s"$coldDir,$warmDir"
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => coldSet.contains(k) }
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{", ", ", "}")
    Files.write(Paths.get(o.work, "oracle_sql.json"),
                oracles.getBytes(StandardCharsets.UTF_8))
  }
}
