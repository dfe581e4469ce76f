package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Options the runner passes through (see ../run.py). */
final case class Opts(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: String, result: String,
                      tiny: Boolean, plantDrop: Boolean, data: String)

/** What one run reports: operations attempted and failed (a failed check
  * counts its operation as failed), end-to-end metrics, per-layer metrics
  * (traced runs only) and the workload's own named figures. */
final class Result {
  var attempted = 0
  var failed = 0
  val problems = mutable.ArrayBuffer.empty[String]
  val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  val perLayer = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, Double]
  val strings = mutable.LinkedHashMap.empty[String, String]

  /** Record one operation; `problem` is None when every check passed. */
  def op(problem: Option[String]): Unit = {
    attempted += 1
    problem.foreach { p => failed += 1; problems += p }
  }

  def toJson: String = {
    def nums(m: mutable.LinkedHashMap[String, Double]) = m.map {
      case (k, v) => s"${Json.str(k)}: ${Json.num(v)}"
    }.mkString("{", ", ", "}")
    val strs = strings.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{", ", ", "}")
    s"""{"attempted": $attempted, "failed": $failed, """ +
      s""""problems": ${problems.map(Json.str).mkString("[", ", ", "]")}, """ +
      s""""end_to_end": ${nums(endToEnd)}, "per_layer": ${nums(perLayer)}, """ +
      s""""detail": ${nums(detail)}, "strings": $strs}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}

object Env {
  private val start = System.nanoTime()

  /** Progress on stderr, with seconds since the JVM's harness start. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench ${(System.nanoTime() - start) / 1e9}%7.1f s: $msg")

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Medians of per-sample metric maps, key by key. */
  def medians(samples: Seq[Map[String, Double]]): Map[String, Double] =
    samples.flatMap(_.keys).distinct
      .map(k => k -> median(samples.flatMap(_.get(k)))).toMap

  /** A local session with `cores` task threads. `fileTasks` gives every
    * file of a many-small-files scan its own task, so the task count (and
    * with it the number of waves per level) does not hang on file sizes.
    * Every file Spark writes stays under the run's work dir. */
  def session(o: Opts, cores: Int, fileTasks: Boolean = false): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
    val b2 =
      if (!fileTasks) b
      else b.config("spark.sql.files.maxPartitionBytes", (1L << 20).toString)
        .config("spark.sql.files.openCostInBytes", (1L << 20).toString)
    val s = b2.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.core.Normalize.register(s)
    if (o.trace) Trace.attach(s)
    s
  }

  /** Force every column of `df` to be computed without keeping it. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(Files.delete(_))
      finally walk.close()
    }
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val o = Opts(
      workload = need("workload"), seed = need("seed").toLong,
      seconds = need("seconds").toDouble, trace = need("trace") == "1",
      work = need("work"), result = need("result"),
      tiny = kv.get("tiny").contains("1"),
      plantDrop = kv.get("plant-drop").contains("1"),
      data = kv.getOrElse("data", ""))
    Files.createDirectories(Paths.get(o.work))
    val r = new Result
    o.workload match {
      case "kg_delta" => KgDelta.run(o, r)
      case "query_library" => QueryLibrary.run(o, r)
      case w => sys.error(s"unknown workload $w")
    }
    SparkSession.getActiveSession.foreach(_.stop())
    r.endToEnd("peak_rss_mb") = Env.peakRssMb
    Files.write(Paths.get(o.result), r.toJson.getBytes(StandardCharsets.UTF_8))
  }
}
