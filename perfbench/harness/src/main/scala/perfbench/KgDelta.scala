package perfbench

import java.sql.Timestamp
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pipeline
import graft.Pipeline.Canonicalization
import graft.core.Schemas.{Page, Triple}
import graft.runtime.StageRunner
import graft.testkit.CorpusGen

/** kg_delta: a CC-mode Pipeline.run over the v1 crawl in the fresh JVM
  * (cold: what a spark-submit user pays for a build), then runDelta
  * refreshes of it to v2 = the unreplicated CorpusGen world, whose expected
  * triple set is known exactly. A traced run adds a warm CC build and a
  * ScoredEd build of v2 for their per-stage figures, and the per-page
  * section at corpus scale ([[PageScan]]). */
object KgDelta {

  def world(o: Opts): CorpusGen.World =
    if (o.tiny) CorpusGen.World(nCountries = 3, knownPerListing = 4)
    else CorpusGen.World(nCountries = 60, knownPerListing = 12)

  private def writePages(spark: SparkSession, pages: Seq[Page],
                         path: String): Unit = {
    import spark.implicits._
    pages.toDS().toDF().write.mode("overwrite").parquet(path)
  }

  /** One Pipeline.run on a fresh outDir, its output read back in full. */
  private def build(spark: SparkSession, pagesPath: String,
                    seeds: Pipeline.Seeds, outDir: String,
                    canon: Canonicalization): (DataFrame, Double) =
    Env.time {
      val t = Pipeline.run(spark, spark.read.parquet(pagesPath), seeds,
                           outDir, "bench", canon)
      Env.noop(t)
      t
    }

  private def refresh(spark: SparkSession, pagesPath: String,
                      seeds: Pipeline.Seeds, outDir: String,
                      prevDir: String): (DataFrame, Double) =
    Env.time {
      val t = Pipeline.runDelta(spark, spark.read.parquet(pagesPath), seeds,
                                outDir, prevDir, "bench-delta")
      Env.noop(t)
      t
    }

  /** Extracted text must be byte-identical to the input `text` of every
    * en capture: the (url, text) multisets match. */
  private def textMismatches(spark: SparkSession, pagesPath: String,
                             outDir: String): Long = {
    val want = spark.read.parquet(pagesPath).filter(col("lang") === "en")
      .select("url", "text")
    val have = StageRunner.read(spark, s"$outDir/pages_text")
      .select("url", "text")
    want.exceptAll(have).count() + have.exceptAll(want).count()
  }

  /** The output checks of a run over v2: the triple set equals the
    * expected set (P = R = 1.0) and the extracted text is byte-identical.
    * `plantDrop` removes one triple first, to prove the check can fail. */
  private def check(spark: SparkSession, o: Opts, triples: DataFrame,
                    expected: Set[Triple], pagesPath: String,
                    outDir: String, what: String): Option[String] = {
    val got0 = triples.select("subj", "pred", "obj", "is_literal").collect()
      .map(r => Triple(r.getString(0), r.getString(1), r.getString(2),
                       r.getBoolean(3))).toSet
    val got = if (o.plantDrop) got0 - got0.minBy(_.toString) else got0
    val inter = (got & expected).size
    val p = if (got.isEmpty) 0.0 else inter.toDouble / got.size
    val rec = inter.toDouble / expected.size
    val textBad = textMismatches(spark, pagesPath, outDir)
    if (p == 1.0 && rec == 1.0 && textBad == 0) None
    else Some(f"$what: P=$p%.4f R=$rec%.4f text mismatches=$textBad")
  }

  /** The v1 crawl: v2 minus added pages, with older captures of modified
    * pages, deleted pages, and a newer capture that v2 drops. The seed
    * picks the churned pages; the expected v2 output does not depend on
    * it. */
  def churn(w: CorpusGen.World, seed: Long,
            share: Double): (Seq[Page], Map[String, Double]) = {
    val v2 = w.pages
    val listingUrls = v2.map(_.url)
      .filter(u => u.contains("/list-of-") || u.contains("/table-of-")).sorted
    val n = math.max(3, math.round(share * v2.size).toInt)
    val picked = new scala.util.Random(seed).shuffle(listingUrls).take(n)
    val (added, rest) = picked.splitAt(n / 3)
    val (modified, dropped) = rest.splitAt(n / 3)
    def body(title: String, item: String) = (Seq(s"== $title ==") ++
      (0 until 4).map(j => s"* [[$item $j]] — superseded.")).mkString("\n")
    val stale = body("Old items", "Stale Item")
    val deleted = (0 until math.max(1, n / 3)).map { i =>
      val text = "A ghost is a spook.\n" + body("Ghosts", s"Ghost Row $i")
      Page(s"https://example.org/deleted-page-$i",
           new Timestamp(1500000000000L + i), w.htmlFor(text), text, "en")
    }
    val extra = v2.filter(p => dropped.contains(p.url)).map(p =>
      p.copy(warc_ts = new Timestamp(p.warc_ts.getTime + 123456L),
             html = w.htmlFor(stale), text = stale))
    val v1 = v2.filterNot(p => added.contains(p.url)).map { p =>
      if (!modified.contains(p.url)) p
      else p.copy(warc_ts = new Timestamp(p.warc_ts.getTime - 999999L),
                  html = w.htmlFor(stale), text = stale)
    } ++ deleted ++ extra
    (v1, Map("churn_added" -> added.size.toDouble,
             "churn_modified" -> modified.size.toDouble,
             "churn_deleted" -> deleted.size.toDouble,
             "churn_capture_dropped" -> dropped.size.toDouble))
  }

  def run(o: Opts, r: Result): Unit = {
    val w = world(o)
    val expected = w.expectedTriples.toSet
    val spark = Env.session(o, 4)
    val (v1, churnInfo) = churn(w, o.seed, 0.02)
    // set-up: materialize both page tables (three times, for a median)
    val setups = (0 until 3).map { i =>
      Env.time {
        writePages(spark, v1, s"${o.work}/v1-$i")
        writePages(spark, w.pages, s"${o.work}/v2-$i")
      }._2
    }
    r.endToEnd("setup_s") = Env.median(setups)
    val (v1Path, v2Path) = (s"${o.work}/v1-2", s"${o.work}/v2-2")
    val seeds = w.seeds(spark)
    val t0 = System.nanoTime()
    val prev = s"${o.work}/v1"
    val s0 = if (o.trace) Trace.snap(spark) else null
    val (v1T, v1S) = build(spark, v1Path, seeds, prev,
                           Canonicalization.Components)
    Env.log(f"cold v1 build $v1S%.2f s")
    r.endToEnd("cold_s") = v1S
    if (o.trace) r.perLayer ++= Trace.coldPathMetrics(s0, Trace.snap(spark))
    // v1's triples are not known in closed form; its text is
    val v1Bad = textMismatches(spark, v1Path, prev)
    r.op(if (v1Bad == 0) None else Some(s"v1 build: $v1Bad text mismatches"))
    val nV1 = v1T.count()

    // the measured refreshes: at least one, then until the seconds are spent
    val deltas = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    var nTriples = 0L
    while (deltas.isEmpty || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      val out = s"${o.work}/delta-${deltas.size}"
      val s1 = if (o.trace) Trace.snap(spark) else null
      val (t, sec) = refresh(spark, v2Path, seeds, out, prev)
      Env.log(f"delta $sec%.2f s")
      if (o.trace) {
        val rows = Lineage.read(spark, out)
        layers += (Trace.runtimeMetrics(s1, Trace.snap(spark), 1) ++
          Lineage.runMetrics(rows, sec, delta = true) ++
          Lineage.deltaMetrics(rows, out, Lineage.read(spark, prev)))
      }
      r.op(check(spark, o, t, expected, v2Path, out, s"delta ${deltas.size}"))
      nTriples = t.count()
      deltas += sec
      Env.deleteTree(out)
    }
    r.endToEnd("warm_s") = Env.median(deltas.toSeq)
    r.detail ++= churnInfo
    r.detail("v1_pages") = v1.size
    r.detail("v2_pages") = w.pages.size
    r.detail("v1_triples") = nV1
    r.detail("v2_triples") = nTriples
    r.detail("cold_build_s") = v1S
    r.detail("delta_s") = r.endToEnd("warm_s")
    r.detail("deltas") = deltas.size
    if (o.trace) {
      r.perLayer ++= Env.medians(layers.toSeq)
      r.perLayer("trace.warm_s") = r.endToEnd("warm_s")
      val (_, extraS) = Env.time {
        traceBuilds(spark, o, r, seeds, v2Path, expected)
        spark.stop()
        PageScan.trace(o, r)
      }
      r.perLayer("trace.extra_s") = extraS
    }
  }

  /** Traced run only: a warm CC build and a ScoredEd build of v2 for their
    * lineage, the NT render of the output, StageRunner's fixed cost, and the
    * check that stage walls cover the build and refresh walls to 5 %. */
  private def traceBuilds(spark: SparkSession, o: Opts, r: Result,
                          seeds: Pipeline.Seeds, v2Path: String,
                          expected: Set[Triple]): Unit = {
    val cc = s"${o.work}/warm-cc"
    val (ccT, ccS) = build(spark, v2Path, seeds, cc, Canonicalization.Components)
    Env.log(f"warm CC build $ccS%.2f s")
    r.op(check(spark, o, ccT, expected, v2Path, cc, "warm CC build"))
    val ccRows = Lineage.read(spark, cc)
    r.perLayer ++= Lineage.runMetrics(ccRows, ccS, delta = false) ++ Map(
      "canonical.subjects_s" -> Lineage.wallS(ccRows, "subjects"),
      "taxonomy.types_rounds" -> Lineage.rounds(ccRows, "types"),
      "emit.nt_render_s" -> Env.median((0 until 3).map { _ =>
        Env.time(Env.noop(graft.emit.TripleEmit.toNtLines(ccT)))._2
      }))
    r.detail("warm_cc_build_s") = ccS
    val ed = s"${o.work}/ed"
    val (edT, edS) = build(spark, v2Path, seeds, ed, Canonicalization.ScoredEd())
    Env.log(f"ScoredEd build $edS%.2f s")
    r.op(check(spark, o, edT, expected, v2Path, ed, "ScoredEd build"))
    val edRows = Lineage.read(spark, ed)
    val largest = edRows.maxBy(_.wallMs)
    r.perLayer ++= Map(
      "canonical.subjects_ed_s" -> Lineage.wallS(edRows, "subjects_ed"),
      "canonical.ed_rounds" -> Lineage.rounds(edRows, "subjects_ed"),
      "canonical.ed_components_s" -> Lineage.wallS(edRows, "ed_components"),
      "canonical.subjects_ed_share" ->
        Lineage.wallS(edRows, "subjects_ed") / (edRows.map(_.wallMs).sum / 1e3))
    r.strings("ed_largest_stage") = s"${largest.stage} (${largest.wallMs} ms)"
    r.detail("ed_build_s") = edS
    r.perLayer("runtime.stage_fixed_s") = {
      val dir = s"${o.work}/fixed"
      val runner = new StageRunner(spark, dir, "fixed")
      Env.median((0 until 5).map { i =>
        Env.time(runner.run(s"probe_$i") { spark.range(1).toDF() })._2
      })
    }
    for (k <- Seq("unattributed_share", "delta_unattributed_share")) {
      val share = r.perLayer(s"runtime.$k")
      if (math.abs(share) > 0.05)
        r.strings(s"reconcile_$k") =
          f"stage sums leave ${share * 100}%.1f%% of the wall unattributed (> 5%%)"
    }
  }
}
