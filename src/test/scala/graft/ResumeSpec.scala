package graft

import org.apache.spark.sql.functions._
import graft.testkit.CorpusGen

/** Resumability (north rule): kill-and-resume re-executes only missing
  * stages and yields an identical final snapshot; lineage records both. */
class ResumeSpec extends SparkSuite {
  import spark.implicits._

  private lazy val world = CorpusGen.default
  private def seeds = world.seeds(spark)

  test("resume after simulated mid-pipeline kill reproduces the snapshot") {
    val outDir = SparkSuite.tempDir("graft-resume")
    val pagesDf = world.pages.toDS().toDF()
    val first = Pipeline.run(spark, pagesDf, seeds, outDir, runId = "run-1")
      .select("subj", "pred", "obj").as[(String, String, String)]
      .collect().sorted

    // simulate a crash that lost the late stages
    def rm(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles.foreach(rm); p.delete()
    }
    Seq("types", "relations", "triples_core", "triples_prov").foreach(s =>
      rm(new java.io.File(s"$outDir/$s")))

    val second = Pipeline.run(spark, pagesDf, seeds, outDir, runId = "run-2")
      .select("subj", "pred", "obj").as[(String, String, String)]
      .collect().sorted
    assert(first.sameElements(second))

    // lineage: run-2 must have SKIPPED the early stages and RE-RUN the rest
    val lin = spark.read.parquet(s"$outDir/_lineage")
      .filter(col("run_id") === "run-2")
      .select("stage", "resumed").as[(String, Boolean)].collect().toMap
    assert(lin("pages_text") && lin("mentions") && lin("linked_all"),
           s"early stages should resume: $lin")
    assert(!lin("types") && !lin("relations") && !lin("triples_core") &&
             !lin("triples_prov"),
           s"late stages should re-run: $lin")
  }

  test("partition backfill rewrites only the targeted predicate partition") {
    import graft.runtime.StageRunner
    val dir = SparkSuite.tempDir("graft-backfill")
    val r1 = new StageRunner(spark, dir, "t1")
    r1.runPartitioned("tp", "pred") {
      Seq(("a", "rdf:type", 1), ("b", "rdfs:label", 2))
        .toDF("subj", "pred", "v")
    }
    val labelDir = new java.io.File(s"$dir/tp/pred=rdfs%3Alabel")
    val beforeFiles = labelDir.listFiles().map(f => f.getName -> f.lastModified).toMap
    // simulate a damaged/missing type partition + stale success marker
    def rm(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles.foreach(rm); p.delete()
    }
    rm(new java.io.File(s"$dir/tp/pred=rdf%3Atype"))
    new java.io.File(s"$dir/tp/_SUCCESS").delete()
    // backfill ONLY the type partition
    val r2 = new StageRunner(spark, dir, "t2")
    r2.runPartitioned("tp", "pred") {
      Seq(("a", "rdf:type", 99)).toDF("subj", "pred", "v")
    }
    // the label partition's files are byte-for-byte untouched
    val afterFiles = labelDir.listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(afterFiles == beforeFiles)
    // and the table now holds the old label row + the new type row
    val got = spark.read.parquet(s"$dir/tp")
      .select("subj", "pred", "v").as[(String, String, Int)]
      .collect().toSet
    assert(got == Set(("a", "rdf:type", 99), ("b", "rdfs:label", 2)))
  }

  test("per-partition lineage rows exist for the triple table") {
    val outDir = SparkSuite.tempDir("graft-lin")
    Pipeline.run(spark, world.pages.toDS().toDF(), seeds, outDir)
    val parts = spark.read.parquet(s"$outDir/_lineage")
      .filter(col("stage").startsWith("triples_core/pred="))
      .select("stage").as[String].collect()
    assert(parts.length >= 3, s"per-pred lineage missing: ${parts.toSeq}")
    // iterative stages surface their loop rounds + convergence in lineage
    // (north-rule counters: truncation must be observable, not just logged)
    val lin = spark.read.parquet(s"$outDir/_lineage")
      .select("stage", "loop_rounds", "converged")
      .as[(String, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // nil_entities is a closed-form projection since r6 (the mention↔key
    // graph is degree-1-bipartite) — it must report NON-iterative
    assert(lin("nil_entities")._1 == -1L && lin("nil_entities")._2,
           s"nil_entities counters: ${lin("nil_entities")}")
    assert(lin("types")._1 >= 1 && lin("types")._2, // taxonomy closure loop
           s"types counters: ${lin("types")}")
    assert(lin("pages_text")._1 == -1L) // non-iterative stages stay unmarked
    // the NastyLinker loop reports through the same seam
    val rep = new graft.runtime.LoopReport
    graft.canonical.NastyLinker.cluster(
      Seq(("m:1", "e:a", 0.9), ("m:1", "e:b", 0.8), ("m:2", "m:1", 1.0))
        .toDF("src", "dst", "weight"), report = rep)
      .count()
    assert(rep.rounds >= 1 && rep.converged, s"(${rep.rounds}, ${rep.converged})")
  }

  test("lineage appends commit by rename: no temp file left, a torn one ignored") {
    import graft.runtime.StageRunner
    val dir = SparkSuite.tempDir("graft-lin-commit")
    val r = new StageRunner(spark, dir, "t")
    (1 to 3).foreach(i => r.run(s"s$i") { Seq(i).toDF("v") })
    val linDir = new java.io.File(s"$dir/_lineage")
    def names = linDir.listFiles().map(_.getName).toSeq
    assert(!names.exists(_.startsWith("_")), s"temp files left: $names")
    assert(names.count(_.endsWith(".parquet")) == 3, names)
    // a write torn by a crash leaves only a `_`-prefixed temp file behind
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_lineage/_lineage-torn.snappy.parquet"),
      "PAR1 truncated".getBytes("UTF-8"))
    val lin = r.lineage().select("stage", "rows_out").as[(String, Long)]
      .collect().toMap
    assert(lin == Map("s1" -> 1L, "s2" -> 1L, "s3" -> 1L))
  }

  test("a null partition value takes the groupBy fallback with exact counts") {
    import graft.runtime.StageRunner
    val dir = SparkSuite.tempDir("graft-null-part")
    val r = new StageRunner(spark, dir, "t")
    r.runPartitioned("tp", "pred") {
      Seq(("a", "p1"), ("b", "p1"), ("c", null), ("d", "p:2"))
        .toDF("subj", "pred")
    }
    // the null value lands in the default partition the footers can't name
    assert(new java.io.File(s"$dir/tp/pred=__HIVE_DEFAULT_PARTITION__")
      .isDirectory)
    val lin = r.lineage().select("stage", "rows_out").as[(String, Long)]
      .collect().toMap
    assert(lin == Map("tp/pred=p1" -> 2L, "tp/pred=null" -> 1L,
                      "tp/pred=p:2" -> 1L, "tp" -> 4L), lin)
  }
}
