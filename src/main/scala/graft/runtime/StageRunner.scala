package graft.runtime

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Checkpoint-or-skip stage execution with lineage + counters — the Spark
  * re-expression of the reference's versioned cache memoization
  * (`/root/reference/utils.py:66-118`, registry `config.yaml:140-316`) and
  * the north rule's "resumable from checkpoint with per-partition lineage +
  * metrics".
  *
  * Each stage writes to `<outDir>/<stage>` (parquet; partitioned stages use
  * partitionBy so a re-run overwrites idempotently). A stage whose output
  * already exists (parquet _SUCCESS marker) is SKIPPED and read back —
  * resume = re-running the driver after a crash re-executes only missing
  * stages. Every run/skip appends a row to `<outDir>/_lineage`; partitioned
  * stages additionally append one row per output partition (per-partition
  * lineage).
  */
final class StageRunner(spark: SparkSession, outDir: String, runId: String) {

  private def path(stage: String) = s"$outDir/$stage"

  /** Absolute path of a stage under this runner's outDir (carry layers
    * reference fresh-slice checkpoints by path). */
  def pathOf(stage: String): String = path(stage)

  /** The one stage body every entry point shares: resume-or-write, read
    * back through [[StageRunner.read]], time, and append the lineage rows.
    * `write` materializes the stage and runs only when the stage is not
    * already [[StageRunner.completed]]. A `partCol` stage also records one
    * lineage row per output partition.
    *
    * rows_out of a materialized stage is the sum of its parquet footers'
    * record counts, read driver-side: numerically identical to
    * `df.count()` on the same files, without a count JOB per stage (see
    * perfbench's `runtime.stage_fixed_s`); `df.count()` remains the
    * fallback for tables with more files than a driver should open
    * serially. A carry LAYER records -1 (an unresolved view): counting it
    * would resolve parent − drops ∪ fresh over the corpus-sized parent just
    * to fill a counter, the exact job the layer exists to avoid.
    * loop_rounds/converged come from `report` (-1/true when the stage ran
    * no iterative op or resumed). */
  private def execute(stage: String, rowsIn: Long, report: LoopReport,
                      partCol: Option[String] = None)
                     (write: => Unit): DataFrame = {
    val t0 = System.nanoTime()
    val resumed = StageRunner.completed(outDir, stage)
    if (!resumed) write
    val df = StageRunner.read(spark, path(stage))
    val parts = partCol.toSeq.flatMap { c =>
      StageRunner.partitionRowCounts(spark, path(stage), c)
        .getOrElse(df.groupBy(c).count().collect().toSeq
          .map(r => (String.valueOf(r.get(0)), r.getLong(1))))
        .map { case (v, n) => (s"$stage/$c=$v", n) }
    }
    val rowsOut =
      if (partCol.isDefined) parts.map(_._2).sum
      else if (StageRunner.layerDepth(path(stage)) > 0) -1L
      else StageRunner.footerRowCount(spark, path(stage)).getOrElse(df.count())
    val (rounds, converged) =
      if (resumed || report == null) (-1L, true)
      else (report.rounds, report.converged)
    val wallMs = (System.nanoTime() - t0) / 1000000
    StageRunner.appendLineageRows(spark, s"$outDir/_lineage",
      parts.map { case (name, n) =>
        StageRunner.LineageRow(name, runId, rowsIn, n, wallMs, resumed, -1L,
                               true)
      } :+ StageRunner.LineageRow(stage, runId, rowsIn, rowsOut, wallMs,
                                  resumed, rounds, converged))
    df
  }

  /** Run (or resume) an unpartitioned stage. `rowsIn` is a cheap driver-side
    * count supplied by the caller when known (-1 = unknown; never forces an
    * extra job on the hot path). `report`: a [[LoopReport]] the stage body's
    * iterative operator fills — its rounds/converged land in the lineage row
    * (loop_rounds = -1 ⇔ no iterative op ran). */
  def run(stage: String, rowsIn: Long = -1L, report: LoopReport = null)
         (f: => DataFrame): DataFrame =
    execute(stage, rowsIn, report) {
      f.write.mode(SaveMode.Overwrite).parquet(path(stage))
    }

  /** Carry a key-keyed stage INCREMENTALLY: instead of rewriting the merged
    * corpus-sized table (the dominant cost of a delta run once compute is
    * maintained — measured in BENCH/BASELINE.md), record a LAYER — the
    * parent run's stage path, the dropped-key set, and a path to the fresh
    * slice (an already-checkpointed, delta-sized stage). Reading resolves
    * `parent − drops ∪ fresh` with an anti-join on the small drop set
    * ([[StageRunner.read]]); chained deltas resolve recursively through
    * their ancestors, so a delta run writes only DELTA-sized data for
    * carried stages — the log-structured (LSM/Delta-log) shape of
    * incremental view maintenance.
    *
    * Read amplification is bounded: when the chain would exceed
    * `graft.delta.maxLayerDepth` (default [[StageRunner.MaxLayerDepth]]),
    * the stage COMPACTS — materializes the resolved view fully and resets
    * depth to 0. Ancestor outDirs must be retained while a layer references
    * them (compaction bounds the retention window).
    *
    * Layer layout under `<outDir>/<stage>/`: `_layer_drops/` (parquet key
    * set), `_layer` (text: parent path, fresh path, depth, keys — written
    * LAST as the commit marker). [[StageRunner.completed]] accepts either a
    * materialized `_SUCCESS` or a committed layer. */
  def runCarried(stage: String, parentDir: String, keys: Seq[String],
                 drops: DataFrame, freshPath: String,
                 rowsIn: Long = -1L): DataFrame =
    execute(stage, rowsIn, null) {
      val parentPath = s"$parentDir/$stage"
      val maxDepth = spark.conf
        .get("graft.delta.maxLayerDepth", StageRunner.MaxLayerDepth.toString)
        .toInt
      val depth = StageRunner.layerDepth(parentPath) + 1
      if (depth > maxDepth) {
        // compact: one full materialization resets the chain
        StageRunner.read(spark, parentPath)
          .join(drops, keys, "left_anti")
          .unionByName(spark.read.parquet(freshPath))
          .write.mode(SaveMode.Overwrite).parquet(path(stage))
      } else {
        drops.select(keys.map(col): _*).write.mode(SaveMode.Overwrite)
          .parquet(s"${path(stage)}/_layer_drops")
        Files.write(
          Paths.get(path(stage), "_layer"),
          (s"parent=$parentPath\nfresh=$freshPath\ndepth=$depth\n" +
            s"keys=${keys.mkString(",")}\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }

  /** Run (or resume) a stage partitioned by `partCol` (the triple tables'
    * partitionBy(pred)); appends per-partition lineage rows, counted from
    * the partition directories' parquet footers (driver-side, no job), with
    * a groupBy(partCol) count job as the fallback for layouts the footers
    * cannot settle (a null value's default-partition directory, oversized
    * tables).
    *
    * Writes use DYNAMIC partition overwrite: a re-run (or a backfill whose
    * DataFrame covers only a subset of partitions) replaces exactly the
    * partitions present in the data and leaves the rest untouched — the
    * parquet equivalent of Iceberg's idempotent partition-overwrite commit
    * (north rule: per-partition checkpoint; swap the format string for
    * "iceberg" when the runtime ships the jars). */
  def runPartitioned(stage: String, partCol: String, rowsIn: Long = -1L)
                    (f: => DataFrame): DataFrame =
    execute(stage, rowsIn, null, Some(partCol)) {
      f.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCol)
        .parquet(path(stage))
    }

  def lineage(): DataFrame = spark.read.parquet(s"$outDir/_lineage")
}

object StageRunner {

  /** Default maximum layer-chain length before [[StageRunner#runCarried]]
    * compacts (session conf `graft.delta.maxLayerDepth` overrides). */
  val MaxLayerDepth = 3

  /** One `_lineage` row. The on-disk `skipped` column is always 0. */
  private[runtime] case class LineageRow(stage: String, runId: String,
                                         rowsIn: Long, rowsOut: Long,
                                         wallMs: Long, resumed: Boolean,
                                         loopRounds: Long,
                                         converged: Boolean)

  /** The `_lineage` parquet schema, matching what the former
    * `toDF(...).write.parquet` append produced (strings optional,
    * primitives required) so old Spark-written and new driver-written files
    * read together through one `spark.read.parquet`. */
  private val LineageSchema =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message spark_schema {
           optional binary stage (UTF8);
           optional binary run_id (UTF8);
           required int64 rows_in;
           required int64 rows_out;
           required int64 skipped;
           required int64 wall_ms;
           required boolean resumed;
           required int64 loop_rounds;
           required boolean converged;
         }""")

  private val lineageSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Max data files for the driver-side footer row count; bigger tables
    * (a cluster-scale stage) fall back to a distributed `count()`. */
  private val FooterCountMaxFiles = 512

  /** Per-partition-value row counts for a `partitionBy(partCol)` stage
    * table: one (unescaped value, footer row sum) pair per `partCol=...`
    * directory. None when the layout defies the driver-side read (no
    * partition dirs, a null-value default partition — its groupBy
    * rendering differs — or an oversized subdir); the scan stops at the
    * first such directory. Values are the directory-name spellings, which
    * for the string partition columns used here equal the groupBy job's
    * `String.valueOf(r.get(0))`. */
  private[runtime] def partitionRowCounts(spark: SparkSession, dir: String,
      partCol: String): Option[Seq[(String, Long)]] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val subdirs = fs.listStatus(p).toList
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partCol="))
    val counts = subdirs.to(LazyList).map { s =>
      val raw = s.getPath.getName.drop(partCol.length + 1)
      if (raw == "__HIVE_DEFAULT_PARTITION__") None
      else footerRowCount(spark, s.getPath.toString).map(n =>
        (org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
           .unescapePathName(raw), n))
    }
    if (subdirs.isEmpty || counts.contains(None)) None
    else Some(counts.flatten.toList)
  }

  /** Sum of the parquet footers' record counts under `dir` (recursive —
    * partitioned stages lay out in key subdirectories), or None when the
    * table is too many files for serial driver-side opens. Parquet footers
    * are authoritative row counts, so this equals
    * `spark.read.parquet(dir).count()` by construction. */
  private[runtime] def footerRowCount(spark: SparkSession,
                                      dir: String): Option[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    val files = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.hadoop.fs.LocatedFileStatus]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (name.endsWith(".parquet") && !name.startsWith("_") &&
          !name.startsWith("."))
        files += f
      if (files.size > FooterCountMaxFiles) return None
    }
    var n = 0L
    files.foreach { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try n += r.getRecordCount finally r.close()
    }
    Some(n)
  }

  /** Append lineage rows as ONE driver-written parquet file — the row is a
    * handful of scalars the driver already holds, and the former 1-row
    * LocalRelation write job cost ~0.15 s of job scheduling + commit
    * protocol PER STAGE (perfbench's `runtime.stage_fixed_s` measures what
    * remains), which at ~25 stages per pipeline run was seconds of pure
    * fixed overhead (guide §1.2: the driver should do almost no data
    * work — and this is no data). The file is written under a
    * `_`-prefixed name, which parquet readers skip, and renamed into place
    * only after `close()`: a crash mid-write leaves an ignored temp file,
    * never a truncated file that breaks reading `_lineage`. Schema-identical
    * to the previous Spark-written files. */
  private[runtime] def appendLineageRows(spark: SparkSession, dir: String,
                                         rows: Seq[LineageRow]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(conf)
    if (!fs.exists(dirPath)) fs.mkdirs(dirPath)
    val name = s"lineage-${System.nanoTime()}-${lineageSeq.incrementAndGet()}" +
      ".snappy.parquet"
    val tmp = new org.apache.hadoop.fs.Path(dirPath, s"_$name")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(tmp, conf))
      .withType(LineageSchema)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    val factory = new org.apache.parquet.example.data.simple.SimpleGroupFactory(
      LineageSchema)
    try rows.foreach { r =>
      val g = factory.newGroup()
      g.append("stage", r.stage).append("run_id", r.runId)
      g.append("rows_in", r.rowsIn).append("rows_out", r.rowsOut)
      g.append("skipped", 0L).append("wall_ms", r.wallMs)
      g.append("resumed", r.resumed).append("loop_rounds", r.loopRounds)
      g.append("converged", r.converged)
      writer.write(g)
    } finally writer.close()
    if (!fs.rename(tmp, new org.apache.hadoop.fs.Path(dirPath, name)))
      throw new java.io.IOException(s"lineage: could not commit $tmp")
  }

  /** A stage checkpoint is complete iff its parquet _SUCCESS marker exists
    * OR it is a committed carry layer (`_layer` marker, written last) — the
    * single definition of "done" (resume-or-skip here, the prevDir contract
    * probe in [[graft.Pipeline.runDelta]]); an object-store-aware
    * completeness check replaces exactly this one method. */
  def completed(dir: String, stage: String): Boolean =
    Files.exists(Paths.get(s"$dir/$stage", "_SUCCESS")) ||
      Files.exists(Paths.get(s"$dir/$stage", "_layer"))

  /** Length of the layer chain hanging off `path` (0 = materialized). */
  def layerDepth(path: String): Int = {
    val meta = Paths.get(path, "_layer")
    if (Files.exists(meta)) metaOf(path)("depth").toInt else 0
  }

  private def metaOf(path: String): Map[String, String] =
    new String(Files.readAllBytes(Paths.get(path, "_layer")),
               java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.filter(_.contains("="))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
      .toMap

  /** Read a stage table, resolving carry layers recursively:
    * `parent − drops ∪ fresh` per layer (compaction bounds the recursion).
    * A materialized stage is exactly `spark.read.parquet(path)`.
    *
    * The drops are delta-sized by construction, so AQE plans a broadcast
    * anti-join against the unshuffled parent; when a high-churn re-crawl
    * outgrows the broadcast threshold it plans a shuffle anti-join instead
    * of OOMing the driver (pinned by DeltaThresholdSpec's
    * `maxBroadcastKeys = 0` test). */
  def read(spark: SparkSession, path: String): DataFrame =
    if (!Files.exists(Paths.get(path, "_layer"))) spark.read.parquet(path)
    else {
      val m = metaOf(path)
      read(spark, m("parent"))
        .join(spark.read.parquet(s"$path/_layer_drops"),
              m("keys").split(",").toSeq, "left_anti")
        .unionByName(spark.read.parquet(m("fresh")))
    }
}
