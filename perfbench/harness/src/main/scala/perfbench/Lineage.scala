package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Per-layer figures read back from a pipeline run's `_lineage` table. */
object Lineage {

  final case class Row(stage: String, rowsOut: Long, wallMs: Long,
                       loopRounds: Long)

  /** Stage → producing module. Delta variants (`_fresh`, `_affected`) map
    * like their base stage. */
  private val moduleOf: Map[String, String] = Seq(
    "ingest" -> Seq("crawl_manifest", "seeds_fp", "pages_text"),
    "listings" -> Seq("mentions"),
    "link" -> Seq("linked_all", "linked"),
    "canonical" -> Seq("nil_entities", "subjects", "subjects_ed",
                       "ed_components", "ed_key_counts", "subjects_bu",
                       "bu_components", "bu_key_counts", "graph_canon_fp"),
    "mine" -> Seq("hypernyms_by_url", "hypernyms", "unlinked_label_counts",
                  "subject_listings", "label_counts", "type_cand_counts",
                  "rel_cand_counts", "prov_pairs"),
    "taxonomy" -> Seq("type_rules", "relation_rules", "tag_stats",
                      "valid_tags", "types", "relations", "axioms",
                      "restriction_facts"),
    "emit" -> Seq("triples_core", "triples_prov", "ontology_meta"),
  ).flatMap { case (m, stages) => stages.map(_ -> m) }.toMap

  val modules: Seq[String] =
    Seq("ingest", "listings", "link", "canonical", "mine", "taxonomy", "emit")

  def base(stage: String): String =
    stage.stripSuffix("_fresh").stripSuffix("_affected")

  def module(stage: String): String = moduleOf.getOrElse(base(stage), "other")

  /** One row per stage execution; the per-partition rows of partitioned
    * stages (`stage/col=value`, which repeat the stage wall) are dropped. */
  def read(spark: SparkSession, outDir: String): Seq[Row] =
    spark.read.parquet(s"$outDir/_lineage")
      .select("stage", "rows_out", "wall_ms", "loop_rounds").collect().toSeq
      .map(r => Row(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .filterNot(_.stage.contains("/"))

  def wallS(rows: Seq[Row], stages: String*): Double =
    rows.filter(r => stages.contains(r.stage)).map(_.wallMs).sum / 1e3

  def rounds(rows: Seq[Row], stages: String*): Double =
    rows.filter(r => stages.contains(r.stage)).map(_.loopRounds)
      .filter(_ >= 0).sum.toDouble

  /** Stage count and sum, the wall not covered by stages, and the
    * per-module stage sums of one run. A delta run's figures carry a
    * `delta_` prefix in the metric's last part. */
  def runMetrics(rows: Seq[Row], wallS: Double,
                 delta: Boolean): Map[String, Double] = {
    val p = if (delta) "delta_" else ""
    val sum = rows.map(_.wallMs).sum / 1e3
    val perModule = modules.map { m =>
      s"$m.${p}stage_s" -> rows.filter(r => module(r.stage) == m)
        .map(_.wallMs).sum / 1e3
    }
    Map(s"runtime.${p}stages" -> rows.size.toDouble,
        s"runtime.${p}stage_sum_s" -> sum,
        s"runtime.${p}unattributed_s" -> (wallS - sum),
        s"runtime.${p}unattributed_share" -> (wallS - sum) / wallS) ++ perModule
  }

  /** Carry layers written by a delta run, and the rows of its `*_fresh`
    * slices over the rows the same stages had in the full build. */
  def deltaMetrics(delta: Seq[Row], deltaDir: String,
                   full: Seq[Row]): Map[String, Double] = {
    val layers = delta.map(_.stage).distinct
      .count(s => Files.exists(Paths.get(deltaDir, s, "_layer")))
    val fresh = delta.filter(_.stage.endsWith("_fresh"))
    val fullRows = fresh.map { f =>
      full.filter(_.stage == base(f.stage)).map(_.rowsOut).sum
    }.sum
    Map("runtime.carry_layers" -> layers.toDouble,
        "runtime.fresh_row_share" ->
          (if (fullRows <= 0) 0.0 else fresh.map(_.rowsOut).sum.toDouble / fullRows))
  }
}
