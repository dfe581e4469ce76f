package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.TextExtract
import graft.link.AliasLink
import graft.listings.ListingExtract
import graft.testkit.CorpusGen

/** The per-page parallel section (extract → mentions → link) over a
  * replicated corpus stored as many small files, in fresh local[4] and
  * local[1] sessions: the layers that dominate at corpus scale but barely
  * register in a pipeline build, and the N→4N scaling figure. Part of the
  * traced kg_delta run. */
object PageScan {

  /** Seeded file groups; each writing task writes one file per group. */
  private val Files = 32

  private def world = CorpusGen.World(nCountries = 250, knownPerListing = 12)
  private def replicas(o: Opts) = if (o.tiny) 2 else 16

  /** The prepared alias dictionary (one row per key), pinned. */
  private def dict(spark: SparkSession): DataFrame = {
    val seeds = world.seeds(spark)
    AliasLink.bestPerKey(AliasLink.buildDict(
      AliasLink.foldRedirects(seeds.aliases, seeds.redirects)))
      .drop("is_hot").localCheckpoint()
  }

  private def linked(pages: DataFrame, dict: DataFrame): DataFrame =
    AliasLink.linkAll(ListingExtract.mentions(TextExtract.extract(pages)),
                      dict, dictPrepared = true)
      .filter(col("ent").isNotNull)

  /** Linked-mention count and an order-free checksum over every column,
    * so that every column of every stage is computed. */
  private def section(pages: DataFrame, dict: DataFrame): (Long, Long) = {
    val l = linked(pages, dict)
    val r = l.agg(count(lit(1)), sum(hash(l.columns.map(col): _*).cast("long")))
      .collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Writes the corpus, then times the section at local[4] (median of
    * three, after one warm-up) and local[1], each in a fresh session, and
    * each layer as a direct call. Every section's linked-mention count
    * must equal the per-replica count × replicas, and the checksum must
    * not depend on the thread count. */
  def trace(o: Opts, r: Result): Unit = {
    val corpus = s"${o.work}/corpus"
    var perReplica = 0L
    var c4Sum: Option[Long] = None

    def checked(spark: SparkSession, d: DataFrame, level: Int): Double = {
      val ((n, sum), sec) = Env.time(section(spark.read.parquet(corpus), d))
      val expected = perReplica * replicas(o)
      r.op(if (n == expected) None
           else Some(s"c$level section: $n linked mentions, expected " +
                     s"$perReplica x ${replicas(o)} = $expected"))
      c4Sum.filter(_ != sum).foreach(want =>
        r.op(Some(s"c$level checksum $sum != c4 checksum $want")))
      if (level == 4) c4Sum = Some(sum)
      Env.log(f"c$level section $sec%.2f s")
      sec
    }

    val spark = Env.session(o, 4, fileTasks = true)
    // input: the world's pages, replicated under distinct urls; the seed
    // picks which rows share a file and their order inside it
    import spark.implicits._
    val base = s"${o.work}/base"
    world.pages.toDS().toDF().write.mode("overwrite").parquet(base)
    spark.range(replicas(o)).select(col("id").as("rep"))
      .crossJoin(broadcast(spark.read.parquet(base)))
      .withColumn("url", concat(col("url"), lit("?rep="), col("rep")))
      .drop("rep")
      .withColumn("file", pmod(xxhash64(col("url"), lit(o.seed)), lit(Files)))
      .sortWithinPartitions(col("file"), xxhash64(col("url"), lit(o.seed + 1)))
      .write.mode("overwrite").partitionBy("file").parquet(corpus)
    val d = dict(spark)
    perReplica = linked(spark.read.parquet(base), d).count()
    val c4 = Env.median((0 until 4).map(_ => checked(spark, d, 4)).drop(1))
    r.perLayer ++= layerCalls(spark, corpus, d)
    spark.stop()
    val one = Env.session(o, 1, fileTasks = true)
    val c1 = checked(one, dict(one), 1)
    one.stop()
    r.perLayer("scan.section_s") = c4
    r.perLayer("scan.scaling_eff_1_4") = c1 / (4 * c4)
    // the share of the section its three layers account for
    r.perLayer("scan.layer_share") = Seq("ingest.extract_s",
      "listings.mentions_s", "link.link_s").map(r.perLayer).sum / c4
    r.detail("scan_pages") = world.pages.size.toDouble * replicas(o)
    r.detail("scan_pages_per_s") = r.detail("scan_pages") / c4
  }

  /** Each layer of the section timed as a direct call on its own
    * materialized input (median of three), full evaluation forced. */
  private def layerCalls(spark: SparkSession, corpus: String,
                         d: DataFrame): Map[String, Double] = {
    def t(f: => Unit) = Env.median((0 until 3).map(_ => Env.time(f)._2))
    val pages = spark.read.parquet(corpus)
    val extract = t(Env.noop(TextExtract.extract(pages)))
    val text = TextExtract.extract(pages).localCheckpoint()
    val mentions = t(Env.noop(ListingExtract.mentions(text)))
    val ms = ListingExtract.mentions(text).localCheckpoint()
    val seeds = world.seeds(spark)
    val dictS = t(Env.noop(AliasLink.bestPerKey(AliasLink.buildDict(
      AliasLink.foldRedirects(seeds.aliases, seeds.redirects)))))
    val link = t(Env.noop(AliasLink.linkAll(ms, d, dictPrepared = true)))
    text.unpersist(); ms.unpersist()
    Map("ingest.extract_s" -> extract, "listings.mentions_s" -> mentions,
        "link.dict_s" -> dictS, "link.link_s" -> link)
  }
}
