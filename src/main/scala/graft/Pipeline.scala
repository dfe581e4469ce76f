package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Normalize
import graft.ingest.TextExtract
import graft.listings.ListingExtract
import graft.link.AliasLink
import graft.canonical.{AlignmentGraph, NilCluster}
import graft.taxonomy.{Disjointness, RuleMining}
import graft.emit.TripleEmit
import graft.runtime.{LoopReport, StageRunner}

/** The end-to-end KG-construction pipeline (north rule): pages → invariant
  * text extraction → listings/mentions → salted alias linking → NIL
  * canonicalization (connected components) → listing rule mining +
  * disjointness-guarded, taxonomy-aware type inference → (subj, pred, obj)
  * triples partitioned by predicate, with per-stage checkpoints + lineage.
  *
  * Physical shape (SURVEY.md §4): scan → pushed lang filter → codegen'd
  * extraction chain → per-url windows (one shuffle keyed by url) →
  * broadcast dictionary join (salted hot slice) → CC loop (log-bounded
  * shuffle rounds) → taxonomy-sized dimension joins (broadcast) → one
  * partitionBy(pred) write. The corpus is shuffled ONCE on url and once per
  * candidate-dedup; everything taxonomy-side is broadcast.
  *
  * Every corpus-derived aggregate the emit stages consume (unlinked-label
  * counts for F9, per-(ent,label) label counts, type/relation candidate
  * counts, provenance pairs) is checkpointed as a MATERIALIZED VIEW keyed
  * either by url (carried tables) or by its group key (count tables) — the
  * shape [[runDelta]] maintains incrementally instead of recomputing.
  */
object Pipeline {

  case class Seeds(aliases: DataFrame, entityTypes: DataFrame,
                   taxonomyEdges: DataFrame, disjointPairs: DataFrame,
                   seedRelations: DataFrame, redirects: DataFrame = null)

  /** Pin the seed tables to cluster-resident blocks. A driver-collection-
    * backed seed frame (LocalTableScan) re-pays a SINGLE-THREADED driver
    * encode on every scan — the r5 wide-world soak measured ~30 s per scan
    * of a 5.8 M-row seed table, and the mining/emit stages scan the seed
    * side many times per run. One eager localCheckpoint turns every later
    * scan into a parallel block read; parquet-backed seeds pay one cheap
    * extra materialization. */
  private def pinSeeds(s: Seeds): Seeds =
    Seeds(aliases = s.aliases.localCheckpoint(),
          entityTypes = s.entityTypes.localCheckpoint(),
          taxonomyEdges = s.taxonomyEdges.localCheckpoint(),
          disjointPairs = s.disjointPairs.localCheckpoint(),
          seedRelations = s.seedRelations.localCheckpoint(),
          redirects =
            if (s.redirects == null) null else s.redirects.localCheckpoint())

  /** How mentions become canonical entities (step 4). */
  sealed trait Canonicalization
  object Canonicalization {
    /** Linked mentions keep their broadcast-argmax entity; NIL mentions
      * cluster via connected components over the mention↔key bipartite
      * graph ([[NilCluster]]). The cheap default. */
    case object Components extends Canonicalization

    /** The reference's PRODUCTION ED path
      * (`entity_disambiguation/__init__.py:20-89`): ALL kept mentions +
      * their scored dictionary candidates form the alignment graph
      * ([[AlignmentGraph]]), split by [[graft.canonical.NastyLinker]] —
      * a mention attaches to an entity only when its best path score
      * exceeds `pathThreshold`, so a weak-prior candidate (or a weak
      * `meScore` Column — the bi-encoder seam) is DEMOTED to a new NIL
      * entity even when the argmax join would have linked it. NIL cluster
      * ids stay content-derived ("new:<alias key>" — every NIL cluster is
      * same-key-connected because mention–mention edges only join equal
      * keys), so ids match [[Components]] and stay partition-invariant. */
    case class ScoredEd(meThreshold: Double = 0.5, mmThreshold: Double = 0.5,
                        pathThreshold: Double = 0.75,
                        meScore: Column = DefaultMeScore,
                        /** When set, replaces `meScore` with the
                          * whole-DataFrame scorer seam — the batched-model
                          * path ([[graft.link.BatchedScorer]]). */
                        scoreFn: Option[DataFrame => DataFrame] = None)
        extends Canonicalization {
      // the two scorer knobs are alternatives: passing both would silently
      // drop the Column — fail at construction instead (reference equality
      // on the shared default detects "caller did not pass meScore")
      require(scoreFn.isEmpty || (meScore eq DefaultMeScore),
              "ScoredEd: pass EITHER meScore or scoreFn, not both " +
              "(scoreFn replaces the Column scorer)")
    }

    /** The prior scorer (alias-dictionary frequency) — `ScoredEd`'s
      * default `meScore`. */
    val DefaultMeScore: Column = col("freq")

    /** The reference's BottomUpClusteringMatcher
      * (`entity_disambiguation/matching/bottomup_clustering.py:20-83`) as a
      * canonicalization mode: the same scored alignment graph as
      * [[ScoredEd]], clustered by the ordered union-find edge fold
      * ([[graft.canonical.BottomUpCluster]] — distributed per MM
      * component) instead of the NastyLinker path split. Semantics differ
      * from ScoredEd exactly as in the reference: a mention's cluster
      * keeps its argmax entity with NO path threshold, so a weak-prior
      * best candidate still links (where NastyLinker would demote to NIL).
      * NIL ids stay "new:<alias key>" — MM edges only join equal keys, so
      * every entity-less fold cluster is same-key-connected and the ids
      * match the other modes. */
    case class BottomUp(meThreshold: Double = 0.5, mmThreshold: Double = 0.5,
                        meScore: Column = DefaultMeScore)
        extends Canonicalization
  }

  /** NIL labels more frequent than this with no known entity are boilerplate
    * and dropped (F9, ≙ `/root/reference/impl/wikipedia/__init__.py:59-67`,
    * threshold 50 there; lower here because the fixture corpus is small). */
  val MaxUnknownLabelFreq = 20

  /** Above this row count a delta key set stops being broadcast-hinted and
    * the carry joins degrade to AQE-planned shuffle joins (high-churn
    * re-crawls must not OOM the driver on a forced broadcast). This is the
    * one carry layout at every churn: a broadcast anti-join while the drop
    * set is under the threshold, a shuffle anti-join above it. */
  val MaxBroadcastKeys = 2000000L

  /** Run (or resume) the full pipeline; returns the triple table.
    * `canon` picks the canonicalization mode; resume is per-stage by name,
    * so use a FRESH outDir when changing modes (mode-specific stages are
    * name-suffixed, but downstream stages are shared). */
  def run(spark: SparkSession, pages: DataFrame, seedsIn: Seeds,
          outDir: String, runId: String = "run-1",
          canon: Canonicalization = Canonicalization.Components): DataFrame = {
    Normalize.register(spark)
    val seeds = pinSeeds(seedsIn)
    val runner = new StageRunner(spark, outDir, runId)

    // 0. crawl manifest: the (url, warc_ts, content_fp) fingerprint of the
    // consumed crawl slice. A later [[runDelta]] anti-joins its new crawl
    // against this to find changed/added pages — the content fingerprint
    // catches a capture rewritten under an unchanged timestamp. Plus the
    // seeds fingerprint: carried links are only valid under identical seeds.
    runner.run("crawl_manifest") { manifestOf(pages) }
    runner.run("seeds_fp") { seedsFingerprint(spark, seeds) }

    // 1. invariant text extraction (byte-identical per url)
    val pagesText = runner.run("pages_text") { TextExtract.extract(pages) }

    // 2. listings → items → subject mentions
    val mentions = runner.run("mentions") { ListingExtract.mentions(pagesText) }

    // 3. entity linking (broadcast alias dict incl. folded spelling
    // redirects)
    val dict = buildDict(seeds)
    // ONE broadcast-join execution; linked/unlinked are filters over the
    // checkpointed join output (ent nullable), not two separate stages.
    // Stage name is "linked_all", NOT the pre-r3 "linked": the checkpoint
    // shape changed (nullable ent, unlinked rows included) and StageRunner
    // resumes by name — a stale "linked" checkpoint must never resume into
    // the new shape (it would silently empty the NIL path).
    val linkedAll =
      runner.run("linked_all") { AliasLink.linkAll(mentions, dict) }

    // 1b. corpus hypernym mining over page prose (A5/N9 — Hearst patterns),
    // checkpointed per url first: the url-keyed table is the materialized
    // view [[runDelta]] maintains with a url-keyed row drop instead of
    // re-parsing dropped prose; the global aggregate is its rollup.
    val hypByUrl =
      runner.run("hypernyms_by_url") { hearstCountsByUrl(pagesText) }
    runner.run("hypernyms") {
      hypByUrl.groupBy("sub", "obj").agg(sum("cnt").as("cnt"))
    }

    corpusStages(spark, runner, linkedAll, dict, seeds, canon)
  }

  /** Incremental run over a RE-CRAWL (the recurring-snapshot shape the
    * reference handles by full re-extraction per dump): captures whose
    * (url, warc_ts, content_fp) already appear in `prevDir`'s crawl
    * manifest carry their extracted text and linked mentions over from the
    * previous run's checkpoints; only changed/added captures pass through
    * the per-page prefix (extract → parse → link). Pages absent from the
    * new crawl drop out (deletions).
    *
    * Downstream, every corpus-level aggregate is delta-MAINTAINED rather
    * than recomputed ([[Canonicalization.Components]] mode): url-keyed
    * tables (subjects, subject_listings, type/relation rules, provenance
    * pairs, per-url hypernym counts) carry all untouched urls and recompute
    * only the AFFECTED slice — touched urls plus urls whose F9
    * frequent-label verdict flipped; count-keyed materialized views
    * (unlinked label counts, label counts, type/relation candidate counts,
    * hypernym counts) apply the classic maintenance identity
    * new = prev − contributions(old affected slice) + contributions(new
    * affected slice), with rows cancelling to 0 dropped. The final emit
    * stages (types guard, relations anti-join, triple assembly) then run
    * over CANDIDATE-sized inputs only — no corpus-wide shuffle remains in a
    * delta run; the corpus is touched only by map-side carries. Output is
    * IDENTICAL to a full [[run]] over the new crawl (DeltaSpec asserts
    * exactness, including rules and candidate counts crossing their
    * thresholds in both directions).
    *
    * [[Canonicalization.ScoredEd]] and [[Canonicalization.BottomUp]]
    * deltas are COMPONENT-bounded rather than url-bounded: graph decisions
    * propagate across urls through shared keys (so a url-sliced recompute
    * would be unsound), but they are local to an alignment-graph / MM
    * component — [[deltaGraphStages]] re-runs the mode only on the
    * components the churn can reach and carries every other mention's
    * assignment. A prevDir without the mode's recorded graph state (or
    * with a different canonicalization-parameter fingerprint) bootstraps:
    * one full corpus-stage recompute that records the state for the next
    * delta in the chain.
    *
    * Seeds must be IDENTICAL to the previous run's (checked against the
    * recorded seeds fingerprint — a dictionary change invalidates carried
    * links; use [[run]] on a fresh outDir for that). The same contract
    * covers the canonicalization parameters, enforced by bootstrap rather
    * than refusal (see `graph_canon_fp`). */
  def runDelta(spark: SparkSession, newPages: DataFrame, seedsIn: Seeds,
               outDir: String, prevDir: String, runId: String = "delta-1",
               canon: Canonicalization = Canonicalization.Components): DataFrame = {
    Normalize.register(spark)
    val seeds = pinSeeds(seedsIn)
    require(new java.io.File(outDir).getCanonicalPath !=
              new java.io.File(prevDir).getCanonicalPath,
            "runDelta: outDir must differ from prevDir — running in place " +
            "would resume every stage from the previous checkpoints and " +
            "silently ignore the new crawl")
    val runner = new StageRunner(spark, outDir, runId)
    val prefixStages = Seq("crawl_manifest", "seeds_fp", "pages_text",
                           "linked_all", "hypernyms_by_url", "hypernyms")
    val sharedMining = Seq("unlinked_label_counts", "subject_listings",
                           "type_rules", "relation_rules", "label_counts",
                           "tag_stats", "valid_tags", "type_cand_counts",
                           "rel_cand_counts", "prov_pairs", "triples_prov")
    val edStateStages = Seq("subjects_ed", "ed_components", "ed_key_counts")
    val buStateStages = Seq("subjects_bu", "bu_components", "bu_key_counts")
    // ED/BU deltas are component-bounded when prevDir recorded the mode's
    // graph state (a same-mode run() or runDelta()) AND the recorded
    // canonicalization parameters match this run's: carried subject rows
    // embed prevDir's thresholds/scorer/hot-cap, so carrying them under
    // different parameters would mix two configurations' decisions. Any
    // mismatch — including a prevDir without the fingerprint, or an
    // opaque caller-supplied scoreFn (never provably equal) — BOOTSTRAPS:
    // the corpus stages recompute once under the CURRENT parameters and
    // record fresh state for the next delta in the chain. A
    // Components-mode prevDir (the prefix is canon-free) bootstraps the
    // same way.
    def canonFpReady: Boolean =
      StageRunner.completed(prevDir, "graph_canon_fp") && {
        val cur = canonFpOf(spark, canon)
        val prev = prevStage(spark, prevDir, "graph_canon_fp")
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        !cur.exists(_._2 == "custom_fn") && prev == cur.toMap
      }
    val graphStateReady = canon match {
      case _: Canonicalization.ScoredEd =>
        edStateStages.forall(StageRunner.completed(prevDir, _)) &&
          canonFpReady
      case _: Canonicalization.BottomUp =>
        buStateStages.forall(StageRunner.completed(prevDir, _)) &&
          canonFpReady
      case _ => false
    }
    val needed = prefixStages ++
      (canon match {
        case Canonicalization.Components => sharedMining :+ "subjects"
        case _: Canonicalization.ScoredEd =>
          if (graphStateReady) sharedMining ++ edStateStages else Nil
        case _: Canonicalization.BottomUp =>
          if (graphStateReady) sharedMining ++ buStateStages else Nil
      })
    for (stage <- needed)
      require(StageRunner.completed(prevDir, stage),
              s"runDelta: $prevDir lacks the '$stage' checkpoint — prevDir " +
              "must be the outDir of a completed run() or runDelta() in a " +
              "compatible canonicalization mode (pre-manifest or other-mode " +
              "outDirs cannot seed a delta; run full once)")
    // seeds contract: the recorded fingerprint must match (carried
    // pages_text/linked_all rows silently mix stale semantics otherwise).
    // localCheckpoint so the seed tables are scanned ONCE: the comparison
    // collect and the seeds_fp stage write both read the 6-row checkpoint
    // instead of re-aggregating every seed table (aliases is the largest
    // seed input — at scale this halves the delta's seed-scan bill)
    locally {
      val curFpDf = seedsFingerprint(spark, seeds).localCheckpoint()
      val prevFp = prevStage(spark, prevDir, "seeds_fp")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val curFp = curFpDf.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // a FORMAT change is not a seed change: report it as such instead of
      // claiming the (possibly byte-identical) seeds differ (ADVICE r4)
      val prevVer = prevFp.getOrElse("__fp_version", 1L)
      require(prevVer == SeedsFpVersion,
              s"runDelta: seeds-fingerprint FORMAT changed (prevDir " +
              s"recorded v$prevVer, this engine computes v$SeedsFpVersion) " +
              "— the seed tables may be byte-identical, but the recorded " +
              "fingerprint cannot be compared; run full once on a fresh " +
              "outDir to re-record it")
      require(prevFp == curFp,
              s"runDelta: seed tables differ from prevDir's recorded " +
              s"fingerprint (prev=$prevFp, current=$curFp) — carried links " +
              "would be stale; run full on a fresh outDir instead")
      runner.run("seeds_fp") { curFpDf }
    }
    val prevManifest = prevStage(spark, prevDir, "crawl_manifest")
    // carried url-keyed tables resolve through their layer chain (a prevDir
    // that is itself a delta outDir holds LAYERS, not materialized tables)
    val prevLinked = prevStage(spark, prevDir, "linked_all")

    val manifest = runner.run("crawl_manifest") { manifestOf(newPages) }
    // The join must be keyed by the SMALL side — the delta, not the corpus.
    // A re-crawl changes ~1% of captures, so the changed/vanished key sets
    // broadcast and every carry below is a broadcast (anti/semi) hash join
    // with the corpus side unshuffled; joining on the 99% unchanged set
    // instead would shuffle the whole corpus twice and cost more than the
    // full run it replaces (measured — see BENCH/BASELINE.md). The
    // broadcast hint is guarded: above [[MaxBroadcastKeys]] (a high-churn
    // re-crawl) the hint is dropped and AQE plans a shuffle join instead.
    //
    // A url is TOUCHED when its capture set changed in either direction:
    // new/changed captures (manifest ∖ prev) or vanished captures
    // (prev ∖ manifest — which covers fully deleted urls too). Touched
    // urls drop their carried state and re-extract whatever captures the
    // new crawl still has — so a url that merely LOST one of several
    // captures re-derives from the survivors instead of carrying the
    // deleted capture forward.
    val capKeys = Seq("url", "warc_ts", "content_fp")
    val changedCaptures = manifest.join(prevManifest, capKeys, "left_anti")
    val vanishedCaptures = prevManifest.join(manifest, capKeys, "left_anti")
    val dropUrls = hintSmall(
      changedCaptures.select("url")
        .unionByName(vanishedCaptures.select("url"))
        .distinct().localCheckpoint())

    // extract ONLY the touched slice (its own stage: the fresh mentions and
    // the merged text both reuse it without re-extracting)
    val freshText = runner.run("pages_text_fresh") {
      TextExtract.extract(newPages.join(dropUrls, Seq("url"), "left_semi"))
    }
    // the merged corpus table is carried as a LAYER (parent − drops ∪
    // fresh) instead of rewritten — a delta run writes only delta-sized
    // data for every carried stage (StageRunner.runCarried; the measured
    // rewrite bill was most of the remaining delta wall)
    runner.runCarried("pages_text", prevDir, Seq("url"), dropUrls,
                      s"$outDir/pages_text_fresh")

    // parse + link ONLY the touched slice; carried links rejoin afterwards.
    // Stage name is delta-scoped ("mentions_fresh", like "pages_text_fresh")
    // — run()'s corpus-wide "mentions" checkpoint must never resume into
    // this delta-only shape or vice versa (the linked_all/linked lesson).
    val mentions = runner.run("mentions_fresh") {
      ListingExtract.mentions(freshText)
    }
    val dict = buildDict(seeds)
    val linkedFresh = runner.run("linked_fresh") {
      AliasLink.linkAll(mentions, dict)
    }
    val linkedAll = runner.runCarried("linked_all", prevDir, Seq("url"),
                                      dropUrls, s"$outDir/linked_fresh")

    // 1b. hypernym counts: the url-keyed view carries untouched urls and
    // re-parses ONLY fresh prose; the global aggregate applies the
    // maintenance identity with the minus side read from the url-keyed
    // checkpoint — a row drop, NOT a re-parse of dropped prose (so
    // maintenance cost is 1× the churn, not 2×). Pairs whose count cancels
    // to 0 drop out, so the result is EXACTLY the full-run aggregate
    // (asserted by DeltaSpec).
    val prevHypByUrl = prevStage(spark, prevDir, "hypernyms_by_url")
    val freshHypByUrl =
      runner.run("hypernyms_by_url_fresh") { hearstCountsByUrl(freshText) }
    runner.runCarried("hypernyms_by_url", prevDir, Seq("url"), dropUrls,
                      s"$outDir/hypernyms_by_url_fresh")
    runner.run("hypernyms") {
      val prevHyp = prevStage(spark, prevDir, "hypernyms")
      val minus = prevHypByUrl.join(dropUrls, Seq("url"), "left_semi")
        .groupBy("sub", "obj").agg(sum("cnt").as("cnt"))
      val plus = freshHypByUrl
        .groupBy("sub", "obj").agg(sum("cnt").as("cnt"))
      maintainCounts(prevHyp, minus, plus, Seq("sub", "obj"))
    }

    canon match {
      case Canonicalization.Components =>
        deltaMiningStages(spark, runner, prevDir, dropUrls, linkedAll,
                          linkedFresh, prevLinked, seeds)
      case ed: Canonicalization.ScoredEd =>
        // ED-mode delta: path scores cross urls through shared keys, so
        // the recompute is bounded by alignment-graph COMPONENT, not url
        // (see deltaEdStages) — the carried per-page prefix plus a
        // component-sliced re-disambiguation. Bootstrap (no recorded ED
        // state in prevDir): recompute the corpus stages once.
        if (graphStateReady)
          deltaEdStages(spark, runner, prevDir, dropUrls, linkedAll,
                        linkedFresh, prevLinked, dict, seeds, ed)
        else
          corpusStages(spark, runner, linkedAll, dict, seeds, canon)
      case bu: Canonicalization.BottomUp =>
        // BU-mode delta: the fold is independent per MM component (see
        // deltaBuStages), so the same component-bounded discipline
        // applies over MM-only components. Bootstrap as above.
        if (graphStateReady)
          deltaBuStages(spark, runner, prevDir, dropUrls, linkedAll,
                        linkedFresh, prevLinked, dict, seeds, bu)
        else
          corpusStages(spark, runner, linkedAll, dict, seeds, canon)
    }
  }

  /** The change fingerprint of a crawl slice: (url, warc_ts, content_fp)
    * per capture, content_fp = xxhash64 of the raw bytes — a capture
    * rewritten under an unchanged timestamp is still detected (shared by
    * [[run]] and [[runDelta]]; both sides of the delta anti-join MUST use
    * the same expression). Exact-duplicate capture ROWS (same url, ts, and
    * bytes) are treated as one capture — multiplicity of byte-identical
    * rows is degenerate input, not a change signal. */
  private def manifestOf(pages: DataFrame): DataFrame =
    pages.filter(col("lang") === "en")
      .select(col("url"), col("warc_ts"), xxhash64(col("html")).as("content_fp"))

  /** Order-independent, multiset-sensitive fingerprint of every seed
    * table: SUM of per-row xxhash64 (as decimal(38,0) — wide enough for
    * any row count, and ANSI-safe where a Long sum could overflow-throw),
    * mixed with the row count. bit_xor was multiset-BLIND: even-
    * multiplicity duplicate-row swaps ({A,A,C} → {B,B,C}) cancelled to the
    * same xor, so a changed seed dump could slip past [[runDelta]]'s
    * staleness guard. Nulls coalesce to a per-column marker so a value
    * shifting position across columns cannot alias (xxhash64 folds null
    * fields without a position contribution). Partitioning-invariant;
    * recorded at run time; [[runDelta]] refuses to carry across a change.
    *
    * The fingerprint FORMULA is versioned (the `__fp_version` row): when
    * the formula changes, a byte-identical seed set still produces
    * different fp values, and without the version row [[runDelta]] would
    * misreport that as "seed tables differ" (ADVICE r4 — the r3→r4 formula
    * change silently invalidated every existing delta chain with a
    * misleading diagnostic). Bump [[SeedsFpVersion]] on ANY formula
    * change. */
  private val SeedsFpVersion = 2L

  private def seedsFingerprint(spark: SparkSession, seeds: Seeds): DataFrame = {
    import spark.implicits._
    val tables = Seq(
      "aliases" -> seeds.aliases, "entity_types" -> seeds.entityTypes,
      "taxonomy_edges" -> seeds.taxonomyEdges,
      "disjoint_pairs" -> seeds.disjointPairs,
      "seed_relations" -> seeds.seedRelations, "redirects" -> seeds.redirects)
    // ONE plan — per-table row hashes unioned, one aggregate keyed by
    // table name — instead of six independent aggregates (one exchange for
    // ~7 output rows instead of six). Stage wall measured ~flat at bench
    // scale (the cost there is one-time session codegen, not the
    // aggregates), but the fp VALUES are bit-identical to the former
    // per-table form: sum/count over the same rows grouped by tbl, and the
    // defaults below reproduce the former null-table (fp = 0) and
    // present-but-empty (fp = xxhash64("0", 0)) rows — so SeedsFpVersion
    // is unchanged and fingerprints recorded by older runs still compare
    // equal (proven by the full+delta soak: the delta's fp compare passed
    // against a prevDir written by the same formula, and DeltaSpec
    // compares across runs).
    val hashed = tables.collect { case (name, df) if df != null =>
      val marked = df.columns.map(c =>
        coalesce(col(c).cast("string"), lit("\u0000")))
      df.select(lit(name).as("tbl"), xxhash64(marked: _*).as("h"))
    }
    val grouped = hashed.reduceOption(_ unionByName _).map(
      _.groupBy("tbl")
        .agg(sum(col("h").cast("decimal(38,0)")).as("x"),
             count(lit(1)).as("n"))
        .select(col("tbl"),
                xxhash64(col("x").cast("string"), col("n")).as("fp")))
    // null tables record fp 0; present-but-empty tables produce no group
    // above and record the former empty-aggregate value
    val defaults = tables.map { case (name, df) => (name, df == null) }
      .toDF("tbl", "is_null")
      .select(col("tbl"),
              when(col("is_null"), lit(0L))
                .otherwise(xxhash64(lit("0"), lit(0L))).as("fp"))
    val version = spark.range(1)
      .select(lit("__fp_version").as("tbl"), lit(SeedsFpVersion).as("fp"))
    grouped match {
      case Some(g) =>
        version.unionByName(g).unionByName(
          defaults.join(g.select(col("tbl")), Seq("tbl"), "left_anti"))
      case None => version.unionByName(defaults)
    }
  }

  /** The Hearst per-url projection shared by [[run]] (full corpus) and
    * [[runDelta]] (fresh slice) — one definition so the full and delta
    * paths cannot desynchronize on the hypernyms_by_url view's input. */
  private def hearstCountsByUrl(pages: DataFrame): DataFrame = {
    val sp = pages.sparkSession
    import sp.implicits._
    graft.mine.Hearst.corpusCountsByUrl(
      pages.select("url", "text").as[(String, String)])
  }

  /** Stage `stage` of the previous run in `prevDir`, carry layers resolved
    * — the one way a delta reads its parent run. */
  private def prevStage(spark: SparkSession, prevDir: String,
                        stage: String): DataFrame =
    StageRunner.read(spark, s"$prevDir/$stage")

  /** Broadcast-hint a delta key set only while it is actually small
    * (ADVICE r3: an unconditional hint OOMs on high-churn re-crawls);
    * beyond the threshold AQE plans the join unhinted. The session conf
    * `graft.delta.maxBroadcastKeys` overrides [[MaxBroadcastKeys]] —
    * DeltaThresholdSpec pins it to 0 to prove the un-hinted fallback is
    * result-identical (SCALE.md's high-churn shape). */
  private def hintSmall(df: DataFrame): DataFrame = {
    val max = df.sparkSession.conf
      .get("graft.delta.maxBroadcastKeys", MaxBroadcastKeys.toString).toLong
    // probe limit is computed min-first: `max + 1` on Long.MaxValue wraps
    // negative and .toInt would yield a limit(0) that "proves" every frame
    // small — the exact OOM this guard exists to prevent
    val probeRows = (math.min(max, Int.MaxValue.toLong - 1) + 1).toInt
    if (max > 0 && df.limit(probeRows).count() <= max) broadcast(df)
    else df
  }

  /** Alias dictionary incl. folded spelling redirects (shared by [[run]]
    * and [[runDelta]]). */
  private def buildDict(seeds: Seeds): DataFrame = {
    val aliasTable =
      if (seeds.redirects == null) seeds.aliases
      else AliasLink.foldRedirects(seeds.aliases, seeds.redirects)
    AliasLink.buildDict(aliasTable)
  }

  private def fresh(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).as(c)): _*)

  /** The classic materialized-view maintenance identity for an additive
    * count aggregate: new = prev − minus + plus, groups cancelling to 0
    * dropped. All three inputs carry (keys..., cnt).
    *
    * Shuffle shape: the net delta (minus ∪ plus) aggregates first — a
    * DELTA-sized shuffle — and the previous view is then carried with
    * broadcast anti/semi joins on the touched keys; only touched-key rows
    * ever re-aggregate. A naive prev ∪ plus ∪ minus groupBy would shuffle
    * the whole view every delta run. */
  private def maintainCounts(prev: DataFrame, minus: DataFrame,
                             plus: DataFrame, keys: Seq[String]): DataFrame = {
    val delta = fresh(plus)
      .unionByName(fresh(minus).withColumn("cnt", -col("cnt")))
      .groupBy(keys.map(col): _*).agg(sum("cnt").as("cnt"))
      .localCheckpoint()
    val touched = hintSmall(delta.select(keys.map(col): _*))
    fresh(prev).join(touched, keys, "left_anti")
      .unionByName(
        fresh(prev).join(touched, keys, "left_semi")
          .unionByName(delta)
          .groupBy(keys.map(col): _*).agg(sum("cnt").as("cnt"))
          .filter(col("cnt") > 0))
  }

  // — the mining-aggregate shapes (shared by full run and delta
  //   maintenance; every delta slice must use the SAME expressions or the
  //   minus side desynchronizes from the recorded view) —

  private def labelCountsOf(subjects: DataFrame): DataFrame =
    subjects.groupBy("ent", "label").agg(count(lit(1)).as("cnt"))

  /** Tag-occurrence stats over LINKED mentions × seed types — the
    * reference's df_train slice (known entities only,
    * `listing/extract.py:47-48`); additive over url contributions, so a
    * delta maintains it by the usual identity. */
  private def tagStatsOf(linked: DataFrame, seedTypes: DataFrame): DataFrame =
    graft.taxonomy.ValidTags.tagStats(
      linked.select(col("ent"),
                    graft.taxonomy.ValidTags.shapeTag(col("label")).as("tag")),
      seedTypes)

  /** A9 tag gate at ASSERTION level (≙ `listing/extract.py:158-162`: an
    * assertion survives only when the subject mention's NE tag is valid
    * for the asserted type — a type with no validity entry drops all its
    * assertions): candidate (ent, tpe) counts from mention-level subjects,
    * gated by the broadcast (tpe, tag) validity table, deduped to one row
    * per (listing, ent, tpe) before counting (any valid-tagged mention of
    * the entity in the listing asserts). */
  private def typeCandCountsOf(subjects: DataFrame, typeRules: DataFrame,
                               valid: DataFrame): DataFrame =
    subjects.select(col("url"), col("listing_key"), col("ent"),
                    graft.taxonomy.ValidTags.shapeTag(col("label")).as("tag"))
      .join(typeRules, Seq("url", "listing_key"))
      .join(broadcast(valid), Seq("tpe", "tag"), "left_semi")
      .select("url", "listing_key", "ent", "tpe").distinct()
      .groupBy("ent", "tpe").agg(count(lit(1)).as("cnt"))

  private def relCandCountsOf(subjListings: DataFrame,
                              relRules: DataFrame): DataFrame =
    subjListings.join(relRules, Seq("url", "listing_key"))
      .groupBy("ent", "pred", "obj").agg(count(lit(1)).as("cnt"))

  private def provPairsOf(subjListings: DataFrame,
                          typeRules: DataFrame): DataFrame =
    fresh(subjListings.select("ent", "url"))
      .unionByName(fresh(typeRules.select(col("tpe").as("ent"), col("url"))))
      .distinct()

  /** Components-mode subject assembly: linked mentions keep their argmax
    * entity; kept-NIL mentions take their content-derived cluster id. */
  private def componentsSubjects(linked: DataFrame, keptUnlinked: DataFrame,
                                 nilAssign: DataFrame): DataFrame =
    linked.select("url", "listing_key", "mention_id", "label", "ent")
      .withColumn("is_new", lit(false))
      .unionByName(
        keptUnlinked.join(nilAssign, "mention_id")
          .select("url", "listing_key", "mention_id", "label", "ent")
          .withColumn("is_new", lit(true)))

  /** The ME scorer of a ScoredEd config as the whole-DataFrame seam. */
  private def edScoreFn(ed: Canonicalization.ScoredEd)
      : DataFrame => DataFrame =
    ed.scoreFn.getOrElse(cand => cand.withColumn("score", ed.meScore))

  /** ED subject assembly: kept mentions × NastyLinker assignment; NIL
    * mentions take the content-derived "new:<alias key>" id (shared by the
    * full run and the delta's component slice — one definition so they
    * cannot diverge). */
  private def edSubjectsOf(keptAll: DataFrame, assign: DataFrame): DataFrame =
    keptAll.drop("ent")
      .join(assign.select(col("mention_id"), col("ent").as("ed_ent")),
            "mention_id")
      .select(col("url"), col("listing_key"), col("mention_id"),
              col("label"),
              coalesce(col("ed_ent"),
                       concat(lit("new:"), col("key"))).as("ent"),
              col("ed_ent").isNull.as("is_new"))

  /** [[edSubjectsOf]] for the BottomUp fold's assignment, which only
    * covers mentions in the fold domain (≥1 scored candidate or MM edge)
    * — a LEFT join keeps the rest as NIL with the shared "new:<key>" id. */
  private def buSubjectsOf(keptAll: DataFrame, assign: DataFrame): DataFrame =
    keptAll.drop("ent")
      .join(assign.select(col("mention_id"), col("ent").as("bu_ent")),
            Seq("mention_id"), "left")
      .select(col("url"), col("listing_key"), col("mention_id"),
              col("label"),
              coalesce(col("bu_ent"),
                       concat(lit("new:"), col("key"))).as("ent"),
              col("bu_ent").isNull.as("is_new"))

  /** The alignment graph's connected components, recorded as the ED delta
    * state: one row per KEPT MENTION (comp, node, mention_id, url, key,
    * label — isolated mentions are their own component) and one per ENTITY
    * node (comp, node, nulls). Component ids are the component's minimum
    * node id ([[graft.canonical.ConnectedComponents]]) — content-derived,
    * so a component slice recomputed by [[runDelta]] reproduces the ids a
    * full run would. `cc` is the SHARED checkpointed component table the
    * caller also feeds NastyLinker — the CC loop runs once per edge set,
    * not once per consuming stage. */
  private def edComponentsOf(keptAll: DataFrame, cc: DataFrame): DataFrame = {
    val mentionRows = keptAll
      .select(col("mention_id"), col("url"), col("label"),
              Normalize.aliasKey(col("label")).as("key"))
      .withColumn("node", concat(lit("m:"), col("mention_id")))
      .join(cc, Seq("node"), "left_outer")
      .select(coalesce(col("component"), col("node")).as("comp"),
              col("node"), col("mention_id"), col("url"), col("key"),
              col("label"))
    val entityRows = cc.filter(col("node").startsWith("e:"))
      .select(col("component").as("comp"), col("node"),
              lit(null).cast("string").as("mention_id"),
              lit(null).cast("string").as("url"),
              lit(null).cast("string").as("key"),
              lit(null).cast("string").as("label"))
    mentionRows.unionByName(entityRows)
  }

  /** The BottomUp fold's ME scorer as the whole-DataFrame seam
    * (≙ [[edScoreFn]]). */
  private def buScoreFn(bu: Canonicalization.BottomUp)
      : DataFrame => DataFrame =
    cand => cand.withColumn("score", bu.meScore)

  /** The alignment graph's ME edges in [[graft.canonical.BottomUpCluster]]
    * shape (bare mention/entity ids). */
  private def buMeEdges(edges: DataFrame): DataFrame =
    edges.filter(col("dst").startsWith("e:"))
      .select(expr("substring(src, 3)").as("mention_id"),
              expr("substring(dst, 3)").as("ent"),
              col("weight").as("score"))

  /** The alignment graph's MM edges above the fold threshold, bare ids —
    * the edge set whose connected components bound the fold
    * ([[graft.canonical.BottomUpCluster.cluster]] `ccIn` contract). */
  private def buMmEdges(edges: DataFrame, mmThreshold: Double): DataFrame =
    edges.filter(col("dst").startsWith("m:"))
      .select(expr("substring(src, 3)").as("m1"),
              expr("substring(dst, 3)").as("m2"),
              col("weight").as("score"))
      .filter(col("score") > mmThreshold)

  /** [[edComponentsOf]] for BottomUp mode: MM-edge components only (bare
    * mention-id nodes, no entity rows — ME edges never merge fold
    * clusters across components, so entities are not component members).
    * One row per kept mention; isolated mentions are their own
    * component. Component ids are the component's minimum mention id —
    * content-derived, so a delta's component-slice recompute reproduces
    * the ids a full run would. */
  private def buComponentsOf(keptAll: DataFrame, cc: DataFrame): DataFrame =
    keptAll
      .select(col("mention_id"), col("url"), col("label"),
              Normalize.aliasKey(col("label")).as("key"))
      .withColumn("node", col("mention_id"))
      .join(cc, Seq("node"), "left_outer")
      .select(coalesce(col("component"), col("node")).as("comp"),
              col("node"), col("mention_id"), col("url"), col("key"),
              col("label"))

  /** The maintained mining aggregates every emit stage reads. */
  private case class Mining(typeRules: DataFrame, relationRules: DataFrame,
                            labelCounts: DataFrame, typeCandCounts: DataFrame,
                            relCandCounts: DataFrame, provPairs: DataFrame)

  /** The corpus-level stages downstream of the per-page prefix, FULL
    * recompute: canonicalization (either mode) → mining aggregates → emit.
    * Used by [[run]] and by ScoredEd-mode [[runDelta]]. */
  private def corpusStages(spark: SparkSession, runner: StageRunner,
                           linkedAll: DataFrame, dict: DataFrame,
                           seeds: Seeds, canon: Canonicalization): DataFrame = {
    val (linked, unlinked) = AliasLink.splitLinked(linkedAll)

    // 3b. F9: frequent unknown labels (boilerplate) — counted as a
    // maintained view, filtered before clustering
    val unlCounts = runner.run("unlinked_label_counts") {
      unlinked.groupBy("label").agg(count(lit(1)).as("cnt"))
    }
    val frequent = hintSmall(
      unlCounts.filter(col("cnt") > MaxUnknownLabelFreq).select("label"))
    val keptUnlinked = unlinked.join(frequent, Seq("label"), "left_anti")

    // 4 + 5. canonicalization → subject-entity table (known + new)
    val subjects = canon match {
      case Canonicalization.Components =>
        // 4a. NIL canonicalization via connected components
        val nilRep = new LoopReport
        val nilAssign = runner.run("nil_entities", report = nilRep) {
          NilCluster.cluster(keptUnlinked, nilRep)
        }
        runner.run("subjects") {
          componentsSubjects(linked, keptUnlinked, nilAssign)
        }
      case ed: Canonicalization.ScoredEd =>
        // 4b. scored ED over ALL kept mentions: alignment graph (full
        // candidate dictionary, not the argmax-reduced one) → NastyLinker.
        // ONE corpus-side pass builds the graph; the split decides linked
        // vs NIL, overriding the prior-argmax join above. Besides the
        // subject table, the run records the ED DELTA STATE a later
        // [[runDelta]] maintains component-bounded (VERDICT r4 #3):
        // `ed_components` (the alignment graph's connected components,
        // mention + entity node rows), `ed_key_counts` (kept-mention key
        // counts — the GLOBAL hot-key cap a slice recompute must use),
        // and `graph_canon_fp` (the parameter fingerprint a delta
        // compares before carrying). Construction is the SAME
        // [[GraphDeltaMode]] recompute the delta's component slice runs —
        // the two paths cannot drift.
        graphSubjects(spark, runner,
          fresh(linked)
            .unionByName(fresh(keptUnlinked)
              .withColumn("ent", lit(null).cast("string")))
            .localCheckpoint(),
          edMode(spark, dict, ed))
      case bu: Canonicalization.BottomUp =>
        // 4c. bottom-up union-find over the SAME scored alignment graph
        // as ScoredEd, but clustered by the reference's ordered edge fold
        // (per-MM-component, see BottomUpCluster) — argmax entity, no
        // path-threshold demotion. Records the analogous BU delta state
        // (`bu_components` is MM-edge components only — the fold's
        // independence boundary; the global entity collapse only renames
        // cluster ids, which the subject table never consumes).
        graphSubjects(spark, runner,
          fresh(linked)
            .unionByName(fresh(keptUnlinked)
              .withColumn("ent", lit(null).cast("string")))
            .localCheckpoint(),
          buMode(spark, dict, bu))
    }

    // 6a. mining aggregates (url-keyed tables + count views) — the
    // checkpointed materialized views a later delta maintains.
    // the distinct (url, listing_key, ent) projection feeds FIVE consumers
    // (both rule miners, both candidate counts, provenance) — checkpoint it
    // once instead of paying the corpus-wide distinct shuffle per consumer
    val seedTypes = seeds.entityTypes.select(col("ent"), col("tpe"))
    val subjectListings = runner.run("subject_listings") {
      subjects.select("url", "listing_key", "ent").distinct()
    }
    val typeRules = runner.run("type_rules") {
      RuleMining.listingTypeRules(subjectListings, seedTypes)
    }
    val relationRules = runner.run("relation_rules") {
      RuleMining.listingRelationRules(subjectListings, seeds.seedRelations)
    }
    val labelCounts = runner.run("label_counts") { labelCountsOf(subjects) }
    // A9 tag gate inputs: P(tag|type) stats over linked mentions, validity
    // ≥ threshold with parent-tag inheritance (driver fixpoint over the
    // broadcast taxonomy)
    val tagStats = runner.run("tag_stats") { tagStatsOf(linked, seedTypes) }
    val validTags = runner.run("valid_tags") {
      graft.taxonomy.ValidTags.validTagsFromStats(tagStats,
                                                  seeds.taxonomyEdges)
    }
    val typeCandCounts = runner.run("type_cand_counts") {
      typeCandCountsOf(subjects, typeRules, validTags)
    }
    val relCandCounts = runner.run("rel_cand_counts") {
      relCandCountsOf(subjectListings, relationRules)
    }
    val provPairs = runner.run("prov_pairs") {
      provPairsOf(subjectListings, typeRules)
    }
    emitStages(spark, runner,
               Mining(typeRules, relationRules, labelCounts, typeCandCounts,
                      relCandCounts, provPairs), seeds)
  }

  /** Components-mode DELTA maintenance of the mining aggregates: carried
    * url-keyed tables + incrementally maintained count views (see
    * [[runDelta]] scaladoc for the identity). The affected-url set is the
    * touched urls PLUS every url holding an unlinked mention whose F9
    * frequent-label verdict flipped — a label crossing the boilerplate
    * threshold changes subjects on urls the crawl never touched.
    *
    * Soundness of url-sliced recompute: NIL ids are content-derived and
    * page-local ([[NilCluster.cluster]]), listing rules are per
    * (url, listing_key) aggregates, and the count views are additive over
    * url contributions — so slice ∪ carry ≡ full recompute exactly. */
  /** The flip state every delta mode needs before slicing: maintained F9
    * label counts + the labels whose frequent-verdict flipped, maintained
    * A9 tag stats + validity and the flipped (tpe, tag) pairs, plus the
    * url widenings both flips induce. `subjectsStage` names the mode's
    * subject table ("subjects" / "subjects_ed") for the tag-flip closure. */
  private case class Flips(frequentNew: DataFrame, flippedLabels: DataFrame,
                           validNew: DataFrame, validPrev: DataFrame,
                           prevSubjects: DataFrame,
                           prevTypeRules: DataFrame,
                           f9FlipUrls: Option[DataFrame],
                           tagFlipUrls: Option[DataFrame])

  private def deltaFlipStages(spark: SparkSession, runner: StageRunner,
                              prevDir: String, dropUrls: DataFrame,
                              linkedAll: DataFrame, linkedFresh: DataFrame,
                              prevLinked: DataFrame, seeds: Seeds,
                              subjectsStage: String): Flips = {
    val prevUnlCounts = prevStage(spark, prevDir, "unlinked_label_counts")

    // F9 counts maintenance: minus = dropped urls' unlinked labels (from
    // the carried linked_all view), plus = fresh slice's unlinked labels
    val unlCounts = runner.run("unlinked_label_counts") {
      val minus = prevLinked.filter(col("ent").isNull)
        .join(dropUrls, Seq("url"), "left_semi")
        .groupBy("label").agg(count(lit(1)).as("cnt"))
      val plus = linkedFresh.filter(col("ent").isNull)
        .groupBy("label").agg(count(lit(1)).as("cnt"))
      maintainCounts(prevUnlCounts, minus, plus, Seq("label"))
    }
    val frequentNew = unlCounts.filter(col("cnt") > MaxUnknownLabelFreq)
      .select("label")
    val frequentPrev = prevUnlCounts.filter(col("cnt") > MaxUnknownLabelFreq)
      .select("label")
    // labels whose frequent-verdict flipped in either direction: symmetric
    // difference (each side is a distinct set → union groups of size 1)
    val flipped = fresh(frequentNew).unionByName(fresh(frequentPrev))
      .groupBy("label").agg(count(lit(1)).as("c"))
      .filter(col("c") === 1).select("label")
      .localCheckpoint()

    // A9 tag-validity maintenance: stats view by the usual identity, then
    // the validity set recomputed (driver fixpoint, taxonomy-sized). Like
    // F9, a VALIDITY FLIP changes gated assertions on urls the crawl never
    // touched — the affected set widens to every url whose (prev subjects
    // × prev rules) rows hit a flipped (tpe, tag) pair.
    val seedTypes = seeds.entityTypes.select(col("ent"), col("tpe"))
    val tagStats = runner.run("tag_stats") {
      val minus = tagStatsOf(prevLinked.filter(col("ent").isNotNull)
          .join(dropUrls, Seq("url"), "left_semi"), seedTypes)
      val plus = tagStatsOf(linkedFresh.filter(col("ent").isNotNull),
                            seedTypes)
      maintainCounts(prevStage(spark, prevDir, "tag_stats"), minus, plus,
                     Seq("tpe", "tag"))
    }
    val validNew = runner.run("valid_tags") {
      graft.taxonomy.ValidTags.validTagsFromStats(tagStats,
                                                  seeds.taxonomyEdges)
    }
    val validPrev = prevStage(spark, prevDir, "valid_tags")
    val flippedTags = fresh(validNew).unionByName(fresh(validPrev))
      .groupBy("tpe", "tag").agg(count(lit(1)).as("c"))
      .filter(col("c") === 1).select("tpe", "tag")
      .localCheckpoint()

    val prevSubjects = prevStage(spark, prevDir, subjectsStage)
    val prevTypeRules = prevStage(spark, prevDir, "type_rules")
    val f9FlipUrls =
      if (flipped.isEmpty) None
      else Some(linkedAll.filter(col("ent").isNull)
        .join(hintSmall(flipped), Seq("label"), "left_semi")
        .select("url"))
    val tagFlipUrls =
      if (flippedTags.isEmpty) None
      else {
        // restrict rules to flipped types FIRST (tiny broadcast) so the
        // listing-keyed join is map-side against a small side
        val rulesFlipped = prevTypeRules.join(
          hintSmall(flippedTags.select("tpe").distinct()),
          Seq("tpe"), "left_semi")
        Some(prevSubjects
          .select(col("url"), col("listing_key"),
                  graft.taxonomy.ValidTags.shapeTag(col("label")).as("tag"))
          .join(rulesFlipped, Seq("url", "listing_key"))
          .join(hintSmall(flippedTags), Seq("tpe", "tag"), "left_semi")
          .select("url"))
      }
    Flips(frequentNew, flipped, validNew, validPrev, prevSubjects,
          prevTypeRules, f9FlipUrls, tagFlipUrls)
  }

  private def deltaMiningStages(spark: SparkSession, runner: StageRunner,
                                prevDir: String, dropUrls: DataFrame,
                                linkedAll: DataFrame, linkedFresh: DataFrame,
                                prevLinked: DataFrame,
                                seeds: Seeds): DataFrame = {
    val flips = deltaFlipStages(spark, runner, prevDir, dropUrls, linkedAll,
                                linkedFresh, prevLinked, seeds, "subjects")
    val widenings = flips.f9FlipUrls.toSeq ++ flips.tagFlipUrls
    val affectedUrls = hintSmall(
      (if (widenings.isEmpty) dropUrls
       else widenings.foldLeft(dropUrls.select("url"))(_ unionByName _)
         .distinct())
        .localCheckpoint())

    // subjects: carry untouched urls; recompute the affected slice with the
    // SAME expressions as the full run (NIL ids are page-local — see
    // NilCluster scaladoc — so the slice clusters identically)
    val (linkedA, unlinkedA) =
      AliasLink.splitLinked(linkedAll.join(affectedUrls, Seq("url"), "left_semi"))
    val keptUnlinkedA = unlinkedA
      .join(hintSmall(fresh(flips.frequentNew)), Seq("label"), "left_anti")
    val nilRep = new LoopReport
    val nilAssignA = runner.run("nil_entities_fresh", report = nilRep) {
      NilCluster.cluster(keptUnlinkedA, nilRep)
    }
    // fresh slices are their own delta-sized stages; the merged tables are
    // carried as LAYERS (runCarried — delta-sized writes only), and every
    // downstream consumer of "the affected slice" reads the fresh
    // checkpoint directly instead of re-slicing the merged view
    val subjectsA = runner.run("subjects_fresh") {
      componentsSubjects(linkedA, keptUnlinkedA, nilAssignA)
    }
    runner.runCarried("subjects", prevDir, Seq("url"), affectedUrls,
                      runner.pathOf("subjects_fresh"))
    val prevSubjectsA =
      flips.prevSubjects.join(affectedUrls, Seq("url"), "left_semi")
    deltaMiningCore(spark, runner, prevDir, affectedUrls, subjectsA,
                    prevSubjectsA, seeds, flips)
  }

  /** What distinguishes one graph-state delta mode from another: the
    * recorded stage names, whether entity nodes join components (ED's CC
    * runs over ME+MM edges, so an entering mention can reach an old
    * component through a shared DICTIONARY CANDIDATE; BU components are
    * MM-only), the canonicalization-parameter fingerprint
    * ([[canonFpOf]]), and the graph recompute itself (`recompute(all,
    * hotKeysIn, report)` — `hotKeysIn = None` on a full run, the
    * maintained GLOBAL hot set on a delta slice). Everything else —
    * membership deltas, key-count maintenance, hotness flips, affected
    * components, slice closure, carries, mining maintenance — is shared
    * verbatim by the two modes, and the FULL-run scaffolding
    * ([[graphSubjects]]) is shared the same way, so a full run and the
    * delta that carries it can never drift in construction. */
  private case class GraphDeltaMode(
      subjectsStage: String, compsStage: String, keyCountsStage: String,
      entityAdjacency: Boolean,
      canonFp: Seq[(String, String)],
      recompute: (DataFrame, Option[DataFrame], LoopReport)
        => (DataFrame, DataFrame))

  /** The canonicalization-parameter fingerprint recorded beside the graph
    * state (`graph_canon_fp`): carried subject rows embed the thresholds,
    * scorer, and hot-key cap of the run that produced them, so a delta
    * under DIFFERENT parameters must not carry (it would mix two
    * configurations' decisions — the seeds-fingerprint argument, applied
    * to the canon config). A caller-supplied `scoreFn` is opaque
    * (`custom_fn`) and never matches — such chains bootstrap every delta
    * (sound: the bootstrap recomputes under the CURRENT scorer). */
  private def canonFpOf(spark: SparkSession,
                        canon: Canonicalization): Seq[(String, String)] =
    canon match {
      case Canonicalization.Components => Seq("mode" -> "components")
      case ed: Canonicalization.ScoredEd => Seq(
        "mode" -> "scored_ed",
        "me_threshold" -> ed.meThreshold.toString,
        "mm_threshold" -> ed.mmThreshold.toString,
        "path_threshold" -> ed.pathThreshold.toString,
        "me_score" ->
          (if (ed.scoreFn.isDefined) "custom_fn" else ed.meScore.toString),
        "max_key_bucket" -> AlignmentGraph.maxKeyBucket(spark).toString)
      case bu: Canonicalization.BottomUp => Seq(
        "mode" -> "bottom_up",
        "me_threshold" -> bu.meThreshold.toString,
        "mm_threshold" -> bu.mmThreshold.toString,
        "me_score" -> bu.meScore.toString,
        "max_key_bucket" -> AlignmentGraph.maxKeyBucket(spark).toString)
    }

  private def edMode(spark: SparkSession, dict: DataFrame,
                     ed: Canonicalization.ScoredEd): GraphDeltaMode =
    GraphDeltaMode(
      "subjects_ed", "ed_components", "ed_key_counts",
      entityAdjacency = true,
      canonFp = canonFpOf(spark, ed),
      recompute = (all, hotIn, rep) => {
        val edges = AlignmentGraph.buildScored(
            all.select("mention_id", "label"), dict, edScoreFn(ed),
            ed.meThreshold, ed.mmThreshold, hotKeysIn = hotIn)
          .localCheckpoint()
        // ONE component table feeds both the NastyLinker split and the
        // recorded delta state — computed over the KEY-CONTRACTED graph
        // (identical output, no per-mention CC rounds — see
        // AlignmentGraph.components); NastyLinker still reads the FULL
        // weighted edge set.
        val cc = AlignmentGraph.components(
            all.select("mention_id", "label"),
            edges.filter(col("dst").startsWith("e:")).select("src", "dst"),
            ed.mmThreshold, hotIn,
            // the default prior scorer reads only dict-row columns, so the
            // ME edge set is a function of the key — hot buckets contract
            keyDeterminedScores =
              ed.scoreFn.isEmpty &&
                (ed.meScore eq Canonicalization.DefaultMeScore))
          .localCheckpoint()
        val assign = AlignmentGraph.clusterEdges(
          all.select("mention_id", "label"), edges,
          ed.pathThreshold, rep, ccIn = Some(cc),
          nilCliqueHint = Some(AlignmentGraph.mmCliqueHint(
            all.select("mention_id", "label"), ed.mmThreshold, hotIn)))
        (edSubjectsOf(all, assign), edComponentsOf(all, cc))
      })

  private def buMode(spark: SparkSession, dict: DataFrame,
                     bu: Canonicalization.BottomUp): GraphDeltaMode =
    GraphDeltaMode(
      "subjects_bu", "bu_components", "bu_key_counts",
      entityAdjacency = false,
      canonFp = canonFpOf(spark, bu),
      recompute = (all, hotIn, _) => {
        val edges = AlignmentGraph.buildScored(
            all.select("mention_id", "label"), dict, buScoreFn(bu),
            bu.meThreshold, bu.mmThreshold, hotKeysIn = hotIn)
          .localCheckpoint()
        val mm = buMmEdges(edges, bu.mmThreshold)
        // MM components in closed form — same-key cliques ARE the
        // components, so no CC loop runs at all (see
        // AlignmentGraph.mmComponents); the fold still consumes the full
        // ordered `mm` edge list
        val mmCc = AlignmentGraph.mmComponents(
            all.select("mention_id", "label"), bu.mmThreshold, hotIn)
          .localCheckpoint()
        val assign = graft.canonical.BottomUpCluster.cluster(
          buMeEdges(edges), mm, bu.mmThreshold, bu.meThreshold,
          ccIn = Some(mmCc))
        (buSubjectsOf(all, assign), buComponentsOf(all, mmCc))
      })

  private def canonFpDf(spark: SparkSession,
                        fp: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    fp.toDF("param", "value")
  }

  /** The FULL-run graph-canonicalization scaffolding, shared by the ED and
    * BU corpus stages: one lazy recompute feeds the subject table and the
    * recorded component table (a fully-resumed outDir never rebuilds the
    * graph; a partial resume builds it once), plus the key-count view and
    * the canon-parameter fingerprint the delta readiness check compares. */
  private def graphSubjects(spark: SparkSession, runner: StageRunner,
                            keptAllIn: => DataFrame,
                            mode: GraphDeltaMode): DataFrame = {
    val rep = new LoopReport
    lazy val keptAll = keptAllIn
    lazy val computed = mode.recompute(keptAll, None, rep)
    val subjects = runner.run(mode.subjectsStage, report = rep) {
      computed._1
    }
    runner.run(mode.compsStage) { computed._2 }
    runner.run(mode.keyCountsStage) {
      AlignmentGraph.graphMentions(subjects.select("mention_id", "label"))
        .groupBy("key").agg(count(lit(1)).as("cnt"))
    }
    runner.run("graph_canon_fp") { canonFpDf(spark, mode.canonFp) }
    subjects
  }

  private def deltaEdStages(spark: SparkSession, runner: StageRunner,
                            prevDir: String, dropUrls: DataFrame,
                            linkedAll: DataFrame, linkedFresh: DataFrame,
                            prevLinked: DataFrame, dict: DataFrame,
                            seeds: Seeds,
                            ed: Canonicalization.ScoredEd): DataFrame =
    deltaGraphStages(spark, runner, prevDir, dropUrls, linkedAll,
                     linkedFresh, prevLinked, dict, seeds,
                     edMode(spark, dict, ed))

  /** BottomUp-mode DELTA: the same component-bounded discipline as
    * [[deltaEdStages]], over MM-only components — the fold for a
    * component depends on nothing outside it (ME edges are per-mention,
    * the entity collapse only renames cluster ids the subject table
    * never reads), so re-folding the affected components ≡ the full
    * fold restricted to them. */
  private def deltaBuStages(spark: SparkSession, runner: StageRunner,
                            prevDir: String, dropUrls: DataFrame,
                            linkedAll: DataFrame, linkedFresh: DataFrame,
                            prevLinked: DataFrame, dict: DataFrame,
                            seeds: Seeds,
                            bu: Canonicalization.BottomUp): DataFrame =
    deltaGraphStages(spark, runner, prevDir, dropUrls, linkedAll,
                     linkedFresh, prevLinked, dict, seeds,
                     buMode(spark, dict, bu))

  /** Graph-canonicalization DELTA, component-bounded (VERDICT r4 #3 —
    * this path used to recompute every corpus stage). Both graph modes'
    * decisions are COMPONENT-LOCAL (NastyLinker: CC → per-component
    * split; the BU fold: independent per MM component), so it suffices to
    * re-run the mode on the components the churn can reach and carry
    * every other mention's assignment:
    *
    *  - graph-membership deltas: dropped-url mentions and F9 leavers exit;
    *    fresh kept mentions and F9 entrants (labels that stopped being
    *    frequent — on urls the crawl never touched) enter;
    *  - the kept-mention KEY COUNTS are a maintained view (the mode's
    *    key-counts stage) because the MM hot-key cap is GLOBAL: a slice
    *    recompute must cap by the new global counts, and a key whose
    *    hotness FLIPS changes mm edges on every component holding it;
    *  - affected components = components of exiting mentions ∪ components
    *    holding a flipped key ∪ components ADJACENT to an entering
    *    mention — via its key (old same-key mentions; stably-hot keys
    *    excluded, see inline) and, in ED mode, via its dictionary
    *    candidates (old entity nodes); adjacency is direct because only
    *    new mention nodes can bridge two old components (an old mention
    *    belongs to exactly one), so one join closes it. Beyond the
    *    stably-hot exclusion (exact — the cap suppressed those mm edges
    *    in BOTH graphs) the probes are deliberately SUPERSETS (no score
    *    test) — recomputing an extra component is sound, missing one is
    *    not;
    *  - the slice (surviving members of affected components + entrants +
    *    fresh) is closed under the new graph's edges by the same argument,
    *    so it is a union of complete new-graph components: the mode's
    *    clusterer on the slice ≡ the full run restricted to it, and the
    *    slice's CC ids (min node id) reproduce the full run's;
    *  - carries: the subjects stage drops the affected components'
    *    mention ids (a MENTION-keyed layer — affected mentions live on
    *    untouched urls); the components stage drops whole components
    *    (comp-keyed layer); the key-counts stage applies the count
    *    identity. Downstream mining runs [[deltaMiningCore]] over the
    *    urls holding any affected mention (∪ the flip widenings), exactly
    *    like Components mode. */
  private def deltaGraphStages(spark: SparkSession, runner: StageRunner,
                               prevDir: String, dropUrls: DataFrame,
                               linkedAll: DataFrame, linkedFresh: DataFrame,
                               prevLinked: DataFrame, dict: DataFrame,
                               seeds: Seeds,
                               mode: GraphDeltaMode): DataFrame = {
    val flips = deltaFlipStages(spark, runner, prevDir, dropUrls, linkedAll,
                                linkedFresh, prevLinked, seeds,
                                mode.subjectsStage)
    val prevComps = prevStage(spark, prevDir, mode.compsStage)
      .localCheckpoint()
    val prevCompMentions = prevComps.filter(col("mention_id").isNotNull)
    val prevKeyCounts = prevStage(spark, prevDir, mode.keyCountsStage)

    // — graph-membership deltas —
    val leaverLabels = flips.flippedLabels
      .join(fresh(flips.frequentNew), Seq("label"), "left_semi")
    val entrantLabels = flips.flippedLabels
      .join(fresh(flips.frequentNew), Seq("label"), "left_anti")
    val droppedRows = prevCompMentions.join(dropUrls, Seq("url"), "left_semi")
    val leaverRows = prevCompMentions
      .join(hintSmall(leaverLabels.localCheckpoint()), Seq("label"), "left_semi")
      .join(dropUrls, Seq("url"), "left_anti")
    // entrants carry full linked rows (subject assembly needs listing_key)
    val entrantRows = prevLinked.filter(col("ent").isNull)
      .join(dropUrls, Seq("url"), "left_anti")
      .join(hintSmall(entrantLabels.localCheckpoint()), Seq("label"), "left_semi")
      .withColumn("ent", lit(null).cast("string"))
    def keptAllOf(la: DataFrame): DataFrame = {
      val (l, u) = AliasLink.splitLinked(la)
      fresh(l).unionByName(
        fresh(u.join(hintSmall(fresh(flips.frequentNew)),
                     Seq("label"), "left_anti"))
          .withColumn("ent", lit(null).cast("string")))
    }
    val freshKept = keptAllOf(linkedFresh).localCheckpoint()
    val enteringMentions = fresh(freshKept.select("mention_id", "label"))
      .unionByName(entrantRows.select("mention_id", "label"))
      .localCheckpoint()

    // — key-count maintenance + hotness flips (the GLOBAL mm cap) —
    val keyCounts = runner.run(mode.keyCountsStage) {
      val minus = droppedRows.select("key")
        .unionByName(leaverRows.select("key"))
        .filter(length(col("key")) > 0)
        .groupBy("key").agg(count(lit(1)).as("cnt"))
      val plus = AlignmentGraph.graphMentions(enteringMentions)
        .groupBy("key").agg(count(lit(1)).as("cnt"))
      maintainCounts(prevKeyCounts, minus, plus, Seq("key"))
    }
    val maxBucket = AlignmentGraph.maxKeyBucket(spark)
    val hotNew = keyCounts
      .filter(col("cnt") > maxBucket).select("key")
      .localCheckpoint()
    val hotPrev = prevKeyCounts
      .filter(col("cnt") > maxBucket).select("key")
      .localCheckpoint()
    val flippedKeys = fresh(hotNew).unionByName(fresh(hotPrev))
      .groupBy("key").agg(count(lit(1)).as("c"))
      .filter(col("c") === 1).select("key")
      .localCheckpoint()

    // — affected components: exits ∪ flipped keys ∪ adjacency of entrants —
    // STABLY-HOT keys (hot in prev AND new counts) cannot carry MM
    // adjacency: the cap suppressed their mm edges in both graphs, so an
    // entering mention with such a key reaches no old component through
    // it. Excluding them bounds viaKey by the cap — without this, one
    // entering boilerplate-key mention ("home" at 10^8 occurrences) would
    // drag the key's entire singleton population into every delta slice.
    // Hotness FLIPS (either direction) change the key's mm edges
    // everywhere and stay fully covered by viaFlippedKeys.
    val stablyHot = hotNew.join(hotPrev, Seq("key"), "left_semi")
    val enteringKeys = AlignmentGraph.graphMentions(enteringMentions)
      .select("key").distinct().localCheckpoint()
    val enteringMmKeys = enteringKeys
      .join(stablyHot, Seq("key"), "left_anti")
      .localCheckpoint()
    val viaKey = prevCompMentions
      .join(hintSmall(enteringMmKeys), Seq("key"), "left_semi").select("comp")
    // ED only: an entering mention also reaches old components through its
    // DICTIONARY CANDIDATES (ME edges are CC edges there; BU components
    // are MM-only, where ME edges never bridge). The stably-hot exclusion
    // does NOT apply here — the cap suppresses mm edges only, so a
    // hot-key entrant's ME adjacency is real in both graphs.
    val viaEnt =
      if (!mode.entityAdjacency) None
      else {
        val enteringEntNodes = enteringKeys
          .join(broadcast(dict.select("key", "ent")), Seq("key"))
          .select(concat(lit("e:"), col("ent")).as("node")).distinct()
        Some(prevComps.filter(col("mention_id").isNull)
          .join(hintSmall(enteringEntNodes.localCheckpoint()),
                Seq("node"), "left_semi")
          .select("comp"))
      }
    val viaFlippedKeys = prevCompMentions
      .join(hintSmall(flippedKeys), Seq("key"), "left_semi").select("comp")
    val affectedComps = hintSmall(
      (Seq(leaverRows.select("comp"), viaKey) ++ viaEnt :+ viaFlippedKeys)
        .foldLeft(droppedRows.select("comp"))(_ unionByName _)
        .distinct().localCheckpoint())

    // — the slice: surviving members of affected components + entrants +
    //   fresh kept mentions (full rows via prevLinked / linkedFresh) —
    val affectedPrevMentions = prevCompMentions
      .join(affectedComps, Seq("comp"), "left_semi")
      .localCheckpoint()
    val survivorIds = affectedPrevMentions
      .join(dropUrls, Seq("url"), "left_anti")
      .join(hintSmall(leaverLabels), Seq("label"), "left_anti")
      .select("mention_id")
    val survivorRows = keptAllOf(
      prevLinked.join(hintSmall(survivorIds.localCheckpoint()),
                      Seq("mention_id"), "left_semi"))
    val sliceAll = survivorRows.unionByName(entrantRows.select(
        survivorRows.columns.map(col): _*))
      .unionByName(freshKept)
      .localCheckpoint()

    // — component-slice recompute, with the GLOBAL hot-key cap. The two
    //   stages share one lazy recompute: a fully-resumed outDir never
    //   builds the slice graph, a partial resume builds it once. —
    val rep = new LoopReport
    lazy val recomputed = mode.recompute(sliceAll, Some(hotNew), rep)
    runner.run(s"${mode.subjectsStage}_fresh", report = rep) {
      recomputed._1
    }
    runner.run(s"${mode.compsStage}_fresh") { recomputed._2 }
    // re-record the canon fingerprint so this outDir can seed the next
    // delta in the chain (parameters are unchanged by construction — the
    // readiness check already compared them against prevDir's record)
    runner.run("graph_canon_fp") { canonFpDf(spark, mode.canonFp) }

    // — carries —
    val dropMentionIds = hintSmall(
      affectedPrevMentions.select("mention_id").localCheckpoint())
    val subjectsNew = runner.runCarried(mode.subjectsStage, prevDir,
      Seq("mention_id"), dropMentionIds,
      runner.pathOf(s"${mode.subjectsStage}_fresh"))
    runner.runCarried(mode.compsStage, prevDir, Seq("comp"), affectedComps,
                      runner.pathOf(s"${mode.compsStage}_fresh"))

    // — mining maintenance over the urls holding any affected mention —
    val graphUrls = affectedPrevMentions.select("url")
    val widenings = flips.f9FlipUrls.toSeq ++ flips.tagFlipUrls :+
      graphUrls :+ freshKept.select("url")
    val affectedUrls = hintSmall(
      widenings.foldLeft(dropUrls.select("url"))(_ unionByName _)
        .distinct().localCheckpoint())
    val subjectsA = runner.run(s"${mode.subjectsStage}_affected") {
      subjectsNew.join(affectedUrls, Seq("url"), "left_semi")
    }
    val prevSubjectsA =
      flips.prevSubjects.join(affectedUrls, Seq("url"), "left_semi")
    deltaMiningCore(spark, runner, prevDir, affectedUrls, subjectsA,
                    prevSubjectsA, seeds, flips)
  }

  /** The mode-independent mining maintenance: given the affected urls and
    * the NEW subjects for exactly that slice (plus the prev slice), every
    * url-keyed table carries and every count view applies the maintenance
    * identity. Shared by Components and ScoredEd deltas. */
  private def deltaMiningCore(spark: SparkSession, runner: StageRunner,
                              prevDir: String, affectedUrls: DataFrame,
                              subjectsA: DataFrame, prevSubjectsA: DataFrame,
                              seeds: Seeds, flips: Flips): DataFrame = {
    val seedTypes = seeds.entityTypes.select(col("ent"), col("tpe"))
    // the layered type_rules parent was already resolved for the tag-flip
    // probe — reuse it instead of re-executing the layer chain
    val prevTypeRules = flips.prevTypeRules
    val validNew = flips.validNew
    val validPrev = flips.validPrev

    val labelCounts = runner.run("label_counts") {
      maintainCounts(prevStage(spark, prevDir, "label_counts"),
                     labelCountsOf(prevSubjectsA), labelCountsOf(subjectsA),
                     Seq("ent", "label"))
    }

    val prevSubjList = prevStage(spark, prevDir, "subject_listings")
    val subjListA = runner.run("subject_listings_fresh") {
      subjectsA.select("url", "listing_key", "ent").distinct()
    }
    runner.runCarried("subject_listings", prevDir, Seq("url"), affectedUrls,
                      runner.pathOf("subject_listings_fresh"))
    val prevSubjListA = prevSubjList.join(affectedUrls, Seq("url"), "left_semi")

    val typeRulesA = runner.run("type_rules_fresh") {
      RuleMining.listingTypeRules(subjListA, seedTypes)
    }
    val typeRules = runner.runCarried("type_rules", prevDir, Seq("url"),
                                      affectedUrls,
                                      runner.pathOf("type_rules_fresh"))
    val prevRelRules = prevStage(spark, prevDir, "relation_rules")
    val relRulesA = runner.run("relation_rules_fresh") {
      RuleMining.listingRelationRules(subjListA, seeds.seedRelations)
    }
    val relationRules = runner.runCarried("relation_rules", prevDir,
                                          Seq("url"), affectedUrls,
                                          runner.pathOf("relation_rules_fresh"))
    val prevTypeRulesA = prevTypeRules.join(affectedUrls, Seq("url"), "left_semi")
    val prevRelRulesA = prevRelRules.join(affectedUrls, Seq("url"), "left_semi")

    // the count-view maintenance slices double as the TOUCHED-ENTITY sets
    // the emit stages carry by: an entity absent from both slices has an
    // unchanged candidate row set, hence unchanged types/relations rows
    // (the guard, closure, and anti-joins are all per-entity given the
    // fingerprint-enforced static seeds)
    val typeMinusSlice = typeCandCountsOf(prevSubjectsA, prevTypeRulesA,
                                          validPrev).localCheckpoint()
    val typePlusSlice =
      typeCandCountsOf(subjectsA, typeRulesA, validNew).localCheckpoint()
    val typeCandCounts = runner.run("type_cand_counts") {
      // minus under the PREVIOUS validity (what the recorded view
      // contains), plus under the new one; validity flips on untouched
      // urls are covered by the affected-set widening above
      maintainCounts(prevStage(spark, prevDir, "type_cand_counts"),
                     typeMinusSlice, typePlusSlice, Seq("ent", "tpe"))
    }
    val relMinusSlice =
      relCandCountsOf(prevSubjListA, prevRelRulesA).localCheckpoint()
    val relPlusSlice =
      relCandCountsOf(subjListA, relRulesA).localCheckpoint()
    val relCandCounts = runner.run("rel_cand_counts") {
      maintainCounts(prevStage(spark, prevDir, "rel_cand_counts"),
                     relMinusSlice, relPlusSlice, Seq("ent", "pred", "obj"))
    }
    val touchedTypeEnts = hintSmall(
      typeMinusSlice.select("ent").unionByName(typePlusSlice.select("ent"))
        .distinct().localCheckpoint())
    val touchedRelEnts = hintSmall(
      relMinusSlice.select("ent").unionByName(relPlusSlice.select("ent"))
        .distinct().localCheckpoint())
    val provPairsFresh =
      runner.run("prov_pairs_fresh") { provPairsOf(subjListA, typeRulesA) }
    val provPairs = runner.runCarried("prov_pairs", prevDir, Seq("url"),
                                      affectedUrls,
                                      runner.pathOf("prov_pairs_fresh"))
    emitStages(spark, runner,
               Mining(typeRules, relationRules, labelCounts, typeCandCounts,
                      relCandCounts, provPairs), seeds,
               carry = Some(EmitCarry(prevDir, affectedUrls, provPairsFresh,
                                      touchedTypeEnts, touchedRelEnts)))
  }

  /** A delta run's emit-carry context: the parent outDir, the
    * affected-url drop set, the fresh prov-pair slice (exactly the
    * inputs `prov_pairs` itself carried with — so `triples_prov` and
    * `prov_pairs` can never disagree on what changed), and the
    * touched-entity sets of the two candidate count views (so `types`
    * and `relations` recompute only entities whose candidates changed
    * — both tables are entity-∝, which at web scale is corpus-∝). */
  private case class EmitCarry(prevDir: String, affectedUrls: DataFrame,
                               freshProvPairs: DataFrame,
                               touchedTypeEnts: DataFrame,
                               touchedRelEnts: DataFrame)

  /** The emit stages: disjointness-guarded transitive typing, new-relation
    * anti-join, and the triple write — all reading CANDIDATE-sized
    * maintained aggregates (never the corpus), EXCEPT provenance. Shared
    * verbatim by full and delta runs.
    *
    * The triple table is physically TWO stages: `triples` (pred-partitioned
    * — labels, types, relations, ontology flavors: all candidate-sized) and
    * `triples_prov` (the prov:wasDerivedFrom partition — the one CORPUS-∝
    * block, ~`mentions × pages` rows; ≙ the reference serializing
    * provenance into its own .nt files, `serialize.py:231-239`). Keeping
    * prov in its own url-keyed (obj = page url) carryable table is what
    * makes a DELTA run's write bill churn-sized: the r5 soak ladder
    * measured the monolithic triple re-emit as the dominant delta cost —
    * ∝ corpus, the exact shape that cannot ship at 10^12 docs — and a
    * carried layer replaces it with `O(churn)` fresh rows + a drop set
    * (BENCH/BASELINE.md). */
  private def emitStages(spark: SparkSession, runner: StageRunner,
                         m: Mining, seeds: Seeds,
                         carry: Option[EmitCarry] = None): DataFrame = {
    val seedTypes = seeds.entityTypes.select(col("ent"), col("tpe"))
    val closRep = new LoopReport
    val closureSelf = Disjointness.closureWithSelf(seeds.taxonomyEdges, closRep)

    // the per-entity type derivation (J8 + disjointness guard + transitive
    // closure): entity-local given the seed tables, so a delta run may
    // evaluate it on any entity-complete candidate subset
    def typesOf(candCounts: DataFrame, seedT: DataFrame): DataFrame = {
      val cand = candCounts.select("ent", "tpe")
        .join(seedT, Seq("ent", "tpe"), "left_anti") // J8: drop existing
      val guarded = Disjointness.filterCandidates(
        cand, seedT, closureSelf, seeds.disjointPairs)
      // transitive typing: mined type + all its ancestors, minus existing
      guarded
        .join(broadcast(closureSelf), guarded("tpe") === closureSelf("node"))
        .select(col("ent"), col("anc").as("tpe")).distinct()
        .join(seedT, Seq("ent", "tpe"), "left_anti")
    }
    def relationsOf(candCounts: DataFrame, seedRels: DataFrame): DataFrame =
      candCounts.select("ent", "pred", "obj")
        .join(seedRels.select(col("sub").as("ent"), col("pred"), col("obj")),
              Seq("ent", "pred", "obj"), "left_anti") // J7: only NEW relations

    // FULL run: entity-keyed carryable checkpoints. DELTA run: both tables
    // are entity-∝ (at web scale, corpus-∝ — the r5 wide-world soak
    // measured them as the dominant delta stages), so recompute ONLY the
    // entities whose candidate-count rows changed and carry the rest as an
    // ent-keyed layer; the seed side is semi-joined to the touched set so
    // every join in the fresh slice is broadcast-sized.
    val types = carry match {
      case None =>
        runner.run("types", report = closRep) {
          typesOf(m.typeCandCounts, seedTypes)
        }
      case Some(c) =>
        runner.run("types_fresh", report = closRep) {
          typesOf(m.typeCandCounts
                    .join(c.touchedTypeEnts, Seq("ent"), "left_semi"),
                  seedTypes.join(c.touchedTypeEnts, Seq("ent"), "left_semi"))
        }
        runner.runCarried("types", c.prevDir, Seq("ent"), c.touchedTypeEnts,
                          runner.pathOf("types_fresh"))
    }

    val relations = carry match {
      case None =>
        runner.run("relations") {
          relationsOf(m.relCandCounts, seeds.seedRelations)
        }
      case Some(c) =>
        runner.run("relations_fresh") {
          relationsOf(m.relCandCounts
                        .join(c.touchedRelEnts, Seq("ent"), "left_semi"),
                      seeds.seedRelations.join(
                        c.touchedRelEnts.withColumnRenamed("ent", "sub"),
                        Seq("sub"), "left_semi"))
        }
        runner.runCarried("relations", c.prevDir, Seq("ent"),
                          c.touchedRelEnts, runner.pathOf("relations_fresh"))
    }

    // 6b. type-level axioms (Cat2Ax discipline over the listing rules) and
    // the instance facts they imply — both LISTING/candidate-sized, never
    // corpus-sized (Axioms scaladoc).
    val axioms = runner.run("axioms") {
      graft.taxonomy.Axioms.typeAxioms(m.typeRules, m.relationRules)
    }
    val restrictionFacts = runner.run("restriction_facts") {
      val allTypes = fresh(seedTypes).unionByName(types.select("ent", "tpe"))
      graft.taxonomy.Axioms.axiomFacts(axioms, allTypes, closureSelf)
    }

    // 7. triples, partitioned by predicate — the candidate-sized blocks.
    // Ontology flavors (serialize.py:85-146,209-220): class hierarchy +
    // labels + disjointness, predicate typing, hasValue restrictions, and
    // restriction-derived facts — all from tables the engine already holds.
    // stage name is "triples_core", not the pre-carve-out "triples": the
    // shape changed when provenance moved to its own carryable partition
    // (`triples_prov`), and StageRunner resumes by name — an outDir
    // written before the carve-out still holds the prov rows inside its
    // "triples" checkpoint, and resuming it under the old name would emit
    // every provenance triple twice (the linked→linked_all lesson)
    val trip = runner.runPartitioned("triples_core", "pred") {
      TripleEmit.assembleFromCounts(
        labelCounts = m.labelCounts,
        types = types,
        rels = relations,
        extra = Seq(
          TripleEmit.ontologyClassTriples(seeds.taxonomyEdges,
                                          seeds.disjointPairs),
          TripleEmit.ontologyPredicateTriples(
            seeds.seedRelations.select("pred")),
          TripleEmit.restrictionTriples(axioms),
          TripleEmit.relationTriples(restrictionFacts)))
    }

    // 7a. the provenance partition (both reference flavors: INSTANCE —
    // every subject entity wasDerivedFrom the pages mentioning it,
    // serialize.py:231-239; ONTOLOGY-CLASS — every mined type
    // wasDerivedFrom the listings whose rule asserted it,
    // serialize.py:158-164). obj = the page url, so the table is url-keyed
    // and carries like every other url-keyed stage: a delta run writes
    // ONLY the affected slice as a layer over the parent's partition.
    val provTrips = carry match {
      case None =>
        runner.run("triples_prov") {
          TripleEmit.provenanceTriples(m.provPairs)
        }
      case Some(pc) =>
        runner.run("triples_prov_fresh") {
          TripleEmit.provenanceTriples(pc.freshProvPairs)
        }
        runner.runCarried("triples_prov", pc.prevDir, Seq("obj"),
                          pc.affectedUrls.select(col("url").as("obj")),
                          runner.pathOf("triples_prov_fresh"))
    }

    // 7b. void metadata (serialize.py:55-83) — three candidate-sized aggs,
    // its own table like the reference's separate metadata file
    runner.run("ontology_meta") {
      val nEnt = m.labelCounts.select("ent").distinct().count()
      val nCls = seeds.taxonomyEdges.select(col("child").as("t"))
        .unionByName(seeds.taxonomyEdges.select(col("parent").as("t")))
        .distinct().count()
      val nPred = seeds.seedRelations.select("pred").distinct().count()
      TripleEmit.metadataTriples(spark, nEnt, nCls, nPred)
    }
    trip.unionByName(provTrips)
  }
}
