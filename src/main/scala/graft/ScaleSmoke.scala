package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up validation: replicate the sf0.1 tables `factor`× (ids
  * shifted so every copy is distinct) into a temp dir, then run the
  * heavy operators end-to-end and report rows + seconds per operator.
  *
  * The point is catching super-linear blowups before a real cluster
  * does: replication multiplies every duplicate cluster's size by
  * `factor`, so LSH buckets grow `factor`×, candidate pairs grow
  * `factor²`× within clusters, and the connected-components edge list
  * grows accordingly — exactly the stress that breaks naive all-pairs
  * or in-memory-bucket designs. A healthy run shows per-operator time
  * growing ~linearly with candidate volume (not corpus²).
  *
  * The graph/iterative family (pageRank, bfsHops, incrementalDedup,
  * clusterSurvivors) is covered too — lineitem/orders replicate with
  * consistent key shifts, so each copy is a disconnected component:
  * node count, frontier size, and the broadcast rank vector all grow
  * `factor`×, which is precisely the iteration-loop economics
  * (checkpoint cadence, broadcast thresholds, per-round shuffles)
  * that change at cluster scale.
  *
  *   SPARK_GRAFT_SCALE_FACTOR=10 sbt "runMain graft.ScaleSmoke"
  *   # optional args restrict to named operators:
  *   sbt "runMain graft.ScaleSmoke pageRank bfsHops"
  */
object ScaleSmoke {
  /** Runs the smoke, then deletes every temp dir it made (the
    * replicated corpus, the MV dir and the lake warehouse), also when
    * an operator fails. */
  def main(args: Array[String]): Unit = {
    val made = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    def tempDir(prefix: String): String = {
      val d = java.nio.file.Files.createTempDirectory(prefix)
      made += d
      d.toString
    }
    try smoke(args, tempDir) finally made.foreach(SparkEntry.deleteTreeQuietly)
  }

  private def smoke(args: Array[String], tempDir: String => String): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    // uncapped: no breach, so the session is never rebuilt
    val runner = new QueryRunner("scale", 0, () => Sessions.build("32"))
    val spark = runner.spark

    val dir = tempDir("graft-scale")
    // Shift every listed id column by the same per-copy stride: join
    // keys stay consistent within a copy, disjoint across copies;
    // fixed-cardinality dimensions copy through unreplicated (every
    // supplier copy keeps its original nationkey, so the dims still
    // join). Shared with MakeScaledData (the sf1 bench input builder).
    ScaledData.build(spark, baseDir, dir, factor)
    println(s"[scale] corpus ${factor}x at $dir: " +
      s"${Tables.documents(spark, dir).count()} docs, " +
      s"${Tables.embeddings(spark, dir).count()} vectors, " +
      s"${Tables.lineitem(spark, dir).count()} lineitems")

    val wanted = args.toSet
    // Per-label shuffle accounting (QueryRunner's listener): the
    // claims in README's scale table — "candidate volume tracks
    // density", "one orderkey shuffle" — get a measured MB next to the
    // seconds instead of plan-reading alone.
    def run(label: String)(df: => DataFrame): Unit =
      if (wanted.isEmpty || wanted(label)) {
        val r = runner.run(label)(_ => df.count())
        val n = r.value.toTry.get
        val mb = runner.shuffleWriteBytes(label) / 1048576.0
        println(f"[scale] $label: $n rows in ${r.seconds}%.1f s, shuffled $mb%.1f MB")
      }

    run("exactGroups")(operators.Dedup.exactGroups(spark, dir))
    run("minhashPairs")(operators.Dedup.minhashPairs(spark, dir))
    run("nearDupClusters")(operators.Dedup.nearDupClusters(spark, dir))
    run("simhashPairs")(operators.Dedup.simhashPairs(spark, dir))
    // capped registry default vs the exact (uncapped) variant: the
    // df-cap is THE lever for the two former 100× worst cases — the
    // exact rows exist to measure what the cap buys
    run("ngramJaccard")(operators.Dedup.ngramJaccardWithinSource(spark, dir))
    run("ngramJaccardExact")(operators.Dedup.ngramJaccardWithinSource(
      spark, dir, maxDocFreq = Int.MaxValue))
    run("winnowFingerprints")(operators.TextAnalysis.winnowFingerprints(spark, dir))
    // default (r9): identical-vector collapse ON — the replicated
    // corpus folds back to its distinct core before the LSH index is
    // built; the Full twin measures what the collapse buys (full
    // clique enumeration over every replicated group).
    run("embeddingNearDupsLsh")(operators.Similarity.embeddingNearDups(spark, dir))
    run("embeddingNearDupsLshFull")(operators.Similarity.embeddingNearDups(
      spark, dir, collapseIdentical = false))
    run("knnAnn")(operators.Similarity.knnAnn(spark, dir))
    run("contamination")(operators.Dedup.contamination(spark, dir))
    run("sequencePack")(operators.TextAnalysis.sequencePack(spark, dir))
    run("chunkSplit")(operators.TextAnalysis.chunkSplit(spark, dir))
    // Iterative family: per-round joins/broadcasts/checkpoints must
    // track frontier/node volume, not explode with corpus size.
    run("pageRank")(operators.Graph.pageRank(spark, dir))
    run("bfsHops")(operators.Graph.bfsHops(spark, dir))
    run("incrementalDedup")(operators.Dedup.incrementalDedup(spark, dir))
    run("clusterSurvivors")(operators.Dedup.clusterSurvivors(spark, dir))
    // Round-7 additions. semDedup: replication multiplies every cell's
    // membership by factor, so the within-cell pair join grows
    // factor² — the k-as-scale-knob story must hold (k is raised with
    // the corpus so cells stay bounded; here k stays at 8 deliberately
    // to measure the worst case). bpeMerges: the working set is the
    // DISTINCT word table, which replication barely grows — time
    // should stay near-flat, the vocabulary-not-stream claim.
    run("semDedup")(operators.Similarity.semDedup(spark, dir, threshold = 0.4))
    // the incremental path's claim: cost scales with the 20% batch x
    // cell occupancy (the probe join), never index x index
    run("semDedupIncremental")(
      operators.Similarity.semDedupIncremental(spark, dir, threshold = 0.4))
    run("pcaScores")(operators.Similarity.pcaScores(spark, dir))
    run("bpeMerges")(operators.TextAnalysis.bpeMerges(spark, dir))
    run("dsirWeights")(operators.TextAnalysis.dsirWeights(spark, dir))
    run("mixSchedule")(operators.TextAnalysis.mixSchedule(spark, dir))
    // This session's additions. setSimJoin: replication multiplies
    // every shingle's df by factor, so prefix postings grow factor×
    // and within-cluster candidates factor² — the df-ascending prefix
    // order must keep candidate volume tracking true-dup density.
    // lpaCommunities: node/label vectors grow factor×; per-round cost
    // must track the (sparsified) edge list. noveltyScores: linear in
    // shingle volume by construction. mmrRerank: query count is fixed
    // (10) — the claim is candidate generation stays a bounded top-k
    // over a factor×-larger corpus. weightedSample: map pass + top-k,
    // must stay near-flat vs corpus growth in per-row terms.
    run("setSimJoin")(operators.SetSimJoin.prefixFilteredJaccardJoin(spark, dir))
    run("setSimJoinExact")(operators.SetSimJoin.prefixFilteredJaccardJoin(
      spark, dir, maxPrefixDf = Int.MaxValue))
    run("lpaCommunities")(operators.Graph.lpaCommunities(spark, dir))
    run("noveltyScores")(operators.TextAnalysis.noveltyScores(spark, dir))
    run("mmrRerank")(operators.Similarity.mmrRerank(spark, dir))
    run("weightedSample")(operators.TextAnalysis.weightedSample(spark, dir))
    run("rrfFusion")(operators.Similarity.rrfFusion(spark, dir))
    // ewma: user count grows factor× at constant per-user history depth
    // — one user-keyed shuffle, per-task fold cost flat. kCore: same
    // edge growth as lpaCommunities; per-round cost must track the
    // shrinking alive edge list. analyzeStats: one scan + one Expand
    // shuffle — strictly linear. skyline: the sweep input stays
    // ndv(size) no matter how many part rows feed the aggregate.
    run("ewma")(operators.Windows.ewmaSmoothed(spark, dir))
    run("kCore")(operators.Graph.kCorePeel(spark, dir))
    run("analyzeStats")(operators.Relational.analyzeStats(spark, dir))
    run("skyline")(operators.Relational.skyline(spark, dir))
    // activityBitmap: partials OR-combine map-side — the shuffle
    // carries one long per user-month regardless of event volume.
    // logisticGd: 3 constant-size parameter rows, each round one
    // streamed aggregate over the persisted standardized input.
    run("activityBitmap")(operators.Behavior.activityBitmap(spark, dir))
    run("logisticGd")(operators.Relational.logisticGd(spark, dir))
    // kmvDistinct: constant k-long partials regardless of NDV growth.
    // equiDepthHist: one percentile aggregate + map-only binning.
    // basketRules: pair volume linear in lineitems (bounded baskets);
    // replication grows orders factor× at constant basket size.
    run("kmvDistinct")(operators.Relational.kmvDistinct(spark, dir))
    run("equiDepthHist")(operators.Relational.equiDepthHist(spark, dir))
    run("basketRules")(operators.Behavior.basketRules(spark, dir))
    // linkPrediction: replication makes factor× DISJOINT subgraphs
    // (supplier degree constant), so wedge volume must grow factor×,
    // never factor² — the minOrders + maxDeg density controls under
    // test. attribution: disjoint users → rangeJoin pair volume grows
    // factor×; the per-conversion windows repartition by conv_id, so
    // partition occupancy stays constant. joinSizeEstimate: sketch
    // state is depth×width CELLS regardless of input size — time must
    // track the scan, not the key cardinality. waitingSuppliers: one
    // orderkey-keyed shuffle of a factor×-larger fact side.
    run("linkPrediction")(operators.Graph.linkPrediction(spark, dir))
    run("attribution")(operators.Behavior.attribution(spark, dir))
    run("joinSizeEstimate")(operators.Relational.joinSizeEstimate(spark, dir))
    run("waitingSuppliers")(operators.Joins.waitingSuppliers(spark, dir))
    // mvServe: ONE summary build over the factor×-larger fact table
    // (linear), after which the served rollup reads the constant-size
    // summary — the time must be build-dominated and the query share
    // ~zero regardless of factor. knnFiltered: corpus grows factor×,
    // query count fixed — broadcast probe + bounded heaps, linear.
    // Hash-path variants of the iterative graph family: ceiling forced
    // to 0 so every per-round node-vector join runs hash-partitioned —
    // the path a billion-node graph takes. The comparison row for each
    // is its broadcast-path twin above; both must complete and stay
    // round-linear (hash adds one node-vector exchange per round).
    def hashPath(df: => DataFrame): DataFrame = {
      spark.conf.set("spark.graft.graph.broadcastMaxNodes", "0")
      try df finally spark.conf.unset("spark.graft.graph.broadcastMaxNodes")
    }
    run("pageRankHashPath")(hashPath(operators.Graph.pageRank(spark, dir)))
    run("lpaCommunitiesHashPath")(hashPath(operators.Graph.lpaCommunities(spark, dir)))
    run("kCoreHashPath")(hashPath(operators.Graph.kCorePeel(spark, dir)))
    run("mvServe") {
      val mvDir = tempDir("graft-scale-mv")
      graft.plans.MatView.build(spark, s"$dir/lineitem.parquet", mvDir,
        keys = Seq("l_returnflag", "l_linestatus"),
        measures = Seq("l_quantity", "l_extendedprice"))
      import org.apache.spark.sql.functions.{count => cnt, _}
      Tables.lineitem(spark, dir)
        .groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity")).as("s"), cnt(lit(1)).as("n"))
    }
    // de-register so later labels' lineitem aggregates are never
    // silently served by the summary (order-independent timings)
    graft.plans.MatView.clear()
    run("knnFiltered")(operators.Similarity.knnFiltered(spark, dir))
    // Round-8 additions. targetEncode: one corpus shuffle to the
    // #categories×K grid, then broadcast-only — must be near-flat past
    // the collapse. tierHistory: user-keyed windows, linear. peak
    // concurrency: per-day sweep + bounded carry explode — linear in
    // boundaries, never a global sort. entityMatch: constant ×9
    // variant blowup with alphabet-bounded (≤10) posting lists on
    // DISTINCT names; replication keeps names identical across copies,
    // so every posting grows factor× (the exact-duplicate worst case a
    // real pipeline removes with exactGroups first) — candidates grow
    // factor² here by construction, which is the stress being measured.
    run("targetEncode")(operators.Relational.targetEncode(spark, dir))
    // cdcCompact: one key-partitioned argmax — linear, near-flat per
    // row. twapDaily: (type, day)-keyed windows, linear. kmvDaily: k
    // longs per day shuffled regardless of traffic — flat. ppr: same
    // loop economics as pageRank (its broadcast/hash twin rows above).
    run("cdcCompact")(operators.Relational.cdcCompact(spark, dir))
    run("twapDaily")(operators.Windows.twapDaily(spark, dir))
    run("kmvDaily")(operators.Relational.kmvDaily(spark, dir))
    run("personalizedPageRank")(operators.Graph.personalizedPageRank(spark, dir))
    run("theilSen")(operators.Relational.theilSenTrend(spark, dir))
    // hits: per half-round one edge join + keyed sum with persisted
    // raw vectors — same loop economics as pageRank's rows above
    run("hits")(operators.Graph.hits(spark, dir))
    run("tierHistory")(operators.Behavior.tierHistory(spark, dir))
    run("peakConcurrency")(operators.Behavior.peakConcurrency(spark, dir))
    run("entityMatch")(operators.EntityResolution.customerNameDedup(spark, dir))
    // This session's additions. naiveBayes: the model stays
    // vocab-bounded (replication repeats the same vocab), scoring is
    // doc-token × |langs| map-side — linear. closeness: multi-source
    // frontier BFS; replication makes factor× disjoint components, so
    // only the seeds' own components are ever touched — near-flat.
    // assortativity: two node-keyed joins over a factor×-larger edge
    // list — linear. mannWhitney: the ranked frame stays NDV-bounded
    // (same 2-decimal value domain at any factor) — the corpus scan
    // dominates, the window never grows. sessionCooccur: sessions grow
    // factor×, per-session pair fan-out constant. minCostSupplier: one
    // (part,supplier) rollup then argmin — linear, partials map-side.
    // heapsLaw: first-occurrence trick keeps the vocab pass one grouped
    // min; replication repeats shingles so vocabulary stays ~flat while
    // the token stream grows factor× — β must FALL toward 0, the
    // saturation signal working as designed. dupSizeHist rides
    // nearDupClusters (its own stress row above); the histogram adds
    // two keyed aggregates.
    run("heapsLaw")(operators.TextAnalysis.heapsLaw(spark, dir))
    run("dupSizeHist")(operators.Dedup.dupSizeHistogram(spark, dir))
    run("naiveBayes")(operators.TextAnalysis.naiveBayesLang(spark, dir))
    run("closeness")(operators.Graph.closenessCentrality(spark, dir))
    run("assortativity")(operators.Graph.assortativity(spark, dir))
    run("mannWhitney")(operators.Behavior.mannWhitney(spark, dir))
    run("sessionCooccur")(operators.Behavior.sessionCooccurrence(spark, dir))
    run("minCostSupplier")(operators.Joins.minCostSupplier(spark, dir))
    // stickiness: the day-spine×presence non-equi join fans out ×7 on a
    // factor×-larger presence frame — linear, and the SPINE side is the
    // broadcast build (BuildLeft, plan-audited). growthAccounting:
    // user-keyed lag + weeks-bounded rollup — linear in the presence
    // frame. quantAgreement/matryoshka: corpus ×10-query broadcast
    // fan-out, two bounded argmin reductions — linear in the corpus.
    run("stickiness")(operators.Behavior.stickiness(spark, dir))
    run("growthAccounting")(operators.Behavior.growthAccounting(spark, dir))
    run("quantAgreement")(operators.Similarity.quantAgreement(spark, dir))

    // r8 session-3 additions. olsMulti/conformal: one-pass moment fits
    // (linear). fuzzyPartPairs/typoPartPairs: blocked quadratic —
    // replication multiplies block sizes factor×, pairs factor²×
    // WITHIN blocks. Since r9 the DEFAULT is the strict (brand, size,
    // type) key (~150× lower occupancy than loose); the Loose twins
    // measure the recall-anchor variant's cost at the same scales.
    // regionDtw: corpus pass is the monthly collapse; the DP kernel is
    // constant-size. bootstrapCi: 32× map-side amplification, then
    // B-bounded percentiles.
    run("olsMulti")(operators.Stats.olsMulti(spark, dir))
    run("fuzzyPartPairs")(operators.EntityResolution.fuzzyPartPairs(spark, dir))
    run("typoPartPairs")(operators.EntityResolution.typoPartPairs(spark, dir))
    run("fuzzyPartPairsLoose")(operators.EntityResolution
      .fuzzyPartPairs(spark, dir, strictBlock = false))
    run("typoPartPairsLoose")(operators.EntityResolution
      .typoPartPairs(spark, dir, strictBlock = false))
    run("regionDtw")(operators.Stats.regionDtw(spark, dir))
    run("bootstrapCi")(operators.Stats.bootstrapCi(spark, dir))
    run("conformalOls")(operators.Stats.conformalOls(spark, dir))

    // r8 session-3 batch 2. kruskalWallis/leveneBf: ranks/medians come
    // from the $1000-bucket distribution collapse — the ranked frame
    // is VALUE-RANGE-bounded, so it must stay constant-size while the
    // corpus scan grows factor×. hhi: supplier-grain rollup grows
    // factor× (suppliers replicate), the region re-aggregate stays
    // 5 rows. sessionPaths: user-keyed windows, vocabulary-bounded
    // (|types|³) count — linear scan, flat state. partCoverage: the
    // anti join probes a distinct-key set that grows factor×; watch
    // for the SMJ flip past broadcast size. mannKendall: the pair
    // walk is quadratic in DAYS — replication adds rows, not days, so
    // the join input must stay constant and only the daily collapse
    // grows. isotropy/dimVariance: one/two double[64]-buffer
    // aggregates — linear scan, constant state. cohensKappa: the
    // confusion frame is |langs|²-bounded. kfoldAssign: pure hash map
    // pass + 5-ary count.
    // batch-3 additions. energyDistance: the pair walk is value-
    // domain², constant while the scan grows. intervalOverlap /
    // dupeInvoices: per-key quadratics bounded by orders-per-customer
    // and per-amount collision density. revenueBridge/priceIndex
    // skeleton: boundary-year rollup + part-keyed join. textRank: the
    // graph is vocab-bounded; replication repeats the same bigrams so
    // per-iteration joins stay constant-size while tokenization grows.
    // brandSwitching: order-grain argmax + one customer lag window.
    // paybackPeriod: cohort-keyed cumulative window, months bounded.
    // knnAccuracy/labelSilhouette: broadcast queries/centroids,
    // corpus-linear scoring. madOutliers: two integer distribution
    // collapses, value-bounded.
    run("energyDistance")(operators.Stats.energyDistance(spark, dir))
    run("intervalOverlap")(operators.TemporalJoins.intervalOverlap(spark, dir))
    run("dupeInvoices")(operators.Joins.dupeInvoices(spark, dir))
    run("revenueBridge")(operators.Joins.revenueBridge(spark, dir))
    run("textRank")(operators.TextAnalysis.textRank(spark, dir))
    run("brandSwitching")(operators.Joins.brandSwitching(spark, dir))
    run("paybackPeriod")(operators.Behavior.paybackPeriod(spark, dir))
    run("knnAccuracy")(operators.Similarity.knnAccuracy(spark, dir))
    run("labelSilhouette")(operators.Similarity.labelSilhouette(spark, dir))
    run("madOutliers")(operators.Stats.madOutliers(spark, dir))
    run("kruskalWallis")(operators.Stats.kruskalWallis(spark, dir))
    run("leveneBf")(operators.Stats.leveneBf(spark, dir))
    run("hhiConcentration")(operators.Relational.hhiConcentration(spark, dir))
    run("sessionPaths")(operators.Behavior.sessionPaths(spark, dir))
    run("partCoverage")(operators.Joins.partCoverage(spark, dir))
    run("mannKendall")(operators.Stats.mannKendall(spark, dir))
    run("isotropy")(operators.Similarity.isotropy(spark, dir))
    run("dimVariance")(operators.Similarity.dimVariance(spark, dir))
    run("cohensKappa")(operators.TextAnalysis.cohensKappa(spark, dir))
    run("kfoldAssign")(operators.Stats.kfoldAssign(spark, dir))

    // r9 new-operator families: tfidfCosinePairs is the df-capped APSS
    // (candidates Σ_term df² — cap-bounded per term, so linear at
    // fixed cap); kneserNey is four joins off one cached bigram
    // aggregate (vocab-bounded after the first collapse);
    // channelCredits/shapley are user-keyed journey windows then
    // grain collapses; littleLaw/survival collapse to event-day axes.
    run("tfidfCosinePairs")(operators.TfIdfJoin.tfidfCosinePairs(spark, dir))
    run("kneserNeyBigrams")(operators.TextAnalysis.kneserNeyBigrams(spark, dir))
    run("channelCredits")(operators.Attribution.channelCredits(spark, dir))
    run("shapleyAttribution")(operators.Attribution.shapleyAttribution(spark, dir))
    run("littleLawAudit")(operators.Joins.littleLawAudit(spark, dir))
    run("kaplanMeier")(operators.Survival.kaplanMeier(spark, dir))
    run("crostonForecast")(operators.Inventory.crostonForecast(spark, dir))
    run("fellegiSunterPairs")(operators.EntityResolution.fellegiSunterPairs(spark, dir))
    run("fellegiSunterPairsLoose")(operators.EntityResolution
      .fellegiSunterPairs(spark, dir, strictBlock = false))

    // r9: the NDV-bounded theta-join family — the slowest 0-shuffle
    // benched queries (kendallTau 6.2 s at sf0.1). Their scaladocs
    // claim corpus-INDEPENDENT cost (the collapse step bounds the
    // joined frames by NDV or calendar, so the BNLJ constant dominates
    // at any sf); these rows turn that claim into a measured receipt —
    // expected shape: FLAT time at 10x/100x.
    run("kendallTau")(operators.Relational.kendallTau(spark, dir))
    run("liftTable")(operators.Stats.liftTable(spark, dir))
    run("recencyPopularity")(operators.Relational.recencyPopularity(spark, dir))

    // r10: the r9 addendum families (round-9 verdict demand #3 —
    // previously receipt-less). All are collapse-bounded by design:
    // adf/granger regress over the CALENDAR-bounded daily revenue
    // series (≤ ~2.4k rows after collapse, constant vs factor);
    // weibullFit iterates Newton steps on supplier-duration moments
    // (durations are calendar-bounded); oaxaca is two group-moment
    // fits; rateRatio/metaFixed collapse to per-group Poisson counts /
    // K study rows; newsvendor is a (part,day) collapse then per-part
    // quantiles; qte is B-bounded quantile pairs over the order-value
    // distribution collapse; rca is a (nation,brand) export matrix
    // (taxonomy-bounded ≤ 25×~50). Expected shape: scan-linear time,
    // FLAT joined-frame state at 10x/100x.
    run("adfTest")(operators.Stats.adfTest(spark, dir))
    run("grangerTest")(operators.Stats.grangerTest(spark, dir))
    run("weibullFit")(operators.Survival.weibullFit(spark, dir))
    run("oaxacaBlinder")(operators.Stats.oaxacaBlinder(spark, dir))
    run("rateRatioTest")(operators.Stats.rateRatioTest(spark, dir))
    run("metaFixedEffect")(operators.Stats.metaFixedEffect(spark, dir))
    run("newsvendor")(operators.Inventory.newsvendor(spark, dir))
    run("quantileTreatmentEffects")(
      operators.Stats.quantileTreatmentEffects(spark, dir))
    run("revealedComparativeAdvantage")(
      operators.Joins.revealedComparativeAdvantage(spark, dir))

    // r10 new-operator families. coxPh/poissonReg: calendar/group-
    // collapsed driver Newton — flat past the scan. siegelSlope: the
    // pair walk is DAYS² (replication adds rows, never days) — flat
    // past the daily collapse. hodgesLehmann/stochDominance/gpdTail:
    // value-domain-bounded frames. huberFit: 3 chained moment passes —
    // 3× scan, flat state. bhFdr/ebRates: taxonomy-bounded batteries.
    // indicators (macd): calendar-bounded positional windows.
    // propensityAtt: fact-linear moments + NDV-bounded score histogram
    // (the ntile funnel was rewritten to boundary compares pre-flight).
    // symspell: the delete-1 index is vocab-bounded — FLAT (replication
    // repeats the same part words). brandScc: order-grain argmax is
    // the only fact-scale term (brandSwitching's row); closure is
    // driver-side on a taxonomy digraph. zipFit: (brand,day) collapse.
    // goodTuring/chao1: shingle-frequency collapse, scan-linear.
    // pqCodebooks/pqAdcError: corpus-linear broadcast Lloyd passes;
    // ADC joins queries×corpus with constant per-pair work.
    run("coxPh")(operators.Survival.coxPh(spark, dir))
    run("poissonReg")(operators.Stats.poissonReg(spark, dir))
    run("siegelSlope")(operators.Stats.siegelSlope(spark, dir))
    run("hodgesLehmann")(operators.Stats.hodgesLehmann(spark, dir))
    run("stochDominance")(operators.Stats.stochDominance(spark, dir))
    run("gpdTail")(operators.Stats.gpdTail(spark, dir))
    run("huberFit")(operators.Stats.huberFit(spark, dir))
    run("bhFdr")(operators.Stats.bhFdr(spark, dir))
    run("ebRates")(operators.Stats.ebRates(spark, dir))
    run("macd")(operators.Indicators.macd(spark, dir))
    run("propensityAtt")(operators.Stats.propensityAtt(spark, dir))
    run("symspellPairs")(operators.EntityResolution.symspellPairs(spark, dir))
    run("brandScc")(operators.Graph.brandScc(spark, dir))
    run("zipFit")(operators.Inventory.zipFit(spark, dir))
    run("goodTuring")(operators.TextAnalysis.goodTuring(spark, dir))
    run("pqCodebooks")(operators.Similarity.pqCodebooks(spark, dir))
    run("pqAdcError")(operators.Similarity.pqAdcError(spark, dir))
    // post-close r10 additions: mediation/aipw/prAuc are moment/NDV
    // collapses (scan-linear, flat state); kmGreenwood rides the
    // calendar life table; fairnessAudit is one fact-keyed join into
    // 5 segment cells; bradleyTerry's distributed term is the
    // within-order pair count (bounded per-order fan-out)
    run("mediation")(operators.Stats.mediation(spark, dir))
    run("aipwAte")(operators.Stats.aipwAte(spark, dir))
    run("prAuc")(operators.Behavior.prAuc(spark, dir))
    run("kmGreenwood")(operators.Survival.kmGreenwood(spark, dir))
    run("fairnessAudit")(operators.Stats.fairnessAudit(spark, dir))
    run("bradleyTerry")(operators.Stats.bradleyTerry(spark, dir))

    // r11 new-operator families. The time-series kit (kpss/archLm/
    // spectralEntropy/kalmanLevel/thetaForecast/pettitt/
    // classicalDecomp) regresses over the CALENDAR-bounded daily
    // collapse — replication grows the scan, never the regressed
    // frame; kalman's driver recursion is days-bounded by require.
    // matrixProfile is the days² pair walk (siegelSlope's band) —
    // constant past the collapse. The inference batch (cochran/MH/
    // dunn/AD/hausman) collapses to taxonomy- or value-bounded
    // frames; fleissKappa is doc-linear scoring with a ≤6-category
    // re-aggregate; jlDistortion is pure map arithmetic; richClub is
    // one projection + degree join; imageNearDups decodes map-side
    // and joins on 16-bit hash bands (candidate volume tracks band
    // occupancy, the SimHash economics); qnScale/youden/uplift ride
    // value-bucket collapses; competingRisks rides the churn life
    // table; negbinFit is a (brand, week) rollup.
    run("kpssTest")(operators.Stats.kpssTest(spark, dir))
    run("kalmanLevel")(operators.Stats.kalmanLevel(spark, dir))
    run("thetaForecast")(operators.Indicators.thetaForecast(spark, dir))
    run("matrixProfile")(operators.Stats.matrixProfile(spark, dir))
    run("pettittTest")(operators.Stats.pettittTest(spark, dir))
    run("fleissKappa")(operators.TextAnalysis.fleissKappa(spark, dir))
    run("jlDistortion")(operators.Similarity.jlDistortion(spark, dir))
    run("richClub")(operators.Graph.richClub(spark, dir))
    run("imageNearDups")(operators.Multimodal.imageNearDups(spark, dir))
    run("competingRisks")(operators.Survival.competingRisks(spark, dir))
    run("qnScale")(operators.Stats.qnScale(spark, dir))
    run("upliftDeciles")(operators.Behavior.upliftDeciles(spark, dir))
    run("dunnPosthoc")(operators.Stats.dunnPosthoc(spark, dir))
    run("hausmanTest")(operators.Stats.hausmanTest(spark, dir))
    run("negbinFit")(operators.Inventory.negbinFit(spark, dir))

    // r11 session-2 additions. Agreement kit (bartlett = one region-
    // keyed moment pass; cochranQ = one customer-keyed flag collapse):
    // strictly scan-linear, constant final frames. kendallW: 60 exact-
    // cents cells. Dependence kit: lombScargle sweeps the gappy
    // calendar ×59 (calendar-bounded); distanceCorr/copulaFit are the
    // days² pair walks (the siegelSlope contract — replication adds
    // rows per day, never days, so the pair frame must stay constant
    // while the scan grows). Panel kit: synthControl/eventStudy are
    // calendar/month collapses over the 2-way join; fisherExact's
    // k-explode grows with the TABLE MARGINS (corpus-linear term
    // count, each term O(1)). Engine batch: recursiveIndex is
    // iteration-bounded (28 UnionLoop steps at any corpus);
    // featureHash is the one genuinely token-linear row (explode +
    // map-side-combined (doc,bucket) count); eccentricity rides the
    // seeded-BFS kernel (disjoint replicated components → near-flat);
    // mapFuncs is a 25-cell collapse. Audio: decodeAudioStats is
    // map-side codec work per media row — linear, content never
    // shuffles. streamTopK drains the scaled events file through the
    // append-mode windowed aggregation (state = open windows × types).
    // aqpRevenue: ONE conditional-moment pass — the 10× scan-cut
    // self-audit must stay flat-per-row at any factor.
    run("bartlettTest")(operators.Agreement.bartlettTest(spark, dir))
    run("cochranQ")(operators.Agreement.cochranQ(spark, dir))
    run("kendallW")(operators.Agreement.kendallW(spark, dir))
    run("lombScargle")(operators.Dependence.lombScargle(spark, dir))
    run("distanceCorr")(operators.Dependence.distanceCorr(spark, dir))
    run("copulaFit")(operators.Dependence.copulaFit(spark, dir))
    run("synthControl")(operators.Panel.synthControl(spark, dir))
    run("eventStudy")(operators.Panel.eventStudy(spark, dir))
    run("fisherExact")(operators.Panel.fisherExact(spark, dir))
    run("recursiveIndex")(operators.Relational.recursiveIndex(spark, dir))
    run("featureHash")(operators.TextAnalysis.featureHash(spark, dir))
    run("eccentricity")(operators.Graph.eccentricity(spark, dir))
    run("mapFuncs")(graft.functions.ScalarSuites.mapFuncs(spark, dir))
    run("audioDecode")(operators.Multimodal.decodeAudioStats(spark, dir))
    run("streamTopK")(graft.streaming.EventStreams.windowedTopKGate(spark, dir))
    run("aqpRevenue")(operators.Stats.aqpRevenue(spark, dir))
    // r11 session-2 batch 2. Panel family (hubness/LOF/DBSCAN): the
    // audit panel is FIXED at 2000 vectors, so the 4M-pair frame is a
    // constant at any corpus size — only the scan grows. capture-
    // recapture rides the two banded detectors (their own stress rows
    // above); replication multiplies dup classes, so BOTH captures and
    // the overlap grow together. windowFrames/bitemporal: priority-
    // keyed windows / valid-month conditional rollup — fact-linear.
    // tokenFertility/brierDecomp/ndv/vif: single map-side-combined
    // aggregations. gravity/varModel/ecm/holm: taxonomy/calendar
    // collapses feeding scalar fits.
    run("hubness")(operators.Similarity.hubness(spark, dir))
    run("lofScores")(operators.Similarity.lofScores(spark, dir))
    run("dbscan")(operators.Similarity.dbscan(spark, dir))
    run("captureRecapture")(operators.Dedup.captureRecapture(spark, dir))
    // windowFrames is a pure projection — a bare count() would prune
    // the window columns and time an empty scan; aggregate the frame
    // outputs so the three window kinds actually execute
    run("windowFrames")(operators.Relational.windowFrames(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("cum_rows"),
        org.apache.spark.sql.functions.sum("cum_range"),
        org.apache.spark.sql.functions.sum("trail7d")))
    run("bitemporalReport")(operators.TemporalJoins.bitemporalReport(spark, dir))
    run("tokenFertility")(operators.TextAnalysis.tokenFertility(spark, dir))
    run("brierDecomp")(operators.Stats.brierDecomp(spark, dir))
    run("ndvEstimate")(operators.Stats.ndvEstimate(spark, dir))
    run("vif")(operators.Stats.vif(spark, dir))
    run("gravityModel")(operators.Joins.gravityModel(spark, dir))
    run("varModel")(operators.Stats.varModel(spark, dir))
    run("ecmModel")(operators.Stats.ecmModel(spark, dir))
    run("holmByFdr")(operators.Stats.holmByFdr(spark, dir))
    run("missingnessProfile")(operators.Behavior.missingnessProfile(spark, dir))
    // r11 session-2 batch 3. krippendorff rides the fleissKappa panel
    // (doc-linear rater scoring). rougePairs rides the banded simhash
    // detector (its stress row above) + two (doc, gram) count joins —
    // pair volume is the detector's, grams are doc-linear.
    // burrowsDelta: corpus token count + a |sources|×50 grid.
    // tripleRules: within-basket 3-way join, C(7,3)-bounded fanout —
    // fact-linear. erlangC: collapses to ONE scalar, k-table bounded
    // by offered load. boxCox: ×5 grid explode, one keyed moment
    // pass. cpk: brand-keyed integer moments. blandAltman: one
    // orderkey rollup + order-grain moments.
    run("krippendorff")(operators.TextAnalysis.krippendorffAlpha(spark, dir))
    run("rougePairs")(operators.TextAnalysis.rougePairs(spark, dir))
    run("burrowsDelta")(operators.TextAnalysis.burrowsDelta(spark, dir))
    run("tripleRules")(operators.Behavior.tripleRules(spark, dir))
    run("erlangC")(operators.Inventory.erlangC(spark, dir))
    run("boxCox")(operators.Stats.boxCox(spark, dir))
    run("processCapability")(operators.ControlCharts.processCapability(spark, dir))
    run("blandAltman")(operators.Stats.blandAltman(spark, dir))
    // forecastBacktest: quarterly collapse, calendar-bounded.
    // doubleJeopardy: one (brand × customer) distinct rollup — the
    // countDistinct shuffle is the only fact-scale term.
    run("forecastBacktest")(operators.Stats.forecastBacktest(spark, dir))
    run("doubleJeopardy")(operators.Behavior.doubleJeopardy(spark, dir))
    // Round-12 additions. pageTrend/quade: the 20-cell block frame is
    // calendar×taxonomy-bounded — the fact scan is the whole cost.
    // jonckheere/brunnerMunzel/ansariBradley: NDV-bounded bucket/value
    // frames; cumulative windows run over hundreds of rows at any SF.
    // rayleigh: one type-keyed trig-moment aggregation, map-side
    // combined. varianceRatio: calendar-bounded daily collapse + one
    // window. Fits (gamma/lognormal/dagostino): single moment passes.
    // erlangB/mg1Wait: one-scalar collapses + bounded term tables.
    // rougeL: detector candidates (rep-collapsed) × constant 24-token
    // DP windows — per-pair cost is a constant. charXent: (source ×
    // bigram) counts, vocabulary-bounded rollup. edgeSupport: the
    // triangle join keyed by edge — candidate volume tracks wedge
    // count (disjoint replicated subgraphs ⇒ factor×, never factor²).
    // aqpStratified: one conditional-moment pass. filterFunnel: the
    // detector stacks dominate (both rep-collapsed); the funnel explode
    // itself is 6× map-side rows.
    run("pageTrend")(operators.Stats.pageTrend(spark, dir))
    run("jonckheere")(operators.Stats.jonckheere(spark, dir))
    run("rayleighHours")(operators.Stats.rayleighHours(spark, dir))
    run("varianceRatio")(operators.Stats.varianceRatio(spark, dir))
    run("brunnerMunzel")(operators.Behavior.brunnerMunzel(spark, dir))
    run("ansariBradley")(operators.Behavior.ansariBradley(spark, dir))
    run("gammaFit")(operators.Stats.gammaFit(spark, dir))
    run("dagostinoK2")(operators.Stats.dagostinoK2(spark, dir))
    run("erlangB")(operators.Inventory.erlangB(spark, dir))
    run("mg1Wait")(operators.Inventory.mg1Wait(spark, dir))
    run("rougeL")(operators.TextAnalysis.rougeLPairs(spark, dir))
    run("charXent")(operators.TextAnalysis.charCrossEntropy(spark, dir))
    run("edgeSupport")(operators.Graph.edgeSupport(spark, dir))
    run("aqpStratified")(operators.Stats.aqpStratified(spark, dir))
    run("filterFunnel")(operators.TextAnalysis.filterFunnel(spark, dir))
    run("mp4Meta")(operators.Multimodal.mp4ContainerMeta(spark, dir))
    run("mp4Frames")(operators.Multimodal.mp4FrameStats(spark, dir))
    run("mp4Shots")(operators.Multimodal.mp4ShotDetection(spark, dir))
    run("pngChunks")(operators.Multimodal.pngChunkInventory(spark, dir))
    run("decontamSpans")(operators.TextAnalysis.decontamSpans(
      spark, dir, minSpanTokens = 10))
    run("sampleEntropy")(operators.Stats.sampleEntropy(spark, dir))
    run("watsonU2")(operators.Stats.watsonU2(spark, dir))
    run("bwsTest")(operators.Behavior.bwsTest(spark, dir))
    run("katzCentrality")(operators.Graph.katzCentrality(spark, dir))
    // mmdDrift is deliberately NOT here: its |A|·|B| kernel matrix is
    // sample-bounded by doctrine (the estimator's variance, not Spark,
    // caps the input), and run()'s count() would prune the kernel
    // expressions anyway — a replicated-corpus row would measure a
    // row-counting plan, not the operator. The sf0.1 bench (full
    // evaluation, 1.5 s over 2 M pairs) is its measured anchor.

    // r10: V2 mount snapshot pruning at scale (round-9 verdict demand
    // #7) — a warehouse holding the whole replicated events table
    // split across 8 commits; reading snapshot-id=1 must cost ~1/8 of
    // the full read because excluded `commit=N` dirs are pruned at
    // PATH level before planning (the manifest-prune analog,
    // GraftLakeSource.mkTable). The warehouse build itself is outside
    // the timed rows.
    if (wanted.isEmpty || wanted("v2SnapshotPruned") || wanted("v2FullRead")) {
      val whDir = tempDir("graft-scale-wh")
      val cat = new graft.pipeline.LakeCatalog(spark, whDir)
      cat.createNamespace("scale")
      // lineitem (the biggest replicated fact) — the receipt must be
      // scan-dominated, not planning-dominated, to discriminate
      val li = Tables.lineitem(spark, dir)
      val nCommits = 8
      (0 until nCommits).foreach { k =>
        cat.append("scale.lineitem", li.filter(
          org.apache.spark.sql.functions.pmod(col("l_orderkey"), lit(nCommits))
            === lit(k)))
      }
      // aggregate EVERY data column so the timed job actually DECODES
      // the selected files end-to-end (a bare count would be served
      // from footer metadata; a narrow projection from a fraction of
      // the pages — either would time ~nothing on both sides and bury
      // the pruning ratio under job-launch overhead)
      def scanAll(df: DataFrame): DataFrame = df.agg(
        org.apache.spark.sql.functions.sum(col("l_extendedprice")
          * col("l_quantity") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax"))),
        org.apache.spark.sql.functions.sum(col("l_orderkey")
          + col("l_partkey") + col("l_suppkey")
          + col("l_linenumber").cast("long")),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.length(col("l_returnflag"))
            + org.apache.spark.sql.functions.length(col("l_linestatus"))),
        org.apache.spark.sql.functions.max(col("l_shipdate")))
      // untimed warmup (codegen + parquet reader init + page cache), so
      // the timed pair measures scan volume, not first-run JVM costs
      scanAll(spark.read.format("graft")
        .load(s"$whDir/scale/lineitem")).count()
      run("v2SnapshotPruned")(scanAll(spark.read.format("graft")
        .option("snapshot-id", 1L).load(s"$whDir/scale/lineitem")))
      run("v2FullRead")(scanAll(spark.read.format("graft")
        .load(s"$whDir/scale/lineitem")))
    }

    spark.stop()
  }
}
