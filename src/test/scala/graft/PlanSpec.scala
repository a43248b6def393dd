package graft

import graft.functions.{AvroWire, MapSchemaProvider}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{ExpandExec, FilterExec, InputAdapter,
  ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Physical-plan shape regressions: the scale properties the queries are
  * DESIGNED around (dimension joins broadcast, filters reaching the
  * parquet scan, windowed operators shuffling exactly once) asserted on
  * the sf0.001 plans, so a refactor that silently degrades a plan — a
  * dropped broadcast hint turning into a sort-merge join, a projection
  * stopping pushdown — fails the suite rather than only showing up as a
  * bench delta. Plan SHAPE is scale-invariant: what broadcasts at
  * sf0.001 by hint still broadcasts at 100 TB.
  */
class PlanSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan

  /** executedPlan before execution wraps everything in an unresolved AQE
    * node; formatted-string matching is version-stable enough here.
    */
  private def planString(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan // force planning
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  private def count(haystack: String, needle: String): Int =
    haystack.sliding(needle.length).count(_ == needle)

  /** SinglePartition exchanges in a FORMATTED plan string. Formatted
    * mode prints the node as `(n) Exchange` with the partitioning on a
    * separate `Arguments: SinglePartition, ...` line — matching the
    * simple-mode spelling "Exchange SinglePartition" finds nothing and
    * silently turns the assertion vacuous.
    */
  private def singlePartitionCount(p: String): Int =
    count(p, "Arguments: SinglePartition")

  /** Node-instance count in a FORMATTED plan string via the `(n) Node`
    * detail headers — exactly one per instance (the tree line
    * interposes join build/type args between name and paren, and the
    * bare name also appears twice per node: tree + detail).
    */
  private def nodeCount(p: String, node: String): Int =
    ("""\(\d+\) """ + node).r.findAllIn(p).length

  test("q5 star join: every dimension broadcast, no sort-merge join") {
    val p = planString("q5_local_supplier")
    assert(count(p, "BroadcastHashJoin") >= 4, p.take(2000))
    assert(!p.contains("SortMergeJoin"), "dimension join degraded to SMJ")
  }

  test("q1 scan: shipdate filter and column pruning reach parquet") {
    val p = planString("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(2000))
    // projection pruned to the 7 referenced columns, not the full table
    assert(p.contains("l_returnflag") && !p.contains("l_partkey"))
  }

  test("asof join: exactly one shuffle (union + single window pass)") {
    val ev = Tables.events(spark, dir)
      .select(org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.unix_millis(
          org.apache.spark.sql.functions.col("ts")).as("t_ms"))
    val ord = Tables.load(spark, dir, "orders")
      .select(org.apache.spark.sql.functions.col("o_custkey"),
        org.apache.spark.sql.functions.unix_millis(
          org.apache.spark.sql.functions.col("o_orderdate")
            .cast("timestamp")).as("o_ms"),
        org.apache.spark.sql.functions.col("o_orderkey"),
        org.apache.spark.sql.functions.col("o_totalprice"))
    val df = graft.operators.AsofJoin.asofBackward(
      ev, "user_id", "t_ms", "event_id",
      ord, "o_custkey", "o_ms", "o_orderkey",
      Seq("o_orderkey", "o_totalprice"))
    // count ShuffleExchangeExec nodes in the executed plan tree, through
    // whatever AQE wrapping is present, EXCLUDING the localCheckpoint'd
    // input materialization (Tables.spread) above the scans
    df.collect()
    // AQE wraps materialized exchanges in ShuffleQueryStageExec whose
    // child list is empty — count exchanges in the final plan STRING
    // (each prints one "Exchange hashpartitioning" line; the adaptive
    // toString repeats the plan under "== Initial Plan ==", so cut there)
    val s = planOf(df).toString.split("== Initial Plan ==")(0)
    val n = count(s, "Exchange hashpartitioning")
    assert(n == 1, s"as-of join should shuffle exactly once, saw $n\n" +
      s.take(2000))
  }

  test("topk_orders: global top-k plans as TakeOrderedAndProject") {
    val p = planString("topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Exchange rangepartitioning"),
      "top-k degraded to a global sort")
  }

  test("q8 star join: single fact-fact shuffle pair, dims broadcast") {
    val p = planString("q8_market_share")
    assert(count(p, "BroadcastHashJoin") >= 5, p.take(2000))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q21: no Expand; the fact side shuffles once, on l_orderkey, above a partial aggregate") {
    // planned without AQE, so the exchanges are in the tree up front
    val static = spark.newSession()
    static.conf.set("spark.sql.adaptive.enabled", "false")
    val p = planOf(SparkEntry.queries("q21_sole_late_supplier")(static, dir))
    assert(p.collect { case e: ExpandExec => e }.isEmpty, p.toString)
    def keys(e: ShuffleExchangeExec): Seq[String] = e.outputPartitioning match {
      case h: HashPartitioning =>
        h.expressions.collect { case a: Attribute => a.name }
      case _ => Nil
    }
    val onOrder = p.collect {
      case e: ShuffleExchangeExec if keys(e) == Seq("l_orderkey") => e
    }
    assert(onOrder.size == 1, p.toString)
    val below = onOrder.head.child
    assert(below.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"another shuffle on the fact side\n$p")
    below.collectFirst { case a: HashAggregateExec => a } match {
      case Some(a) =>
        assert(a.aggregateExpressions.nonEmpty &&
          a.aggregateExpressions.forall(_.mode == Partial), p.toString)
      case None => fail(s"no partial aggregate below the shuffle\n$p")
    }
  }

  test("sample_stratified: hash filter is a scan-adjacent Filter") {
    val p = planString("sample_stratified")
    // no shuffle, no join — a pushable one-pass filter over the scan
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"))
  }

  test("corpus_curation: one dedup shuffle, map-side group-limit, no joins") {
    val p = planString("corpus_curation")
    // the whole pipeline is narrow filters + ONE hash shuffle for the
    // canonical-dedup window, with the rank<=1 limit applied map-side
    assert(count(p, "Exchange (") == 1, p.take(2000))
    assert(p.contains("WindowGroupLimit"), "map-side rank limit missing")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"))
  }

  test("t2_key_avro: key decode expression appears exactly once") {
    // the PlanBarrier must stop the drop-filter from inlining a second
    // from_confluent_avro evaluation per row (Filter + Project)
    val p = planString("t2_key_avro")
    val n = count(p, "from_confluent_avro")
    assert(n == 1, s"key decode evaluated $n times in the plan")
  }

  test("d3 avro decodes evaluate once per row (barrier vs filter inlining)") {
    for (q <- Seq("d3_avro_decode", "d3_avro_rich")) {
      val n = count(planString(q), "from_confluent_avro")
      assert(n == 1, s"$q: value decode evaluated $n times in the plan")
    }
  }

  /** The operators of `p` that run outside any generated stage. */
  private def interpreted(p: SparkPlan): Seq[SparkPlan] = p match {
    case w: WholeStageCodegenExec => inStage(w.child)
    case other => other +: other.children.flatMap(interpreted)
  }
  private def inStage(p: SparkPlan): Seq[SparkPlan] = p match {
    case i: InputAdapter => interpreted(i.child)
    case other => other.children.flatMap(inStage)
  }

  test("injector pipeline plans as one generated stage: JSON, JSON + JSON key, Avro decode") {
    import spark.implicits._
    import graft.operators.InjectorOps
    import org.apache.spark.sql.types._
    val avroSchema = """{"type":"record","name":"E","fields":[""" +
      """{"name":"id","type":"string"},{"name":"n","type":"int"}]}"""
    val ts = java.sql.Timestamp.valueOf("2024-03-05 10:11:12.345")
    // Kafka-shaped rows read back from parquet: over a local relation the
    // optimizer would evaluate the decode itself, and no stage would be left
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-injector")
    (0 until 8).map { i =>
      Msg(s"""{"uid":$i}""".getBytes("UTF-8"),
        s"""{"id":"r$i","n":$i}""".getBytes("UTF-8"), "my-topic", i % 2,
        i.toLong, ts, 0)
    }.toDF().write.parquet(s"$dir/json")
    (0 until 8).map { i =>
      Msg(null, AvroWire.encodeConfluent(7, avroSchema,
        Map("id" -> s"r$i", "n" -> i)), "my-topic", i % 2, i.toLong, ts, 0)
    }.toDF().write.parquet(s"$dir/avro")
    val schema = StructType(Seq(StructField("id", StringType),
      StructField("n", IntegerType)))
    val cfg = InjectorOps.InjectorConfig()
    val json = spark.read.parquet(s"$dir/json")
    val cases = Seq(
      "json" -> InjectorOps.pipeline(cfg, schema)(json),
      "json + json key" -> InjectorOps.pipeline(cfg, schema,
        keyDecoder = Some(InjectorOps.jsonKeyDecoder(
          StructType(Seq(StructField("uid", LongType))))))(json),
      "avro" -> InjectorOps.pipeline(cfg, schema,
        decoder = Some(InjectorOps.decoderFor("avro", schema, avroSchema,
          MapSchemaProvider(Map(7 -> avroSchema)))))(
        spark.read.parquet(s"$dir/avro")))
    for ((name, df) <- cases) {
      val p = planOf(df)
      val stages = p.collect { case w: WholeStageCodegenExec => w }
      assert(stages.size == 1, s"$name: ${stages.size} generated stages\n$p")
      val bare = interpreted(p).collect {
        case x @ (_: ProjectExec | _: FilterExec) => x.nodeName
      }
      assert(bare.isEmpty, s"$name: $bare outside the generated stage\n$p")
      assert(df.count() == 8L, name)
    }
  }

  test("corpus_pack_sequences: two-phase scan, no single-partition window") {
    // pin phase 1 directly — the localCheckpoint inside packSequences
    // truncates the published plan, hiding the window stage
    val df = graft.operators.CorpusOps.packPrefix(
      Tables.documents(spark, dir), 100L)
    df.queryExecution.executedPlan
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // the global prefix sum must run as per-bucket windows + broadcast
    // offsets; a naive Window.orderBy with no partitioning plans an
    // Exchange SinglePartition — the one shape that cannot scale
    assert(singlePartitionCount(p) == 0,
      "global window degenerated to a single partition")
    assert(p.contains("Window"), p.take(1000))
  }

  test("corpus_shard_order: one nShards-way rank window, no global sort") {
    val p = planString("corpus_shard_order")
    assert(singlePartitionCount(p) == 0,
      "shard rank degenerated to a single-partition window\n" + p.take(2000))
    val shuffles = count(p, "Exchange (") - count(p, "BroadcastExchange (")
    assert(shuffles == 1,
      s"expected exactly 1 shuffle (per-shard window), saw $shuffles\n" +
        p.take(2000))
  }

  test("corpus_chunk_sliding: pure scan-side map, zero exchanges") {
    val p = planString("corpus_chunk_sliding")
    assert(!p.contains("Exchange"),
      "chunking picked up a shuffle — it must pipeline off the scan\n" +
        p.take(2000))
    assert(p.contains("Generate"), p.take(1000)) // the explode itself
  }

  test("scan-side search: phrase and highlight plan zero exchanges") {
    for (q <- Seq("text_search_phrase", "text_search_highlight",
        "text_search_snippets")) {
      val p = planString(q)
      assert(!p.contains("Exchange"),
        s"$q picked up a shuffle — it must pipeline off the scan\n" +
          p.take(2000))
    }
  }

  test("stripBoilerplateJoin: corpus never shuffles on the segment key") {
    // the large-model apply path: with a broadcast-able model frame the
    // anti-join must be map-side and the only corpus shuffles keyed on
    // doc_id (rebuild + restore) — an Exchange on `seg` would mean the
    // exploded corpus is being hashed on text-sized keys
    import org.apache.spark.sql.functions.lit
    val model = spark.range(1)
      .select(lit("shared legal footer line").as("seg"))
    val df = graft.operators.CorpusOps.stripBoilerplateJoin(model, 16)(
      Tables.documents(spark, dir))
    df.queryExecution.executedPlan
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("hashpartitioning(seg"),
      "exploded corpus shuffled on the segment key\n" + p.take(2000))
    assert(count(p, "BroadcastHashJoin") >= 1,
      "model anti-join did not broadcast")
    assert(singlePartitionCount(p) == 0)
  }

  test("corpus_contamination: eval shingles broadcast, corpus not shuffled on shingle") {
    val p = planString("corpus_contamination")
    assert(count(p, "BroadcastHashJoin") >= 1, p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "contamination join degraded to a corpus shuffle on the shingle key")
  }

  test("persisted indexes: search scans only the probed cell partitions") {
    // the whole point of a persisted index: the probed cells arrive as
    // partition filters on the scan, so the search never reads the other
    // cell directories
    for (q <- Seq("sim_ivf_persisted", "sim_ivf_persisted_probe2",
        "sim_ivfpq_persisted")) {
      val p = planString(q)
      assert(p.contains("PartitionFilters: [") &&
        !p.contains("PartitionFilters: []"),
        s"$q: probed-cell filter did not reach the index scan as " +
          "partition pruning\n" + p.take(2000))
      assert(!p.contains("SortMergeJoin"), s"$q: corpus side shuffled")
    }
  }

  test("search family: posting frame joined only by broadcast") {
    // fuzzy's verified match set, prefix's literal prefixes, and MLT's
    // selected seed terms are all tiny derived/literal frames — every
    // join against the corpus-sized posting frame must broadcast, so
    // the corpus is never shuffled on a join key (its only wide stages
    // are its own aggregates and the top-k window)
    for (q <- Seq("text_search_fuzzy", "text_search_prefix",
        "text_search_mlt", "text_search_bool")) {
      val p = planString(q)
      assert(!p.contains("SortMergeJoin"),
        s"$q: posting frame shuffled on a join key\n" + p.take(2000))
      assert(count(p, "BroadcastHashJoin") +
        count(p, "BroadcastNestedLoopJoin") >= 1, s"$q: no broadcast join")
    }
  }

  test("sim_pq_topk: PQ encode is a pure map — one shuffle total") {
    val p = planString("sim_pq_topk")
    // codebooks are literal model state: encoding adds no join and no
    // exchange; queries broadcast (nested-loop on the ≠ predicate like
    // brute force); the only shuffle is the per-query top-k window
    assert(!p.contains("SortMergeJoin"), "PQ corpus side got shuffled")
    val n = count(p, "Exchange (") - count(p, "BroadcastExchange (")
    assert(n == 1,
      s"expected exactly 1 shuffle (top-k window), saw $n\n" + p.take(2000))
  }

  test("es_date_histogram: gap-fill join broadcasts the bucket frame") {
    // the spine⋈per-hour join runs on bucket-grain frames; a sort-merge
    // join here would shuffle frames that are bounded by the calendar
    val p = planString("es_date_histogram")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "gap-fill join degraded to SMJ")
  }

  test("es_composite_page: pagination is a TakeOrdered top-k, not a sort") {
    // composite's `after`-key page must never plan a global Sort — the
    // bucket space is unbounded; TakeOrdered keeps per-partition top-k
    val p = planString("es_composite_page")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(singlePartitionCount(p) == 0,
      "composite page planned a single-partition exchange")
  }

  test("text_percolate: stored registry is never broadcast, batch side is") {
    // the percolator's whole point is that match work scales with the
    // arriving batch, not |registry| — so no parquet scan (the stored
    // terms/meta tables) may sit under a BroadcastExchange; the only
    // broadcast build sides are the batch postings (ExistingRDD after
    // materialize) and the batch-bounded candidate aggregate
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val df = graft.SparkEntry.queries("text_percolate")(spark, dir)
    val root: SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // a broadcast subtree may reach the index scan only THROUGH the
    // batch-bounded candidate aggregate; a raw (un-aggregated) index
    // scan under a broadcast means the registry itself is on the wire
    val offending = root.collect {
      case b: BroadcastExchangeExec
          if b.collectLeaves().exists(_.isInstanceOf[FileSourceScanExec])
            && b.collect { case a: HashAggregateExec => a }.isEmpty =>
        b.simpleStringWithNodeId()
    }
    assert(offending.isEmpty,
      "stored percolator index broadcast raw into the join:\n" +
        offending.mkString("\n"))
    val p = planString("text_percolate")
    assert(!p.contains("SortMergeJoin"), "percolate join degraded to SMJ")
  }

  test("bigramLmScoreJoin: model broadcasts, corpus never shuffles on a word key") {
    import graft.operators.CorpusOps
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val d = Tables.documents(spark, dir)
    import spark.implicits._
    val vocab = CorpusOps.vocabulary(d, 64).as[String].collect().toSet
    val df = CorpusOps.bigramLmScoreJoin(vocab,
      CorpusOps.bigramModel(vocab)(d), 64, 0.5)(d)
    val root: SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // shuffles reachable WITHOUT crossing a broadcast boundary = the
    // corpus scoring path. The model-build aggregates (bounded V²
    // partials) live under BroadcastExchange and are allowed; the
    // corpus side must exchange exactly once — the per-doc sum on
    // doc_id — and NEVER on w1/w2 (the "the the" skew key a
    // sort-merge model join would hash the whole exploded corpus on).
    def corpusShuffles(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
      case _: BroadcastExchangeExec => Seq.empty
      case s: ShuffleExchangeExec => s +: s.children.flatMap(corpusShuffles)
      case o => o.children.flatMap(corpusShuffles)
    }
    val shuffles = corpusShuffles(root)
    assert(shuffles.length == 1,
      s"expected exactly 1 corpus-side shuffle (doc_id sum), saw " +
        shuffles.map(_.outputPartitioning).mkString("; "))
    assert(shuffles.head.outputPartitioning.toString.contains("doc_id"),
      s"corpus shuffled on ${shuffles.head.outputPartitioning}, not doc_id")
    // count physical nodes, not explain-string hits (FormattedMode
    // prints each operator twice: tree line + detail block)
    val bhj = root.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhj.length == 2, s"model joins not broadcast (saw ${bhj.length} BHJ)")
    val smj = root.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.isEmpty, "model join degraded to SMJ")
  }

  test("global sweep: no SinglePartition exchange, CartesianProduct, or unallowlisted BNLJ in any registered plan") {
    // Exchange SinglePartition funnels the full upstream through ONE
    // task — the #1 accidental scale-killer (a Window.orderBy with no
    // partitioning, a coalesce(1), a global sort). Sweep EVERY
    // registered batch query; the allowlist names the justified
    // exceptions with their exact count, all of which are 1-row global
    // aggregates (partial→final where the single partition receives one
    // pre-aggregated row per upstream partition, not the data).
    // ONE plan-string pass per query audits all three scale-killers:
    // SinglePartition exchanges, CartesianProduct (quadratic, never
    // acceptable — empty allowlist), and BroadcastNestedLoopJoin
    // (acceptable ONLY against a broadcast 1-row/model-grain aggregate
    // — the crossJoin(broadcast(stats)) parameterization idiom — so
    // every instance is named with its exact count).
    val allowed: Map[String, Int] = PlanSpec.singlePartitionAllowlist
    val bnljAllowed: Map[String, Int] = PlanSpec.bnljAllowlist
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    for (name <- SparkEntry.queries.keys.toSeq.sorted) {
      val p = planString(name)
      val n = singlePartitionCount(p)
      val ok = allowed.getOrElse(name, 0)
      if (n != ok) offenders += s"$name: $n SinglePartition (allowed $ok)"
      val cart = nodeCount(p, "CartesianProduct")
      if (cart != 0) offenders += s"$name: $cart CartesianProduct"
      val bnlj = nodeCount(p, "BroadcastNestedLoopJoin")
      val bok = bnljAllowed.getOrElse(name, 0)
      if (bnlj != bok) offenders += s"$name: $bnlj BNLJ (allowed $bok)"
    }
    assert(offenders.isEmpty,
      "plan-shape sweep drift:\n" + offenders.mkString("\n"))
  }

  test("sim_ivf: cell assignment is a pure map — one shuffle total") {
    // the r6 pin ("no SortMergeJoin") missed the scale-killer: the old
    // crossJoin+window assignment amplified the corpus ×k and
    // hash-exchanged it on vec_id to compute the argmax. Centroids are
    // literal model state now, so the assignment must plan as a pure
    // map: NO Exchange between the corpus scan and cell assignment —
    // the ONLY shuffle in the whole plan is the per-query top-k window.
    for (q <- Seq("sim_ivf_topk", "sim_ivf_probe2", "sim_ivfpq_topk")) {
      val p = planString(q)
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q: centroid crossJoin is back")
      assert(!p.contains("SortMergeJoin"),
        s"$q: corpus shuffled on a non-cell key")
      // "Exchange (" alone also matches inside "BroadcastExchange (" —
      // broadcasts are fine (query side), shuffles are what's pinned
      val n = count(p, "Exchange (") - count(p, "BroadcastExchange (")
      assert(n == 1,
        s"$q: expected exactly 1 shuffle (top-k window), saw $n\n" +
          p.take(2000))
    }
  }

  test("sim_sq8: encode+dequantize is a pure map — one shuffle total") {
    // the SQ8 model is literal arrays, so encode/dequantize must fuse
    // into the corpus scan (no Exchange before the scoring join); the
    // query side broadcasts; the ONLY shuffle is the top-k window
    val p = planString("sim_sq8_topk")
    assert(!p.contains("SortMergeJoin"),
      "sim_sq8_topk: corpus shuffled for the scoring join")
    val n = count(p, "Exchange (") - count(p, "BroadcastExchange (")
    assert(n == 1,
      s"sim_sq8_topk: expected exactly 1 shuffle (top-k window), saw $n\n" +
        p.take(2000))
  }
}

object PlanSpec {
  /** Queries allowed to plan `Exchange SinglePartition`, with the exact
    * count — each one a 1-row global aggregate (scalar avg/sum/max/count
    * used as a broadcast comparand) where the single partition receives
    * one partial-aggregate row per upstream partition, never the data.
    *
    * The derived-partsupp queries carry one per partsupp SUBTREE COPY
    * (the 1-row supplier count that parameterizes the bridge formula):
    * q2 evaluates `eligible` twice (min + final join), q11 evaluates
    * `stock` twice (per-part + total, its third being the global total
    * aggregate itself). sim_recall_at_k has one 1-row hit-count
    * aggregate per index family.
    */
  val singlePartitionAllowlist: Map[String, Int] = Map(
    "q6_revenue_delta" -> 1,      // global revenue sum (1 row)
    "q15_top_supplier" -> 1,      // global max comparand
    "q17_small_qty_revenue" -> 1, // final global avg_yearly
    "q19_disjunctive" -> 1,       // global revenue sum
    "q22_idle_balance" -> 1,      // global avg-balance comparand
    "q2_min_cost_supplier" -> 2,  // supplier count ×2 subtree copies
    "q11_important_stock" -> 3,   // supplier count ×2 + global total
    "q16_part_supplier_counts" -> 1, // supplier count
    "q20_promo_suppliers" -> 1,   // supplier count
    "sim_recall_at_k" -> 5,       // per-family hit counts (5 families)
    "sim_recall_curve" -> 3,      // per-nprobe hit counts (3 points)
    "sim_drift" -> 1,             // 1-row ref/live totals (Q22 shape)
    "corpus_tfidf_terms" -> 1,    // global doc count N (1 row, Q22 shape)
    "text_search_bm25" -> 1,      // global N/avgdl stats (1 row)
    "text_search_bm25_persisted" -> 1, // same stats over stored postings
    "text_search_collapse" -> 1,  // same shared BM25 stats (1 row)
    "text_search_rescore" -> 1,   // same shared BM25 stats (1 row)
    "text_search_rescore_persisted" -> 1, // same stats, stored postings
    "text_search_function_score" -> 1, // same shared BM25 stats (1 row)
    "text_search_boosting" -> 1,  // same shared BM25 stats (1 row)
    "text_search_rm3" -> 1,       // same stats (the base chain's copy
    // runs behind the feedback checkpoint barrier)
    "events_seasonality" -> 1,    // 1-row global daily-mean comparand
    "corpus_dataset_card" -> 1,   // the card IS a 1-row corpus aggregate
    "corpus_quality_regression" -> 3, // 1-row moment agg ×2 subtree
    // copies (model broadcast into fit AND the final row) + 1-row fit agg
    "text_search_rrf" -> 1,       // same shared BM25 stats (1 row)
    "text_significant_terms" -> 1, // global doc count (1 row, Q22 shape)
    // ES-agg family: bucket-grain frames bounded by CONSTRUCTION
    // (calendar buckets / named filters), never by data volume
    "es_date_histogram" -> 1, // 1-row min/max bounds for the hour spine
    "es_filters_agg" -> 1,    // the filters agg IS a 1-row global agg
    "es_adjacency_matrix" -> 1, // same shape: 1-row conditional agg
    "es_derivative" -> 1,     // pipeline window over the day-grain frame
    "es_cumulative_sum" -> 1, // same day-grain pipeline window
    "es_histogram" -> 1,      // 1-row min/max bounds for the bucket spine
    "es_serial_diff" -> 1,    // lag-7 window over the day-grain frame
    "es_moving_fn" -> 1,      // 7-lag window over the day-grain frame
    "es_stats_bucket" -> 1,   // final 1-row stats over day-grain buckets
    "es_auto_date_histogram" -> 1, // 1-row span for the interval ladder
    "es_t_test" -> 1,         // Welch test IS a 1-row conditional agg
    "es_matrix_stats" -> 1,   // the matrix IS a 1-row moment aggregate
    "profile_events" -> 1,    // profiling IS a 1-row multi-distinct agg
    "dq_checks" -> 3,         // 1-row check agg + FK count + row count
    "events_funnel" -> 1,     // final 3-counter rollup (1 row)
    "events_rfm" -> 1,        // 1-row global-max recency comparand
    "events_ab_test" -> 1,    // the experiment readout IS a 1-row agg
    "events_ab_srm" -> 1,     // the SRM guard IS a 1-row agg
    "events_cuped" -> 1,      // 1-row theta moment agg (the min-date
    // comparand runs behind the per-user checkpoint barrier)
    "events_trend_fit" -> 2,  // 1-row first-day comparand + OLS agg
    "events_pareto" -> 1,     // 1-row revenue-total comparand
    "events_wau_rolling" -> 1, // 1-row span-max clip comparand
    "es_date_range" -> 1,     // 1-row min-date boundary comparand
    "es_frequent_item_sets" -> 1, // 1-row user-count comparand
    "events_basket_rules" -> 1,   // same 1-row user-count comparand
    "es_normalize" -> 1,      // 1-row total/min/max over day-grain buckets
    "es_moving_percentiles" -> 1, // 7-lag window over the day-grain frame
    "es_variable_width_histogram" -> 1, // ONE exchange feeds the gap lag
    // window; the top-2 rank window and the 1-row boundary agg reuse the
    // already-single partition (unit-cell frame, domain-bounded)
    "es_change_point" -> 2,   // day-grain prefix window + 1-row total
    "orders_abc_analysis" -> 2, // catalog-grain Pareto window + 1-row
    // revenue total (part frame is catalog-bounded, never fact-grain)
    "orders_backlog" -> 1,    // day-grain cumsum window (the 1-row
    // bounds agg runs behind the oc checkpoint barrier)
    "graph_modularity" -> 1,  // 1-row total-edge count m (Q22 shape)
    "graph_assortativity" -> 1, // 1-row degree-moment aggregate
    "graph_reciprocity" -> 2,   // 1-row edge + mutual-edge counts
    "events_attribution" -> 1, // share window over the 3-row channel frame
    "events_markov" -> 1)     // obs-share window over the |types|-row frame
    // (events_anomaly's 1-row bounds aggregate runs behind its
    // checkpoint barrier, so the swept plan shows none; sim_pca_power
    // runs its rounds on the driver at sweep scale and returns a local
    // relation — above its cell cap the fallback's per-round 1-row max
    // runs inside the round jobs at construction, never in the
    // returned plan, which is a broadcast join of the checkpointed sums
    // against a dim-row literal)

  /** BroadcastNestedLoopJoin instances per plan, measured by PlanDump
    * at sf0.001 and hand-audited: every entry is a
    * `crossJoin(broadcast(...))` against a 1-row (or model-grain,
    * construction-bounded) aggregate — the standard way to thread a
    * global statistic into a per-row expression without a shuffle. A
    * BNLJ against anything data-grain would be quadratic; none exist,
    * and this sweep keeps it that way.
    */
  val bnljAllowlist: Map[String, Int] = Map(
    "corpus_quality_regression" -> 2, "corpus_tfidf_terms" -> 1,
    "dq_checks" -> 1, "es_auto_date_histogram" -> 1,
    "es_change_point" -> 1, "es_date_range" -> 1,
    "es_frequent_item_sets" -> 1, "es_normalize" -> 1,
    "es_variable_width_histogram" -> 1, "events_basket_rules" -> 1,
    "events_cuped" -> 1, "events_pareto" -> 1, "events_rfm" -> 1,
    "events_seasonality" -> 1, "events_trend_fit" -> 1,
    "events_wau_rolling" -> 1, "graph_modularity" -> 1,
    "graph_reciprocity" -> 1, "orders_abc_analysis" -> 1,
    "q11_important_stock" -> 3, "q16_part_supplier_counts" -> 1,
    "q20_promo_suppliers" -> 1, "q22_idle_balance" -> 1,
    "q2_min_cost_supplier" -> 2, "sim_bruteforce_topk" -> 1,
    "sim_drift" -> 1, "sim_pq_kmeans" -> 1,
    "sim_pq_refine" -> 1, "sim_pq_topk" -> 1, "sim_range_search" -> 1,
    "sim_recall_at_k" -> 2,
    // the centroid-pair inequality self-join: both sides are the
    // 20-row source-centroid frame; the broadcast makes it BNLJ
    // instead of a shuffled CartesianProduct
    "sim_source_centroids" -> 1,
    "sim_sq8_persisted" -> 1, "sim_sq8_topk" -> 1,
    "text_search_bm25" -> 1, "text_search_bm25_persisted" -> 1,
    "text_search_boosting" -> 1, "text_search_collapse" -> 1,
    "text_search_function_score" -> 1, "text_search_prefix" -> 1,
    "text_search_rescore" -> 1,
    // same crossJoin(broadcast(stats)) idiom over the stored postings
    "text_search_rescore_persisted" -> 1,
    "text_search_rm3" -> 1,
    "text_search_rrf" -> 1, "text_search_wildcard" -> 1,
    "text_significant_terms" -> 1)
}
