package graft

import org.scalatest.funsuite.AnyFunSuite

/** Suite-wide physical-plan regression net: every gated query's plan is
  * checked for the shapes that kill a 100 TB run. A new query that
  * accidentally introduces an unbounded cartesian or nested-loop join
  * fails here at sf0.001 instead of at cluster scale.
  *
  * Whitelist = queries whose cartesian/BNLJ is the DOCUMENTED design:
  * the O(n²) oracle-anchor embed dedup, and broadcast query/centroid
  * cross joins in ANN (bounded small side by construction).
  */
/** The audited 1-row/bounded-cross allowlist is shared with
  * [[ScaleAuditSpec]]'s flip classifier: for these queries a
  * BroadcastNestedLoopJoin NODE COUNT is not a size-driven AQE
  * decision — their BNLJ builds are documented-bounded crosses, and
  * the visible node count varies with exchange REUSE across memo-cache
  * states (measured both directions on q_dedup_pagerank_w: 6 -> 3 in
  * an isolated JVM, 4 -> 6 inside the suite). */
object PlanHygieneSpec {
  private[graft] val cartesianOk: Set[String] = Set(
    "q_dedup_embed",   // exact O(n²) baseline, documented oracle anchor
    "q_dedup_embed_ivf", // crossJoin(broadcast(n/C centroids)) — constant-cell-size geometry (r13): cell SIZE bounded so candidates are linear; broadcast grows as n/C (flat scoring documented to ~1e8 vectors, see scaladoc)
    "q_dedup_embed_hier", // two bounded cross joins: broadcast(√k level-1 groups) + the k-row centroid Lloyd round one level up
    "q_ivf_hier_recall",  // bounded-slice exact anchor join + q_dedup_embed_hier's listed cross joins
    "q_ivf_group_balance", // 1-row totals broadcast cross + q_dedup_embed_hier's listed cross joins
    "q_dedup_embed_incr", // same √n-centroid broadcast cross join (history-trained cells)
    "q_dedup_embed_incr_hier", // bounded crosses: broadcast(√k level-1 groups) + the k-row Lloyd round + m_i-assignment over k constant-size cells
    "q_stream_embeddedup_hier", // static-side index build shares q_dedup_embed_incr_hier's listed cross joins; the stream side is equi-joins only
    "q_ivf_incr_balance", // 1-row totals broadcast cross + q_dedup_embed_incr_hier's listed static-build cross joins
    "q_dedup_embed_keep", // composes q_dedup_embed_ivf (its listed n/C-centroid cross join)
    "q_ivf_balance",      // same n/C-centroid cross join + 1-row totals broadcast
    "q_ivf_recall",       // bounded-slice (≤ EmbedExactCap²) exact anchor join + the IVF pipeline's listed cross joins
    "q_ivf_refresh",      // 1x1 cross of two agg rows + composes q_ivf_balance's listed cross joins
    "q_ann_ivf",       // crossJoin(broadcast(centroids)) — bounded build side
    "q_ann_kmeans",    // same centroid cross joins inside Lloyd rounds
    "q_kmeans_round",  // integer Lloyd round: crossJoin(broadcast(centroids))
    "q_ivfpq_codebook", // coarse-assign crossJoin(broadcast(centroids))
    "q_sql_api",       // scalar-subquery style broadcast of a 1-row agg
    "q_scalar_subquery",
    "q_text_tfidf",    // crossJoin(broadcast(1-row corpus-size agg))
    "q_dedup_pagerank",     // crossJoin(broadcast(1-row node-count agg))
    "q_dedup_keep_central", // inherits qDedupPagerank's node-count broadcast
    "q_dedup_pagerank_w",   // same 1-row node-count broadcast
    "q_ann_recall",         // composes q_ann_brute + q_ann_ivf (their listed cross joins)
    "q_ann_range",          // broadcast(≤10-row query set) nested loop — bounded by isQuery
    "q_text_drift",         // crossJoin(broadcast(1-row reference-total agg))
    "q_chisq",              // crossJoin(broadcast(1-row grand-total agg))
    "q_embed_centroids",    // broadcast(label-count-tiny centroid relation) pair join
    "q_mix_plan",           // crossJoin(broadcast(1-row totals agg))
    "q_mix_epochs",         // same 1-row totals broadcast as q_mix_plan
    "q_mix_temperature",    // same 1-row totals broadcast as q_mix_plan
    "q_dedup_ppr",          // crossJoin(broadcast(1-row seed-count agg))
    "q_kmv_merge",          // crossJoin(broadcast(1-row sketch estimates))
    "q_shard_manifest",     // crossJoin(broadcast(1-row token-total agg))
    "q_text_bpe2",          // crossJoin(broadcast(1-row top-merge limit))
    "q_text_bpe_apply",     // same 1-row top-merge limit broadcast
    "q_source_terms",       // crossJoin(broadcast(1-row grand-total agg))
    "q_quality_ks",         // crossJoin(broadcast(1-row corpus-count agg))
    "q_graph_triangles",    // cross of THREE 1-row aggs (edges/tri/wedges)
    "q_kmv_overlap",        // source-LIST cartesian: |sources|² rows at any corpus
    "q_ev_rolling_users",   // day-range join of |days|-row daily sketch lists
    "q_ev_pareto",          // crossJoin(broadcast(1-row user/event totals agg))
    "q_quality_langparity", // crossJoin(broadcast(1-row min/max rate agg))
    "q_ev_funnel_latency",  // crosses of 1-row gap-count/stat aggregates
    "q_split_temporal",     // crossJoin(3-row per-split agg, 1-row boundary agg)
    "q_hist_quantile")      // crossJoin(broadcast(1-row bin-total agg))
}

class PlanHygieneSpec extends AnyFunSuite {
  import SparkTestSession._

  private def cartesianOk = PlanHygieneSpec.cartesianOk

  test("no gated query plans an unlisted cartesian / broadcast nested loop") {
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val plan =
        try fn(spark, sf).queryExecution.executedPlan.toString
        catch { case e: Throwable => fail(s"$name failed to plan: ${e.getMessage}") }
      val bad = plan.contains("CartesianProduct") ||
        plan.contains("BroadcastNestedLoopJoin")
      if (bad && !cartesianOk.contains(name)) Some(name) else None
    }
    assert(offenders.isEmpty, s"unexpected cartesian/BNLJ in: $offenders")
  }

  test("parquet-reading queries keep column pruning (no full-schema scans)") {
    // lineitem is the wide fact table: any query reading it must prune
    // its read schema below the full 16 columns
    val readers = Seq("q1_agg", "q6_filter_sum", "q_distinct", "q_cube",
      "q_percentile", "q_in_subquery", "q_stats", "q_profile_numeric")
    readers.foreach { name =>
      val scans = SparkEntry.queries(name)(spark, sf)
        .queryExecution.sparkPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }
      assert(scans.nonEmpty, s"$name: no parquet scan found")
      scans.foreach { f =>
        val nCols = f.requiredSchema.length
        assert(nCols <= 8, s"$name reads $nCols cols: ${f.requiredSchema.fieldNames.mkString(",")}")
      }
    }
  }

  test("quantizer centroid cardinality is corpus-independent") {
    // The ANN/PQ scale contract: doubling the corpus must NOT change the
    // number of centroids (a corpus-proportional quantizer makes the
    // broadcast O(n) and the assignment cross join O(n²/step) at 100x).
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def corpus(n: Long) = spark.range(n).select(
      $"id".as("vec_id"),
      array(($"id" % 7).cast("double"), ($"id" % 11).cast("double")).as("v"))
    for (step <- Seq(25, 50)) {
      val k1 = queries.Similarity.centroidSeeds(corpus(2000), step).count()
      val k2 = queries.Similarity.centroidSeeds(corpus(4000), step).count()
      assert(k1 == k2, s"step=$step: seeds grew with the corpus ($k1 -> $k2)")
      assert(k1 == queries.Similarity.CentBound / step)
    }
    // the trained quantizer inherits the bound (Lloyd never adds centroids)
    val t1 = queries.Similarity.kmeansCentroids(corpus(2000), iters = 1).count()
    val t2 = queries.Similarity.kmeansCentroids(corpus(4000), iters = 1).count()
    assert(t1 <= 40 && t2 <= 40 && t1 == t2,
      s"trained centroid count scales with the corpus ($t1 -> $t2)")
  }

  // Queries whose PINNED broadcast side IS bounded at any corpus size,
  // but not by a construct the mechanical bounder check below can see
  // (global agg / Limit). Each entry documents the actual bound.
  private val boundedBroadcastOk = Set(
    // ANN quantizer family: broadcast(centroids) where the centroid set
    // is capped by the isCentroid filter (% step && < CentBound) — the
    // "quantizer centroid cardinality is corpus-independent" test in
    // this suite proves the cap holds when the corpus doubles
    "q_ann_ivf", "q_kmeans_round", "q_pq_codebook", "q_ivfpq_codebook",
    // ADC serving scan: broadcast(cents) capped at 20/subspace by isSeed,
    // broadcast(lut) = |queries ≤ 10| x 8 subspaces x 20 cents rows
    "q_ann_pq_adc",
    // bounded query set (≤10 at any scale) broadcast-nested-loop probe
    "q_ann_range",
    // round-15 broadcast(probes): the probe side is the isQuery slice
    // (% 100 && < 1000 → ≤10 queries at any corpus) x NProbe=3 rows —
    // the same bound q_ann_range documents; broadcasting it is what
    // keeps the corpus-sized inverted lists UNSHUFFLED (the previous
    // sort-merge join shuffled the whole corpus on a ~25-value key)
    "q_ann_kmeans",
    // composes q_ann_brute + q_ann_ivf → inherits their centroid/query
    // broadcasts (both bounded as above)
    "q_ann_recall",
    // per-event_type moments: grouped on a fixed-domain key
    "q_ev_anomaly",
    // row/col totals grouped by lang / source — fixed domains
    "q_chisq")

  test("no pinned broadcast hint feeds from a corpus-proportional relation") {
    // The 100 TB contract behind round-4's findings: a broadcast() HINT
    // pinned on a relation that grows with the corpus (documents,
    // embeddings, lineitem, customer, ...) is a driver OOM at scale no
    // matter what AQE would have chosen. Mechanically: walk each gated
    // query's OPTIMIZED logical plan (pinned hints survive as JoinHint;
    // AQE's adaptive runtime choices never appear here, so only
    // hard-coded hints can fail), and for every BROADCAST-hinted join
    // side whose leaves scan a growing table, require a cardinality
    // bounder in the side's subtree: a global (no-grouping) aggregate
    // (≤1 row at any scale) or an explicit Limit. Grouped aggregates
    // over bounded domains go on the documented whitelist above.
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val growing = Set("documents", "embeddings", "lineitem", "orders",
      "customer", "events", "part", "supplier", "partsupp")
    def tablesOf(p: LogicalPlan): Set[String] = p.collect {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.map(_.getName.stripSuffix(".parquet")).toSet
        case _ => Set.empty[String]
      }
    }.flatten.toSet
    def hasBounder(p: LogicalPlan): Boolean = p.collect {
      case a: Aggregate if a.groupingExpressions.isEmpty => a
      case l: GlobalLimit => l
    }.nonEmpty
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val plan =
        try fn(spark, sf).queryExecution.optimizedPlan
        catch { case e: Throwable => fail(s"$name failed to optimize: ${e.getMessage}") }
      val pinnedSides = plan.collect {
        case j: Join => Seq(j.hint.leftHint -> j.left, j.hint.rightHint -> j.right)
          .collect { case (Some(h), side) if h.strategy.contains(BROADCAST) => side }
      }.flatten
      val bad = pinnedSides.filter(side =>
        (tablesOf(side) intersect growing).nonEmpty && !hasBounder(side))
      if (bad.nonEmpty && !boundedBroadcastOk.contains(name))
        Some(s"$name broadcasts ${bad.flatMap(tablesOf).toSet.mkString(",")}")
      else None
    }
    assert(offenders.isEmpty,
      s"corpus-proportional pinned broadcast in: ${offenders.mkString("; ")}")
  }

  // Windows partitioned only by low-cardinality keys whose input IS
  // provably bounded, but by a construct the mechanical check below
  // cannot see. Each entry documents the actual bound.
  private val unboundedWindowOk = Set(
    // global row_number over DatasusVocabulary.defaultWorkload — an
    // 89-row CONSTANT local relation (the reference's fixed filter
    // vocabulary crossed per family), not a corpus scan; cardinality
    // can never grow with data volume
    "q_catalog_workload",
    // KS cumulative windows run over the FIXED 1001-cell bucket grid
    // (explode(sequence(0,1000)) per source / globally) left-joined to
    // the (source, bucket) histogram — per-partition row count is 1001
    // by construction at any corpus size; the grid join shape doesn't
    // match the histogram-aggregate detector below
    "q_quality_ks")

  test("no window partitioned only by low-cardinality keys sorts unbounded input") {
    // The round-5 verdict's scale-killer class: a Window partitioned by
    // `source` (or any fixed-domain key) with no group-limit rewrite
    // funnels an ENTIRE corpus slice through one task for the sort. A
    // window like that is acceptable only when its input is already
    // cardinality-bounded: a WindowGroupLimit rewrite (rk<=k top-N
    // heaps), an explicit limit/TakeOrdered, or the value-histogram
    // rank-selection pattern (an Aggregate grouped by the partition keys
    // PLUS a value column — per-partition row count is then |value
    // domain|, independent of corpus size). Mechanically: for every
    // WindowExec whose partition keys are all in the low-card set (or
    // empty — a global window), walk through order-preserving unary
    // nodes (sort/exchange/project/filter) to the window's true input
    // and require one of those bounders. Extra grouping keys that are
    // row-identity columns (doc_id, ids) do NOT count as a bound — a
    // groupBy(source, doc_id) aggregate is still corpus-proportional.
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
    val lowCard = Set("source", "lang", "tipo", "event_type", "shard",
      "uf", "sistema", "competencia")
    val idLike = Set("doc_id", "vec_id", "id", "event_id", "o_orderkey",
      "l_orderkey", "c_custkey", "s_suppkey", "p_partkey", "user_id")
    def attrNames(es: Seq[Expression]): Set[String] =
      es.flatMap(_.collect { case a: AttributeReference => a.name }).toSet
    @annotation.tailrec
    def realInput(p: SparkPlan): SparkPlan = p match {
      case s: SortExec => realInput(s.child)
      case e: ShuffleExchangeExec => realInput(e.child)
      case pr: ProjectExec => realInput(pr.child)
      case f: FilterExec => realInput(f.child)
      // a window adds columns but preserves cardinality, so a stacked
      // window (cumulative + full-frame total, q_hist_quantile_src) is
      // bounded iff the innermost input is — walk through it
      case w: WindowExec => realInput(w.child)
      case _ => p
    }
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val plan =
        try fn(spark, sf).queryExecution.sparkPlan
        catch { case e: Throwable => fail(s"$name failed to plan: ${e.getMessage}") }
      val bad = plan.collect { case w: WindowExec => w }.filter { w =>
        val part = attrNames(w.partitionSpec)
        part.subsetOf(lowCard) && (realInput(w.child) match {
          case _: WindowGroupLimitExec => false            // top-N heap rewrite
          case _: TakeOrderedAndProjectExec => false       // explicit bounded input
          case _: GlobalLimitExec | _: LocalLimitExec => false
          case a: BaseAggregateExec =>
            // value-histogram pattern: grouped by partition keys + a
            // genuine value column (not a row id)
            val g = attrNames(a.groupingExpressions)
            !(part.subsetOf(g) && (g -- part -- idLike).nonEmpty)
          case _ => true
        })
      }
      if (bad.nonEmpty && !unboundedWindowOk.contains(name))
        Some(s"$name: ${bad.map(w => attrNames(w.partitionSpec).mkString("(", ",", ")")).mkString(" ")}")
      else None
    }
    assert(offenders.isEmpty,
      s"unbounded low-cardinality window in: ${offenders.mkString("; ")}")
  }

  test("raw IVF dedup pipeline plans only broadcast-bounded cross joins") {
    // The registry entry for q_dedup_embed_ivf serves the memoized
    // (checkpointed) pair relation, so the suite-wide cartesian scan
    // sees a scan, not the pipeline — audit the RAW pipeline here so a
    // regression (a non-broadcast cartesian creeping into the cell
    // machinery) still fails the build. crossJoin(broadcast(√n
    // centroids)) legitimately plans BroadcastNestedLoopJoin; an
    // unhinted CartesianProduct is never acceptable.
    val p = queries.Dedup.qDedupEmbedIvf(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"raw IVF dedup plans a CartesianProduct:\n$p")
  }

  test("streaming ANN serving: rank state is the bounded top-k aggregator only") {
    // q_stream_ann's scale contract: the one stateful operator in the
    // serving plan keeps O(k) TopKAggregator state per in-flight query.
    // Any unbounded aggregate (collect_list/collect_set) appearing in
    // the stream plan would make state grow with the CORPUS (candidate
    // count), not with k — the failure mode this test pins.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    val schema = spark.read.parquet(s"$sf/embeddings.parquet").schema
    val q = spark.readStream.schema(schema).parquet(s"$sf/embeddings.parque[t]")
      .filter(queries.Similarity.isQuery(col("vec_id")))
      .select(col("vec_id").as("q_id"),
        transform(col("embedding"), x => x.cast("double")).as("qv"))
    val served = graft.streaming.StreamingEtl.annServeStream(
      q, queries.Similarity.centroidArray(spark, sf),
      queries.Similarity.ivfLists(spark, sf))
    // only STREAMING aggregates hold state stores — the static index
    // build (ivfLists' batch argmax) aggregates without streaming state
    val fns = served.queryExecution.analyzed
      .collect { case a: Aggregate if a.isStreaming => a }
      .flatMap(_.aggregateExpressions)
      .flatMap(_.collect { case ae: AggregateExpression => ae.aggregateFunction })
    assert(fns.nonEmpty, "no streaming aggregation found in the serving plan")
    assert(fns.forall(_.toString.contains("TopKAggregator")),
      s"non-top-k aggregate in stream plan: ${fns.map(_.getClass.getSimpleName)}")
  }

  test("range search plans zero shuffle exchanges (map-side score + filter)") {
    // q_ann_range = broadcast(bounded query set) + per-partition score and
    // filter: matches stream straight out of the scan — any shuffle here
    // is a regression (the whole point of the operator's plan shape)
    val plan = SparkEntry.queries("q_ann_range")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"q_ann_range plans a shuffle:\n$plan")
  }

  // Queries whose GLOBAL sort is the documented, deliberate design.
  // Round 8: empty — q_lateral (the last member) now expresses its
  // correlated top-2 via a rank-filter LATERAL that decorrelates to a
  // per-key window with partition-local sorts only (see qLateral's
  // scaladoc); every gated plan is global-sort-free.
  private val globalSortOk = Set.empty[String]

  test("no query plans a whole-relation global sort outside top-k rewrites") {
    // The fourth scale-killer class (round 7): a Sort[global=true] over a
    // corpus-proportional relation funnels a total ordering through a
    // range-partitioned shuffle — O(n log n) over everything, and the
    // plan carries it even though the gate hashes results order-
    // independently. orderBy+limit rewrites to TakeOrderedAndProject
    // (no SortExec), window/SMJ sorts are partition-local
    // (global=false), so ANY surviving global SortExec is a
    // whole-relation sort that must be either whitelisted with its
    // bound documented or rewritten.
    import org.apache.spark.sql.execution.SortExec
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val plan =
        try fn(spark, sf).queryExecution.sparkPlan
        catch { case e: Throwable => fail(s"$name failed to plan: ${e.getMessage}") }
      val bad = plan.collect { case s: SortExec if s.global => s }
      if (bad.nonEmpty && !globalSortOk.contains(name))
        Some(s"$name (${bad.size} global sort(s))")
      else None
    }
    assert(offenders.isEmpty,
      s"whole-relation global sort in: ${offenders.mkString("; ")}")
  }

  test("documents-table queries prune to the columns they actually use") {
    // documents = (doc_id, text, lang, source, n_chars): content queries
    // must not drag the metadata columns (or vice versa) through the scan
    val expected = Map(
      "q_dedup_exact"    -> Set("source", "text"),
      "q_text_clean"     -> Set("doc_id", "text"),
      "q_text_fingerprint" -> Set("doc_id", "text"),
      "q_dedup_verbatim" -> Set("doc_id", "text"),
      "q_text_repetition" -> Set("doc_id", "text"),
      "q_pack_bins"      -> Set("source", "doc_id", "n_chars"),
      "q_text_vocab"     -> Set("source", "text"),
      "q_text_hh"        -> Set("source", "text"),
      "q_sample_topn"    -> Set("source", "doc_id"),
      "q_quality_deciles" -> Set("source", "doc_id", "text"),
      "q_pipeline_curate" -> Set("source", "doc_id", "text", "n_chars"),
      "q_mm_phash"       -> Set("doc_id", "text"),
      "q_text_bpe"       -> Set("text"),
      "q_dedup_span"     -> Set("doc_id", "text"),
      "q_quality_winsor" -> Set("source", "n_chars"),
      "q_dedup_lines"    -> Set("doc_id", "text"),
      "q_vocab_oov"      -> Set("source", "text"),
      "q_source_terms"   -> Set("source", "text"),
      "q_text_bpe_apply" -> Set("source", "text"),
      "q_soft_dedup"     -> Set("doc_id", "source"))
    expected.foreach { case (name, cols) =>
      val scans = SparkEntry.queries(name)(spark, sf)
        .queryExecution.sparkPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec
              if f.requiredSchema.fieldNames.contains("text") ||
                 f.requiredSchema.fieldNames.contains("n_chars") ||
                 f.requiredSchema.fieldNames.contains("source") => f
        }
      // memoized/checkpointed entries may expose no parquet scan in their
      // final plan — only assert on the scans that are visible
      scans.foreach { f =>
        assert(f.requiredSchema.fieldNames.toSet.subsetOf(cols),
          s"$name reads ${f.requiredSchema.fieldNames.mkString(",")}, expected subset of $cols")
      }
    }
  }

  test("the month load writes without a sort or a fused stage, parses names per file, and scans the lake once") {
    import org.apache.spark.sql.catalyst.expressions.{RegExpExtract, StringSplit}
    import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.datasources.WriteFilesExec
    val base = graft.queries.EtlFixtures.ensure(spark, sf)
    val lake = java.nio.file.Files.createTempDirectory("graft_plan_lake").toFile.getPath + "/lake"
    val plans = ExecutedPlans.of(spark) {
      val r = Pipeline.run(spark, s"$base/RD*.dbc", lake)
      r.summary.collect()
      r.perTable.collect()
    }
    val all = plans.flatMap(ExecutedPlans.nodes)
    // every scan partition is one file, so the partition columns arrive
    // sorted: a local sort in front of the writer is pure waste
    val writes = plans.filter(ExecutedPlans.nodes(_).exists(_.isInstanceOf[WriteFilesExec]))
    assert(writes.size == 1, s"expected one lake write, got:\n${plans.mkString("\n")}")
    assert(!ExecutedPlans.nodes(writes.head).exists(_.isInstanceOf[SortExec]),
      s"the lake write sorts:\n${writes.head}")
    // the write stage only converts the scan's wide rows: fused into one
    // generated loop it is a method the JIT takes tens of seconds to compile
    assert(!ExecutedPlans.nodes(writes.head).exists(_.isInstanceOf[WholeStageCodegenExec]),
      s"the lake write runs a fused stage:\n${writes.head}")
    // the name columns come from the scan, once per file
    val parses = all.flatMap(_.expressions).flatMap(_.collect {
      case e: RegExpExtract => e
      case e: StringSplit => e
    })
    assert(parses.isEmpty, s"per-row file-name parsing: ${parses.mkString(", ")}")
    val lakeScans = all.collect {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toString.contains(lake)) => s
    }
    assert(lakeScans.size == 1, s"the report scans the lake ${lakeScans.size} times")
  }
}


/** The executed plans of every query `body` runs in the session,
  * collected through a QueryExecutionListener. */
object ExecutedPlans {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.util.QueryExecutionListener

  def of(spark: SparkSession)(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    spark.listenerManager.register(l)
    try { body; org.apache.spark.ListenerBusAccess.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    scala.jdk.CollectionConverters.CollectionHasAsScala(plans).asScala.toSeq
  }

  /** Every node of an executed plan, through AQE's wrappers. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes)
  })
}
