package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.{InitCap, Lower, Upper}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}

/** Catalog-wide plan-shape gate (VERDICT r13 next-round #8): the
  * per-batch PlanSpec pins each new operator's shape, but nothing
  * re-checked OLD queries as the optimizer, the operators, or Spark
  * itself moved. This sweep walks EVERY declared query's plan at the
  * smallest SF and asserts the two scale invariants the repo's designs
  * rely on, so future operators inherit the gate automatically:
  *
  *  1. no CartesianProductExec anywhere (every intentional crossJoin in
  *     the codebase is against a broadcast 1-row aggregate, which plans
  *     as BroadcastNestedLoopJoin, never CartesianProduct);
  *  2. every UNKEYED window (empty PARTITION BY — a single-task sort at
  *     execution) rides an input that is provably bounded: its subtree
  *     must contain an Aggregate / GlobalLimit / LocalRelation, i.e. a
  *     distinct-value grid, a top-k, or a literal table — never raw
  *     data rows (the percent-rank/ksDrift class of scale-killer);
  *  3. no Spark `Lower`, `Upper` or `InitCap` anywhere in the optimized
  *     plan, its subqueries, higher-order-function lambdas or cached
  *     relations: graft case-maps through `graft.functions.CaseMap`,
  *     because the first Spark case mapping in a JVM builds ICU's
  *     title-case table for every code point (seconds of a cold query).
  */
class CatalogPlanSweepSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Simple class names of Spark's case-mapping expressions in `plan`:
    * in every node's expressions (lambdas are children, so they are
    * searched too), in subqueries and in the plans of cached relations. */
  private def sparkCaseMappings(plan: QueryPlan[_]): Seq[String] = {
    val nodes: Seq[QueryPlan[_]] = plan match {
      case p: LogicalPlan => p.collectWithSubqueries { case n => n }
      case p: SparkPlan => p.collectWithSubqueries { case n => n }
    }
    nodes.flatMap { n =>
      n.expressions.flatMap(_.collect {
        case e @ (_: Lower | _: Upper | _: InitCap) => e.getClass.getSimpleName
      }) ++ (n match {
        case r: InMemoryRelation => sparkCaseMappings(r.cacheBuilder.cachedPlan)
        case s: InMemoryTableScanExec => sparkCaseMappings(s.relation.cacheBuilder.cachedPlan)
        case _ => Nil
      })
    }
  }

  test("all catalog plans: no cartesian product, unkeyed windows only " +
      "over bounded (aggregated/limited/literal) inputs") {
    assume(new java.io.File(s"$sfDir/lineitem.parquet").exists(),
      s"driver testdata missing at $sfDir")
    val violations = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val vs =
          try {
            val df = fn(spark, sfDir)
            val physical = df.queryExecution.executedPlan.toString
            val cart =
              if (physical.contains("CartesianProduct"))
                Seq(s"$name: CartesianProduct in physical plan")
              else Nil
            val rawUnkeyed = df.queryExecution.optimizedPlan.collect {
              case w: Window if w.partitionSpec.isEmpty &&
                  !w.child.exists {
                    case _: Aggregate | _: GlobalLimit |
                        _: LocalRelation => true
                    case _ => false
                  } =>
                s"$name: unkeyed Window over un-aggregated input " +
                  s"(${w.windowExpressions.map(_.name).mkString(",")})"
            }
            val caseMaps = sparkCaseMappings(df.queryExecution.optimizedPlan)
              .distinct.map(c => s"$name: Spark's $c in the plan " +
                "(case-map through graft.functions.CaseMap)")
            cart ++ rawUnkeyed ++ caseMaps
          } catch {
            case e: Throwable =>
              Seq(s"$name: plan construction failed: " +
                s"${e.getClass.getSimpleName}: " +
                String.valueOf(e.getMessage).take(200))
          }
        // release operator-internal persists between queries (the
        // CatalogSelfCheckSpec hygiene)
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(false))
        vs
    }
    assert(violations.isEmpty,
      s"\n${violations.size} plan-shape violations:\n" +
        violations.mkString("\n"))
  }

  /** Adjudicated >2-scan plans (each entry documents WHY the repeated
    * scan is the intended design, not the q184/ksFromCounts bug class
    * of an unpersisted grid scanned twice by accident).
    *
    * The adjudication line: the bug class re-derives an AGGREGATION
    * (corpus work repeated); these entries re-read a column-pruned LEAF
    * scan k times, where k is bounded by the operator's arity (funnel
    * steps, ranker count, statistic branches). k pruned parquet reads
    * of 1-3 columns stream at scan bandwidth with pushdown; persisting
    * the corpus to dodge them costs one full materialization write +
    * storage for comparable read volume, and only pays off when the
    * cached frame is reused beyond the query. Queries that DID hide
    * re-derived aggregates behind this pattern were fixed when the
    * detector landed (r16): waterFillAllocation (q152, was 12 corpus
    * re-aggregations), nbConfusion/nbClassify (q118, was 11). */
  private val multiScanAllowList: Map[String, String] = Map(
    "q39_region_join_grouped" -> ("3 pruned scans: both grouped-join " +
      "sides + the count branch read disjoint column sets"),
    "q46_domain_mix" -> ("3 pruned scans: per-domain counts, global " +
      "total, and the mix selection read (source, n_chars) only"),
    "q48_pipeline_e2e" -> ("9 pruned scans BY DESIGN: the end-to-end " +
      "demo chains stage operators unfused to exercise the public API " +
      "surface; a production pipeline persists between stages"),
    "q55_paragraph_dedup" -> ("3 pruned scans: paragraph explode, " +
      "doc-frequency census, and survivor re-join each read (id, text)"),
    "q60_exact_substr_dedup" -> ("3 pruned scans: window build, " +
      "duplicate census, and span re-join (the operator's documented " +
      "three-pass shape; spans are per-doc bounded)"),
    "q63_bm25" -> ("4 pruned scans: tf, df, doc-length and doc-count " +
      "branches each read (id, text)/(id) — the classic BM25 shape"),
    "q74_funnel" -> ("6 pruned scans: one per funnel step, each pushed " +
      "down to (user, type, ts) with a step predicate"),
    "q80_temperature_mix" -> ("3 pruned scans: per-source counts, " +
      "temperature weights, and the allocation join"),
    "q81_global_line_dedup" -> ("3 pruned scans: line explode, global " +
      "line census, re-join — the documented global-dedup shape"),
    "q83_collocations_pmi" -> ("4 pruned scans: bigram counts, both " +
      "unigram marginals, and the corpus total"),
    "q87_tfidf_keywords" -> "3 pruned scans: tf, df, and doc count",
    "q90_funnel_latency" -> ("6 pruned scans: one per funnel step (the " +
      "q74 shape) + latency pairing"),
    "q131_boilerplate_removal" -> ("3 pruned scans: line census, " +
      "boilerplate flag, survivor reassembly"),
    "q137_rrf_fusion" -> ("8 pruned scans: four rankers x (score + " +
      "rank) branches, each reading 2 columns; ranker count is the " +
      "operator arity, not data-driven"),
    "q163_mad_outliers" -> ("4 pruned scans: median pass, deviation " +
      "pass, outlier flag, and census over (key, value)"),
    "q168_neyman_allocation" -> ("4 pruned scans: per-stratum mean/var " +
      "branches + allocation over (source, n_chars)"),
    "q180_corpus_growth" -> ("3 pruned scans: per-day new/cumulative/" +
      "total branches over (ts, id)"),
    "q186_label_agreement" -> ("4 pruned scans: per-rater marginals + " +
      "joint grid over (id, label) pairs"),
    "q202_join_size_probe" -> ("4 pruned scans: the probe DELIBERATELY " +
      "compares estimated vs actual join sizes from separate branches"))

  test("double-scan detector: no catalog plan reads the same parquet " +
      "relation >2x without exchange/cache reuse (the q184 bug class)") {
    assume(new java.io.File(s"$sfDir/lineitem.parquet").exists(),
      s"driver testdata missing at $sfDir")
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val violations = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val vs =
          try {
            val df = fn(spark, sfDir)
            val scanCounts = df.queryExecution.optimizedPlan.collect {
              case lr: LogicalRelation => lr.relation match {
                case fs: HadoopFsRelation =>
                  fs.location.rootPaths.mkString(",")
                case _ => "non-fs-relation"
              }
            }.groupBy(identity).view.mapValues(_.size)
            val over = scanCounts.filter(_._2 > 2)
            if (over.isEmpty || multiScanAllowList.contains(name)) Nil
            else {
              // physical-level reuse forgives the logical repetition
              val physical = df.queryExecution.executedPlan.toString
              if (physical.contains("ReusedExchange") ||
                physical.contains("InMemoryTableScan")) Nil
              else over.map { case (path, n) =>
                s"$name: $n scans of $path with no ReusedExchange/" +
                  "InMemoryRelation — persist the shared frame or " +
                  "adjudicate in multiScanAllowList"
              }.toSeq
            }
          } catch {
            case e: Throwable =>
              Seq(s"$name: plan construction failed: " +
                s"${e.getClass.getSimpleName}: " +
                String.valueOf(e.getMessage).take(200))
          }
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(false))
        vs
    }
    assert(violations.isEmpty,
      s"\n${violations.size} double-scan violations:\n" +
        violations.mkString("\n"))
  }
}
