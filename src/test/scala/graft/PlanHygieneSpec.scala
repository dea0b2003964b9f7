package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.operators.{Relational, Settings, TextOps}

/** Plan-hygiene regression guards: the properties that make these plans
  * survive a 100× scale-up are asserted on the EXECUTED physical plans,
  * not just eyeballed in `.explain` — filter pushdown reaching the
  * parquet scan, column pruning in `ReadSchema`, whole-stage codegen on
  * the hot column paths, broadcast only on provably-small sides, and the
  * SHUFFLE_HASH pin on corpus-scaled join sides. A regression in any of
  * these (a refactor that caches too early, a new column that defeats
  * pruning, a hint that stops resolving) fails here instead of surfacing
  * as a 100 TB incident. */
class PlanHygieneSpec extends SparkSuite {

  /** Flatten the executed plan, descending through AQE wrappers (which
    * are leaves to a plain traversal — see `Bucketing.shuffleFree`). */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec => flatten(q.plan)
    case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      m +: flatten(m.relation.cachedPlan)
    case other => other +: other.children.flatMap(flatten)
  }

  /** Execute and return the final plan nodes (AQE needs the run to have
    * happened for `executedPlan` to be the real one). */
  private def ranPlan(df: DataFrame): Seq[SparkPlan] = {
    df.count()
    flatten(df.queryExecution.executedPlan)
  }

  private def scans(nodes: Seq[SparkPlan]): Seq[FileSourceScanExec] =
    nodes.collect { case f: FileSourceScanExec => f }

  test("f1 range filter: predicates are pushed to the parquet scan") {
    val nodes = ranPlan(Relational.f1RangeFilter(spark, sf))
    val sc = scans(nodes)
    assert(sc.nonEmpty, "expected a FileSourceScanExec leaf")
    val pushed = sc.map(_.metadata.getOrElse("PushedFilters", "[]"))
    // both the timestamp range and the discount gate reach the reader
    assert(pushed.exists(p =>
      p.contains("GreaterThanOrEqual(l_shipdate") &&
        p.contains("LessThan(l_shipdate") &&
        p.contains("GreaterThan(l_discount")),
      s"pushed filters were: $pushed")
  }

  test("t2 token stats: scan reads only the projected columns") {
    val nodes = ranPlan(TextOps.t2TokenStats(spark, sf))
    // documents carries more columns (source, lang, ...); the 2-column
    // projection must prune them out of the read itself. At bench SFs
    // the corpus scan is the session-pinned spread relation
    // (Tables.spreadCached — full width by construction, shared by
    // every t-query), so the pruning boundary is the IN-MEMORY scan's
    // output; on a real multi-split layout the spread is a no-op and
    // the pruning lands in the parquet ReadSchema as before. Assert
    // whichever leaf feeds the query.
    val parquetPruned = scans(nodes)
      .map(_.metadata.getOrElse("ReadSchema", ""))
      .exists(s => s.contains("doc_id") && s.contains("text") &&
        !s.contains("source") && !s.contains("lang"))
    val cachedPruned = nodes.collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        m.output.map(_.name)
    }.exists(cols => cols.contains("doc_id") && cols.contains("text") &&
      !cols.contains("source") && !cols.contains("lang"))
    assert(parquetPruned || cachedPruned,
      s"neither the parquet ReadSchema nor the cache-scan output is " +
        s"pruned: ${nodes.map(_.nodeName).distinct}")
  }

  test("a1 grouped agg: lineitem scan is column-pruned") {
    val nodes = ranPlan(Relational.a1GroupedAgg(spark, sf))
    val schemas = scans(nodes).map(_.metadata.getOrElse("ReadSchema", ""))
    assert(schemas.exists(s => !s.contains("l_comment")),
      s"l_comment (widest column) must not be scanned: $schemas")
  }

  test("hot column paths run inside whole-stage codegen") {
    // quality scoring is pure column math — the whole thing should sit
    // in codegen'd stages (a UDF or non-codegen Expression would break
    // the span and show up as a plan-shape change here)
    val nodes = ranPlan(TextOps.t3QualityScore(spark, sf))
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]),
      s"no codegen stage in: ${nodes.map(_.nodeName).distinct}")
  }

  test("j1: the dimension side broadcasts, the fact join does not") {
    val nodes = ranPlan(Relational.j1InnerJoin(spark, sf))
    val s = nodes.map(_.nodeName)
    assert(s.exists(_.contains("BroadcastHashJoin")),
      s"customer (dim) should broadcast: ${s.distinct}")
  }

  test("k5 instance registry: allocation window input is pre-aggregated") {
    val nodes = ranPlan(Settings.k5InstanceCreate(spark, sf))
    // the single-partition window is fed by the firsts-join (one row per
    // user), never by the raw events relation: there must be an
    // aggregate below the window in the same plan
    val windowIdx = nodes.indexWhere(_.nodeName.contains("Window"))
    assert(windowIdx >= 0)
    assert(nodes.drop(windowIdx).exists(_.nodeName.contains("Aggregate")),
      "window must sit above the per-user first-event aggregation")
  }

  test("t14 decontamination: the eval set is the broadcast side") {
    val nodes = ranPlan(TextOps.t14Decontaminate(spark, sf))
    val names = nodes.map(_.nodeName)
    assert(names.exists(_.contains("BroadcastHashJoin")),
      s"eval trigrams should broadcast: ${names.distinct}")
  }

  test("runtime bloom-filter pruning injects on a selective fact join") {
    // The 100 TB lever for selective fact⋈fact joins that cannot
    // broadcast: Spark's runtime row-level filtering builds a bloom
    // filter from the filtered (creation) side and applies it inside
    // the probe side's scan stage, cutting shuffle input before the
    // join. Thresholds here only neutralize the size heuristics that
    // tiny test data would otherwise fail — the injected shape is the
    // same one a real cluster produces.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.lineitem(spark, sf)
      val ord = Tables.orders(spark, sf)
        .filter(org.apache.spark.sql.functions.col("o_orderpriority")
          === "1-URGENT")
      val j = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      val optimized = j.queryExecution.optimizedPlan.toString
      assert(optimized.contains("bloom_filter") ||
        optimized.contains("BloomFilter"),
        s"runtime bloom filter not injected:\n${optimized.take(2000)}")
      // and it still returns the right rows with the filter active
      val expect = li.join(ord.hint("SHUFFLE_HASH"),
        li("l_orderkey") === ord("o_orderkey")).count()
      assert(j.count() == expect)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("e10 persisted IVF: probes dynamically prune the list scan, " +
    "results equal the in-memory e5 pipeline") {
    import graft.operators.Similarity
    val e10 = Similarity.e10IvfPersisted(spark, sf)
    val e5 = Similarity.e5IvfAnn(spark, sf)
    assert(e10.exceptAll(e5).count() == 0 && e5.exceptAll(e10).count() == 0)
    // the inverted-list scan must carry a dynamic-pruning partition
    // filter (probe side broadcasts → DPP), so only probed centroid
    // directories are read
    val nodes = ranPlan(Similarity.e10IvfPersisted(spark, sf))
    val listScan = scans(nodes).find(
      _.relation.location.rootPaths.head.toString.contains("ivfindex"))
    assert(listScan.isDefined, "inverted-list parquet scan not found")
    assert(listScan.get.partitionFilters.exists(
      _.toString.contains("dynamicpruning")),
      s"no DPP filter on list scan: ${listScan.get.partitionFilters}")
  }

  test("output contract: every driver query emits only harness-" +
    "hashable scalar columns") {
    // The driver's correctness harness canonicalizes results via
    // pandas sort+hash, which chokes on nested (array/struct/map) and
    // decimal128 physical columns — exactly how a27 (decimal) and v2
    // (list<string>) shipped value-correct but driver-red in round 6.
    // This guard fails at AUTHORING time instead: every declared
    // query's analyzed output schema must be built from the scalar
    // types the harness hashes. Flatten (array_join / scaled integers
    // / a final double cast) before returning.
    import org.apache.spark.sql.types._
    val allowed: DataType => Boolean = {
      case IntegerType | LongType | DoubleType | StringType |
        BooleanType | TimestampType | DateType => true
      case _ => false
    }
    // the round-6 offenders' exact types must trip the guard — a
    // deliberately decimal- or list-emitting query goes red here
    assert(!allowed(DecimalType(38, 9)) &&
      !allowed(ArrayType(StringType)) &&
      !allowed(MapType(StringType, LongType)) && !allowed(BinaryType))
    val (ran, threw) = PlanSig.everyQuery(spark, sf) { (name, df) =>
      df.schema.fields.toSeq.collect {
        case f if !allowed(f.dataType) =>
          s"$name.${f.name}: ${f.dataType.simpleString}"
      }
    }
    val offenders = ran.flatMap(_._2)
    if (threw.nonEmpty || offenders.nonEmpty) fail(
      s"threw (${threw.size}):\n${threw.mkString("\n")}\n" +
        s"non-hashable output columns:\n${offenders.mkString("\n")}")
  }

  test("no query plans a CartesianProduct, and every " +
    "BroadcastNestedLoopJoin builds from a provably-bounded side") {
    // The join-shape tripwire: an equi-condition that stops resolving
    // (a renamed column, a type mismatch Catalyst can't equate) turns
    // a hash join into a nested-loop/cartesian silently — fine at
    // sf0.001, fatal at 100 TB. Checked on the STATIC physical plan
    // (no execution): these shapes arise at planning time, and AQE
    // only ever converts TOWARD hash/broadcast-hash joins.
    //
    // CartesianProduct: forbidden outright, whitelist none.
    // BroadcastNestedLoopJoin: the repo's scalar-composition idiom
    // (crossJoin a keyless-aggregate total, a driver-built query
    // vector, a k-row model) IS a BNLJ and is O(n) — legal exactly
    // when the BUILD side is structurally bounded: its subtree is
    // capped by a grouping-keyless aggregate (≤1 row), a limit, or a
    // driver-local relation. A BNLJ whose build side is a raw scan
    // (corpus-scaled) fails here.
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.joins._
    def bounded(p: SparkPlan): Boolean = p match {
      case a: aggregate.BaseAggregateExec =>
        a.groupingExpressions.isEmpty || p.children.forall(bounded)
      case _: LocalTableScanExec => true
      case l: GlobalLimitExec => l.limit <= 100000
      case l: LocalLimitExec => l.limit <= 100000
      case _: TakeOrderedAndProjectExec => true
      case m: columnar.InMemoryTableScanExec =>
        bounded(m.relation.cachedPlan)
      // a reused exchange's original occurrence is checked where it
      // was planned
      case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        true
      case other =>
        other.children.nonEmpty && other.children.forall(bounded)
    }
    def loops(p: SparkPlan): Seq[String] = p.collect {
      case c: CartesianProductExec => Seq("CartesianProduct")
      case b: BroadcastNestedLoopJoinExec =>
        val build = b.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft =>
            b.left
          case _ => b.right
        }
        if (bounded(build)) Nil
        else Seq(s"BNLJ(unbounded build: ${build.nodeName})")
    }.flatten
    // Queries whose BNLJ build side is bounded by the DATA CONTRACT
    // rather than plan structure — audited one by one (round 8), every
    // one a documented-boundedness class (the a8 rule). The bulk of
    // the original 28 (the e-family probe sets and centroid/codebook
    // models) became STRUCTURALLY bounded by adding limit(k) after
    // their pushed-down key filters; the residue:
    //  - e3/e16/e27/t24: a comparison side derived through joins or
    //    aggregation over the ≤10-row probe set (bounded by
    //    composition, which the checker doesn't chase through joins);
    //  - ts10/ts11/ts16: PSI dimension tables (programs/PIDs — a mux
    //    carries a handful);
    //  - a26/a38/a43/a44: calendar- or cell-grid aggregates
    //    (week/dow/type grids);
    //  - w32: the single candidate median bucket of a bucket-grid
    //    histogram (one row per group by construction).
    // The set is FROZEN: a new query planning an unproven BNLJ — or
    // one of these losing its bound — must be audited here by name.
    val audited = Set(
      "a26_sketch_intersection", "a38_chi2_cells", "a43_runs_test",
      "a44_cramers_v", "e16_matryoshka", "e27_semantic_decontam",
      "e3_cosine_near_dup", "t24_edit_distance",
      "ts10_instance_doc", "ts11_es_proc_doc", "ts16_cbr_plan",
      "w32_purchase_gap")
    val (ran, threw) = PlanSig.everyQuery(spark, sf) { (name, df) =>
      val ls = loops(df.queryExecution.sparkPlan)
      if (ls.exists(_.startsWith("Cartesian")))
        Seq(s"$name: CARTESIAN (never allowed)")
      else if (ls.nonEmpty) Seq(name)
      else Nil
    }
    val flagged = ran.flatMap(_._2)
    // an audited query that could not be planned is reported as thrown,
    // not as having lost its BNLJ
    val unplanned = threw.map(_.takeWhile(_ != ':')).toSet
    val cartesian = flagged.filter(_.contains("CARTESIAN"))
    val unproven = flagged.toSet -- cartesian -- audited
    val gone = audited -- unplanned -- flagged.toSet
    if (threw.nonEmpty || cartesian.nonEmpty || unproven.nonEmpty ||
      gone.nonEmpty) fail(
      s"threw (${threw.size}):\n${threw.mkString("\n")}\n" +
        s"cartesian joins planned:\n${cartesian.mkString("\n")}\n" +
        s"BNLJ audit drift — new unproven: $unproven; " +
        s"no longer planning BNLJ (remove from list): $gone")
    // …and the detector itself must trip on a planted cross join of
    // two raw scans — a vacuously-green guard is no guard
    val planted = Tables.lineitem(spark, sf)
      .crossJoin(Tables.orders(spark, sf))
    assert(loops(planted.queryExecution.sparkPlan).nonEmpty,
      "detector failed to flag a planted scan-x-scan cross join")
  }

  test("t11 composite: corpus-scaled join sides never broadcast") {
    val nodes = ranPlan(TextOps.t11QualityFilter(spark, sf))
    // the LSH loser set scales with the corpus — the anti-join must be
    // a shuffle join (the SHUFFLE_HASH pin), not a driver-built
    // broadcast; dims (none here) are the only legal broadcasts
    val joins = nodes.map(_.nodeName).filter(_.contains("Join"))
    assert(joins.nonEmpty)
    assert(joins.exists(j => j.contains("ShuffledHashJoin") ||
      j.contains("SortMergeJoin")),
      s"anti-join should be shuffle-based, joins were: $joins")
  }
}
