package graft.tools

/** Scale audit: dumps the formatted physical plan of every registry
  * query and greps for the properties that must hold at 100 TB —
  * parquet filter pushdown, column-pruned ReadSchema, broadcast joins
  * for small dims, TakeOrderedAndProject for top-k, whole-stage codegen
  * coverage. Run: sbt "runMain graft.tools.PlanAudit [sfDir]" */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.SparkEntry.localSession("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // optional name filter: any non-flag arg past the sfDir restricts
    // the audit to the named queries (incremental re-audit after a
    // registry addition)
    val only = args.drop(1).filterNot(_.startsWith("--")).toSet

    // Single-partition-window tripwire (r17): a WindowExec with no
    // partition spec moves ALL rows to one partition — a serialization
    // point at 100 TB unless the input is ledger-sized by construction.
    // Flag every one so the audit doc can whitelist the deliberate
    // (bounded) ones; anything unlisted is a defect.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
      case q: QueryStageExec => p +: flatten(q.plan)
      case _ => p +: p.children.flatMap(flatten)
    }
    val spwQueries = scala.collection.mutable.ArrayBuffer[String]()

    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.contains(n) }
      .foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      // execute this exact plan so AQE finalizes and codegen ids
      // appear (.count()/.write wrap it in a different QueryExecution)
      df.collect()
      val spw = flatten(df.queryExecution.executedPlan).count {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      }
      if (spw > 0) spwQueries += s"$name($spw)"
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val pushed = "PushedFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined
      val bhj = plan.contains("BroadcastHashJoin")
      val smj = plan.contains("SortMergeJoin")
      val topk = plan.contains("TakeOrderedAndProject")
      val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(plan).size
      val codegen = "\\[codegen id : \\d+\\]".r.findAllIn(plan)
        .map(identity).toSet.size
      // runtime-filter markers: join-driven dynamic partition pruning
      // (q82) and the native bloom probe (q65) must be visible in the
      // executed plan — flagged here so the doc carries the evidence
      val dpp = plan.contains("dynamicpruning")
      val bloom = plan.toLowerCase.contains("might_contain")
      val extras = (if (dpp) " dpp=true" else "") +
        (if (bloom) " bloom=true" else "") +
        (if (spw > 0) s" spw=$spw" else "")
      println(f"$name%-24s exchanges=$exchanges%-3d codegenSpans=$codegen%-3d " +
        f"pushdown=$pushed%-5s bhj=$bhj%-5s smj=$smj%-5s topk=$topk$extras")
      if (args.contains("--full")) println(plan)
    }
    println(s"[spw] single-partition windows: " +
      (if (spwQueries.isEmpty) "none"
       else spwQueries.mkString(", ")) +
      " (each must be whitelisted in docs/PLANS.md as ledger-bounded)")
    spark.stop()
  }
}
