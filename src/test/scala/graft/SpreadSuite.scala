package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Pins the r20 scale-adaptive spread policy (Tables.spread):
  *  - small/single-file inputs (the fixtures) repartition to
  *    2 × defaultParallelism — the parallelizing exchange the corpus
  *    operators have relied on since r7, now core-derived;
  *  - inputs whose scan is already parallel (estimated tasks ≥ 2×cores)
  *    take NO exchange at all — at 100 TB the round-robin repartition
  *    vanishes instead of capping the plan at a local-mode constant.
  * The second face is driven by shrinking maxPartitionBytes so the SAME
  * fixture file estimates to many scan tasks — the estimator reads the
  * session conf, so this exercises the exact production decision. */
class SpreadSuite extends SparkSuite {

  private def roundRobins(df: org.apache.spark.sql.DataFrame) =
    flattenPlan(df.queryExecution.executedPlan).collect {
      case s: ShuffleExchangeExec
          if s.outputPartitioning.toString.contains("RoundRobin") => s
    }

  test("small input spreads to 2 x defaultParallelism") {
    val df = Tables.documentsSpread(spark, sfDir)
    val rr = roundRobins(df)
    assert(rr.nonEmpty, df.queryExecution.executedPlan.toString.take(2000))
    assert(rr.head.outputPartitioning.numPartitions ==
      2 * spark.sparkContext.defaultParallelism)
  }

  test("already-parallel input takes no exchange") {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "1k") // 64 KB fixture file -> ~64 estimated tasks
      val df = Tables.documentsSpread(spark, sfDir)
      assert(roundRobins(df).isEmpty,
        df.queryExecution.executedPlan.toString.take(2000))
      // results identical on either face
      assert(df.count() == Tables.documents(spark, sfDir).count())
    } finally spark.conf.set(key, prev)
  }

  test("spreadFrame leaves wide frames alone and spreads narrow ones") {
    val narrow = Tables.documents(spark, sfDir) // single file -> 1 partition
    assert(Tables.spreadFrame(narrow).rdd.getNumPartitions ==
      2 * spark.sparkContext.defaultParallelism)
    val wide = narrow.repartition(4 * spark.sparkContext.defaultParallelism)
    assert(Tables.spreadFrame(wide) eq wide)
  }

  test("spreadFrame never launches jobs to size a frame") {
    // The r20 ADVICE trap: df.rdd.getNumPartitions on an AQE plan with
    // shuffle/broadcast lineage EXECUTES the upstream stages just to
    // read a count. The width estimate must stay plan-side.
    import java.util.concurrent.atomic.AtomicInteger
    // frames built BEFORE the listener attaches: read.parquet's schema
    // inference launches its own job, which is not spreadFrame's doing
    val docs = Tables.documents(spark, sfDir)
    // join lineage (the curateFull shape) + shuffle lineage
    val joined = docs.join(docs.select("doc_id").limit(10), Seq("doc_id"), "left_anti")
    val shuffled = docs.repartition(org.apache.spark.sql.functions.col("doc_id"))
    val jobs = new AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    graft.metrics.JobGroupCollector.busDrained(spark.sparkContext, 10000)
    spark.sparkContext.addSparkListener(l)
    try {
      Tables.spreadFrame(joined)
      Tables.spreadFrame(shuffled)
      assert(graft.metrics.JobGroupCollector.busDrained(spark.sparkContext, 10000))
      assert(jobs.get() == 0, s"spreadFrame launched ${jobs.get()} jobs")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("Dedup entry points carry the spread (dedup_minhash, dedup_spans)") {
    // r21: the Dedup family's fixed repartition(64) sites converted to
    // the scale-adaptive spread — on the fixtures the plan must keep the
    // parallelizing round-robin exchange at exactly 2 x cores (the
    // bit-identical local face), and at estimated-parallel inputs the
    // documentsSpread face (pinned above) drops it.
    for (q <- Seq("dedup_minhash", "dedup_spans")) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      val rr = roundRobins(df)
      assert(rr.nonEmpty, s"$q lost its spread exchange")
      assert(rr.head.outputPartitioning.numPartitions ==
        2 * spark.sparkContext.defaultParallelism, s"$q spread width")
    }
  }
}
