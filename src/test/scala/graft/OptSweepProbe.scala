package graft

import graft.metrics.JobGroupCollector

/** Optimization harness: one measurement row per declared query — wall
  * (2nd pass, warm) split into construct (driver-side frame building,
  * incl. any eager jobs) and exec (noop-sink execution) time, task/stage
  * counts, shuffle read/write bytes, input bytes, spill, peak task memory
  * — plus the `explain("formatted")` text of every query, dumped to
  * files. The byte and count columns are free of host noise (identical
  * across reps on one build for most queries), so before/after
  * optimization evidence reads from THEM; walls are corroboration only
  * (they have moved ±2× run-to-run on identical code). Where AQE
  * re-plans by stage-completion timing the counts move too (measured:
  * dedup_clusters, pipeline_curate_full) — compare the set of states
  * over repeated interleaved runs there. A query that throws reports
  * `"status":"error"` and no time.
  *
  * Usage: Test/runMain graft.OptSweepProbe <out.jsonl> <plansDir>
  *          [dataDir] [q1,q2,...]
  * Output: one JSON line per query + `<plansDir>/<query>.txt`. */
object OptSweepProbe {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/optsweep.jsonl")
    val plansDir = if (args.length > 1) args(1) else "/tmp/optsweep_plans"
    val dir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val subset = if (args.length > 3)
      Some(args(3).split(",").map(_.trim).filter(_.nonEmpty).toSet) else None
    new java.io.File(plansDir).mkdirs()

    val spark = Tables.configure(org.apache.spark.sql.SparkSession.builder()
      .master("local[32]").config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val collector = JobGroupCollector.attach(spark)

    // warm the session the way Bench does
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, dir).limit(1).collect()

    val w = new java.io.PrintWriter(out)
    val selected = subset.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (k, _) => names(k) })
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // formatted plan of a FRESH frame (pre-execution, AQE initial)
      try {
        val plan = fn(spark, dir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        val pw = new java.io.PrintWriter(s"$plansDir/$name.txt")
        try pw.println(plan) finally pw.close()
      } catch { case e: Throwable =>
        System.err.println(s"[optsweep] $name explain failed: ${e.getMessage}")
      }
      collector.run(s"$name#warm")(fn(spark, dir))
      val r = collector.run(name)(fn(spark, dir))
      r.error.foreach(e => System.err.println(s"[optsweep] $name failed: ${e.getMessage}"))
      def num(x: Option[Double]): String = x.fold("null")(v => f"$v%.3f")
      val s = r.totals
      w.println(s"""{"q":"$name","status":"${r.status}","wall":${num(r.wallSec)},""" +
        s""""construct_ms":${num(r.constructMs)},"exec_ms":${num(r.execMs)},""" +
        s""""tasks":${s.tasks},"stages":${r.stages.size},"sw":${s.shuffleWriteBytes},""" +
        s""""sr":${s.shuffleReadBytes},"in":${s.inputBytes},"spill":${s.spillBytes},""" +
        s""""peak":${s.peakTaskMemory}}""")
      w.flush()
    }
    w.close()
    collector.close()
    spark.stop()
  }
}
