package graft.metrics

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.functions._

/** The job-group collector behind every in-repo harness: a shuffling
  * query must register shuffle bytes under its label, a narrow query
  * must register none, labels must not bleed into each other, the
  * per-stage rows must add up to the group totals, and a failed run must
  * carry no time. */
class JobGroupCollectorSuite extends SparkSuite {

  test("shuffle bytes go to the labeled group only") {
    val collector = JobGroupCollector.attach(spark)
    try {
      val sh = collector.run("probe_shuffle")(Tables.lineitem(spark, sfDir)
        .repartition(4, col("l_orderkey")) // an unconditional exchange
        .groupBy("l_returnflag").agg(sum("l_quantity")))
      val nr = collector.run("probe_narrow")(Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey") + 1))

      // exercise the reflective bus-drain path (exact), not just the
      // settle-polling fallback — and prove reflection resolves on this
      // Spark build rather than silently degrading to the heuristic
      assert(JobGroupCollector.busDrained(spark.sparkContext, 10000),
        "reflective listenerBus.waitUntilEmpty did not engage")
      assert(sh.status == "ok" && sh.wallSec.isDefined)
      assert(sh.totals.shuffleWriteBytes > 0, s"tasks=${sh.totals.tasks}")
      assert(sh.totals.tasks > 0 && sh.totals.inputBytes > 0)
      assert(nr.status == "ok" && nr.totals.tasks > 0)
      assert(nr.totals.shuffleWriteBytes == 0 && nr.totals.shuffleReadBytes == 0,
        s"narrow run shuffled: ${nr.totals.shuffleWriteBytes}")

      // an exchange + agg runs a map stage and a reduce stage at least
      assert(sh.stages.size >= 2, s"stages=${sh.stages.map(_.name)}")
      // the group totals are exactly the per-stage rows folded
      assert(sh.stages.map(_.stageId).distinct.size == sh.stages.size)
      assert(sh.stages.map(_.res.tasks).sum == sh.totals.tasks)
      assert(sh.stages.map(_.res.shuffleWriteBytes).sum == sh.totals.shuffleWriteBytes)
      assert(sh.stages.map(_.res.shuffleReadBytes).sum == sh.totals.shuffleReadBytes)
      assert(sh.stages.map(_.res.inputBytes).sum == sh.totals.inputBytes)
      assert(sh.stages.map(_.res.spillBytes).sum == sh.totals.spillBytes)
      assert(sh.stages.map(_.res.peakTaskMemory).max == sh.totals.peakTaskMemory)
      assert(collector.stages("probe_shuffle") == sh.stages)

      // an unlabeled action lands nowhere (read through the polling
      // fallback, so it is exercised too)
      Tables.region(spark, sfDir).count()
      collector.awaitSettled(300, 10000)
      assert(collector.stages("probe_narrow").map(_.res.tasks).sum == nr.totals.tasks)
    } finally collector.close()
  }

  test("a throwing run reports status error and no time") {
    val collector = JobGroupCollector.attach(spark)
    try {
      // fails while executing (tasks run and die), not while building
      val atExec = collector.run("probe_exec_error")(Tables.lineitem(spark, sfDir)
        .select(raise_error(concat(lit("boom "), col("l_orderkey").cast("string")))))
      val atBuild = collector.run("probe_build_error")(
        throw new IllegalStateException("no frame"))
      for (r <- Seq(atExec, atBuild)) {
        assert(r.status == "error" && r.error.isDefined, r.label)
        assert(r.wallSec.isEmpty && r.constructMs.isEmpty && r.execMs.isEmpty, r.label)
      }
      assert(atBuild.error.get.getMessage == "no frame")
      assert(atBuild.stages.isEmpty)
      assert(intercept[IllegalStateException](atBuild.checked).getMessage == "no frame")
    } finally collector.close()
  }
}
