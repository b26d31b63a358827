package sidebench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** What one run records: set-up phases, operations, correctness gates,
  * raw timing samples (turned into end-to-end metrics by run.py) and,
  * in trace mode, per-layer values and spans. */
final class Record {
  val setup = mutable.LinkedHashMap.empty[String, Any]
  val samples = mutable.LinkedHashMap.empty[String, Any]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  private val gates = mutable.LinkedHashMap.empty[String, Boolean]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L

  /** Count one operation; a false result or a throw marks it failed. */
  def op(what: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok =
      try body
      catch { case e: Throwable => errors += s"$what: $e"; false }
    if (!ok) { failed += 1; if (errors.size < 20) errors += s"$what failed" }
    ok
  }

  def gate(name: String, ok: Boolean, detail: => String = ""): Unit = {
    gates(name) = gates.getOrElse(name, true) && ok
    if (!ok && errors.size < 20) errors += s"gate $name: $detail"
  }

  def fatal(e: Throwable): Unit = {
    errors += s"fatal: $e"
    gates("completed") = false
  }

  def toJson(extra: Map[String, Any]): String = Json.render(extra ++ Map(
    "setup" -> setup, "samples" -> samples, "layer" -> layer, "info" -> info,
    "gates" -> gates, "errors" -> errors, "attempted" -> attempted, "failed" -> failed))
}

/** Everything a workload needs. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, trace: Boolean,
    cores: Int, work: Path, rec: Record, tracer: Tracer, jobs: Option[JobProbe],
    progress: ProgressLog, home: Path, opts: Map[String, String]) {
  /** Pinned batch_ops digests and the fixture's fitted parameters. */
  def expected: Path = home.resolve("expected_batch_ops.json")
  def fitFile: Path = home.resolve("fixture_fit.json")

  def dir(name: String): String = {
    val d = work.resolve(name)
    Files.createDirectories(d)
    d.toString
  }
}

object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "firehose_live" -> Live.run,
    "batch_ops" -> BatchOps.run,
    "batch_ops_record" -> BatchOps.record,
    "batch_ops_fit" -> BatchOps.fit)

  /** Session for `local[cores]`; every path Spark writes lives under
    * `work` so a run leaves nothing outside its own directory. */
  def session(cores: Int, work: Path): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("sidebench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .config("spark.sql.streaming.checkpointLocation", work.resolve("ckpt-default").toString)
    val s = graft.Tables.configure(graft.engine.QueryCoordinator.configureFair(b)).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val trace = args.get("trace").contains("1")
    val cores = args("cores").toInt
    val work = Paths.get(args("work")).toAbsolutePath
    val out = Paths.get(args("out"))
    Files.createDirectories(work)

    val rec = new Record
    val (load0, jvms0) = graft.metrics.HostLoad.state()
    val gc0 = gcMs()
    val t0 = Clock.ms()
    val spark = session(cores, work)
    rec.setup("session_s") = (Clock.ms() - t0) / 1000.0
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val jobs = if (trace) Some(new JobProbe) else None
    jobs.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(trace)
    val ctx = Ctx(spark, seed, seconds, trace, cores, work, rec, tracer, jobs, progress,
      Paths.get(args.getOrElse("home", "sidebench")).toAbsolutePath, args)
    rec.info("driver_start_ms") = t0
    try run(ctx)
    catch { case e: Throwable => e.printStackTrace(); rec.fatal(e) }
    finally {
      try spark.streams.active.foreach(_.stop()) catch { case _: Exception => () }
      if (trace) {
        rec.layer("jvm.gc_ms") = gcMs() - gc0
        rec.layer("jvm.heap_peak_mb") = heapPeakMb()
      }
      val (load1, jvms1) = graft.metrics.HostLoad.state()
      rec.info ++= Map("foreign_jvms_start" -> jvms0, "foreign_jvms_end" -> jvms1,
        "loadavg_start_jvm" -> load0, "loadavg_end_jvm" -> load1,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0, "driver_end_ms" -> Clock.ms())
      if (trace) Files.writeString(out.resolveSibling("spans.json"), Json.render(tracer.toJson))
      Files.writeString(out, rec.toJson(Map("workload" -> workload, "seed" -> seed,
        "cores" -> cores, "trace" -> trace)))
      try spark.stop() catch { case _: Exception => () }
    }
    System.exit(0)
  }

  def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
  }

  def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  /** Recursively delete a directory (fresh state per run, nothing left behind). */
  def rm(p: Path): Unit =
    if (Files.exists(p)) {
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.forEach(c => rm(c)) finally s.close()
      }
      Files.deleteIfExists(p)
      ()
    }
}
