package graft
import graft.metrics.{HostLoad, JobGroupCollector, LabeledRun}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR through [[JobGroupCollector.run]] (a noop write
  * materializes the query fully — count() would let Catalyst prune most
  * of the work) and prints the full JSON record with per-query seconds,
  * then a compact `"metric":"summary"` line as the LAST stdout line.
  * Queries that threw are listed under `"failed"`, outside `queries`
  * and `total`. The per-run result file also holds, under `"detail"`,
  * each query's min-wall pass: construct/exec ms, stages, tasks,
  * shuffle read/write and input bytes. */
object Bench {
  /** 1-minute load average and the number of OTHER JVMs running — a
    * contended host inflates results 3-6x (the r2 driver reading was 4x
    * a solo run of the same build), so the load state is recorded next
    * to the numbers and a loud warning goes to stderr when the host is
    * not quiet. Ancestor JVMs (the sbt process that forked this run —
    * `run / fork := true`) are excluded: they are part of THIS
    * invocation, not foreign load, and counting them made every
    * sbt-driven sweep read "1 other JVM" regardless of host state. */
  private def loadState(): (Double, Int) = HostLoad.state()

  /** Per-query trailing solo record, read from the newest
    * BENCH_SOLO_r*.json next to the working directory (or the file named
    * by SPARK_GRAFT_SOLO_BASELINE). Used only as a noise tripwire: a
    * query whose min-of-2 exceeds 3x its trailing solo time gets extra
    * reruns, because that magnitude of delta is host contention, not a
    * code change (r13 and r14 both carried 9-29x in-sweep outliers that
    * a later solo run put back at 1x). */
  private def soloBaselinePath(): Option[java.nio.file.Path] = {
    import java.nio.file.{Files, Paths}
    val explicit = sys.env.get("SPARK_GRAFT_SOLO_BASELINE").map(Paths.get(_))
    explicit.orElse {
      val dir = Paths.get(".")
      val rx = """BENCH_SOLO_r(\d+)\.json""".r
      try {
        val listing = Files.list(dir) // requires close — directory handle
        try listing.iterator().asScala
          .flatMap { p =>
            p.getFileName.toString match {
              case rx(n) => Some((n.toInt, p)); case _ => None
            }
          }.toSeq.sortBy(-_._1).headOption.map(_._2)
        finally listing.close()
      } catch { case _: Exception => None }
    }.filter(Files.exists(_))
  }

  private def soloBaseline(): Map[String, Double] =
    soloBaselinePath().map { path =>
      try {
        import org.json4s._
        import org.json4s.jackson.JsonMethods
        val root = JsonMethods.parse(java.nio.file.Files.readString(path))
        (root \ "queries") match {
          case JObject(fields) => fields.collect {
            case (k, JDouble(v)) => k -> v
            case (k, JInt(v)) => k -> v.toDouble
            case (k, JDecimal(v)) => k -> v.toDouble
          }.toMap
          case _ => Map.empty[String, Double]
        }
      } catch { case e: Exception =>
        System.err.println(s"[bench] baseline $path unreadable: ${e.getMessage}")
        Map.empty[String, Double]
      }
    }.getOrElse(Map.empty)

  /** The trailing solo record SUMMARY, embedded into this run's JSON
    * (r20, ending the headline-file asterisk: five rounds of in-sweep
    * records were contended, and the canonical quiet number lived only
    * in a sibling file a reader had to know to open). */
  private def soloRecordJson(): String =
    soloBaselinePath().flatMap { path =>
      try {
        import org.json4s._
        import org.json4s.jackson.JsonMethods
        val root = JsonMethods.parse(java.nio.file.Files.readString(path))
        def num(v: JValue): Option[Double] = v match {
          case JDouble(d) => Some(d)
          case JInt(i) => Some(i.toDouble)
          case JDecimal(d) => Some(d.toDouble)
          case _ => None
        }
        num(root \ "value").map { total =>
          val contended = (root \ "contended") match {
            case JBool(b) => b.toString; case _ => "null"
          }
          val load = num(root \ "loadavg_start").map(l => f"$l%.2f").getOrElse("null")
          s""","solo":{"file":"${path.getFileName}","value":$total,""" +
            s""""contended":$contended,"loadavg_start":$load}"""
        }
      } catch { case _: Exception => None }
    }.getOrElse("")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val (loadavg, otherJvms) = loadState()
    // The sweep is contended when the host is busy just before the
    // session starts ([[HostLoad.busy]]: busy-CPU share over ~1 s, or
    // ANY foreign JVM). Not the start loadavg: its 1-minute window still
    // holds the previous Bench run's own local[32] burst, so
    // back-to-back runs (the interleaved A/B protocol) flagged each
    // other. A SOLO RECORD run (SPARK_GRAFT_SOLO_RECORD=1) also holds
    // the stricter r19-verdict bar: loadavg_start must be under 1.0 —
    // the r19 solo record started at loadavg 2.13 under a lenient bar
    // and carried 11 >=1.3x regressions on untouched code.
    val busyShare = HostLoad.busyShare()
    val soloRecord = sys.env.get("SPARK_GRAFT_SOLO_RECORD").contains("1")
    val hotStart = HostLoad.busy(busyShare, otherJvms) || (soloRecord && loadavg >= 1.0)
    if (hotStart)
      System.err.println(f"[bench] WARNING: contended host (busy share=$busyShare%.2f, " +
        f"loadavg=$loadavg%.1f, other JVMs=$otherJvms) — numbers will NOT reflect this build; rerun solo")
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM (codegen, parquet footer paths) outside the measurement.
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir).limit(1).collect()

    // two passes per query, report the min: pass 1 pays codegen compile
    // and page-cache warmup, pass 2 approximates steady-state throughput
    // (what a long-running cluster job sees). A pass that throws has no
    // time: the query is listed under "failed", never timed. Every pass
    // starts from an empty cache: a query that persists frames and never
    // releases them (pipeline_curate_full's four boundaries) would
    // otherwise time a partial cache hit in pass 2. Each pass's wall,
    // task count and input bytes go to stderr, so a cache hit shows.
    val collector = JobGroupCollector.attach(spark)
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[LabeledRun] = {
      spark.catalog.clearCache()
      val r = collector.run(name)(fn(spark, sfDir))
      r.error.foreach(e => System.err.println(s"[bench] $name failed: ${e.getMessage}"))
      System.err.println(s"[bench] $name pass: wall_s=${r.wallSec.fold("null")(v => f"$v%.3f")} " +
        s"tasks=${r.totals.tasks} input_bytes=${r.totals.inputBytes}")
      r.wallSec.map(_ => r)
    }
    // SPARK_GRAFT_QUERIES=a,b,c restricts the run to a subset — for
    // timing one query's change without paying the full sweep.
    val subset = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    subset.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        System.err.println(
          s"[bench] WARNING: unknown queries ignored: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val selected = subset.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (k, _) => names(k) })
    val baseline = soloBaseline()
    if (baseline.nonEmpty)
      System.err.println(s"[bench] rerun tripwire armed: ${baseline.size} trailing solo times")
    // Per-query contention defense: min-of-2 as before, then if the min
    // still exceeds 3x the trailing solo record, the burst likely spanned
    // both passes — take up to 2 extra runs. Reruns are annotated in the
    // JSON so a reader can tell a defended number from a clean one.
    val reruns = scala.collection.mutable.LinkedHashMap[String, Int]()
    val suspects = scala.collection.mutable.ListBuffer[String]()
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      var best = for (a <- once(name, fn); b <- once(name, fn))
        yield Seq(a, b).minBy(_.wallSec.get)
      baseline.get(name).filter(_ > 0).foreach { solo =>
        var extra = 0
        while (best.exists(_.wallSec.get > 3 * solo) && extra < 2) {
          extra += 1
          best = for (b <- best; r <- once(name, fn)) yield Seq(b, r).minBy(_.wallSec.get)
        }
        if (extra > 0) reruns(name) = extra
        if (best.exists(_.wallSec.get > 3 * solo)) suspects += name
      }
      name -> best
    }
    val bestRuns = results.collect { case (k, Some(r)) => k -> r }
    val timed = bestRuns.map { case (k, r) => k -> r.wallSec.get }
    val failed = results.collect { case (k, None) => k }
    val qs = timed.map { case (k, v) => "\"" + k + f"""":$v%.3f""" }
      .mkString("{", ",", "}")
    val total = timed.map(_._2).sum
    val (loadEnd, jvmsEnd) = loadState()
    // The contention verdict goes INTO the record, not just stderr: a
    // reader of the JSON alone (the round judge) must see whether the
    // host was quiet. r13's official sweep carried 9x host-noise
    // outliers that only the stderr warning and a later solo re-run
    // exposed. The verdict reads the START busy share plus the other-JVM
    // count at BOTH endpoints — the end loadavg is dominated by this
    // run's own local[32] burst and would self-flag every sweep (it
    // stays in the record as data, not as a verdict input).
    // Any query that stayed >3x its trailing solo record even after
    // reruns is itself evidence of contention (or a real regression —
    // either way the sweep is not a trustworthy absolute record).
    val contended = hotStart || jvmsEnd > 0 || suspects.nonEmpty
    val warn =
      if (contended)
        f""","warning":"contended host (busy share $busyShare%.2f, loadavg $loadavg%.1f->$loadEnd%.1f, other JVMs $otherJvms->$jvmsEnd, unresolved >3x-vs-solo: ${suspects.size}): timings inflated, compare against a solo run""""
      else ""
    val rerunJson =
      if (reruns.isEmpty) ""
      else reruns.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString(""","reruns":{""", ",", "}")
    def names(key: String, xs: Seq[String]): String =
      if (xs.isEmpty) "" else xs.map("\"" + _ + "\"").mkString(s""","$key":[""", ",", "]")
    val record = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","loadavg_start":$loadavg%.2f,"busy_share_start":$busyShare%.2f,"loadavg_end":$loadEnd%.2f,"other_jvms_start":$otherJvms,"other_jvms_end":$jvmsEnd,"contended":$contended$rerunJson${names("suspect", suspects.toSeq)}${names("failed", failed)}$warn${soloRecordJson()}}"""
    println(record)
    // The full record is ~7 KB for 181 queries, and a reader that keeps
    // only a 2000-char tail of stdout truncates it mid-object. So the
    // full record is ALSO written to a per-run file (overlapping runs
    // never clobber each other), and stdout ENDS with a compact summary
    // line (<500 bytes, "metric":"summary") naming that file.
    val detail = bestRuns.map { case (k, r) =>
      val t = r.totals
      f""""$k":{"construct_ms":${r.constructMs.get}%.1f,"exec_ms":${r.execMs.get}%.1f,""" +
        s""""stages":${r.stages.size},"tasks":${t.tasks},"shuffle_read":${t.shuffleReadBytes},""" +
        s""""shuffle_write":${t.shuffleWriteBytes},"input_bytes":${t.inputBytes}}"""
    }.mkString("{", ",", "}")
    val resultFile = sys.env.getOrElse("SPARK_GRAFT_RESULT_FILE",
      s"BENCH_RESULT_${ProcessHandle.current().pid()}.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(resultFile),
      record.stripSuffix("}") + s""","detail":$detail}""" + "\n")
    catch { case e: Exception =>
      System.err.println(s"[bench] result-file write failed: ${e.getMessage}")
    }
    collector.close()
    println(f"""{"metric":"summary","value":$total%.3f,"unit":"sec","n_queries":${timed.size},"n_failed":${failed.size},"sf":"$sfDir","cpus":"$cpus","contended":$contended,"result_file":"$resultFile"}""")
    spark.stop()
  }
}
