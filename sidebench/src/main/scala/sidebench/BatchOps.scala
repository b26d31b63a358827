package sidebench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** batch_ops: one client runs passes over a set of `SparkEntry.queries`,
  * each through a noop write, with the session cache cleared before
  * every query. The seed decides the query order of each pass; the
  * input tables are a fixed fixture generated from parameters fitted to
  * the repository's query fixture (`fixture_fit.json`), so each query's
  * row count and digest are pinned. */
object BatchOps {
  /** The queries of one pass. pipeline_curate_full and dedup_clusters
    * (10-15 s each), ann_ivf_kmeans_topk and dedup_clusters_star (5-6 s
    * each, 6-12 s cold) are left out: on 4 cores their fixed planning
    * and job latency does not fit a run's share of the time budget. */
  val Queries: Seq[String] = Seq("graph_pagerank", "tokenize_bpe_encode",
    "search_tfidf_cosine", "sideline_union_parity")
  val FixtureSeed = 20260101L
  /** Nominal length of one pass on 4 cores; the run length sets the
    * number of timed passes, at least three so every query's median has
    * a middle sample. */
  val NominalPassSeconds = 8.0
  def timedPasses(seconds: Int): Int = math.max(3, math.round(seconds / NominalPassSeconds).toInt)
  /** The fixture tables each query reads. */
  val InputTables: Map[String, Seq[String]] = Map("graph_pagerank" -> Seq("lineitem", "orders"),
    "tokenize_bpe_encode" -> Seq("documents"), "search_tfidf_cosine" -> Seq("documents"),
    "sideline_union_parity" -> Seq("events"))

  final case class Timing(startMs: Double, wallMs: Double, constructMs: Double, execMs: Double,
      cacheAfter: Int)

  def run(ctx: Ctx): Unit = {
    import ctx._
    val stageS = mutable.ArrayBuffer.empty[Double]
    var fixture = ""
    for (r <- 0 until 3) {
      val t0 = Clock.ms()
      fixture = tracer.span("queries", "stage_fixture")(writeFixture(spark, fitFile, dir(s"fixture$r")))
      stageS += (Clock.ms() - t0) / 1000
    }
    rec.setup("stage_s") = stageS.toSeq
    rec.setup("stage_parts") = 1
    val fns = graft.SparkEntry.queries
    val inputRows = Queries.map(q => q -> InputTables(q).map(t =>
      graft.Tables.load(spark, fixture, t).count()).sum).toMap

    // warm-up pass: each query once, checked against its pinned digest
    val expected = readExpected(ctx.expected)
    val w0 = Clock.ms()
    val digests = mutable.LinkedHashMap.empty[String, Map[String, Long]]
    for (name <- Queries) rec.op(s"check_$name") {
      spark.catalog.clearCache()
      val q0 = Clock.ms()
      val d = tracer.span("queries", "digest", name)(digest(fns(name)(spark, fixture)))
      rec.info(s"warmup_ms.$name") = Clock.ms() - q0
      digests(name) = d
      val ok = expected.get(name).contains(d)
      rec.gate("batch_digest", ok, s"$name digest $d expected ${expected.get(name)}")
      ok
    }
    rec.setup("warmup_s") = (Clock.ms() - w0) / 1000
    rec.info("digests") = digests

    // timed passes: a fixed number for the run length. The passes keep
    // getting faster for a while after warm-up, so a count that followed
    // the host's speed would also change which passes the medians see
    val rnd = new SplittableRandom(seed)
    val passes = mutable.ArrayBuffer.empty[(Double, Boolean, Map[String, Timing])]
    val t0 = Clock.ms()
    for (p <- 0 until timedPasses(seconds)) {
      val order = shuffle(Queries, rnd)
      val p0 = Clock.ms()
      val times = mutable.LinkedHashMap.empty[String, Timing]
      var ok = true
      for (name <- order) {
        val good = rec.op(s"pass${p}_$name") {
          times(name) = once(ctx, s"p$p:$name", name)(fns(name)(spark, fixture))
          true
        }
        ok &&= good
      }
      passes += ((Clock.ms() - p0, ok, times.toMap))
    }
    val good = passes.filter(_._2)
    // per query: its median time over the passes
    val perQuery = Queries.map(q => q -> good.flatMap(_._3.get(q)).map(_.wallMs / 1000)).toMap
    rec.samples("query_s") = perQuery
    // one operation: a pass, assembled from each query's median time
    rec.samples("op_parts") = perQuery
    rec.samples("batches") = good.map { case (ms, _, ts) =>
      Map("rows" -> Queries.map(inputRows).sum, "busy_ms" -> ms,
        "end_ms" -> ts.values.map(t => t.startMs + t.wallMs).max) }
    rec.samples("window_ms") = Seq(t0, Clock.ms())
    rec.info("queries") = passes.zipWithIndex.flatMap { case ((_, _, ts), i) =>
      ts.toSeq.sortBy(_._2.startMs).map { case (q, t) =>
        Seq(i.toString, q, f"${t.wallMs}%.0f", f"${t.constructMs}%.0f") } }
    rec.info("input_rows") = inputRows

    if (trace) {
      jobs.foreach(_.quiesce())
      val L = rec.layer
      val timings = good.map(_._3)
      for (name <- Queries) {
        val ts = timings.flatMap(_.get(name))
        L(s"q.$name.wall_ms") = Streams.median(ts.map(_.wallMs))
        L(s"q.$name.construct_ms") = Streams.median(ts.map(_.constructMs))
        L(s"q.$name.exec_ms") = Streams.median(ts.map(_.execMs))
        val acc = jobs.flatMap(_.group(s"p0:$name"))
        L(s"q.$name.jobs") = acc.map(_.jobs.toDouble).getOrElse(0.0)
        L(s"q.$name.tasks") = acc.map(_.tasks.toDouble).getOrElse(0.0)
        L(s"q.$name.shuffle_bytes") = acc.map(_.shuffleWrite.toDouble).getOrElse(0.0)
        L(s"q.$name.spill_bytes") = acc.map(_.spill.toDouble).getOrElse(0.0)
        L(s"q.$name.cache_entries_after") = ts.headOption.map(_.cacheAfter.toDouble).getOrElse(0.0)
      }
    }
    spark.catalog.clearCache()
    (0 until 3).foreach(r => Main.rm(work.resolve(s"fixture$r")))
  }

  def shuffle[T](xs: Seq[T], rnd: SplittableRandom): Seq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }

  /** One query through a noop write, cache cleared first, labelled with
    * a job group so the listener can attribute its jobs. */
  def once(ctx: Ctx, group: String, name: String)(build: => DataFrame): Timing = {
    val sc = ctx.spark.sparkContext
    ctx.spark.catalog.clearCache()
    sc.setJobGroup(group, name)
    try {
      val t0 = Clock.ms()
      val df = ctx.tracer.span("queries", "construct", group)(build)
      val t1 = Clock.ms()
      ctx.tracer.span("operators", "execute", group)(
        df.write.format("noop").mode("overwrite").save())
      val t2 = Clock.ms()
      Timing(t0, t2 - t0, t1 - t0, t2 - t1, cacheEntries(ctx.spark))
    } finally sc.clearJobGroup()
  }

  /** Entries the session's CacheManager holds (what a later query could
    * silently reuse); -1 when the field cannot be read. */
  def cacheEntries(spark: SparkSession): Int = {
    val cm = spark.sharedState.cacheManager
    cm.getClass.getDeclaredFields.find(_.getName.endsWith("cachedData")).map { f =>
      f.setAccessible(true)
      f.get(cm) match {
        case s: scala.collection.Iterable[_] => s.size
        case _ => -1
      }
    }.getOrElse(-1)
  }

  /** Order-insensitive digest: row count and the two 32-bit halves of
    * the summed per-row xxhash64, floats rounded to 6 decimals first. */
  def digest(df: DataFrame): Map[String, Long] = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
      case ArrayType(et, _) => transform(c, x => norm(x, et))
      case st: StructType => struct(st.fields.map(f => norm(c.getField(f.name), f.dataType).as(f.name)).toSeq: _*)
      case _: MapType => to_json(c)
      case _ => c
    }
    val h = xxhash64(df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType)).toSeq: _*)
    val r = df.select(h.as("h")).agg(count(lit(1)),
      coalesce(sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L))).head()
    Map("rows" -> r.getLong(0), "lo" -> r.getLong(1), "hi" -> r.getLong(2))
  }

  def readExpected(p: java.nio.file.Path): Map[String, Map[String, Long]] = {
    if (!Files.exists(p)) Map.empty
    else {
      import org.json4s._
      org.json4s.jackson.JsonMethods.parse(Files.readString(p)) match {
        case JObject(qs) => qs.collect { case (q, JObject(fs)) =>
          q -> fs.collect { case (k, JInt(v)) => k -> v.toLong }.toMap
        }.toMap
        case _ => Map.empty
      }
    }
  }

  /** The fixed synthetic fixture: the tables the query set reads, with
    * the schemas of the repository's query fixture and its distributions
    * as fitted into `fixture_fit.json` ([[fit]]): documents come from
    * `graft.ScaleCorpus`'s fitted generator (word frequencies, length
    * range, language and source mix), the other tables draw every
    * column from its fitted frequencies or range, keyed by a seeded hash
    * of the row id so any task split generates the same rows. */
  def writeFixture(spark: SparkSession, fitFile: Path, dir: String): String =
    writeFixtureFrom(spark, FixtureFit.read(fitFile), dir)

  def writeFixtureFrom(spark: SparkSession, fx: FixtureFit.Fit, dir: String): String = {
    graft.ScaleCorpus.generateDocuments(spark, fx.documents, 1, FixtureSeed, s"$dir/documents.parquet")

    def u(salt: Int): Column =
      pmod(xxhash64(col("id"), lit(FixtureSeed + salt)), lit(1000000007L)) / 1000000007.0
    def between(salt: Int, lo: Long, hi: Long): Column =
      (lit(lo) + pmod(xxhash64(col("id"), lit(FixtureSeed + salt)), lit(hi - lo + 1))).cast("long")
    def pick(salt: Int, c: FixtureFit.Freq): Column = {
      val x = u(salt)
      val cum = c.counts.scanLeft(0L)(_ + _).tail.map(_.toDouble / c.counts.sum)
      c.values.zip(cum).init.foldRight(lit(c.values.last)) { case ((v, q), rest) =>
        when(x < q, lit(v)).otherwise(rest) }
    }
    def cents(salt: Int, r: FixtureFit.Range): Column = between(salt, r.lo, r.hi) / 100.0
    def day(salt: Int, r: FixtureFit.Range): Column =
      timestamp_seconds(between(salt, r.lo, r.hi) * 86400).cast("timestamp_ntz")

    val ev = fx.events
    spark.range(ev.rows).select(col("id").as("event_id"),
        timestamp_seconds(lit(ev.tsSeconds.lo) +
          u(1) * (ev.tsSeconds.hi - ev.tsSeconds.lo)).as("ts"),
        between(2, ev.users.lo, ev.users.hi).as("user_id"), pick(3, ev.eventType).as("event_type"),
        cents(4, ev.valueCents).as("value"),
        concat(lit("{\"k\": "), between(5, ev.propsK.lo, ev.propsK.hi).cast("string"), lit("}")).as("props"))
      .coalesce(1).write.parquet(s"$dir/events.parquet")

    val od = fx.orders
    val orders = spark.range(od.rows).select(col("id").as("o_orderkey"),
        between(6, od.custkey.lo, od.custkey.hi).as("o_custkey"),
        pick(7, od.status).as("o_orderstatus"), cents(8, od.priceCents).as("o_totalprice"),
        day(9, od.dateDays).as("o_orderdate"), pick(10, od.priority).as("o_orderpriority"),
        pick(11, fx.lineitem.linesPerOrder).cast("int").as("n_lines"))
    orders.drop("n_lines").coalesce(1).write.parquet(s"$dir/orders.parquet")

    val li = fx.lineitem
    orders.filter(col("n_lines") > 0)
      .select(col("o_orderkey"), explode(sequence(lit(1), col("n_lines"))).as("l_linenumber"))
      .select((col("o_orderkey") * 16 + col("l_linenumber")).as("id"),
        col("o_orderkey").as("l_orderkey"), col("l_linenumber"))
      .select(col("l_orderkey"), between(12, li.partkey.lo, li.partkey.hi).as("l_partkey"),
        between(13, li.suppkey.lo, li.suppkey.hi).as("l_suppkey"), col("l_linenumber"),
        between(14, li.quantity.lo, li.quantity.hi).cast("double").as("l_quantity"),
        cents(15, li.priceCents).as("l_extendedprice"), cents(16, li.discountCents).as("l_discount"),
        cents(17, li.taxCents).as("l_tax"), pick(18, li.returnFlag).as("l_returnflag"),
        pick(19, li.lineStatus).as("l_linestatus"), day(20, li.shipDays).as("l_shipdate"))
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  /** Record the pinned digests from the current code (run once when the
    * query set or the fixture changes). */
  def record(ctx: Ctx): Unit = {
    val fixture = writeFixture(ctx.spark, ctx.fitFile, ctx.dir("fixture-record"))
    val fns = graft.SparkEntry.queries
    val out = Queries.map { q =>
      ctx.spark.catalog.clearCache()
      q -> digest(fns(q)(ctx.spark, fixture))
    }.toMap
    Files.writeString(ctx.expected, Json.render(out) + "\n")
    Main.rm(Paths.get(fixture))
  }

  /** Fit `fixture_fit.json` from the query fixture tables in `--source`
    * (run once when the fixture should follow other source tables). */
  def fit(ctx: Ctx): Unit = {
    val src = ctx.opts.getOrElse("source", throw new IllegalArgumentException("--source <dir> is required"))
    Files.writeString(ctx.fitFile, FixtureFit.fit(ctx.spark, src, ctx.dir("fixture-fit")))
    Main.rm(ctx.work.resolve("fixture-fit"))
  }
}
