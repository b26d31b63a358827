package sidebench

import java.nio.file.{Files, Path}

import graft.ScaleCorpus.DocFit
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The batch_ops fixture's generation parameters, fitted from the
  * repository's query fixture tables and kept in `fixture_fit.json`
  * next to the benchmark (the benchmark reads nothing outside its
  * checkout). `fit` measures them; `read` loads them for
  * [[BatchOps.writeFixture]]. */
object FixtureFit {
  final case class Freq(values: Seq[String], counts: Seq[Long])
  final case class Range(lo: Long, hi: Long)
  final case class Events(rows: Long, users: Range, eventType: Freq, valueCents: Range,
      tsSeconds: Range, propsK: Range)
  final case class Orders(rows: Long, custkey: Range, status: Freq, priority: Freq,
      priceCents: Range, dateDays: Range)
  final case class Lineitem(linesPerOrder: Freq, partkey: Range, suppkey: Range, quantity: Range,
      priceCents: Range, discountCents: Range, taxCents: Range, returnFlag: Freq,
      lineStatus: Freq, shipDays: Range)
  final case class Fit(documents: DocFit, events: Events, orders: Orders, lineitem: Lineitem)

  /** Measure the fixture parameters from the tables under `src` and
    * render them, with a summary of `src` and of a fixture generated
    * from them (so the two can be compared), as the file's JSON. */
  def fit(spark: SparkSession, src: String, scratch: String): String = {
    def freq(df: DataFrame, c: String): Freq = {
      val rs = df.groupBy(col(c).cast("string")).count().orderBy(col(c).cast("string")).collect()
      Freq(rs.map(_.getString(0)).toSeq, rs.map(_.getLong(1)).toSeq)
    }
    def range(df: DataFrame, c: org.apache.spark.sql.Column): Range = {
      val r = df.agg(min(c).cast("long"), max(c).cast("long")).head()
      Range(r.getLong(0), r.getLong(1))
    }
    def cents(c: String) = round(col(c) * 100)
    def days(c: String) = floor(unix_seconds(col(c).cast("timestamp")) / 86400)

    val docs = graft.ScaleCorpus.fitDocuments(spark, src)
    val ev = graft.Tables.events(spark, src)
    val events = Events(ev.count(), range(ev, col("user_id")), freq(ev, "event_type"),
      range(ev, cents("value")), range(ev, unix_seconds(col("ts").cast("timestamp"))),
      range(ev, regexp_extract(col("props"), "(\\d+)", 1).cast("long")))
    val od = graft.Tables.orders(spark, src)
    val orders = Orders(od.count(), range(od, col("o_custkey")), freq(od, "o_orderstatus"),
      freq(od, "o_orderpriority"), range(od, cents("o_totalprice")), range(od, days("o_orderdate")))
    val li = graft.Tables.lineitem(spark, src)
    val perOrder = od.join(li.groupBy("l_orderkey").count(),
        col("o_orderkey") === col("l_orderkey"), "left")
      .select(coalesce(col("count"), lit(0L)).as("n"))
    val lines = freq(perOrder, "n")
    val byCount = lines.values.zip(lines.counts).sortBy(_._1.toInt)
    val lineitem = Lineitem(Freq(byCount.map(_._1), byCount.map(_._2)),
      range(li, col("l_partkey")), range(li, col("l_suppkey")), range(li, col("l_quantity")),
      range(li, cents("l_extendedprice")), range(li, cents("l_discount")), range(li, cents("l_tax")),
      freq(li, "l_returnflag"), freq(li, "l_linestatus"), range(li, days("l_shipdate")))
    val f = Fit(docs, events, orders, lineitem)
    val generated = BatchOps.writeFixtureFrom(spark, f, scratch)
    Json.render(Map("source" -> ("fitted by `sidebench.Main --workload batch_ops_fit` " +
        "from the query fixture tables at scale factor 0.01"),
      "documents" -> Map("rows" -> docs.rows, "words" -> docs.words.toSeq, "cum" -> docs.cum.toSeq,
        "langs" -> docs.langs.toSeq, "lang_cum" -> docs.langCum.toSeq, "sources" -> docs.nSources,
        "min_words" -> docs.minWords, "max_words" -> docs.maxWords,
        "dup_every" -> (if (docs.dupEvery == Long.MaxValue) None else Some(docs.dupEvery))),
      "events" -> Map("rows" -> events.rows, "user_id" -> r(events.users),
        "event_type" -> q(events.eventType), "value_cents" -> r(events.valueCents),
        "ts_seconds" -> r(events.tsSeconds), "props_k" -> r(events.propsK)),
      "orders" -> Map("rows" -> orders.rows, "o_custkey" -> r(orders.custkey),
        "o_orderstatus" -> q(orders.status), "o_orderpriority" -> q(orders.priority),
        "price_cents" -> r(orders.priceCents), "date_days" -> r(orders.dateDays)),
      "lineitem" -> Map("lines_per_order" -> q(lineitem.linesPerOrder),
        "l_partkey" -> r(lineitem.partkey), "l_suppkey" -> r(lineitem.suppkey),
        "l_quantity" -> r(lineitem.quantity), "price_cents" -> r(lineitem.priceCents),
        "discount_cents" -> r(lineitem.discountCents), "tax_cents" -> r(lineitem.taxCents),
        "l_returnflag" -> q(lineitem.returnFlag), "l_linestatus" -> q(lineitem.lineStatus),
        "ship_days" -> r(lineitem.shipDays)),
      "summary_source" -> summary(spark, src),
      "summary_fixture" -> summary(spark, generated))) + "\n"
  }

  private def r(x: Range) = Seq(x.lo, x.hi)
  private def q(x: Freq) = Map("values" -> x.values, "counts" -> x.counts)

  /** The input properties the query set's cost depends on: vocabulary
    * and document length (tokenizer, tf-idf), the customer-supplier
    * graph (PageRank), the event keys (sideline parity). */
  def summary(spark: SparkSession, dir: String): Map[String, Any] = {
    val docs = graft.Tables.documents(spark, dir).withColumn("n", size(split(col("text"), " ")))
    val d = docs.agg(count(lit(1)), countDistinct(col("text")), min("n"), max("n"), avg("n")).head()
    val words = docs.select(explode(split(col("text"), " "))).distinct().count()
    val ev = graft.Tables.events(spark, dir)
    val od = graft.Tables.orders(spark, dir)
    val li = graft.Tables.lineitem(spark, dir)
    val pairs = li.join(od, col("o_orderkey") === col("l_orderkey"))
      .select("o_custkey", "l_suppkey").distinct().count()
    Map("documents" -> d.getLong(0), "distinct_texts" -> d.getLong(1), "distinct_words" -> words,
      "words_min" -> d.getInt(2), "words_max" -> d.getInt(3), "words_mean" -> d.getDouble(4),
      "events" -> ev.count(), "distinct_users" -> ev.select("user_id").distinct().count(),
      "orders" -> od.count(), "lineitems" -> li.count(),
      "orders_with_lines" -> li.select("l_orderkey").distinct().count(),
      "cust_supp_pairs" -> pairs)
  }

  def read(p: Path): Fit = {
    import org.json4s._
    val j = org.json4s.jackson.JsonMethods.parse(Files.readString(p))
    def num(v: JValue): Long = v match {
      case JInt(x) => x.toLong
      case JLong(x) => x
      case JDouble(x) => x.toLong
      case other => throw new IllegalArgumentException(s"not a number: $other")
    }
    def dbl(v: JValue): Double = v match {
      case JDouble(x) => x
      case other => num(other).toDouble
    }
    def strs(v: JValue): Seq[String] = v.children.map { case JString(s) => s; case o => o.values.toString }
    def range(v: JValue): Range = v.children.map(num) match {
      case Seq(a, b) => Range(a, b)
      case other => throw new IllegalArgumentException(s"not a range: $other")
    }
    def freq(v: JValue): Freq = Freq(strs(v \ "values"), (v \ "counts").children.map(num))
    val d = j \ "documents"
    val docs = DocFit(strs(d \ "words").toArray, (d \ "cum").children.map(dbl).toArray,
      strs(d \ "langs").toArray, (d \ "lang_cum").children.map(dbl).toArray,
      num(d \ "sources").toInt, num(d \ "min_words").toInt, num(d \ "max_words").toInt,
      (d \ "dup_every") match { case JNull | JNothing => Long.MaxValue; case v => num(v) },
      num(d \ "rows"))
    val e = j \ "events"
    val o = j \ "orders"
    val l = j \ "lineitem"
    Fit(docs,
      Events(num(e \ "rows"), range(e \ "user_id"), freq(e \ "event_type"), range(e \ "value_cents"),
        range(e \ "ts_seconds"), range(e \ "props_k")),
      Orders(num(o \ "rows"), range(o \ "o_custkey"), freq(o \ "o_orderstatus"),
        freq(o \ "o_orderpriority"), range(o \ "price_cents"), range(o \ "date_days")),
      Lineitem(freq(l \ "lines_per_order"), range(l \ "l_partkey"), range(l \ "l_suppkey"),
        range(l \ "l_quantity"), range(l \ "price_cents"), range(l \ "discount_cents"),
        range(l \ "tax_cents"), freq(l \ "l_returnflag"), freq(l \ "l_linestatus"),
        range(l \ "ship_days")))
  }
}
