package graft.operators

import graft.{FixtureStore, SparkEntry, SparkSuite}

/** The z-order layout claim, made a number: per-cell min/max envelopes
  * must be NARROW on BOTH dimensions (that is what lets footer stats
  * prune on either predicate). With 6 cell bits the top 3 interleaved
  * bits of each dim define the cell, so a cell's span is ≈ 1/8 of each
  * dim's range — assert the mean span stays under 1/4 (2× slack for
  * normalization rounding and sparse cells). */
class LayoutSuite extends SparkSuite {

  test("z-order cells bound both dimensions, not just one") {
    val cells = SparkEntry.queries("layout_zorder")(spark, sfDir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(cells.nonEmpty)
    val gDay = (cells.map(_._2).min, cells.map(_._3).max)
    val gPk = (cells.map(_._4).min, cells.map(_._5).max)
    val dayRange = (gDay._2 - gDay._1).toDouble
    val pkRange = (gPk._2 - gPk._1).toDouble
    // weight by rows so empty/sparse edge cells don't dominate
    val n = cells.map(_._1).sum.toDouble
    val meanDaySpan = cells.map(c => c._1 * (c._3 - c._2).toDouble).sum / n
    val meanPkSpan = cells.map(c => c._1 * (c._5 - c._4).toDouble).sum / n
    assert(meanDaySpan / dayRange < 0.25,
      s"day span ${meanDaySpan / dayRange} not narrow")
    assert(meanPkSpan / pkRange < 0.25,
      s"pk span ${meanPkSpan / pkRange} not narrow")
    // every row accounted for
    assert(cells.map(_._1).sum ===
      graft.Tables.lineitem(spark, sfDir).count())
  }

  test("writeClustered: every FILE's parquet footer bounds both dims") {
    val out = java.nio.file.Files.createTempDirectory("zorder")
    try {
      val files = 8
      Layout.writeClustered(spark, sfDir, out.toString, files)
      val parts = parquetFiles(out)
      assert(parts.size == files, s"expected $files files, got ${parts.size}")

      val day = parts.map(bounds(_, "z_day"))
      val pk = parts.map(bounds(_, "z_pk"))
      val dayRange = (day.map(_._2).max - day.map(_._1).min).toDouble
      val pkRange = (pk.map(_._2).max - pk.map(_._1).min).toDouble
      // with 8 z-range files the top interleaved bits split ~3 ways per
      // dim: mean per-file footer span must bound BOTH dims well under
      // the full range (a single-column sort would leave one dim at ~1.0)
      val daySpan = day.map(b => (b._2 - b._1).toDouble / dayRange).sum / files
      val pkSpan = pk.map(b => (b._2 - b._1).toDouble / pkRange).sum / files
      assert(daySpan < 0.6, s"day footer span $daySpan")
      assert(pkSpan < 0.6, s"pk footer span $pkSpan")
      assert(daySpan + pkSpan < 1.0,
        s"joint span $daySpan + $pkSpan not better than a single-dim sort")
    } finally FixtureStore.rmTree(out.toFile)
  }

  test("writeClustered: file bounds depend on the data alone, not on the RDDs built before") {
    // repartitionByRange sampled with a seed built from the JVM-global
    // RDD id, so two identical writes split the files differently once
    // other RDDs were created in between
    val a = java.nio.file.Files.createTempDirectory("zorderA")
    val b = java.nio.file.Files.createTempDirectory("zorderB")
    try {
      Layout.writeClustered(spark, sfDir, a.toString, 8)
      (1 to 5).foreach(i => spark.sparkContext.parallelize(1 to 10 * i, i).count())
      Layout.writeClustered(spark, sfDir, b.toString, 8)
      def layout(out: java.nio.file.Path): Seq[((Long, Long), (Long, Long))] =
        parquetFiles(out).sortBy(_.getFileName.toString.take(10))
          .map(p => (bounds(p, "z_day"), bounds(p, "z_pk")))
      assert(layout(a).size == 8)
      assert(layout(a) === layout(b))
    } finally { FixtureStore.rmTree(a.toFile); FixtureStore.rmTree(b.toFile) }
  }

  private def parquetFiles(out: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(out).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
  }

  /** Per-file min/max of one z dim, read from the FOOTER stats — the
    * bytes a production reader prunes on. */
  private def bounds(p: java.nio.file.Path, colName: String): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toString), spark.sessionState.newHadoopConf()))
    try {
      val ccs = r.getFooter.getBlocks.asScala
        .map(_.getColumns.asScala.find(_.getPath.toDotString == colName).get)
      val mins = ccs.map(_.getStatistics.genericGetMin
        .asInstanceOf[java.lang.Long].longValue)
      val maxs = ccs.map(_.getStatistics.genericGetMax
        .asInstanceOf[java.lang.Long].longValue)
      (mins.min, maxs.max)
    } finally r.close()
  }
}
