package graft.operators

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** The persisted IVF index: build-once/probe-many lifecycle, probe
  * correctness against a driver-side exact replica over the PERSISTED
  * assignment, and the partition-pruning contract (a probe's scan reads
  * only its nprobe cells' files), plus the exact re-rank tail its probes
  * share with the quantized ANN queries (`Similarity.exactRerankOf`). */
class IvfIndexSuite extends SparkSuite {

  private def withIndex[A](f: String => A): A = {
    val pid = ProcessHandle.current().pid()
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_$pid"
    def rm(x: java.io.File): Unit = {
      Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
    }
    rm(new java.io.File(path))
    try {
      val n = IvfIndex.build(Tables.embeddings(spark, sfDir), path)
      assert(n === 8)
      f(path)
    } finally rm(new java.io.File(path))
  }

  test("probe results match a driver-side exact replica over the persisted index") {
    withIndex { path =>
      val queries = Tables.embeddings(spark, sfDir)
        .filter(col("vec_id") < 3).select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toSeq.sortBy(_._1)
      val got = IvfIndex.probe(spark, path, queries, nprobe = 2, topk = 5)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))

      // replica: read the persisted assignment wholesale (500 rows at
      // this SF) and recompute each probe exactly in plain Scala
      val cents = IvfIndex.loadCentroids(spark, path)
      val assigned = spark.read.parquet(s"$path/assigned")
        .select(col("vec_id"), col("cell").cast("long"), col("embedding"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2)))
      def nrm(v: Seq[Float]): Double = {
        var s = 0.0; v.foreach(x => s += x.toDouble * x.toDouble); math.sqrt(s)
      }
      def dot(a: Seq[Float], b: Seq[Float]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
        s
      }
      val expect = queries.flatMap { case (qid, q) =>
        val qn = nrm(q)
        val cells = cents.map { c =>
          var d = 0.0; var i = 0
          while (i < q.length) { d += q(i).toDouble * c.cvec(i); i += 1 }
          (c.cent_id, d / (qn * c.cnrm))
        }.sortBy { case (id, s) => (-s, id) }.take(2).map(_._1).toSet
        assigned.filter(a => cells(a._2) && a._1 != qid)
          .map { case (nid, _, v) => (nid, dot(q, v) / (qn * nrm(v))) }
          .sortBy { case (nid, s) => (-s, nid) }.take(5).zipWithIndex
          .map { case ((nid, _), i) => (qid, i + 1, nid) }
      }
      assert(got.toSeq === expect.toSeq)
    }
  }

  test("a probe's scan is partition-pruned to its nprobe cells") {
    withIndex { path =>
      val queries = Tables.embeddings(spark, sfDir)
        .filter(col("vec_id") === 0).select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toSeq
      val df = IvfIndex.probe(spark, path, queries, nprobe = 2, topk = 5)
      df.collect()
      val scans = flattenPlan(df.queryExecution.executedPlan).collect {
        case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains("assigned")) => f
      }
      assert(scans.nonEmpty, "no scan over the assigned index found")
      scans.foreach { scan =>
        assert(scan.partitionFilters.nonEmpty,
          "assigned scan must carry a cell partition filter:\n" + scan.toString)
        // files actually read: only the probed cells' directories
        val parts = scan.relation.location.listFiles(
          scan.partitionFilters, scan.dataFilters)
        assert(parts.length <= 2,
          s"probe read ${parts.length} cells, expected <= nprobe=2")
      }
    }
  }

  test("append assigns a new batch with the existing quantizer; probes see it") {
    withIndex { path =>
      val emb = Tables.embeddings(spark, sfDir)
      val queries = emb.filter(col("vec_id") === 0)
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toSeq
      // append the query vector itself under a fresh id: an exact copy
      // MUST come back as the appended id's nearest neighbor at sim 1
      val clone = emb.filter(col("vec_id") === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      IvfIndex.append(clone, path)
      val got = IvfIndex.probe(spark, path, queries, nprobe = 2, topk = 3)
        .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
      assert(got.head._2 === 1000000L, got.toSeq.toString)
      assert(math.abs(got.head._3 - 1.0) < 1e-4)
    }
  }

  test("compacting the index folds append epochs into one; probes are unchanged") {
    withIndex { path =>
      val emb = Tables.embeddings(spark, sfDir)
      val queries = emb.filter(col("vec_id") < 3)
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toSeq
      val clone = emb.filter(col("vec_id") === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      IvfIndex.append(clone, path)
      val before = IvfIndex.probe(spark, path, queries, nprobe = 2, topk = 5)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq

      val folded = IvfIndex.compactIndex(spark, path)
      assert(folded === Some(2L))
      val root = s"$path/assigned"
      assert(graft.ops.EpochCommit.committed(spark, root) === Seq(2L))
      assert(!new java.io.File(s"$root/epoch=0").exists())
      assert(!new java.io.File(s"$root/epoch=1").exists())

      val after = IvfIndex.probe(spark, path, queries, nprobe = 2, topk = 5)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      assert(after === before, "probe results changed through the fold")
      // appends keep flowing after the fold
      val clone2 = emb.filter(col("vec_id") === 1)
        .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
      IvfIndex.append(clone2, path)
      assert(graft.ops.EpochCommit.committed(spark, root) === Seq(2L, 3L))
    }
  }

  test("IVF append is crash-atomic: a torn epoch is invisible to probes, swept on retry") {
    withIndex { path =>
      val emb = Tables.embeddings(spark, sfDir)
      val queries = emb.filter(col("vec_id") === 0)
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toSeq
      val before = IvfIndex.probe(spark, path, queries, nprobe = 2, topk = 3)
        .collect().map(_.toSeq).toSeq
      val clone = emb.filter(col("vec_id") === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      // CRASH POINT: data on disk, marker never lands
      val torn = IvfIndex.appendData(clone, path)
      assert(new java.io.File(s"$path/assigned/epoch=$torn").exists())
      // all-or-nothing: the probe result is EXACTLY the pre-append one
      val during = IvfIndex.probe(spark, path, queries, nprobe = 2, topk = 3)
        .collect().map(_.toSeq).toSeq
      assert(during === before, "a torn epoch leaked into a probe")
      // RETRY commits; the clone must now be the exact nearest neighbor,
      // ONCE (a skipped sweep would return it from two epochs)
      IvfIndex.append(clone, path)
      val after = IvfIndex.probe(spark, path, queries, nprobe = 2, topk = 3)
        .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
      assert(after.head._2 === 1000000L && math.abs(after.head._3 - 1.0) < 1e-4)
      assert(after.count(_._2 == 1000000L) === 1,
        s"clone appears ${after.count(_._2 == 1000000L)} times — torn epoch not swept")
    }
  }

  test("ann_ivf_persisted_topk equals the inline kmeans query row-for-row") {
    // the persisted lifecycle (build → parquet → reload → pruned probe)
    // must be invisible in the results: same quantizer math, same probe
    // rule, same scores as the plan that retrains inline
    val persisted = graft.SparkEntry.queries("ann_ivf_persisted_topk")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val inline = graft.SparkEntry.queries("ann_ivf_kmeans_topk")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(persisted.toSeq === inline.toSeq)
  }

  test("ann_ivfpq_persisted_topk equals the inline residual IVF-PQ row-for-row") {
    // codes round-trip + codebook reload + pruned ADC probe must be
    // invisible in the results vs the plan that trains/encodes inline
    val persisted = graft.SparkEntry.queries("ann_ivfpq_persisted_topk")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val inline = graft.SparkEntry.queries("ann_ivfpq_residual_topk")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(persisted.toSeq === inline.toSeq)
  }

  test("PQ index stores codes only (no float vectors) and probes prune to nprobe cells") {
    val pid = ProcessHandle.current().pid()
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivfpq_suite_$pid"
    def rm(x: java.io.File): Unit = {
      Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
    }
    rm(new java.io.File(path))
    try {
      val emb = Tables.embeddings(spark, sfDir)
      IvfIndex.buildPq(emb, path)
      // the 32x claim rests on the stored schema: codes + the partition
      // column, never an embedding array
      val codeCols = spark.read.parquet(s"$path/codes").columns.toSet
      assert(!codeCols.contains("embedding") && !codeCols.contains("nx"),
        s"PQ layout leaked float vectors: $codeCols")
      assert((0 until 8).forall(m => codeCols.contains(s"code$m")), codeCols.toString)
      val queries = emb.filter(col("vec_id") === 0)
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toSeq
      val df = IvfIndex.probePq(spark, path, emb, queries, nprobe = 2, topk = 5)
      df.collect()
      val scans = flattenPlan(df.queryExecution.executedPlan).collect {
        case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains("codes")) => f
      }
      assert(scans.nonEmpty, "no scan over the code index found")
      scans.foreach { scan =>
        assert(scan.partitionFilters.nonEmpty,
          "code scan must carry a cell partition filter:\n" + scan.toString)
        val parts = scan.relation.location.listFiles(
          scan.partitionFilters, scan.dataFilters)
        assert(parts.length <= 2,
          s"probe read ${parts.length} cells, expected <= nprobe=2")
      }
    } finally rm(new java.io.File(path))
  }

  test("PQ append encodes a new batch with the persisted books; probes see it") {
    val pid = ProcessHandle.current().pid()
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivfpq_app_$pid"
    def rm(x: java.io.File): Unit = {
      Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
    }
    rm(new java.io.File(path))
    try {
      val emb = Tables.embeddings(spark, sfDir)
      IvfIndex.buildPq(emb, path)
      val queries = emb.filter(col("vec_id") === 0)
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toSeq
      // append an exact copy of the query vector under a fresh id: same
      // cell, same codes, and the exact re-rank puts it first at sim 1
      val clone = emb.filter(col("vec_id") === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      IvfIndex.appendPq(clone, path)
      val store = emb.select("vec_id", "embedding").unionByName(clone)
      val got = IvfIndex.probePq(spark, path, store, queries, nprobe = 2, topk = 3)
        .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
      assert(got.head._2 === 1000000L, got.toSeq.toString)
      assert(math.abs(got.head._3 - 1.0) < 1e-4)
    } finally rm(new java.io.File(path))
  }

  test("the index is probed many times without retraining") {
    withIndex { path =>
      val emb = Tables.embeddings(spark, sfDir)
      val q1 = emb.filter(col("vec_id") === 1).select("vec_id", "embedding")
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toSeq
      val q2 = emb.filter(col("vec_id") === 2).select("vec_id", "embedding")
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toSeq
      val a = IvfIndex.probe(spark, path, q1, nprobe = 1, topk = 3).count()
      val b = IvfIndex.probe(spark, path, q2, nprobe = 1, topk = 3).count()
      assert(a === 3 && b === 3)
    }
  }

  test("exactRerankOf: cosine ties rank by neighbor_id, cut to k, shortlist-only") {
    // the ONE re-rank tail of the quantized ANN queries and of probe():
    // 10 and 11 both score exactly 1.0 against query 0 (listed 11 first),
    // 12 and 13 tie at 1/sqrt(2) for the last slot, and 14 — also 1.0 —
    // is in the corpus but not in the shortlist
    import spark.implicits._
    val emb = Seq(
      0L -> Seq(1f, 0f, 0f), 1L -> Seq(0f, 1f, 0f),
      10L -> Seq(2f, 0f, 0f), 11L -> Seq(3f, 0f, 0f), 12L -> Seq(1f, 1f, 0f),
      13L -> Seq(1f, 0f, 1f), 14L -> Seq(5f, 0f, 0f)).toDF("vec_id", "embedding")
    val shortlist = Seq(0L -> 11L, 0L -> 10L, 0L -> 13L, 0L -> 12L, 1L -> 12L, 1L -> 10L)
      .toDF("query_id", "neighbor_id")
    val got = Similarity.exactRerankOf(emb, shortlist, k = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got === Seq((0L, 1, 10L, 1.0), (0L, 2, 11L, 1.0), (0L, 3, 12L, 0.7071),
      (1L, 1, 12L, 0.7071), (1L, 2, 10L, 0.0)))
  }
}
