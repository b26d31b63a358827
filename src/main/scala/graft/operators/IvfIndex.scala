package graft.operators

import graft.{FixtureStore, Tables}
import graft.queries.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Persistent IVF index: build ONCE, probe MANY — the missing lifecycle
 * around the `ann_ivf_*` queries, which (by oracle necessity) retrain
 * and reassign inside every query plan. A production ANN corpus is
 * indexed once per epoch and probed millions of times, so the index —
 * trained centroids plus the cell-assigned corpus — must live on
 * storage, not in a query's lineage.
 *
 * Layout under `path`:
 *   `centroids/` — nlist rows (cent_id, cvec, cnrm): metadata-sized,
 *                  collected to the driver at probe time.
 *   `assigned/`  — the corpus with its cell id, parquet PARTITIONED BY
 *                  (epoch, cell) — epoch is [[graft.ops.EpochCommit]]'s
 *                  crash-atomic append layer; a probe reads ONLY its
 *                  nprobe cells' files of COMMITTED epochs via
 *                  partition pruning (suite-asserted `PartitionFilters`)
 *                  — the on-disk analogue of the "touch 1/nlist of the
 *                  data" IVF contract, and the property that matters at
 *                  100 TB: probe cost scales with nprobe/nlist × corpus,
 *                  not corpus.
 *
 * Training IS the `ann_ivf_kmeans_topk` trainer ([[Similarity.trainIvf]]:
 * the bounded deterministic sample, driver-local Lloyd with 6-decimal
 * rounding), so index quality is the measured recall in METRICS; this
 * class adds persistence + pruning, not new math.
 */
object IvfIndex {

  private def withNorm(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(Similarity.dotCol("embedding", "embedding")))

  /** Train the quantizer ([[Similarity.trainIvf]] over the one-collect
    * [[Similarity.ivfSample]] — the `ann_ivf_kmeans_topk` trainer itself)
    * and persist centroids + the assigned corpus. One pass over the
    * corpus for assignment (zero shuffle — the centroid array is a
    * literal in the fold), then a partitioned write. Returns the trained
    * centroid count actually written. */
  def build(emb: DataFrame, path: String): Int = {
    val s = emb.sparkSession
    val trained = Similarity.trainIvf(Similarity.ivfSample(emb))
    import s.implicits._
    trained.toDF().write.mode("overwrite").parquet(s"$path/centroids")
    Similarity.assignCells(withNorm(emb), trained)
      .withColumn("epoch", lit(0L))
      .write.mode("overwrite").partitionBy("epoch", "cell")
      .parquet(s"$path/assigned")
    graft.ops.EpochCommit.mark(s, s"$path/assigned", 0L)
    trained.length
  }

  /** Assign a NEW batch with the already-trained quantizer and append it
    * into the partitioned layout — the steady-state ingest path: no
    * retraining, no touch of existing files (the batch lands in a fresh
    * epoch partition), probes see the grown index on their next read.
    * Crash-atomic via [[graft.ops.EpochCommit]]: a torn append is
    * invisible until its marker commits and is swept on retry. Centroid
    * drift across many appends is real; the epoch policy (when to
    * re-[[build]]) is the caller's — the recall METRICS are the signal
    * to watch. */
  def append(newBatch: DataFrame, path: String): Unit = {
    val epoch = appendData(newBatch, path)
    graft.ops.EpochCommit.mark(newBatch.sparkSession, s"$path/assigned", epoch)
  }

  /** The data half of [[append]] — everything UP TO the commit point,
    * exposed so the crash-recovery suite can stop exactly where a real
    * crash would. Returns the epoch written. */
  private[operators] def appendData(newBatch: DataFrame, path: String): Long = {
    val s = newBatch.sparkSession
    val cents = loadCentroids(s, path)
    val root = s"$path/assigned"
    graft.ops.EpochCommit.requireEpochLayout(s, root)
    val epoch = graft.ops.EpochCommit.nextEpoch(s, root)
    Similarity.assignCells(withNorm(newBatch), cents)
      .withColumn("epoch", lit(epoch))
      .write.mode("append").partitionBy("epoch", "cell").parquet(root)
    epoch
  }

  /** Fold the assigned layout's committed epochs into ONE —
    * [[graft.ops.EpochCommit.compact]] with the index's own
    * `epoch`/`cell` partitioned writer, so probes keep their cell-level
    * partition pruning over a single folded epoch instead of one
    * directory tree per ingest batch. Maintenance window required (see
    * [[graft.ops.EpochCommit.compact]]). */
  def compactIndex(s: SparkSession, path: String): Option[Long] = {
    val root = s"$path/assigned"
    graft.ops.EpochCommit.compact(s, root,
      () => graft.ops.EpochCommit.filterCommitted(s.read.parquet(root), root),
      (rows, target) => rows.withColumn("epoch", lit(target))
        .write.mode("append").partitionBy("epoch", "cell").parquet(root))
  }

  private[graft] def loadCentroids(
      s: SparkSession, path: String): Seq[Similarity.Centroid] =
    Similarity.collectCentroids(
      s.read.parquet(s"$path/centroids").select("cent_id", "cvec", "cnrm"))

  /** Probe the persisted index: for each (query_id, vector), visit its
    * `nprobe` nearest cells (driver-computed — queries and centroids are
    * metadata) and exact-score only those cells' rows. The assigned scan
    * carries a `cell IN (...)` partition filter, so only the probed
    * cells' FILES are read. Output: (query_id, rank, neighbor_id, sim). */
  def probe(
      s: SparkSession, path: String,
      queries: Seq[(Long, Seq[Float])],
      nprobe: Int = 2, topk: Int = 10): DataFrame = {
    require(nprobe >= 1 && topk >= 1, s"bad probe params: nprobe=$nprobe topk=$topk")
    val cents = loadCentroids(s, path)
    val probeRows = queries.flatMap { case (qid, q) =>
      val qnrm = Similarity.normLocal(q.map(_.toDouble))
      // rank ALL cells (there are only nlist) by the same (sim DESC,
      // cent_id) order the fold uses, take the nprobe nearest
      rankedCells(cents, q, nprobe).map(cell => (qid, q, qnrm, cell))
    }
    import s.implicits._
    val probes = probeRows.toDF("query_id", "q", "qnrm", "cell")
    // the partition column comes back typed by partition-inference; cast
    // to the centroid id type so the join key lines up
    val assigned = graft.ops.EpochCommit
      .filterCommitted(s.read.parquet(s"$path/assigned"), s"$path/assigned")
      .withColumn("cell", col("cell").cast("long"))
      .filter(col("cell").isin(probeRows.map(_._4).distinct: _*))
    val scored = broadcast(probes)
      .join(assigned.withColumnRenamed("vec_id", "neighbor_id"), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim",
        Similarity.dotCol("q", "embedding") / (col("qnrm") * col("nrm")))
    Similarity.topKPerQuery(s, scored, topk)
  }

  // ---- persisted IVF-PQ (codes on disk) -------------------------------

  /** Residual-PQ layout under `path` — the production serving shape
    * (FAISS IndexIVFPQ on storage): the corpus is stored as PQ CODES,
    * not vectors, so the index is ~32× smaller than the float layout at
    * K=256 and a probe's scan reads code bytes from its nprobe cells
    * only.
    *   `centroids/` — nlist seeded coarse centroids (metadata).
    *   `books/`     — PqM×PqK residual codewords (m, code, cvec):
    *                  metadata, collected at probe time.
    *   `codes/`     — (vec_id, code0..codeM-1) PARTITIONED BY cell.
    * Training and encoding are the verified `ann_ivfpq_residual_topk`
    * pieces ([[Similarity.pqResidualFrameOf]] / [[Similarity.pqTrainBooks]]
    * / [[Similarity.pqWithRecon]]) — this object adds persistence and
    * pruning, not new math (the [[build]] stance). Returns total
    * codewords written. */
  def buildPq(emb: DataFrame, path: String): Int = {
    val s = emb.sparkSession
    val (resFrame, cents) = Similarity.pqResidualFrameOf(emb)
    val books = Similarity.pqTrainBooks(
      resFrame.select(col("vec_id"), col("rx").as("nx")))
    import s.implicits._
    cents.toDF().write.mode("overwrite").parquet(s"$path/centroids")
    books.zipWithIndex
      .flatMap { case (bk, m) => bk.map(c => (m, c.code, c.cvec)) }
      .toDF("m", "code", "cvec").write.mode("overwrite").parquet(s"$path/books")
    Similarity.pqWithRecon(resFrame.withColumn("nx", col("rx")), books)
      // on-disk layout keeps one small int column per subspace (column
      // pruning + stats); the in-plan form is the `codes` array (r18)
      .select(col("vec_id") +: col("cell") +:
        (0 until Similarity.PqM).map(m =>
          element_at(col("codes"), m + 1).as(s"code$m")): _*)
      .withColumn("epoch", lit(0L))
      .write.mode("overwrite").partitionBy("epoch", "cell").parquet(s"$path/codes")
    graft.ops.EpochCommit.mark(s, s"$path/codes", 0L)
    books.map(_.length).sum
  }

  /** Assign + residual-encode a NEW batch with the persisted quantizer
    * and codebooks and append its codes into the partitioned layout —
    * the steady-state ingest path of the PQ index ([[append]]'s
    * contract, crash atomicity included): no retraining, no touch of
    * existing files. Codebook drift across appends is the same epoch
    * concern as centroid drift — re-[[buildPq]] when recall METRICS say
    * so. */
  def appendPq(newBatch: DataFrame, path: String): Unit = {
    val s = newBatch.sparkSession
    val cents = loadCentroids(s, path)
    val books = loadBooks(s, path)
    val ncentsLit = typedLit(
      Similarity.normalizedCentroids(cents).map(_.toIndexedSeq).toIndexedSeq)
    val frame = Similarity.assignCells(withNorm(newBatch), cents)
      .withColumn("nx", expr("transform(embedding, x -> cast(x as double) / nrm)"))
      .withColumn("ncv", element_at(ncentsLit, col("cell").cast("int") + 1))
      .withColumn("rx", zip_with(col("nx"), col("ncv"), (x, y) => x - y))
    val root = s"$path/codes"
    graft.ops.EpochCommit.requireEpochLayout(s, root)
    val epoch = graft.ops.EpochCommit.nextEpoch(s, root)
    Similarity.pqWithRecon(frame.withColumn("nx", col("rx")), books)
      .select(col("vec_id") +: col("cell") +:
        (0 until Similarity.PqM).map(m =>
          element_at(col("codes"), m + 1).as(s"code$m")): _*)
      .withColumn("epoch", lit(epoch))
      .write.mode("append").partitionBy("epoch", "cell").parquet(root)
    graft.ops.EpochCommit.mark(s, root, epoch)
  }

  private[operators] def loadBooks(
      s: SparkSession, path: String): Seq[Seq[Similarity.SubCentroid]] = {
    val rows = s.read.parquet(s"$path/books").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    (0 until Similarity.PqM).map { m =>
      rows.filter(_._1 == m).sortBy(_._2)
        .map { case (_, code, cv) => Similarity.SubCentroid(code, cv) }.toSeq
    }
  }

  /** Probe the persisted PQ index: partition-pruned CODE scan over the
    * nprobe cells, ADC scoring against the reconstruction (coarse
    * centroid + residual codewords, decoded in the scan projection),
    * then an exact float re-rank of the `shortK` shortlist against the
    * original corpus (`emb` — the only place float vectors are read,
    * shortlist-sized). Query normalization and cell ranking replicate
    * the fold arithmetic exactly, so results match the inline
    * `ann_ivfpq_residual_topk` row-for-row. */
  /** The nprobe cells a query vector ranks highest — the driver-side
    * cell ranking [[probe]]/[[probePq]] use (fold arithmetic: exact
    * dots, sim DESC then cent_id ASC). Exposed so the scaling census
    * can compute which partition directories a probe may touch. */
  private[graft] def rankedCells(cents: Seq[Similarity.Centroid],
      q: Seq[Float], nprobe: Int): Seq[Long] = {
    val qnrm = Similarity.normLocal(q.map(_.toDouble))
    cents.map { c =>
      var dot = 0.0
      var i = 0
      while (i < q.length) { dot += q(i).toDouble * c.cvec(i); i += 1 }
      (c.cent_id, dot / (qnrm * c.cnrm))
    }.sortBy { case (id, sim) => (-sim, id) }.take(nprobe).map(_._1)
  }

  def probePq(
      s: SparkSession, path: String, emb: DataFrame,
      queries: Seq[(Long, Seq[Float])],
      nprobe: Int = 2, shortK: Int = Similarity.PqShortK,
      topk: Int = 10): DataFrame = {
    require(nprobe >= 1 && shortK >= topk, s"bad probe params: $nprobe/$shortK/$topk")
    val cents = loadCentroids(s, path)
    val books = loadBooks(s, path)
    val ncentsLit = typedLit(cents
      .map(c => c.cvec.map(_ / c.cnrm).toIndexedSeq).toIndexedSeq)
    val booksVecs: Seq[Seq[Seq[Double]]] = books.map(_.map(_.cvec))
    val probeRows = queries.flatMap { case (qid, q) =>
      val qnrm = Similarity.normLocal(q.map(_.toDouble))
      val qx = q.map(_.toDouble / qnrm)
      rankedCells(cents, q, nprobe).map(cell => (qid, qx, cell))
    }
    import s.implicits._
    val probes = probeRows.toDF("query_id", "qx", "cell")
    val codes = graft.ops.EpochCommit
      .filterCommitted(s.read.parquet(s"$path/codes"), s"$path/codes")
      .withColumn("cell", col("cell").cast("long"))
      .filter(col("cell").isin(probeRows.map(_._3).distinct: _*))
      .withColumn("recon0", concat((0 until Similarity.PqM).map(m =>
        element_at(typedLit(booksVecs(m)), col(s"code$m") + 1)): _*))
      .withColumn("recon", zip_with(
        element_at(ncentsLit, col("cell").cast("int") + 1), col("recon0"),
        (a, b) => a + b))
    val shortlist = Similarity.topKPerQuery(s,
      broadcast(probes)
        .join(codes.withColumnRenamed("vec_id", "neighbor_id"), Seq("cell"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("sim", Similarity.dotCol("qx", "recon")),
      shortK)
      .select("query_id", "neighbor_id")
    Similarity.exactRerankOf(emb, shortlist, topk)
  }

  // ---- oracle-gated query over the PERSISTED lifecycle ----------------

  // One index build per testdata dir per JVM ([[FixtureStore.onDisk]]).
  private def ensureIndex(s: SparkSession, dir: String): String =
    FixtureStore.onDisk("ivfidx", dir)(p => { build(Tables.embeddings(s, dir), p); () })

  /** Fixture path of the persisted PQ index for `dir`, built on first
    * call — also the scaling census's entry point. */
  private[graft] def ensurePqIndex(s: SparkSession, dir: String): String =
    FixtureStore.onDisk("ivfpqidx", dir)(p => { buildPq(Tables.embeddings(s, dir), p); () })

  /** `ann_ivf_kmeans_topk` through the PERSISTED lifecycle: build the
    * index to storage ONCE (memoized fixture), reload centroids, probe
    * with partition pruning. [[build]] trains with the kmeans query's
    * own trainer and `probe`'s cell ranking/scoring replicate its math
    * exactly, so the kmeans DuckDB twin is reused VERBATIM — the oracle
    * now gates the parquet round-trip, the cell-partitioned layout, and
    * the pruned probe path, not just the inline plan. */
  private val annIvfPersistedTopk = QueryDef(
    (s, dir) => {
      val path = ensureIndex(s, dir)
      val queries = Tables.embeddings(s, dir)
        .filter(col("vec_id") < Similarity.NumQueries)
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toSeq.sortBy(_._1)
      probe(s, path, queries,
        nprobe = Similarity.NProbe, topk = Similarity.TopK)
    },
    Similarity.all("ann_ivf_kmeans_topk").oracle)

  /** `ann_ivfpq_residual_topk` through the PERSISTED lifecycle: codes on
    * disk, partition-pruned probe, shortlist-sized float fetch.
    * [[buildPq]]/[[probePq]] replicate the inline math exactly, so the
    * residual-IVF-PQ DuckDB twin is reused VERBATIM — the oracle gates
    * the code round-trip, the cell-partitioned code layout, the codebook
    * reload, and the pruned ADC probe path. */
  private val annIvfPqPersistedTopk = QueryDef(
    (s, dir) => {
      val path = ensurePqIndex(s, dir)
      val queries = Tables.embeddings(s, dir)
        .filter(col("vec_id") < Similarity.NumQueries)
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toSeq.sortBy(_._1)
      probePq(s, path, Tables.embeddings(s, dir), queries,
        nprobe = Similarity.NProbe, topk = Similarity.TopK)
    },
    Similarity.all("ann_ivfpq_residual_topk").oracle)

  val all: Map[String, QueryDef] = Map(
    "ann_ivf_persisted_topk" -> annIvfPersistedTopk,
    "ann_ivfpq_persisted_topk" -> annIvfPqPersistedTopk)
}
