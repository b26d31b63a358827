package graft.operators

import graft.{FixtureStore, Tables}
import graft.queries.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Incremental dedup: deduplicate an arriving batch against the
 * fingerprint CATALOG of everything already kept — the steady-state
 * shape of a 100 TB pipeline, where the historical index dwarfs every
 * new batch and must never be rebuilt or reshuffled per run.
 *
 * The catalog is a BUCKETED, bucket-sorted table on `fingerprint`
 * (`bucketBy(...).sortBy(...)`): the anti join then reads the catalog
 * straight from its buckets — NO Exchange on the catalog side of the
 * SortMergeJoin (asserted in IncrementalDedupSuite); only the (small)
 * new batch shuffles, to the catalog's own bucket count. A
 * partition-local, spillable Sort remains on the catalog side (Spark
 * ≥3.0 doesn't propagate bucket-file sort order unless the legacy
 * `bucketedTableScan.outputOrdering` conf is set) — network-free, so
 * the scale-dominant cost (re-shuffling the index) is still gone. This
 * is bucketing-for-co-located-joins applied where it matters most: the
 * join's big side is touched once, in place.
 * Appending a deduped batch back into the catalog (same bucketBy spec)
 * keeps the invariant for the next run.
 *
 * At test scale Spark would happily broadcast the catalog, which hides
 * exactly the property we need at 100 TB — the `merge` hint pins the
 * sort-merge shape the bucketed layout is built for (with a catalog
 * that outweighs the batch by orders of magnitude, broadcast is not an
 * option and SMJ-over-buckets is the optimal plan, so the hint encodes
 * the production choice, not a test fudge).
 */
object IncrementalDedup {

  val CatalogBuckets = 8

  // ---- epoch commit protocol ------------------------------------------
  //
  // Every catalog write lands in an `epoch=<n>` PARTITION and becomes
  // visible only when its marker commits — [[graft.ops.EpochCommit]]'s
  // protocol (shared with the IVF layouts). A crash mid-append leaves a
  // torn, UNMARKED epoch no reader ever sees, and the next append
  // sweeps it — without this, a half-appended catalog silently
  // under-dedups forever after.

  import graft.ops.EpochCommit

  /** Epochs whose commit marker exists — the readable catalog view. */
  def committedEpochs(s: SparkSession, path: String): Seq[Long] =
    EpochCommit.committed(s, path)

  /** The catalog restricted to COMMITTED epochs — the only sanctioned
    * read path. The epoch predicate is a partition filter (pruned from
    * listing metadata, no data cost) and the bucketed layout survives
    * the filter + projection, so the zero-exchange join contract is
    * unchanged. Falls through untouched for a legacy unpartitioned
    * catalog. */
  def committedTable(s: SparkSession, table: String): DataFrame = {
    val t = s.table(table)
    if (!t.columns.contains("epoch")) t
    else {
      val loc = s.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
        .location.toString
      // constant-size range predicate in the common (dense) case — not
      // an IN-list growing a literal per ingest batch into every plan
      t.filter(EpochCommit.committedPredicate(s, loc)).drop("epoch")
    }
  }

  /** STREAMING variant of [[committedTable]]: a continuous stream-static
    * plan resolves the static side ONCE, so a literal committed-epoch
    * list would freeze at plan time and epochs appended mid-stream —
    * the whole point of the ingest loop — would never be consulted
    * (the catalog table itself re-lists partitions every micro-batch;
    * verified empirically). The epoch predicate here is an
    * EXECUTION-TIME marker check instead: evaluated per batch, it
    * admits newly committed epochs and keeps torn ones invisible.
    * `true` verdicts cache per JVM (only [[EpochCommit.compact]] ever
    * deletes markers, and it requires a maintenance window); `false`
    * re-checks, because a torn epoch's NUMBER is reused by the retry.
    * Cost: torn epochs' files are scanned-then-dropped rather than
    * partition-pruned — they are rare and swept, and the bucketed join
    * layout is untouched (a filter preserves the scan's partitioning). */
  def committedTableStreaming(s: SparkSession, table: String): DataFrame = {
    // ignoreMissingFiles: a concurrent retry's sweep may delete a torn
    // epoch's files between this batch's planning and its read — those
    // rows were going to be dropped by the marker filter anyway, so a
    // vanished torn file must not fail the stream
    val t = s.read.option("ignoreMissingFiles", "true").table(table)
    if (!t.columns.contains("epoch")) t
    else {
      val loc = s.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
        .location.toString
      // executor-side marker checks carry the DRIVER's Hadoop conf via
      // broadcast (credentials/fs impls — the GraftLogProvider stance);
      // the marker layout itself lives only in EpochCommit
      val confBc = org.apache.spark.sql.graft.Shim.broadcastConf(
        s.sparkContext, s.sessionState.newHadoopConf())
      val isCommitted = org.apache.spark.sql.functions.udf(
        (e: Long) => EpochCommit.markerExists(loc, e, confBc.value))
      t.filter(isCommitted(col("epoch"))).drop("epoch")
    }
  }

  /** Write `docs`' fingerprint catalog as a bucketed external table and
    * return its (session-scoped) table name. One writer task per call
    * (`repartition(1)`) so each bucket is a single file and the join can
    * elide the catalog-side sort; a real deployment writes with many
    * tasks and keeps per-bucket files sorted, trading the elided Sort
    * for write parallelism. The bootstrap lands as committed epoch 0. */
  def writeCatalog(docs: DataFrame, path: String, table: String): String = {
    docs.select(md5(col("text")).as("fingerprint"))
      .distinct()
      .withColumn("epoch", lit(0L))
      .repartition(1)
      .write
      .partitionBy("epoch")
      .bucketBy(CatalogBuckets, "fingerprint")
      .sortBy("fingerprint")
      .option("path", path)
      .saveAsTable(table)
    EpochCommit.mark(docs.sparkSession, path, 0L)
    table
  }

  /** Rows of `newBatch` whose content fingerprint is NOT in the catalog
    * — the docs worth keeping. Catalog side: bucketed scan, no exchange,
    * no sort. Batch side: one shuffle to the catalog's bucket count. */
  def dedupAgainstCatalog(newBatch: DataFrame, catalogTable: String): DataFrame = {
    val s = newBatch.sparkSession
    newBatch
      .withColumn("fingerprint", md5(col("text")))
      .join(committedTable(s, catalogTable).hint("merge"),
        Seq("fingerprint"), "left_anti")
  }

  /** Streaming face of the same contract: an ingest stream anti-joins
    * the catalog per micro-batch (stream-static joins are stateless —
    * each batch probes the static side, no streaming state at all). The
    * ingest path and the batch path consult the SAME index, so a doc
    * already kept by either face never re-enters. Complements
    * [[graft.streaming.StatefulOps.dedupExactStream]]: that op dedupes
    * WITHIN the stream's horizon, this one dedupes against all of
    * history. */
  def dedupStreamAgainstCatalog(stream: DataFrame, catalogTable: String): DataFrame =
    stream.withColumn("fingerprint", md5(col("text")))
      .join(committedTableStreaming(stream.sparkSession, catalogTable),
        Seq("fingerprint"), "left_anti")

  /** [[dedupStreamAgainstCatalog]] with the SAME Bloom bytes the batch
    * face uses ([[catalogBloom]]): each micro-batch probes the filter
    * first, and only possible duplicates reach the stream-static
    * anti-join — in the steady state (mostly-new ingest) the per-batch
    * join probe shrinks to the duplicate mass. Output ≡ the plain
    * streaming face; the bloom is resolved ONCE at plan time, which is
    * the point (one build per catalog epoch serves every batch of every
    * face — rebuild the stream's plan when the catalog epoch rolls). */
  def dedupStreamAgainstCatalogBloom(
      stream: DataFrame, catalogTable: String, bloom: Array[Byte]): DataFrame =
    // PLAN-TIME committed view on purpose, matching the plan-time bloom:
    // this face's whole horizon freezes when the plan is built (a bloom
    // cannot un-say "definitely new" for an epoch committed later), and
    // the scaladoc's contract is rebuild-the-plan-per-epoch. Mixing the
    // per-batch streaming view with a frozen bloom would let bypassed
    // duplicates through SILENTLY — frozen+frozen is coherent,
    // fresh+frozen is not. The plain face above is the
    // track-growth-mid-stream option.
    bloomSplit(
      stream.withColumn("fingerprint", md5(col("text"))),
      committedTable(stream.sparkSession, catalogTable), bloom)

  // ---- Bloom-prefiltered variant --------------------------------------

  /** Optimal Bloom bit count for `n` items at false-positive rate `fpp`
    * (the standard m = −n·ln(p)/ln²2). */
  def optimalNumBits(n: Long, fpp: Double): Long = {
    require(fpp > 0 && fpp < 1, s"fpp out of (0,1): $fpp")
    math.ceil(-n.toDouble * math.log(fpp) / (math.log(2) * math.log(2))).toLong.max(64L)
  }

  /** Build a Bloom filter over the catalog's fingerprints (hashed with
    * xxhash64, the same probe the batch side uses) and return its
    * serialized bytes — a driver-held, METADATA-sized artifact (~1.2 B
    * per item at 1% fpp), built with Spark's own `BloomFilterAggregate`
    * in one aggregation pass. Pass `expectedItems` when the catalog's
    * cardinality is already known (it is, to anything that maintains the
    * catalog — appenders know what they wrote, and table stats carry it)
    * to avoid the sizing `count()` scan; left at -1, sizing costs one
    * extra scan of the catalog.
    *
    * An EMPTY catalog yields a bloom that answers "no" for every probe
    * (built explicitly — `BloomFilterAggregate` returns null over zero
    * rows, and a null bloom literal would make `might_contain` return
    * null, which both `filter(mc)` AND `filter(!mc)` drop: the whole
    * batch would silently vanish).
    *
    * NOTE: `BloomFilterAggregate` clamps to
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` /
    * `.maxNumBits` (defaults 4M items / 64M bits) — a deployment with a
    * billion-fingerprint catalog raises those confs, or accepts the
    * clamped filter's higher fpp (correctness is unaffected either way:
    * the exact anti-join still removes every false positive). */
  def catalogBloom(
      s: SparkSession, catalogTable: String, fpp: Double = 0.01,
      expectedItems: Long = -1L): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.Shim
    val n = if (expectedItems >= 0) expectedItems
      else committedTable(s, catalogTable).count()
    if (n == 0) {
      // the always-no filter: zero items inserted, any size
      val bf = org.apache.spark.util.sketch.BloomFilter.create(1, fpp)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    } else {
      val agg = new BloomFilterAggregate(
        Shim.expression(xxhash64(col("fingerprint"))),
        Literal(n), Literal(optimalNumBits(n, fpp)))
      committedTable(s, catalogTable)
        .select(Shim.column(agg.toAggregateExpression()).as("bloom"))
        .head().getAs[Array[Byte]](0)
    }
  }

  /** The Bloom probe predicate over a `fingerprint` column — true iff
    * the filter MIGHT contain the row (a false is exact). Exposed so a
    * measurement harness can count the definitely-new bypass mass the
    * split below routes around the anti-join. */
  def mightContainColumn(bloom: Array[Byte]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graft.Shim
    import org.apache.spark.sql.types.BinaryType
    Shim.column(new BloomFilterMightContain(
      Literal(bloom, BinaryType),
      Shim.expression(xxhash64(col("fingerprint")))))
  }

  /** The bloom split both faces share: rows the filter has definitely
    * never seen bypass the anti-join (a Bloom "no" is exact); possible
    * duplicates anti-join `catalog` to remove false positives exactly. */
  private def bloomSplit(
      withFp: DataFrame, catalog: DataFrame, bloom: Array[Byte]): DataFrame = {
    val mightContain = mightContainColumn(bloom)
    withFp.filter(!mightContain).unionByName(
      withFp.filter(mightContain)
        .join(catalog, Seq("fingerprint"), "left_anti"))
  }

  /** [[dedupAgainstCatalog]] with a Bloom prefilter: rows whose
    * fingerprint the filter has DEFINITELY never seen bypass the
    * anti-join entirely (a Bloom "no" is exact); only possible
    * duplicates — true dups plus an fpp-sized sliver of false positives
    * — shuffle into the bucketed anti-join, which removes the false
    * positives exactly. Output ≡ [[dedupAgainstCatalog]] by
    * construction.
    *
    * Why at 100 TB: the plain path shuffles the WHOLE batch to the
    * catalog's bucket count; in the steady state most arriving docs are
    * new, so that shuffle is mostly wasted motion. The bloom — built
    * once per catalog epoch and reused across every batch (and face:
    * the streaming stream-static join can prefilter with the same
    * bytes) — cuts the anti-join's probe side to roughly the duplicate
    * mass. The filter rides into executors as a literal in the
    * comparison expression (`might_contain`), the same mechanism
    * Spark's own runtime row-level filtering injects. */
  def dedupAgainstCatalogBloom(
      newBatch: DataFrame, catalogTable: String, bloom: Array[Byte]): DataFrame =
    bloomSplit(
      newBatch.withColumn("fingerprint", md5(col("text"))),
      committedTable(newBatch.sparkSession, catalogTable).hint("merge"), bloom)

  // ---- incremental FUZZY dedup (band catalog) -------------------------

  /** Write the historical MinHash BAND catalog — (band, doc_id), bucketed
    * and bucket-sorted on `band` — the near-duplicate analogue of the
    * fingerprint catalog. Band definitions are [[Dedup.minhashBanded]]'s
    * (shared with the pairs queries and fuzzy decontamination), so one
    * banding contract serves batch, pipeline, and incremental faces.
    * Storage is (32-hex band, id) — never shingles or text: the verify
    * step re-fetches candidate docs from the DOC STORE (the kept-corpus
    * table a deployment maintains anyway), keeping the index
    * signature-sized. */
  def writeBandCatalog(docs: DataFrame, path: String, table: String): String = {
    Dedup.minhashBanded(docs)
      .select("band", "doc_id")
      .withColumn("epoch", lit(0L))
      .repartition(1)
      .write
      .partitionBy("epoch")
      .bucketBy(CatalogBuckets, "band")
      .sortBy("band")
      .option("path", path)
      .saveAsTable(table)
    EpochCommit.mark(docs.sparkSession, path, 0L)
    table
  }

  /** Rows of `newBatch` with NO verified near-duplicate (shingle Jaccard
    * ≥ 0.5, the [[Dedup.fuzzyContaminatedIds]] integer threshold) in the
    * band catalog. The catalog side of the band join reads its buckets
    * in place — the merge hint pins the SMJ shape the layout is built
    * for, only the (small) banded batch shuffles. Band collisions are
    * duplicate-mass-sized; their doc texts are re-fetched from
    * `history` (the doc store) narrowly — history never shuffles, the
    * candidate id set joins against it and AQE broadcasts the small
    * side. A batch doc already IN the catalog collides with itself at
    * J = 1 and is eliminated — same self-elimination contract as the
    * exact face. */
  def dedupFuzzyAgainstCatalog(
      newBatch: DataFrame, catalogTable: String, history: DataFrame): DataFrame = {
    val s = newBatch.sparkSession
    // r20 opt (guide §2.3 "shuffle keys, not payloads"): the band join
    // and the candidate distinct used to carry the batch's full shingle
    // arrays — 55.7 MB of this query's 55.7 MB shuffle at sf0.1, and a
    // shingle-array-KEYED distinct whose hash-agg state grows with the
    // candidate mass. The catalog's own contract ("the index stays
    // signature-sized; the verify re-fetches docs") now holds on the
    // batch side too: only (band, doc_id) crosses the catalog join, the
    // candidate distinct is id-pair-sized, and each side's shingles
    // attach narrowly afterwards (batch sh re-derived batch-sized, AQE
    // sizes the join; catalog sh from the doc store, unchanged).
    // Candidate pair set is identical — sh was functionally dependent
    // on doc_id in the old distinct key.
    val cands = Dedup.minhashBanded(newBatch).select("band", "doc_id")
      .join(committedTable(s, catalogTable).hint("merge")
        .withColumnRenamed("doc_id", "cat_doc_id"), Seq("band"))
      .select("doc_id", "cat_doc_id")
      .distinct()
    val batchSh = newBatch
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= Dedup.ShingleN)
      .withColumn("sh", Dedup.shinglesExpr)
      .select(col("doc_id"), col("sh"))
    val catSh = history
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= Dedup.ShingleN)
      .withColumn("sh_b", Dedup.shinglesExpr)
      .select(col("doc_id").as("cat_doc_id"), col("sh_b"))
    val dupIds = cands
      .join(batchSh, Seq("doc_id"))
      .join(catSh, Seq("cat_doc_id"))
      .filter(lit(3) * size(array_intersect(col("sh"), col("sh_b"))) >=
        size(col("sh")) + size(col("sh_b")))
      .select("doc_id").distinct()
    newBatch.join(dupIds, Seq("doc_id"), "left_anti")
  }

  /** Append an admitted batch's fingerprints into the catalog with the
    * SAME bucket spec — the epoch tick that makes this batch history for
    * every later run (batch or streaming). The batch must carry a
    * `fingerprint` column (both dedup faces emit it). Crash-atomic: the
    * new epoch is invisible until its marker commits, and any torn
    * earlier attempt is swept first. */
  def appendCatalog(admitted: DataFrame, path: String, table: String): Unit = {
    val s = admitted.sparkSession
    val epoch = appendCatalogData(admitted, path, table)
    EpochCommit.mark(s, path, epoch)
  }

  /** The data half of [[appendCatalog]] — everything UP TO the commit
    * point. Exposed separately so the crash-recovery suite can stop
    * exactly where a real crash would. Returns the epoch written. */
  private[operators] def appendCatalogData(
      admitted: DataFrame, path: String, table: String): Long = {
    val s = admitted.sparkSession
    EpochCommit.requireEpochLayout(s, path)
    val epoch = EpochCommit.nextEpoch(s, path)
    admitted.select("fingerprint").distinct()
      .withColumn("epoch", lit(epoch))
      .repartition(1)
      .write.mode("append")
      .partitionBy("epoch")
      .bucketBy(CatalogBuckets, "fingerprint")
      .sortBy("fingerprint")
      .option("path", path)
      .saveAsTable(table)
    epoch
  }

  /** Append an admitted batch's band signatures into the band catalog —
    * the fuzzy face's epoch tick ([[appendCatalog]]'s contract,
    * including crash atomicity — same data/commit split, same
    * torn-epoch suite coverage). Needs `doc_id` and `text`. */
  def appendBandCatalog(admitted: DataFrame, path: String, table: String): Unit = {
    val epoch = appendBandCatalogData(admitted, path, table)
    EpochCommit.mark(admitted.sparkSession, path, epoch)
  }

  /** The data half of [[appendBandCatalog]] — everything UP TO the
    * commit point (the [[appendCatalogData]] seam, so the crash suite
    * can stop exactly where a real crash would). */
  private[operators] def appendBandCatalogData(
      admitted: DataFrame, path: String, table: String): Long = {
    val s = admitted.sparkSession
    EpochCommit.requireEpochLayout(s, path)
    val epoch = EpochCommit.nextEpoch(s, path)
    Dedup.minhashBanded(admitted)
      .select("band", "doc_id")
      .withColumn("epoch", lit(epoch))
      .repartition(1)
      .write.mode("append")
      .partitionBy("epoch")
      .bucketBy(CatalogBuckets, "band")
      .sortBy("band")
      .option("path", path)
      .saveAsTable(table)
    epoch
  }

  /** Fold the fingerprint catalog's committed epochs into ONE —
    * [[EpochCommit.compact]] with the catalog's OWN bucketed writer, so
    * the folded epoch keeps the zero-exchange join contract (same
    * bucket spec, one file per bucket). Maintenance window required
    * (see [[EpochCommit.compact]]); returns the folded epoch, or None
    * when there is nothing to fold. A year of ingest batches collapses
    * to one epoch: `_epochs` stays a handful of files and every
    * reader's partition listing shrinks back to one directory. */
  def compactCatalog(s: SparkSession, path: String, table: String): Option[Long] = {
    val folded = EpochCommit.compact(s, path,
      () => committedTable(s, table),
      (rows, target) => rows
        .withColumn("epoch", lit(target))
        .repartition(1)
        .write.mode("append")
        .partitionBy("epoch")
        .bucketBy(CatalogBuckets, "fingerprint")
        .sortBy("fingerprint")
        .option("path", path)
        .saveAsTable(table))
    folded.foreach(_ => s.catalog.refreshTable(table))
    folded
  }

  /** [[compactCatalog]] for the band catalog (fuzzy face) — same fold,
    * band-bucketed writer. */
  def compactBandCatalog(s: SparkSession, path: String, table: String): Option[Long] = {
    val folded = EpochCommit.compact(s, path,
      () => committedTable(s, table),
      (rows, target) => rows
        .withColumn("epoch", lit(target))
        .repartition(1)
        .write.mode("append")
        .partitionBy("epoch")
        .bucketBy(CatalogBuckets, "band")
        .sortBy("band")
        .option("path", path)
        .saveAsTable(table))
    folded.foreach(_ => s.catalog.refreshTable(table))
    folded
  }

  /** Streaming face of the fuzzy contract: each micro-batch runs the
    * batch operator against the SAME persisted band catalog + doc store,
    * via `foreachBatch` — the exact face's stream-STATIC anti-join shape
    * is not available here because the verified-duplicate id set derives
    * from the arriving rows themselves (a continuous plan would need a
    * stream-stream anti-join), while per-micro-batch the derivation is
    * just the batch plan. Ingest and batch runs consult one index, so a
    * near-duplicate admitted by either face never re-enters; `emit`
    * receives each micro-batch's survivors. */
  def dedupFuzzyStreamWriter(
      stream: DataFrame, catalogTable: String, history: DataFrame)(
      emit: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      emit(dedupFuzzyAgainstCatalog(batch, catalogTable, history))
    }

  // ---- oracle-gated query plumbing ------------------------------------

  // One catalog fixture per (session, sfDir): table names are
  // session-scoped, so the memo must be too — a second SparkSession
  // reusing a first session's memoized name would get table-not-found.
  // Each session's build writes its own on-disk artifact (the key
  // carries a per-build counter) and names the table after the
  // artifact dir, so neither concurrent JVMs nor two sessions over the
  // same dir ever share files or names. Both memos live in
  // [[FixtureStore]]. The DuckDB oracle recomputes the catalog from
  // `documents` directly (it never reads these files).
  private val buildSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Historical catalog (even doc_ids of `dir`) written by `write` under
    * a fresh `graft_<tag>_…` artifact; returns the table name. */
  private def sessionCatalog(s: SparkSession, tag: String, dir: String)(
      write: (DataFrame, String, String) => String): String =
    FixtureStore.perSession(s, (tag, dir)) {
      val path = FixtureStore.onDisk(tag, s"$dir#${buildSeq.incrementAndGet()}") { p =>
        write(Tables.documents(s, dir).filter(col("doc_id") % 2 === 0), p,
          new java.io.File(p).getName): Unit
      }
      new java.io.File(path).getName
    }

  private def ensureCatalog(s: SparkSession, dir: String): String =
    sessionCatalog(s, "fpcat", dir)(writeCatalog)

  /** Historical catalog = even doc_ids; the arriving batch is the whole
    * table, so the evens eliminate themselves against the catalog and
    * odd docs (plus any odd duplicating an even's text) survive —
    * elimination genuinely exercises the join. */
  private val dedupIncremental = QueryDef(
    (s, dir) => {
      val cat = ensureCatalog(s, dir)
      dedupAgainstCatalog(Tables.documents(s, dir), cat)
        .select(col("doc_id"), col("fingerprint"), col("lang"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, md5(text) AS fingerprint, lang
      |FROM documents
      |WHERE md5(text) NOT IN
      |  (SELECT md5(text) FROM documents WHERE doc_id % 2 = 0)
      |ORDER BY doc_id""".stripMargin))

  // Band-catalog fixture: same memo discipline as [[ensureCatalog]],
  // distinct tag and table name.
  private def ensureBandCatalog(s: SparkSession, dir: String): String =
    sessionCatalog(s, "fzcat", dir)(writeBandCatalog)

  /** Fuzzy face of `dedup_incremental`: same even-ids history, NEAR-dup
    * elimination through the persisted band catalog — evens
    * self-eliminate at J = 1, odd docs leave only when a verified
    * near-duplicate of an even exists. The twin replays banding +
    * verification from the `documents` table via the shared
    * [[Dedup.fuzzyCandSqlCtes]] fragment. */
  private val dedupIncrementalFuzzy = QueryDef(
    (s, dir) => {
      val cat = ensureBandCatalog(s, dir)
      dedupFuzzyAgainstCatalog(
          Tables.documents(s, dir), cat,
          Tables.documents(s, dir).filter(col("doc_id") % 2 === 0))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },
    Some(s"""WITH fib AS (SELECT doc_id, text FROM documents),
      |fic AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
      |${Dedup.fuzzyCandSqlCtes("fib", "fic")}
      |SELECT doc_id, lang FROM documents
      |WHERE doc_id NOT IN (
      |  SELECT doc_id FROM fzcand WHERE ${Dedup.fuzzyThresholdSql})
      |ORDER BY doc_id""".stripMargin))

  // The bloom is a per-catalog-epoch artifact: memoized like the catalog
  // itself so every batch (and the bench's repeated runs) reuses one
  // build, which is the production shape the scaladoc promises.
  private def ensureBloom(s: SparkSession, cat: String): Array[Byte] =
    FixtureStore.perSession(s, ("bloom", cat))(catalogBloom(s, cat))

  /** Same contract and oracle as `dedup_incremental`, through the Bloom
    * prefilter path — proves output-equivalence against the identical
    * DuckDB twin while exercising the definitely-new bypass. */
  private val dedupIncrementalBloom = QueryDef(
    (s, dir) => {
      val cat = ensureCatalog(s, dir)
      dedupAgainstCatalogBloom(Tables.documents(s, dir), cat, ensureBloom(s, cat))
        .select(col("doc_id"), col("fingerprint"), col("lang"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, md5(text) AS fingerprint, lang
      |FROM documents
      |WHERE md5(text) NOT IN
      |  (SELECT md5(text) FROM documents WHERE doc_id % 2 = 0)
      |ORDER BY doc_id""".stripMargin))

  val all: Map[String, QueryDef] = Map(
    "dedup_incremental" -> dedupIncremental,
    "dedup_incremental_bloom" -> dedupIncrementalBloom,
    "dedup_incremental_fuzzy" -> dedupIncrementalFuzzy)
}
