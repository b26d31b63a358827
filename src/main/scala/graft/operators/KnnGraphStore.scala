package graft.operators

import graft.FixtureStore
import graft.queries.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * PERSISTED mutual-kNN graph: build ONCE, probe MANY — the
 * [[IvfIndex]] lifecycle applied to the graph family. A production
 * curation stack materializes the corpus kNN graph once per epoch and
 * then reads it from every graph consumer (SemDeDup-style cluster
 * pruning, label propagation, triangle density, hard-negative mining);
 * recomputing the cell self-join + per-node top-k inside each
 * consumer's plan pays the dominant cost of the graph family once per
 * CONSUMER instead of once per EPOCH — the round-13 verdict's one
 * named plan weakness.
 *
 * Layout under `path`:
 *   `edges/` — the directed ranked kNN edge list, exactly the verified
 *              `knn_graph` output (query_id, rank, neighbor_id, sim),
 *              V·k rows, parquet PARTITIONED BY (epoch, bucket) where
 *              bucket = query_id % [[NumBuckets]] — `epoch` is
 *              [[graft.ops.EpochCommit]]'s crash-atomic append layer
 *              (a torn build is invisible until its marker commits);
 *              `bucket` gives point probes ("this node's neighbors")
 *              partition pruning, the IVF-cell analogue for graphs.
 *
 * The edge math is [[Similarity]]'s `knn_graph` query REUSED VERBATIM
 * (this object adds persistence + pruning, not new math — the
 * [[IvfIndex.build]] stance), so `knn_graph_persisted` gates the
 * parquet round-trip and the partitioned layout against the same
 * DuckDB twin, and `graph_triangles` consuming the store can never
 * drift from the graph `knn_graph` declares.
 */
object KnnGraphStore {

  /** Bucket fan-out of the edge layout. Small (×#epochs directories)
    * but enough that a point probe reads 1/16 of the files; at 100 TB
    * the right value grows with the corpus the way nlist does for IVF. */
  val NumBuckets = 16

  /** Compute the ranked kNN edges for `dir`'s corpus and persist them
    * as the partitioned edge layout. One kNN-chain execution — the
    * cell-bucketed self-join + bounded top-k documented on the inline
    * `knn_graph` — then a V·k-row partitioned write. Alias of
    * [[refresh]]: the initial build IS the first refresh. */
  def build(s: SparkSession, dir: String, path: String): Unit = {
    refresh(s, dir, path); ()
  }

  /** REFRESH the store from `dir`'s current corpus: the whole edge list
    * is recomputed under the next epoch and committing its marker
    * atomically swaps every reader from epoch n to n+1 (kNN edges can't
    * be incrementally appended — new nodes change OLD nodes' top-k, so
    * the refresh unit is the complete artifact; supersede semantics,
    * not [[IvfIndex.append]]'s union semantics). A torn refresh (data
    * written, marker absent) is invisible to readers and swept by the
    * next refresh's [[graft.ops.EpochCommit.nextEpoch]]. Superseded
    * epochs stay on disk until [[expire]]. Returns the epoch written. */
  def refresh(s: SparkSession, dir: String, path: String): Long = {
    val root = s"$path/edges"
    val epoch = graft.ops.EpochCommit.nextEpoch(s, root)
    // the UNSORTED ranked edges — identical rows to `knn_graph`, minus
    // its presentation sort (a corpus-wide range exchange a partitioned
    // write would pay for nothing); one bucket-clustering exchange
    // instead, so each task writes exactly its own bucket directories
    Similarity.knnRankedEdges(s, dir, sorted = false)
      .withColumn("bucket", pmod(col("query_id"), lit(NumBuckets.toLong)))
      .withColumn("epoch", lit(epoch))
      .repartition(col("bucket"))
      .write.mode("append").partitionBy("epoch", "bucket")
      .parquet(root)
    graft.ops.EpochCommit.mark(s, root, epoch)
    epoch
  }

  /** Drop superseded epochs — the maintenance face of the refresh
    * lifecycle. `grace` is the snapshot-retention rule every table
    * format ends up with (the r16 concurrency soak measured why): an
    * expire that deletes everything below the live epoch can yank files
    * out from under a reader whose plan resolved just before a refresh
    * committed. `grace = 1` keeps the previous epoch too, which
    * protects any reader no staler than one refresh cycle; `grace = 0`
    * (the default, unchanged semantics) requires no concurrent readers
    * — a racing reader fails LOUDLY (missing-file error), never reads
    * silently-wrong rows (EpochConcurrencySoakSuite pins both modes).
    * Returns the epochs removed. */
  def expire(s: SparkSession, path: String, grace: Int = 0): Seq[Long] =
    graft.ops.EpochCommit.latest(s, s"$path/edges") match {
      case Some(live) =>
        graft.ops.EpochCommit.expireBelow(s, s"$path/edges", live - grace)
      case None => Seq.empty
    }

  /** The LATEST committed edge list — (query_id, rank, neighbor_id,
    * sim), unordered (consumers impose their own order). Supersede
    * semantics: exactly one epoch serves reads; a committed refresh
    * swaps it atomically. */
  def edges(s: SparkSession, path: String): DataFrame =
    graft.ops.EpochCommit.latestTable(s, s"$path/edges")
      .select("query_id", "rank", "neighbor_id", "sim")

  /** Point probe: the stored neighbors of `nodes`, read through bucket
    * partition pruning — only the probed buckets' FILES are touched
    * (suite-counted), never the full edge list. */
  def neighbors(s: SparkSession, path: String, nodes: Seq[Long]): DataFrame = {
    require(nodes.nonEmpty, "no probe nodes")
    // floorMod: must match the build's pmod on any id sign
    val buckets = nodes.map(n => java.lang.Math.floorMod(n, NumBuckets.toLong)).distinct
    graft.ops.EpochCommit.latestTable(s, s"$path/edges")
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("query_id").isin(nodes: _*))
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** MUTUAL (undirected) edges from a directed ranked edge frame: both
    * directions ranked ≤ k — the standard symmetrization that drops
    * hub-induced one-way edges — stored once as (a, b) = (min, max).
    * ONE definition shared by `graph_triangles` and any future
    * undirected consumer. */
  def mutualEdges(knnEdges: DataFrame): DataFrame =
    knnEdges
      .select(least(col("query_id"), col("neighbor_id")).as("a"),
        greatest(col("query_id"), col("neighbor_id")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
      .filter(col("n") === 2).select("a", "b")

  /** The memoized per-JVM store for a testdata dir — built on first
    * use, then every graph consumer in the battery reads the same
    * files (the `ann_ivf_persisted_topk` fixture pattern). */
  private[operators] def pathOf(s: SparkSession, dir: String): String =
    FixtureStore.onDisk("knngraph", dir)(p => build(s, dir, p))

  private[operators] def edgesOf(s: SparkSession, dir: String): DataFrame =
    edges(s, pathOf(s, dir))

  /** `knn_graph` through the PERSISTED lifecycle: build the edge list
    * to storage once (memoized fixture), read it back through the
    * committed-epoch filter. The DuckDB twin is the inline query's
    * VERBATIM — the oracle now gates the parquet round-trip and the
    * (epoch, bucket) layout, not just the inline plan. */
  private val knnGraphPersisted = QueryDef(
    (s, dir) => edgesOf(s, dir).orderBy("query_id", "rank"),
    Similarity.all("knn_graph").oracle)

  /** `knn_graph` through the REFRESH lifecycle — the store is built
    * from a HALF corpus (vec_id below the median), refreshed from the
    * full corpus, superseded epochs expired, then read back. The oracle
    * is the inline `knn_graph` twin VERBATIM over the FULL corpus, so a
    * green row proves the supersede semantics end-to-end: the committed
    * refresh serves exactly the new artifact (any half-corpus edge
    * leaking into the view — union where supersede is required — or
    * any stale-epoch survival after expiry breaks the hash match).
    * Build + refresh + expire are memoized per JVM ([[FixtureStore]]);
    * the read pays probe cost only. */
  private val knnGraphRefreshed = QueryDef(
    (s, dir) => {
      val path = FixtureStore.onDisk("knngrefresh", dir) { p =>
        val full = graft.Tables.embeddings(s, dir)
        val cut = full.agg(expr("percentile_approx(vec_id, 0.5)"))
          .head().getLong(0)
        full.filter(col("vec_id") < cut)
          .write.parquet(s"$p/half/embeddings.parquet")
        build(s, s"$p/half", s"$p/store")
        refresh(s, dir, s"$p/store")
        expire(s, s"$p/store")
        ()
      }
      edges(s, s"$path/store").orderBy("query_id", "rank")
    },
    Similarity.all("knn_graph").oracle)

  /** CONNECTED COMPONENTS over the persisted mutual-kNN graph — the
    * SemDeDup-style semantic cluster relation (each component is one
    * tight embedding neighborhood; `component` = min vec_id reachable
    * through mutual-kNN edges, `component_size` the neighborhood mass a
    * curation policy thresholds on). Consumes the store (edge-join
    * cost) and resolves in the PRODUCTION configuration: union-find
    * gate on (metadata-sized graphs — this SF — collapse to the exact
    * driver resolution), star contraction past it at scale; the star
    * path itself is oracle-forced by `dedup_clusters_star`. The DuckDB
    * twin walks the identical graph's transitive closure via a
    * recursive CTE, gating store + mutual symmetrization + component
    * semantics. */
  private val knnComponents = QueryDef(
    (s, dir) => {
      val und = mutualEdges(edgesOf(s, dir).select("query_id", "neighbor_id"))
      val cc = ConnectedComponents.run(
        graft.Tables.embeddings(s, dir).select("vec_id"), "vec_id",
        und, "a", "b", algorithm = "star")
      cc.labels
        .select(col("id").as("vec_id"), col("label").as("component"))
        .withColumn("component_size", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("component")))
        .orderBy("vec_id")
    },
    Some(s"""WITH RECURSIVE ${Similarity.knnGraphSqlCtes},
      |knn AS (SELECT query_id, neighbor_id FROM granked
      |        WHERE rank <= ${Similarity.KnnK}),
      |und AS MATERIALIZED (
      |  SELECT LEAST(query_id, neighbor_id) AS a,
      |         GREATEST(query_id, neighbor_id) AS b
      |  FROM knn GROUP BY 1, 2 HAVING COUNT(*) = 2),
      |gedges AS (SELECT a AS src, b AS dst FROM und UNION
      |           SELECT b AS src, a AS dst FROM und),
      |walk(id, lbl) AS (
      |  SELECT vec_id, vec_id FROM embeddings
      |  UNION
      |  SELECT e.dst, w.lbl FROM walk w JOIN gedges e ON e.src = w.id),
      |glabels AS (SELECT id AS vec_id, MIN(lbl) AS component
      |            FROM walk GROUP BY id)
      |SELECT vec_id, component,
      |       COUNT(*) OVER (PARTITION BY component) AS component_size
      |FROM glabels ORDER BY vec_id""".stripMargin))

  val all: Map[String, QueryDef] = Map(
    "knn_graph_persisted" -> knnGraphPersisted,
    "knn_graph_refreshed" -> knnGraphRefreshed,
    "knn_components" -> knnComponents)
}
