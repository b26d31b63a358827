// Round-20 past-cap drive: the int8 bound-prefilter on the shuffle-hash
// verify-fetch face, measured at the same 520x corpus as the r18/r19
// drives (1.04M vectors, nlist 4160, broadcast quantizer face).
// dedup_semantic runs end-to-end with the verify-fetch face FORCED to
// shuffle-hash (the past-FetchBroadcastMaxBytes regime), twice. The
// screen=off arm (the r19 shuffle face verbatim) ran behind a system
// property that has since been removed; its numbers, next to the
// screen=on arm's, are recorded in docs/PLANS_r20.md. The shuffle bytes
// and the warm wall are the measurement.
object XCapDrive20 {
  def run(): Unit = {
    val s = spark
    val real = "/root/testdata/sf0.1"
    val dir = "/tmp/graft_scale/xcap"
    if (!new java.io.File(s"$dir/embeddings.parquet").exists()) {
      val fit = graft.ScaleCorpus.fitEmbeddings(s, real)
      graft.ScaleCorpus.generateEmbeddings(s, fit, 520, 2016L,
        s"$dir/embeddings.parquet")
    }
    val collector = graft.metrics.JobGroupCollector.attach(s)
    sys.props("graft.verifyFetchFace") = "shuffle"
    for (i <- 1 to 2) {
      graft.ScaleReport.settle(s)
      val r = collector.run(s"xcap20/on#$i")(
        graft.SparkEntry.queries("dedup_semantic")(s, dir)).checked
      val st = r.totals
      println(f"##XCAP20## screen=on run=$i wall=${r.wallSec.get}%.1f " +
        f"shufW=${st.shuffleWriteBytes / 1e9}%.2fGB shufR=${st.shuffleReadBytes / 1e9}%.2fGB " +
        f"peak=${st.peakTaskMemory / 1e6}%.1fMB spillD=${st.diskSpillBytes / 1e9}%.2fGB")
    }
    collector.close()
    sys.props.remove("graft.verifyFetchFace")
  }
}
XCapDrive20.run()
System.exit(0)
