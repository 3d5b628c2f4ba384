package graft

/** The ledger's two contracts Bench's planning_sec stands on: eager jobs
  * started while a DataFrame is built carry the caller's tag, and their
  * overlapping intervals count once. */
class JobLedgerSpec extends QueryAssertions {

  test("overlapping job intervals count once in the union") {
    assert(JobLedger.unionMs(Seq((20L, 30L), (0L, 10L), (5L, 15L), (22L, 25L))) == 25L)
    assert(JobLedger.unionMs(Seq((0L, 10L), (5L, 15L)), lo = 8L, hi = 12L) == 4L)
    assert(JobLedger.unionMs(Seq((0L, 100L), (10L, 20L))) == 100L)
    assert(JobLedger.unionMs(Nil) == 0L)
  }

  test("DupComponents construction runs tagged jobs whose union fits in its wall") {
    val session = spark
    import session.implicits._
    val sc = spark.sparkContext
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val ledger = JobLedger.install(sc)
    try {
      val w0 = System.currentTimeMillis()
      val comps = JobLedger.tagged(sc, "spec.construct")(
        graft.ops.DupComponents.components(pairs))
      val w1 = System.currentTimeMillis()
      val jobs = ledger.take("spec.construct")
      // one job per propagation round after the first: round 2 lowers
      // 3's label, round 3 changes nothing
      assert(jobs.size == 2, jobs)
      assert(jobs.exists(_.tasks > 0), jobs)
      assert(JobLedger.unionMs(jobs.map(j => (j.startMs, j.endMs))) <= w1 - w0)
      // the tag ended with the scope: running the result adds no rows
      assert(sc.getLocalProperty(JobLedger.TagKey) == null)
      assert(comps.count() == 5)
      assert(ledger.take("spec.construct").isEmpty)
    } finally ledger.close()
  }

  test("IVF train + index run one job per Lloyd pass") {
    val sc = spark.sparkContext
    val sf = new java.io.File(sfDir).getParent + "/sf0.01"
    val emb = Tables.load(spark, sf, "embeddings")
    val ledger = JobLedger.install(sc)
    try {
      val indexed = JobLedger.tagged(sc, "spec.ivf") {
        val centroids = graft.ops.IvfIndex.train(emb, "vec_id", "embedding", k = 16)
        graft.ops.IvfIndex.index(emb, "vec_id", "embedding", centroids)
      }
      // the over-cap probe, the seed take, 2 Lloyd passes, the index
      // barrier; reading the local centroid frame starts none
      val jobs = ledger.take("spec.ivf")
      assert(jobs.size == 5, jobs)
      assert(indexed.count() == 500)
    } finally ledger.close()
  }
}
