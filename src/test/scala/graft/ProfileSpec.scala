package graft

/** graft.Profile is the one profiler; these keep each of its modes from
  * rotting between the runs that use it. */
class ProfileSpec extends QueryAssertions {
  private val sf = new java.io.File(sfDir).getParent + "/sf0.01"

  test("times records ledger rows with tasks for a corpus entry and a stress leg") {
    val (targets, release) =
      Profile.select(spark, sf, "^(q06_forecast_revenue|d02x_minhash)$", scale = 2)
    try {
      assert(targets.map(_.name) == Seq("q06_forecast_revenue", "d02x_minhash"))
      Profile.times(spark, targets, runs = 1).foreach { t =>
        assert(t.walls.size == 1 && t.walls.head > 0)
        assert(t.jobs.exists(_.tasks > 0), s"${t.name}: no ledger row with tasks")
        assert(t.jobs.forall(_.tag.startsWith(s"${t.name}#1:")), t.jobs)
      }
    } finally release()
  }

  test("ab restores the key's prior value, set or unset, also when a leg throws") {
    val key = "graft.spec.profile.ab"
    val cheap = Profile.Target("cheap", () => spark.range(10).toDF())
    val boom = Profile.Target("boom", () => sys.error("leg failed"))
    def value = spark.conf.getAll.get(key)

    spark.conf.set(key, "prior")
    val legs = Profile.ab(spark, Seq(cheap), key, Seq("a", "b"), rounds = 2)
    assert(legs.map(l => (l.round, l.value)) == Seq((1, "a"), (1, "b"), (2, "b"), (2, "a")))
    assert(value.contains("prior"))

    intercept[RuntimeException](Profile.ab(spark, Seq(boom), key, Seq("a", "b"), 1))
    assert(value.contains("prior"))

    spark.conf.unset(key)
    intercept[RuntimeException](Profile.ab(spark, Seq(boom), key, Seq("a", "b"), 1))
    assert(value.isEmpty)
  }

  test("an unknown name or mode fails with a message") {
    val e = intercept[IllegalArgumentException](
      Profile.select(spark, sf, "^no_such_entry$", scale = 2))
    assert(e.getMessage.contains("no_such_entry") && e.getMessage.contains("d07x_embedding"))
    val m = intercept[IllegalArgumentException](
      Profile.run(spark, sf, Seq("bogus", "^q06_forecast_revenue$")))
    assert(m.getMessage.contains("usage: Profile"))
  }

  test("actionPlans captures d02's localCheckpoint barrier plan, no cartesian") {
    val (_, barriers) = checkpointPlans(graft.ops.MinHashLSH.nearDuplicates(
      Tables.load(spark, sf, "documents"), "doc_id", "text", 0.5))
    assert(barriers.forall(!_.contains("CartesianProduct")), barriers.mkString("\n"))
  }

  test("plans names an entry whose plan holds an unpartitioned window") {
    import org.apache.spark.sql.expressions.{Window, WindowSpec}
    import org.apache.spark.sql.functions.{col, row_number}
    val out = java.nio.file.Files.createTempDirectory("graft_plans").toFile
    def ranked(name: String, w: WindowSpec) = Profile.Target(name, () =>
      spark.range(4).withColumn("k", col("id") % 2).withColumn("rn", row_number().over(w)))
    assert(Profile.plans(spark, Seq(ranked("global", Window.orderBy("id")),
      ranked("keyed", Window.partitionBy("k").orderBy("id"))), out) == Seq("global"))
    assert(new java.io.File(out, "keyed_executed.txt").length() > 0)
  }
}
