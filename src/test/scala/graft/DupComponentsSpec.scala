package graft

import graft.ops.DupComponents
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.LongType

/** DupComponents' contracts beyond the d09 oracle: the round budget
  * fails loud, the empty graph keeps the schema, messy input (INT ids,
  * duplicate, reversed, self-loop and null-ended pairs) labels like
  * clean input, and the labels do not depend on partition counts. */
class DupComponentsSpec extends QueryAssertions {

  private def comps(df: DataFrame): Seq[(Long, Long)] =
    DupComponents.components(df).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  /** Sequential union-find: each edge node's component minimum. */
  private def unionFind(edges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(n => (n, find(n))).sorted
  }

  test("a 60-edge path graph fails loud after the 50-round budget") {
    val session = spark
    import session.implicits._
    val path = (0L until 60L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalArgumentException](DupComponents.components(path))
    assert(e.getMessage.contains("did not converge in 50 rounds"), e.getMessage)
  }

  test("empty pairs give an empty frame of BIGINT (node, rep)") {
    val session = spark
    import session.implicits._
    val out = DupComponents.components(Seq.empty[(Long, Long)].toDF("a", "b"))
    assert(out.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq("node" -> LongType, "rep" -> LongType))
    assert(out.count() == 0)
  }

  test("INT ids, duplicate, reversed, self-loop and null-ended pairs label like clean input") {
    val session = spark
    import session.implicits._
    val clean = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("a", "b")
    val messy = (Seq((2, 1), (2, 3), (3, 2), (2, 3), (11, 10), (10, 11),
      (21, 20), (21, 21), (2, 2)).map { case (a, b) => (Option(a), Option(b)) } ++
      Seq((Some(30), None), (None, Some(31)))).toDF("a", "b")
    val want = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L),
      (20L, 20L), (21L, 20L))
    assert(comps(clean) == want)
    assert(comps(messy) == want)
  }

  test("labels match union-find at 1 and 7 shuffle partitions and a 5-way input") {
    // a dense random graph (small diameters) plus a 12-node chain, so the
    // labels take several rounds to settle
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(300)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong)) ++
      (500L until 511L).map(i => (i, i + 1))
    val want = unionFind(edges)
    def at(parts: Int, inputParts: Option[Int]): Seq[(Long, Long)] = {
      val s: SparkSession = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", parts.toString)
      import s.implicits._
      val df = edges.toDF("a", "b")
      comps(inputParts.fold(df)(df.repartition(_)))
    }
    assert(at(1, None) == want)
    assert(at(7, None) == want)
    assert(at(7, Some(5)) == want)
  }
}
