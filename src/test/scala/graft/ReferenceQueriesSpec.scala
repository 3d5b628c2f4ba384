package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Replays the reference's ENGINE-LEVEL query corpus through
  * `Engine.sql` — the reference's PRIMARY correctness instrument is
  * differential testing of full queries against H2 on the TPC-H `tiny`
  * schema (presto-tests/.../AbstractTestQueries.java 353 @Test,
  * AbstractTestAggregations.java 114, AbstractTestJoinQueries.java 158,
  * AbstractTestWindowQueries.java 31, AbstractTestOrderByQueries.java
  * 17, plus — round-16 extension — the integration-smoke, indexed and
  * repartition suites; mechanism
  * AbstractTestQueryFramework.assertQuery). The frozen
  * corpus (src/test/resources/reference_queries.tsv,
  * tools/extract_ref_queries.py) holds each harvested query with its
  * DuckDB oracle result computed at sf0.01 (= the reference's `tiny`,
  * presto-tpch TpchMetadata.java:95-99) over the reference's unprefixed
  * schema (Tables.registerTinyViews).
  *
  * Two layers, mirroring ReferenceReplaySpec:
  *  1. SMOKE TRANCHE (always run): a deterministic 1-in-20 slice of the
  *     corpus, so `sbt test` exercises the mechanism end-to-end.
  *  2. FULL SWEEP (opt-in, SPARK_GRAFT_REPLAY=1): all frozen queries
  *     with a pass FLOOR — the residual tail is adjudicated dialect
  *     divergence, not silent gaps.
  *
  * Canonical cell protocol (MUST match extract_ref_queries.py):
  * NULL→"NULL", bool→1/0 (the reference's comparator is type-lax —
  * H2 BOOLEAN meets Presto BIGINT), float/decimal→"%.6e" (0→"0",
  * NaN→"NaN"), date→ISO, timestamp→ISO sans trailing fractional zeros,
  * array→[…], struct→{field:value sorted by name}; cells joined by
  * , unordered rows sorted by the joined string. On a string
  * mismatch, rows re-compare cell-wise with relative tolerance 1e-6 for
  * numeric cells (float summation order across engines).
  */
class ReferenceQueriesSpec extends AnyFunSuite {
  import ReferenceQueriesSpec.Case

  private val TinyDir = "/root/testdata/sf0.01"

  /** Dedicated session: the tiny views SHADOW the standard prefixed
    * table names, so the shared TestSpark session must not see them. */
  private lazy val tiny: SparkSession = {
    val s = TestSpark.spark.newSession()
    Tables.registerTinyViews(s, TinyDir)
    s
  }

  private def canonCell(v: Any): String = v match {
    case null => "NULL"
    // booleans canonicalize to 1/0 — the reference's own comparator is
    // type-lax (H2 BOOLEAN meets Presto BIGINT in expected rewrites)
    case b: Boolean => if (b) "1" else "0"
    case d: java.math.BigDecimal => canonCell(d.doubleValue())
    case d: BigDecimal => canonCell(d.toDouble)
    case f: Float => canonCell(f.toDouble)
    case d: Double =>
      if (d == 0.0) "0"
      else if (d.isNaN) "NaN"
      else String.format(java.util.Locale.ROOT, "%.6e", Double.box(d))
    case t: java.sql.Timestamp =>
      val s = t.toString
      if (s.contains("."))
        s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
      else s
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case seq: scala.collection.Seq[_] =>
      seq.map(canonCell).mkString("[", ",", "]")
    case arr: Array[_] => arr.map(canonCell).mkString("[", ",", "]")
    case r: org.apache.spark.sql.Row =>
      val names = r.schema.fieldNames
      names.indices.map(i => names(i) -> canonCell(r.get(i)))
        .sortBy(_._1).map { case (k, x) => s"$k:$x" }
        .mkString("{", ",", "}")
    case x => x.toString
  }

  private val Num = """-?\d+(\.\d+)?([eE][+-]?\d+)?""".r.pattern

  private def cellsMatch(a: String, b: String): Boolean =
    a == b || (Num.matcher(a).matches() && Num.matcher(b).matches() && {
      val (x, y) = (a.toDouble, b.toDouble)
      math.abs(x - y) <= math.abs(y) * 1e-6 + 1e-9
    })

  private def rowsMatch(got: Seq[String], want: Seq[String]): Boolean =
    got == want || (got.length == want.length &&
      got.zip(want).forall { case (g, w) =>
        val (gc, wc) = (g.split(''), w.split(''))
        gc.length == wc.length &&
          gc.zip(wc).forall { case (a, b) => cellsMatch(a, b) }
      })

  /** Canonical rows: cells joined by \u0001, sorted unless ordered. */
  private def canonRows(rows: Array[Row], ordered: Boolean): Seq[String] = {
    val got = rows.toSeq.map(_.toSeq.map(canonCell).mkString("\u0001"))
    if (ordered) got else got.sorted
  }

  private lazy val corpus: Vector[Case] = {
    val dec = java.util.Base64.getDecoder
    def d(s: String) = new String(dec.decode(s), "UTF-8")
    val in = getClass.getResourceAsStream("/reference_queries.tsv")
    scala.io.Source.fromInputStream(in, "UTF-8").getLines().map { line =>
      val f = line.split("\t", 9)
      val nRows = f(6).toInt
      val rows =
        if (f(8).isEmpty || nRows == 0) Vector.empty[String]
        else {
          val gz = new java.util.zip.GZIPInputStream(
            new java.io.ByteArrayInputStream(dec.decode(f(8))))
          val text = new String(gz.readAllBytes(), "UTF-8")
          // split with -1 and no emptiness shortcut: a single empty-string
          // row serializes as "" and must decode as ONE row, not zero
          text.split("\n", -1).toVector
        }
      Case(f(0), f(1), d(f(2)), f(4) == "1", f(5), nRows, f(7).toInt,
        rows)
    }.toVector
  }

  /** Runs one frozen case; returns None on pass, Some(reason) on fail. */
  private def replay(c: Case): Option[String] =
    try {
      val df = Engine.sql(tiny, TinyDir, c.sql)
      val rows = df.collect()
      if (c.mode == "empty") {
        if (rows.isEmpty) None else Some(s"expected empty, got ${rows.length}")
      } else if (c.mode == "count") {
        if (rows.length == c.nRows) None
        else Some(s"rows ${rows.length} != ${c.nRows}")
      } else {
        if (rows.length != c.nRows)
          Some(s"rows ${rows.length} != ${c.nRows}")
        else if (rows.nonEmpty && rows.head.length != c.nCols)
          Some(s"cols ${rows.head.length} != ${c.nCols}")
        else {
          val got = canonRows(rows, c.ordered)
          if (rowsMatch(got, c.expected)) None
          else {
            val i = got.zip(c.expected).indexWhere { case (g, w) => g != w }
            Some(s"row $i: got=${got.lift(i).getOrElse("")} " +
              s"want=${c.expected.lift(i).getOrElse("")}")
          }
        }
      }
    } catch {
      case e: Throwable =>
        Some(s"ERR ${String.valueOf(e.getMessage).takeWhile(_ != '\n').take(160)}")
    }

  private def sweep(cases: Seq[Case]): (Int, Seq[String]) = {
    var ok = 0
    val failures = collection.mutable.Buffer[String]()
    cases.foreach { c =>
      replay(c) match {
        case None => ok += 1
        case Some(why) =>
          failures += s"${c.file}:${c.method}: $why\n    SQL: ${c.sql.take(200)}"
      }
    }
    (ok, failures.toSeq)
  }

  test("smoke tranche: a deterministic 1-in-20 slice of the frozen " +
      "engine-level corpus replays green") {
    val slice = corpus.zipWithIndex.collect { case (c, i) if i % 20 == 0 => c }
    val (ok, failures) = sweep(slice)
    info(s"smoke: $ok / ${slice.size} queries match")
    // proportional floor: the slice inherits the full sweep's
    // adjudicated-tail ratio (~5%), so 85% tolerates tail drift across
    // re-freezes while a mechanism regression (which fails most of the
    // slice at once) still trips it
    assert(ok >= (slice.size * 85) / 100,
      s"smoke tranche: $ok of ${slice.size}\n${failures.take(10).mkString("\n")}")
  }

  test("smoke tranche: the interpreted small-statement path returns the " +
      "compiled path's canonical rows") {
    // the small path (org.apache.spark.sql.classic.SmallStatement) runs
    // the custom expressions' eval; the compiled path their doGenCode
    val slice = corpus.zipWithIndex.collect { case (c, i) if i % 20 == 0 => c }
    var routed = 0
    def run(c: Case, smallPath: Boolean): Either[String, Seq[String]] =
      try {
        val df = Engine.sql(tiny, TinyDir, c.sql, smallPath)
        if (df.sparkSession ne tiny) routed += 1
        Right(canonRows(df.collect(), c.ordered))
      } catch {
        case e: Throwable => Left(String.valueOf(e.getMessage).takeWhile(_ != '\n'))
      }
    val diffs = slice.flatMap { c =>
      (run(c, smallPath = true), run(c, smallPath = false)) match {
        case (Right(a), Right(b)) if rowsMatch(a, b) => None
        case (Left(_), Left(_)) => None
        case (a, b) => Some(s"${c.file}:${c.method}: interpreted=${a.toString.take(200)} " +
          s"compiled=${b.toString.take(200)}\n    SQL: ${c.sql.take(200)}")
      }
    }
    info(s"$routed of ${slice.size} statements took the interpreted path")
    assert(routed >= slice.size / 2, s"only $routed of ${slice.size} statements were routed")
    assert(diffs.isEmpty, diffs.mkString("\n"))
  }

  test("full sweep (SPARK_GRAFT_REPLAY=1): frozen engine-level corpus " +
      "holds the pass floor") {
    assume(sys.env.get("SPARK_GRAFT_REPLAY").contains("1"),
      "full corpus sweep is opt-in (minutes of runtime)")
    val (ok, failures) = sweep(corpus)
    info(s"corpus: $ok / ${corpus.size} queries match")
    failures.foreach(f => info(s"  FAIL $f"))
    // full failure detail for adjudication (the test log truncates)
    val dump = new java.io.PrintWriter("/tmp/refq_failures.txt", "UTF-8")
    try failures.foreach(dump.println) finally dump.close()
    // measured 1167/1220 after the round-16 conformance pass (varchar(n)
    // cast semantics, decimal HALF_UP, real=decimal coercion, DISTINCT
    // GROUPING SETS, JSON literal validation, VARCHAR typed literals,
    // set_union over all-NULL input) and the round-16 RE-FREEZE that
    // fixed the extractor's poisoned-DuckDB-connection bug (a failed
    // oracle broke every later query — the window/order-by files and 29
    // join queries were silently lost from the first freeze) and added
    // the smoke/indexed/repartition corpora. The 53-query tail is the
    // adjudicated families in README's divergence matrix (correlated
    // subqueries in exotic positions ~28, projected-IN three-valued
    // NULL 7 incl. the semi-join null-handling quartet, empty-input
    // global grouping sets 4, ORDER BY expression-position limits 4,
    // DuckDB half-even oracle rounding 2, reduce_agg distribution
    // seeding 2, the rest singleton analyzer limits). Floor leaves ~1%
    // headroom for re-freeze drift.
    assert(ok >= 1155,
      s"pass floor broken: $ok of ${corpus.size}\n${failures.take(30).mkString("\n")}")
  }
}

object ReferenceQueriesSpec {
  private final case class Case(file: String, method: String, sql: String,
      ordered: Boolean, mode: String, nRows: Int, nCols: Int,
      expected: Seq[String])
}
