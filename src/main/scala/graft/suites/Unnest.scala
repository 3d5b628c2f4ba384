package graft.suites

import graft.{Qdef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table-function corpus (SURVEY §2.9): VALUES, UNNEST (arrays, WITH
  * ORDINALITY), word explode, sequence, TABLESAMPLE. Reference operators:
  * presto-main/.../operator/ValuesOperator.java, operator/unnest/
  * UnnestOperator.java (+ ArrayUnnester), scalar/SequenceFunction.java,
  * planner/plan/SampleNode.java:41-44.
  */
object Unnest {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val defs: Seq[Qdef] = Seq(

    // Inline literal rows (VALUES) — LocalRelation, no scan at all.
    Qdef(
      "u01_values",
      """SELECT id, name, id * 2 AS doubled
        |FROM (VALUES (1, 'alpha'), (2, 'beta'), (3, 'gamma')) AS t(id, name)
        |ORDER BY id""".stripMargin) { (s, _) =>
      import s.implicits._
      Seq((1, "alpha"), (2, "beta"), (3, "gamma")).toDF("id", "name")
        .withColumn("doubled", col("id") * 2)
        .orderBy("id")
    },

    // UNNEST WITH ORDINALITY over a real array column (1-based index on
    // both engines; Spark's posexplode is 0-based → +1).
    Qdef.duckOnly(
      "u02_unnest_ordinality",
      """SELECT vec_id, i, round(v, 4) AS val
        |FROM (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |         CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings WHERE vec_id < 3) u
        |ORDER BY vec_id, i""".stripMargin) { (s, dir) =>
      t(s, dir, "embeddings").filter(col("vec_id") < 3)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(
          col("vec_id"), (col("pos") + 1).as("i"),
          round(col("v").cast("double"), 4).as("val"))
        .orderBy("vec_id", "i")
    },

    // Split-and-explode: word frequencies over documents (the UNNEST-of-
    // split idiom every text pipeline uses).
    Qdef.duckOnly(
      "u03_word_explode",
      """SELECT w, CAST(count(*) AS BIGINT) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) words
        |WHERE w <> ''
        |GROUP BY w
        |ORDER BY cnt DESC, w
        |LIMIT 20""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("w")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w"))
        .limit(20)
    },

    // sequence() → rows (Presto: UNNEST(sequence(a,b)); Spark:
    // explode(sequence()); DuckDB: generate_series).
    Qdef.duckOnly(
      "u04_sequence",
      """SELECT CAST(unnest(generate_series(1, 10)) AS BIGINT) AS x""") { (s, _) =>
      s.range(1, 11).select(col("id").as("x"))
    },

    // TABLESAMPLE BERNOULLI — inherently nondeterministic, so the check is
    // a property: the sampled fraction lands within generous bounds and
    // never exceeds the population (reference rewrite: presto-main/.../
    // iterative/rule/ImplementBernoulliSampleAsFilter.java).
    Qdef(
      "u05_tablesample_bounds",
      "SELECT true AS frac_ok, true AS subset_ok") { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val total = li.count()
      val sampled = li.sample(withReplacement = false, fraction = 0.1, seed = 42).count()
      val frac = sampled.toDouble / total
      import s.implicits._
      Seq((frac > 0.05 && frac < 0.2, sampled <= total))
        .toDF("frac_ok", "subset_ok")
    },

    // Multi-argument UNNEST with ordinality: UNNEST(a, b) rows via
    // arrays_zip + posexplode (reference: operator/unnest/
    // UnnestOperator.java multi-channel path; DuckDB zips parallel
    // unnests positionally).
    Qdef.duckOnly(
      "u07_multi_unnest",
      """SELECT vec_id, i, round(v1, 4) AS v1, round(v2, 4) AS v2
        |FROM (
        |  SELECT vec_id,
        |    generate_subscripts(embedding, 1) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS v1,
        |    CAST(unnest(list_reverse(embedding)) AS DOUBLE) AS v2
        |  FROM embeddings WHERE vec_id < 3) u
        |ORDER BY vec_id, i""".stripMargin) { (s, dir) =>
      t(s, dir, "embeddings").filter(col("vec_id") < 3)
        .withColumn("z",
          arrays_zip(col("embedding"), reverse(col("embedding")).as("rev")))
        .select(col("vec_id"), posexplode(col("z")).as(Seq("pos", "pair")))
        .select(
          col("vec_id"), (col("pos") + 1).as("i"),
          round(col("pair.embedding").cast("double"), 4).as("v1"),
          round(col("pair.rev").cast("double"), 4).as("v2"))
        .orderBy("vec_id", "i")
    },

    // VERBATIM Presto SQL-form UNNEST through the facade (reference:
    // SqlBase.g4:326 relationPrimary UNNEST; operator/unnest/
    // UnnestOperator.java): CROSS JOIN UNNEST ... WITH ORDINALITY is
    // dialect-rewritten to LATERAL VIEW inline(transform(...)) with a
    // 1-based BIGINT ordinality.
    Qdef.duckOnly(
      "u08_sql_unnest_ordinality",
      """SELECT doc_id, w, i
        |FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |         CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS i
        |  FROM documents WHERE doc_id < 5) u
        |WHERE w <> ''
        |ORDER BY doc_id, i""".stripMargin) { (s, dir) =>
      graft.Engine.sql(s, dir,
        """SELECT d.doc_id, t.w, t.i
          |FROM documents d
          |CROSS JOIN UNNEST(split(d.text, ' ')) WITH ORDINALITY AS t(w, i)
          |WHERE d.doc_id < 5 AND t.w <> ''
          |ORDER BY d.doc_id, t.i""".stripMargin)
    },

    // Multi-argument SQL-form UNNEST via the comma (implicit lateral)
    // spelling: positional zip with NULL padding to the longest array
    // (reference: UnnestOperator.java multi-channel path).
    Qdef.duckOnly(
      "u09_sql_multi_unnest",
      """SELECT vec_id, round(v1, 4) AS v1, round(v2, 4) AS v2, i
        |FROM (
        |  SELECT vec_id,
        |    CAST(unnest(embedding) AS DOUBLE) AS v1,
        |    CAST(unnest(list_reverse(embedding)) AS DOUBLE) AS v2,
        |    CAST(generate_subscripts(embedding, 1) AS BIGINT) AS i
        |  FROM embeddings WHERE vec_id < 3) u
        |ORDER BY vec_id, i""".stripMargin) { (s, dir) =>
      graft.Engine.sql(s, dir,
        """SELECT e.vec_id,
          |  round(CAST(t.v1 AS DOUBLE), 4) AS v1,
          |  round(CAST(t.v2 AS DOUBLE), 4) AS v2,
          |  t.i
          |FROM embeddings e, UNNEST(e.embedding, reverse(e.embedding)) WITH ORDINALITY AS t(v1, v2, i)
          |WHERE e.vec_id < 3
          |ORDER BY e.vec_id, t.i""".stripMargin)
    },

    // Outer SQL-form UNNEST: Presto's LEFT JOIN UNNEST ... ON TRUE keeps
    // rows whose array is empty (reference: SqlBase.g4 joinType +
    // UnnestNode outer flag) → LATERAL VIEW OUTER explode.
    Qdef.duckOnly(
      "u10_sql_outer_unnest",
      """SELECT id, x
        |FROM (VALUES (1, [10, 20]), (2, [])) t(id, arr)
        |LEFT JOIN LATERAL (SELECT CAST(unnest(arr) AS BIGINT) AS x) u ON TRUE
        |ORDER BY id, x""".stripMargin) { (s, dir) =>
      graft.Engine.sql(s, dir,
        """SELECT t.id, CAST(u.x AS BIGINT) AS x
          |FROM (VALUES (1, ARRAY[10, 20]), (2, ARRAY[])) AS t(id, arr)
          |LEFT JOIN UNNEST(t.arr) AS u(x) ON TRUE
          |ORDER BY t.id, u.x""".stripMargin)
    },

    // Multi-array zip: dot product via zip_with + aggregate HOFs — the
    // arrays_zip form of UNNEST(a, b) (reference: operator/unnest/
    // UnnestOperator.java multi-channel path).
    Qdef.duckOnly(
      "u06_zip_dot_product",
      """SELECT vec_id, round(list_dot_product(embedding, embedding), 4) AS sqnorm
        |FROM embeddings WHERE vec_id < 20
        |ORDER BY vec_id""".stripMargin) { (s, dir) =>
      t(s, dir, "embeddings").filter(col("vec_id") < 20)
        .select(
          col("vec_id"),
          round(
            expr("aggregate(zip_with(embedding, embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"),
            4).as("sqnorm"))
        .orderBy("vec_id")
    },

    // UNNEST followed by a further JOIN in the same FROM (reference:
    // SqlBase.g4 relations compose freely; operator/unnest/
    // UnnestOperator.java output is just another join input). Spark's
    // LATERAL VIEW can't sit mid-join-chain, so the dialect emits the
    // lateral-subquery form — `JOIN LATERAL (SELECT explode(…) AS w) t`
    // — and the remaining JOIN parses normally after it.
    Qdef.duckOnly(
      "u11_sql_unnest_then_join",
      """SELECT u.doc_id, u.w, r.r_name
        |FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents WHERE doc_id < 5) u
        |JOIN region r ON r.r_regionkey = length(u.w) % 5
        |WHERE u.w <> ''
        |ORDER BY u.doc_id, u.w, r.r_name""".stripMargin) { (s, dir) =>
      graft.Engine.sql(s, dir,
        """SELECT d.doc_id, t.w, r.r_name
          |FROM documents d
          |CROSS JOIN UNNEST(split(d.text, ' ')) AS t(w)
          |JOIN region r ON r.r_regionkey = length(t.w) % 5
          |WHERE d.doc_id < 5 AND t.w <> ''
          |ORDER BY d.doc_id, t.w, r.r_name""".stripMargin)
    },

    // UNNEST of an array of TWO-field rows with a two-column alias — the
    // shape that is textually indistinguishable from a map unnest. The
    // type-aware generator (functions/UnnestGenerator.scala) resolves it
    // as row-field expansion at analysis time, like the reference's
    // ArrayOfRowsUnnester (operator/unnest/UnnestOperator.java).
    Qdef(
      "u12_unnest_row_fields",
      """SELECT n_name AS name, n_nationkey AS nkey
        |FROM nation
        |ORDER BY name""".stripMargin) { (s, dir) =>
      graft.Engine.sql(s, dir,
        """SELECT t.name, t.nkey
          |FROM (SELECT n_regionkey,
          |             array_agg(named_struct('name', n_name, 'nkey', n_nationkey)) AS rs
          |      FROM nation GROUP BY n_regionkey) g,
          |     UNNEST(g.rs) AS t(name, nkey)
          |ORDER BY t.name""".stripMargin)
    },

    // Map argument WITH ORDINALITY (three aliases): key, value, 1-based
    // index — reference MapUnnester + ordinality channel. Entry order is
    // made deterministic via map_from_entries over a sorted entry array
    // (map_from_entries preserves entry order on both engines).
    Qdef(
      "u13_unnest_map_ordinality",
      """SELECT n_name AS k, n_nationkey AS v,
        |       CAST(row_number() OVER (PARTITION BY n_regionkey ORDER BY n_name) AS BIGINT) AS i
        |FROM nation
        |ORDER BY k""".stripMargin) { (s, dir) =>
      graft.Engine.sql(s, dir,
        """SELECT t.k, t.v, t.i
          |FROM (SELECT n_regionkey,
          |             map_from_entries(array_sort(array_agg(named_struct('k', n_name, 'v', n_nationkey)))) AS m
          |      FROM nation GROUP BY n_regionkey) g
          |CROSS JOIN UNNEST(g.m) WITH ORDINALITY AS t(k, v, i)
          |ORDER BY t.k""".stripMargin)
    },

    // Alias without a column list — row field names flow through the
    // generator's element schema (reference: StatementAnalyzer.java
    // visitUnnest keeps row field names when no column aliases given).
    Qdef(
      "u14_unnest_no_column_list",
      """SELECT n_name AS name, n_nationkey AS nkey
        |FROM nation
        |ORDER BY name""".stripMargin) { (s, dir) =>
      graft.Engine.sql(s, dir,
        """SELECT u.name, u.nkey
          |FROM (SELECT array_agg(named_struct('name', n_name, 'nkey', n_nationkey)) AS rs
          |      FROM nation) g
          |CROSS JOIN UNNEST(g.rs) AS u
          |ORDER BY u.name""".stripMargin)
    },

    // Mixed array + map arguments zipped positionally with NULL padding
    // (reference: UnnestOperator.java multi-channel path — each map
    // contributes two output channels, arrays one).
    Qdef(
      "u15_unnest_mixed_args",
      """SELECT * FROM (
        |  SELECT 10 AS x, 'a' AS k, 1 AS v UNION ALL
        |  SELECT 20, NULL, NULL UNION ALL
        |  SELECT 30, NULL, NULL) z
        |ORDER BY x""".stripMargin) { (s, dir) =>
      graft.Engine.sql(s, dir,
        """SELECT t.x, t.k, t.v
          |FROM (VALUES 1) AS d(one)
          |CROSS JOIN UNNEST(ARRAY[10, 20, 30], map(ARRAY['a'], ARRAY[1])) AS t(x, k, v)
          |ORDER BY t.x""".stripMargin)
    }
  )
}
