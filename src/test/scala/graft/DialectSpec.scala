package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for the Presto→Spark dialect shim (SURVEY §7 Phase 2). */
class DialectSpec extends AnyFunSuite {

  test("function names rewrite only at call sites") {
    assert(Engine.translate("SELECT approx_distinct(x) FROM t")
      == "SELECT approx_count_distinct(x) FROM t")
    assert(Engine.translate("SELECT strpos(a, 'b') FROM t")
      == "SELECT presto_strpos(a, 'b') FROM t")
    assert(Engine.translate("SELECT ARBITRARY(x) FROM t")
      == "SELECT any_value(x) FROM t")
  }

  test("column names that look like function names survive") {
    assert(Engine.translate("SELECT strpos_col, arbitrary FROM t")
      == "SELECT strpos_col, arbitrary FROM t")
    assert(Engine.translate("SELECT my_strpos(x) FROM t")
      == "SELECT my_strpos(x) FROM t")
  }

  test("random(n) rewrites to the bounded generator; random() stays rand") {
    assert(Engine.translate("SELECT random(5) FROM t")
      == "SELECT graft_random_long(5) FROM t")
    assert(Engine.translate("SELECT rand(n_max) FROM t")
      == "SELECT graft_random_long(n_max) FROM t")
    assert(Engine.translate("SELECT random() FROM t")
      == "SELECT random() FROM t")
    // column named random survives
    assert(Engine.translate("SELECT random FROM t") == "SELECT random FROM t")
  }

  test("sketch type tokens rewrite only in cast position (after AS)") {
    assert(Engine.translate("SELECT CAST(h AS HyperLogLog) FROM t")
      == "SELECT CAST(h AS BINARY) FROM t")
    assert(Engine.translate("SELECT CAST(d AS qdigest(double)) FROM t")
      == "SELECT CAST(d AS ARRAY<BIGINT>) FROM t")
    assert(Engine.translate("SELECT CAST(d AS TDIGEST) FROM t")
      == "SELECT CAST(d AS ARRAY<DOUBLE>) FROM t")
    // plausible column names outside a cast survive untouched
    assert(Engine.translate("SELECT tdigest, qdigest, hyperloglog FROM t")
      == "SELECT tdigest, qdigest, hyperloglog FROM t")
    // an alias named like a sketch type is NOT a cast... but follows AS —
    // the one accepted ambiguity, documented here: rename such aliases
    assert(Engine.translate("SELECT x AS tdigest2 FROM t")
      == "SELECT x AS tdigest2 FROM t")
  }

  test("whitespace before parenthesis is tolerated") {
    assert(Engine.translate("SELECT json_extract_scalar (j, '$.a')")
      == "SELECT get_json_object(j, '$.a')")
  }

  test("string literals are never rewritten") {
    assert(Engine.translate("SELECT strpos(a, 'strpos(x)') FROM t")
      == "SELECT presto_strpos(a, 'strpos(x)') FROM t")
    assert(Engine.translate("SELECT 'it''s arbitrary(1)' FROM t")
      == "SELECT 'it''s arbitrary(1)' FROM t")
  }

  test("MySQL date tokens map to java.time patterns") {
    assert(Engine.prestoDateFormat("%Y-%m-%d") == "yyyy-MM-dd")
    assert(Engine.prestoDateFormat("%H:%i:%s") == "HH:mm:ss")
    assert(Engine.prestoDateFormat("%d %b %Y") == "dd MMM yyyy")
    assert(Engine.prestoDateFormat("%Y%%") == "yyyy%")
    // literal letters get quoted AS ONE RUN so java.time can't eat them
    // ('a''t' would parse as a't — '' is an escaped quote, not a break)
    assert(Engine.prestoDateFormat("at %H") == "'at' HH")
  }

  test("CROSS JOIN UNNEST becomes LATERAL VIEW over the typed generator") {
    assert(Engine.translate(
      "SELECT x FROM t CROSS JOIN UNNEST(t.arr) AS u(x)")
      == "SELECT x FROM t LATERAL VIEW graft_unnest(t.arr) u AS x")
    // map form: two aliases — array-of-row vs map is decided at analysis
    assert(Engine.translate(
      "SELECT k, v FROM t CROSS JOIN UNNEST(m) AS kv(k, v)")
      == "SELECT k, v FROM t LATERAL VIEW graft_unnest(m) kv AS k, v")
    // comma (implicit lateral) spelling
    assert(Engine.translate(
      "SELECT x FROM t, UNNEST(t.arr) u(x)")
      == "SELECT x FROM t LATERAL VIEW graft_unnest(t.arr) u AS x")
  }

  test("UNNEST WITH ORDINALITY routes to the ordinality generator") {
    val out = Engine.translate(
      "SELECT w, i FROM t CROSS JOIN UNNEST(arr) WITH ORDINALITY AS u(w, i)")
    assert(out == "SELECT w, i FROM t LATERAL VIEW graft_unnest_ord(arr) u AS w, i")
  }

  test("multi-argument UNNEST routes to the typed generator") {
    assert(Engine.translate(
      "SELECT a, b FROM t CROSS JOIN UNNEST(x, y) AS u(a, b)")
      == "SELECT a, b FROM t LATERAL VIEW graft_unnest(x, y) u AS a, b")
  }

  test("LEFT JOIN UNNEST ON TRUE becomes LATERAL VIEW OUTER") {
    assert(Engine.translate(
      "SELECT x FROM t LEFT JOIN UNNEST(t.arr) AS u(x) ON TRUE")
      == "SELECT x FROM t LATERAL VIEW OUTER graft_unnest(t.arr) u AS x")
  }

  test("UNNEST without a column list or alias uses generator field names") {
    // alias but no column list — the generator's element schema names apply
    assert(Engine.translate("SELECT * FROM t CROSS JOIN UNNEST(arr) u")
      == "SELECT * FROM t LATERAL VIEW graft_unnest(arr) u")
    // no alias at all — a deterministic one is fabricated
    val bare = Engine.translate("SELECT * FROM t CROSS JOIN UNNEST(arr) WHERE x > 1")
    assert(bare.matches(raw"SELECT \* FROM t LATERAL VIEW graft_unnest\(arr\) __graft_u\d+ WHERE x > 1"), bare)
    // unnest as a plain identifier is untouched
    assert(Engine.translate("SELECT unnest FROM t") == "SELECT unnest FROM t")
  }

  test("array_agg with ORDER BY becomes a sorted-struct projection") {
    assert(Engine.translate("SELECT array_agg(x ORDER BY y) FROM t")
      == "SELECT transform(array_sort(array_agg(named_struct('__o0', y, '__v', x))), __graft_g -> __graft_g.__v) FROM t")
    // DESC reverses; multiple same-direction keys allowed
    assert(Engine.translate("SELECT array_agg(x ORDER BY y DESC, z DESC) FROM t")
      == "SELECT transform(reverse(array_sort(array_agg(named_struct('__o0', y, '__o1', z, '__v', x)))), __graft_g -> __graft_g.__v) FROM t")
    // DISTINCT ordered by itself
    assert(Engine.translate("SELECT array_agg(DISTINCT x ORDER BY x) FROM t")
      == "SELECT array_sort(array_agg(DISTINCT x)) FROM t")
    // mixed directions stay verbatim (loud at Spark's parser)
    val mixed = Engine.translate("SELECT array_agg(x ORDER BY y ASC, z DESC) FROM t")
    assert(mixed.contains("array_agg(x ORDER BY y ASC"), mixed)
    // a NULLS qualifier that contradicts array_sort's placement (asc →
    // nulls FIRST, desc → nulls LAST; struct fields compare nulls-first)
    // also stays verbatim — loud failure, never a silent NULL-placement
    // change
    val nl = Engine.translate("SELECT array_agg(x ORDER BY y NULLS LAST) FROM t")
    assert(nl.contains("array_agg(x ORDER BY y NULLS LAST"), nl)
    val nf = Engine.translate("SELECT array_agg(x ORDER BY y DESC NULLS FIRST) FROM t")
    assert(nf.contains("array_agg(x ORDER BY y DESC NULLS FIRST"), nf)
    // a qualifier that AGREES with the placement still rewrites
    assert(Engine.translate("SELECT array_agg(x ORDER BY y NULLS FIRST) FROM t")
      == "SELECT transform(array_sort(array_agg(named_struct('__o0', y, '__v', x))), __graft_g -> __graft_g.__v) FROM t")
    assert(Engine.translate("SELECT array_agg(x ORDER BY y DESC NULLS LAST) FROM t")
      == "SELECT transform(reverse(array_sort(array_agg(named_struct('__o0', y, '__v', x)))), __graft_g -> __graft_g.__v) FROM t")
    // plain array_agg untouched
    assert(Engine.translate("SELECT array_agg(x) FROM t")
      == "SELECT array_agg(x) FROM t")
  }

  test("string literals preserve backslashes (Presto has no escapes)") {
    assert(Engine.translate("SELECT regexp_like(x, '\\d+') FROM t")
      == "SELECT regexp_like(x, '\\\\d+') FROM t")
    // quote-doubling still the only escape
    assert(Engine.translate("SELECT 'it''s' FROM t") == "SELECT 'it''s' FROM t")
  }

  test("approx_set wraps its argument in xxhash64") {
    assert(Engine.translate("SELECT approx_set(c_name) FROM customer")
      == "SELECT approx_set_agg(graft_approx_set_hash(c_name)) FROM customer")
    // nested parens close correctly
    assert(Engine.translate("SELECT approx_set(substr(c_name, 1, 2)) FROM c")
      == "SELECT approx_set_agg(graft_approx_set_hash(presto_substr(c_name, 1, 2))) FROM c")
  }

  test("map constructor: two-arg Presto form becomes map_from_arrays") {
    assert(Engine.translate("SELECT map(ARRAY['a'], ARRAY[1])")
      == "SELECT map_from_arrays(array('a'), array(1))")
    // 0-arg empty map and Spark's variadic pair form pass through
    assert(Engine.translate("SELECT map()") == "SELECT map()")
    assert(Engine.translate("SELECT map('k1', 1, 'k2', 2)")
      == "SELECT map('k1', 1, 'k2', 2)")
  }

  test("ARRAY literals become array() calls") {
    assert(Engine.translate("SELECT ARRAY[1, 2, 3]") == "SELECT array(1, 2, 3)")
    assert(Engine.translate("SELECT array[x, y][1]")
      == "SELECT element_at(array(x, y), 1)")
  }

  test("subscripts become element_at (1-based arrays, key-based maps)") {
    assert(Engine.translate("SELECT arr[1] FROM t") == "SELECT element_at(arr, 1) FROM t")
    assert(Engine.translate("SELECT m['k'] FROM t") == "SELECT element_at(m, 'k') FROM t")
    assert(Engine.translate("SELECT split(s, ',')[2] FROM t")
      == "SELECT element_at(split(s, ','), 2) FROM t")
    assert(Engine.translate("SELECT a[1][2] FROM t")
      == "SELECT element_at(element_at(a, 1), 2) FROM t")
  }

  test("CREATE FUNCTION translates Presto grammar to Spark SQL UDF DDL") {
    val t = Engine.translate(
      "CREATE FUNCTION example.default.f(x varchar, ys array(double)) " +
        "RETURNS double RETURNS NULL ON NULL INPUT RETURN cardinality(ys) + length(x)")
    assert(t.contains("CREATE FUNCTION f(x string, ys array<double>)"), t)
    assert(t.contains("RETURNS double"), t)
    assert(t.contains("CASE WHEN x IS NULL OR ys IS NULL THEN NULL ELSE"), t)
    // characteristics pass through; COMMENT is dropped
    val c = Engine.translate(
      "CREATE OR REPLACE TEMPORARY FUNCTION g(x double) RETURNS double " +
        "COMMENT 'doubles it' LANGUAGE SQL NOT DETERMINISTIC RETURN x * 2")
    assert(c.contains("CREATE OR REPLACE TEMPORARY FUNCTION g(x double)"), c)
    assert(c.contains("LANGUAGE SQL NOT DETERMINISTIC RETURN x * 2"), c)
    assert(!c.toLowerCase.contains("comment"), c)
    // DROP collapses the qualified name and the type-list disambiguator
    assert(Engine.translate(
      "DROP FUNCTION IF EXISTS example.default.f(varchar, array(double))")
      == "DROP FUNCTION IF EXISTS f")
  }

  test("double-quoted identifiers become backticks") {
    assert(Engine.translate("""SELECT "order key" FROM t""")
      == "SELECT `order key` FROM t")
  }

  test("ORDER BY items get NULLS LAST injected (Presto default both directions)") {
    assert(Engine.translate("SELECT * FROM t ORDER BY a")
      == "SELECT * FROM t ORDER BY a NULLS LAST")
    assert(Engine.translate("SELECT * FROM t ORDER BY a DESC, b LIMIT 5")
      == "SELECT * FROM t ORDER BY a DESC NULLS LAST, b NULLS LAST LIMIT 5")
    // explicit NULLS survives untouched
    assert(Engine.translate("SELECT * FROM t ORDER BY a NULLS FIRST")
      == "SELECT * FROM t ORDER BY a NULLS FIRST")
    // window spec: items end at the frame clause
    assert(Engine.translate("SELECT sum(x) OVER (PARTITION BY g ORDER BY ts ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM t")
      == "SELECT sum(x) OVER (PARTITION BY g ORDER BY ts NULLS LAST ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM t")
    // function call inside the sort item keeps its parens intact
    assert(Engine.translate("SELECT * FROM t ORDER BY coalesce(a, b) DESC")
      == "SELECT * FROM t ORDER BY coalesce(a, b) DESC NULLS LAST")
  }

  test("3-arg date_add/date_diff unquote the unit into timestampadd/diff") {
    assert(Engine.translate("SELECT date_add('day', 7, ts) FROM t")
      == "SELECT timestampadd(DAY, 7, ts) FROM t")
    assert(Engine.translate("SELECT date_diff('month', a, b) FROM t")
      == "SELECT timestampdiff(MONTH, a, b) FROM t")
    // Spark's own 2-arg form (no quoted first arg) passes through
    assert(Engine.translate("SELECT date_add(d, 7) FROM t")
      == "SELECT date_add(d, 7) FROM t")
  }

  test("split literal delimiters with regex metachars get \\Q-quoted") {
    assert(Engine.translate("SELECT split(s, '.') FROM t")
      == "SELECT split(s, '\\\\Q.\\\\E') FROM t")
    assert(Engine.translate("SELECT split(s, '|')[2] FROM t")
      == "SELECT element_at(split(s, '\\\\Q|\\\\E'), 2) FROM t")
    // plain delimiters stay byte-identical
    assert(Engine.translate("SELECT split(s, ',') FROM t")
      == "SELECT split(s, ',') FROM t")
    assert(Engine.translate("SELECT split(s, ' ') FROM t")
      == "SELECT split(s, ' ') FROM t")
    // only the SECOND argument is the regex position
    assert(Engine.translate("SELECT split(concat(a, '.'), 'x') FROM t")
      == "SELECT split(concat(a, '.'), 'x') FROM t")
  }

  test("trailing semicolons are stripped before NULLS LAST injection") {
    assert(Engine.translate("SELECT * FROM t ORDER BY a;")
      == "SELECT * FROM t ORDER BY a NULLS LAST")
    assert(Engine.translate("SELECT * FROM t ORDER BY a ; \n")
      == "SELECT * FROM t ORDER BY a NULLS LAST")
  }

  test("ORDER BY nested inside another ORDER BY's item is also injected") {
    assert(Engine.translate(
      "SELECT * FROM t ORDER BY sum(x) OVER (ORDER BY y) DESC")
      == "SELECT * FROM t ORDER BY sum(x) OVER (ORDER BY y NULLS LAST) DESC NULLS LAST")
  }

  test("comments are copied verbatim and never open literals") {
    assert(Engine.translate("SELECT a -- don't rewrite strpos( here\nFROM t")
      == "SELECT a -- don't rewrite strpos( here\nFROM t")
    assert(Engine.translate("SELECT strpos(a, 'x') /* it's fine */ FROM t")
      == "SELECT presto_strpos(a, 'x') /* it's fine */ FROM t")
    // an apostrophe in a comment must not desync literal tracking
    assert(Engine.translate("SELECT a, -- don't\n strpos(b, 'c') FROM t ORDER BY a")
      == "SELECT a, -- don't\n presto_strpos(b, 'c') FROM t ORDER BY a NULLS LAST")
  }

  test("LIMIT ALL is dropped; DECIMAL literals become sized casts") {
    assert(Engine.translate("SELECT * FROM t LIMIT ALL")
      == "SELECT * FROM t ")
    assert(Engine.translate("SELECT DECIMAL '12.345'")
      == "SELECT CAST('12.345' AS DECIMAL(5, 3))")
    assert(Engine.translate("SELECT DECIMAL '7'")
      == "SELECT CAST('7' AS DECIMAL(1, 0))")
    // a column named decimal_x or LIMIT with a number is untouched
    assert(Engine.translate("SELECT decimal_x FROM t LIMIT 5")
      == "SELECT decimal_x FROM t LIMIT 5")
  }

  test("SET SESSION becomes SET") {
    assert(Engine.translate("SET SESSION foo.bar = 7") == "SET foo.bar = 7")
    assert(Engine.translate("SELECT 'set session x' FROM t")
      == "SELECT 'set session x' FROM t")
  }

  test("TRY and translated functions keep literals untouched") {
    assert(Engine.translate("SELECT TRY(1/x) FROM t") == "SELECT TRY(1/x) FROM t")
    assert(Engine.translate("SELECT log(x, 2) FROM t")
      == "SELECT presto_log(x, 2) FROM t")
    assert(Engine.translate("SELECT strpos(a, 'arr[1]') FROM t")
      == "SELECT presto_strpos(a, 'arr[1]') FROM t")
  }

  test("prepared-statement classification and parameter binding") {
    import Dialect._
    assert(classifyPrepared("PREPARE q1 FROM SELECT * FROM t WHERE x = ?")
      == Some(PrepareStmt("q1", "SELECT * FROM t WHERE x = ?")))
    // multiline bodies and trailing semicolons
    assert(classifyPrepared("prepare Q2 from\nSELECT 1;\n")
      == Some(PrepareStmt("q2", "SELECT 1")))
    assert(classifyPrepared("EXECUTE q1 USING 1, 'a,b', ARRAY[1, 2]")
      == Some(ExecuteStmt("q1", Seq("1", "'a,b'", "ARRAY[1, 2]"))))
    assert(classifyPrepared("EXECUTE q1") == Some(ExecuteStmt("q1", Nil)))
    assert(classifyPrepared("DEALLOCATE PREPARE q1")
      == Some(DeallocateStmt("q1")))
    assert(classifyPrepared("DESCRIBE INPUT q1") == Some(DescribeInputStmt("q1")))
    assert(classifyPrepared("DESCRIBE OUTPUT q1") == Some(DescribeOutputStmt("q1")))
    // NOT prepared statements: plain queries, DESCRIBE <table>
    assert(classifyPrepared("SELECT prepare FROM t").isEmpty)
    assert(classifyPrepared("DESCRIBE orders").isEmpty)

    assert(substituteParams("SELECT * FROM t WHERE a = ? AND b = ?", Seq("1", "'x'"))
      == "SELECT * FROM t WHERE a = (1) AND b = ('x')")
    // '?' inside literals and comments is not a placeholder
    assert(substituteParams("SELECT '?' , a -- is ? here\nFROM t WHERE b = ?", Seq("7"))
      == "SELECT '?' , a -- is ? here\nFROM t WHERE b = (7)")
    assert(countParams("SELECT '?' /* ? */ WHERE a = ? AND b = ?") == 2)
    intercept[IllegalArgumentException](
      substituteParams("SELECT ?", Seq("1", "2")))
    intercept[IllegalArgumentException](
      substituteParams("SELECT ?, ?", Seq("1")))
  }

  test("UNNEST mid-join-chain switches to the lateral-subquery form") {
    val t = Engine.translate(
      "SELECT * FROM t CROSS JOIN UNNEST(t.a) AS u(w) JOIN r ON r.k = u.w")
    assert(t.contains("JOIN LATERAL (SELECT graft_unnest(t.a) AS w) u"), t)
    // outer spelling keeps LEFT + ON true
    val o = Engine.translate(
      "SELECT * FROM t LEFT JOIN UNNEST(t.a) AS u(w) ON TRUE JOIN r ON r.k = u.w")
    assert(o.contains("LEFT JOIN LATERAL (SELECT graft_unnest(t.a) AS w) u ON true"), o)
    // chained UNNESTs keep stacked LATERAL VIEWs
    val c = Engine.translate(
      "SELECT * FROM t CROSS JOIN UNNEST(t.a) AS u(w) CROSS JOIN UNNEST(t.b) AS v(x)")
    assert(c.contains("LATERAL VIEW graft_unnest(t.a) u AS w") &&
      c.contains("LATERAL VIEW graft_unnest(t.b) v AS x"), c)
    // terminal UNNEST (nothing after) keeps LATERAL VIEW
    val e = Engine.translate("SELECT * FROM t CROSS JOIN UNNEST(t.a) AS u(w)")
    assert(e.contains("LATERAL VIEW graft_unnest(t.a) u AS w"), e)
    // single argument with 3+ aliases is an array of rows — the generator
    // resolves it; the optimizer swaps in inline() post-analysis
    val i = Engine.translate("SELECT * FROM t CROSS JOIN UNNEST(t.rs) AS u(a, b, c)")
    assert(i.contains("LATERAL VIEW graft_unnest(t.rs) u AS a, b, c"), i)
  }

  test("enum members resolve in the quoted-key form and never inside literals") {
    val enums = Map("g.c.mood" ->
      Dialect.EnumDef("bigint", Seq("HAPPY" -> "0", "CURIOUS" -> "-2")))
    assert(Dialect.substituteEnums("SELECT g.c.mood.\"curious\"", enums)
      == "SELECT CAST(-2 AS BIGINT)")
    assert(Dialect.substituteEnums("SELECT 'g.c.mood.HAPPY', g.c.mood.happy", enums)
      == "SELECT 'g.c.mood.HAPPY', CAST(0 AS BIGINT)")
  }

  test("comments inside UNNEST arguments drop out of the generator call") {
    // each comment becomes one space; the -- comment takes its newline
    assert(Engine.translate("SELECT x FROM t CROSS JOIN UNNEST(a -- first\n" +
        "|| b, c /* second */|| d) AS u(x, y)")
      == "SELECT x FROM t LATERAL VIEW graft_unnest(a  || b, c  || d) u AS x, y")
  }

  // one lexical grammar: no pass reads code inside a literal, a quoted
  // identifier or a comment
  test("a literal spelling GROUP BY () is not rewritten") {
    assert(Engine.translate("SELECT 'GROUP BY ()' AS s") == "SELECT 'GROUP BY ()' AS s")
  }

  test("VALUES ROW unpacks beside a comment holding an apostrophe") {
    assert(Engine.translate("VALUES ROW(1, 2) /* it's */") == "VALUES (1, 2) /* it's */ ")
    assert(Engine.translate("VALUES /* it's */ ROW(1, 2), ROW(3, 4) -- x")
      == "VALUES /* it's */ (1, 2), (3, 4) -- x ")
  }

  test("UNNEST after a double-quoted identifier holding an apostrophe") {
    assert(Engine.translate("SELECT \"it's\", x FROM t CROSS JOIN UNNEST(arr) AS u(x)")
      == "SELECT `it's`, x FROM t LATERAL VIEW graft_unnest(arr) u AS x")
  }

  test("IN (VALUES …) after a comment holding an apostrophe") {
    assert(Engine.translate("SELECT x FROM t /* it's */ WHERE x IN (VALUES 1, 2)")
      == "SELECT x FROM t /* it's */ WHERE x IN (SELECT * FROM (VALUES 1, 2 ))")
  }

  test("a ? inside a quoted identifier is not a placeholder") {
    assert(Dialect.countParams("SELECT \"a?\", ? FROM t") == 1)
    assert(Dialect.substituteParams("SELECT \"a?\", ? FROM t", Seq("1"))
      == "SELECT \"a?\", (1) FROM t")
  }
}
