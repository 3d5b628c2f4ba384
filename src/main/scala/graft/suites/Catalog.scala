package graft.suites

import graft.{Engine, Qdef, Tables}
import org.apache.spark.sql.functions._

/** Function-catalog completion corpus: the reference functions landed in
  * round 4 — checksum / entropy / set_agg / set_union / multimap_agg /
  * numeric_histogram (aggregates), hmac_* / ngrams / combinations /
  * array_normalize / split_to_map / multimap_from_entries / sparse
  * cosine_similarity (scalars), map_canon (map-as-grouping-key shim), and
  * one reference benchto query run VERBATIM through the Presto-dialect
  * `Engine.sql` facade.
  */
object Catalog {

  val defs: Seq[Qdef] = Seq(

    // checksum (reference: ChecksumAggregationFunction.java): the value is
    // hash-dependent so no cross-engine oracle exists; the CONTRACT is
    // order/partitioning independence (combine = wrapping add) and
    // sensitivity to any value change. Both checked in one plan.
    Qdef(
      "k01_checksum",
      "SELECT true AS stable_ok, true AS sensitive_ok") { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val c1 = li.agg(expr("checksum(l_extendedprice)").as("c1"))
      val c2 = li.repartition(64, col("l_partkey"))
        .agg(expr("checksum(l_extendedprice)").as("c2"))
      val c3 = li.agg(expr("checksum(l_extendedprice + 1.0)").as("c3"))
      c1.join(broadcast(c2)).join(broadcast(c3))
        .select(
          (col("c1") === col("c2")).as("stable_ok"),
          (col("c1") =!= col("c3")).as("sensitive_ok"))
    },

    // entropy (reference: EntropyAggregation.java): exact formula the
    // oracle can replay — H = (ln ΣC − Σ c·ln c / ΣC) / ln 2 over the
    // priority counts within each order status.
    Qdef(
      "k02_entropy",
      """SELECT o_orderstatus,
        |  round((ln(sum(c)) - sum(c * ln(c)) / sum(c)) / ln(2), 6) AS prio_entropy
        |FROM (
        |  SELECT o_orderstatus, CAST(count(*) AS DOUBLE) AS c
        |  FROM orders GROUP BY o_orderstatus, o_orderpriority)
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("c"))
        .groupBy("o_orderstatus")
        .agg(round(expr("entropy(c)"), 6).as("prio_entropy"))
        .orderBy("o_orderstatus")
    },

    // set_agg + set_union (reference: SetAggregationFunction.java /
    // SetUnionFunction.java): per-group distinct arrays, then the distinct
    // union of those arrays WITHOUT rescanning raw rows.
    Qdef.duckOnly(
      "k03_set_agg_union",
      """WITH g AS (
        |  SELECT l_returnflag,
        |    string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT g.l_returnflag, g.statuses, u.all_statuses
        |FROM g CROSS JOIN (
        |  SELECT string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus)
        |    AS all_statuses
        |  FROM lineitem) u
        |ORDER BY g.l_returnflag""".stripMargin) { (s, dir) =>
      val perGroup = Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("set_agg(l_linestatus)").as("st"))
        .select(
          col("l_returnflag"),
          concat_ws(",", array_sort(col("st"))).as("statuses"),
          col("st"))
      val union = perGroup
        .agg(expr("set_union(st)").as("u"))
        .select(concat_ws(",", array_sort(col("u"))).as("all_statuses"))
      perGroup.crossJoin(broadcast(union))
        .select("l_returnflag", "statuses", "all_statuses")
        .orderBy("l_returnflag")
    },

    // multimap_agg (reference: multimapagg/MultimapAggregationFunction
    // .java): map(key → all values in arrival order); canonicalized to a
    // sorted string because map ordering is undefined in both engines.
    Qdef.duckOnly(
      "k04_multimap_agg",
      """SELECT string_agg(kv, ';' ORDER BY kv) AS mm
        |FROM (
        |  SELECT o_orderstatus || ':' ||
        |    string_agg(o_orderpriority, ',' ORDER BY o_orderpriority) AS kv
        |  FROM orders GROUP BY o_orderstatus)""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "orders")
        .agg(expr("multimap_agg(o_orderstatus, o_orderpriority)").as("m"))
        .select(concat_ws(";",
          array_sort(expr(
            """transform(map_entries(m),
              |  e -> concat(e.key, ':', concat_ws(',', array_sort(e.value))))
              |""".stripMargin))).as("mm"))
    },

    // numeric_histogram (reference: NumericHistogram.java): bounded-bucket
    // streaming histogram. Properties the oracle can state: bucket count
    // bounded, total weight = row count exactly, weighted mean = exact
    // mean (closest-pair merges preserve the weighted sum).
    Qdef(
      "k05_numeric_histogram",
      "SELECT true AS buckets_ok, true AS weight_ok, true AS mean_ok") { (s, dir) =>
      val ord = Tables.load(s, dir, "orders")
      val h = ord.agg(
        expr("numeric_histogram(10L, o_totalprice)").as("h"),
        count(lit(1)).cast("double").as("n"),
        avg("o_totalprice").as("mean"))
      h.select(
        (size(map_keys(col("h"))) <= 10).as("buckets_ok"),
        (abs(expr("aggregate(map_values(h), 0D, (a, x) -> a + x)") - col("n"))
          < lit(1e-6)).as("weight_ok"),
        (abs(expr("aggregate(map_entries(h), 0D, (a, e) -> a + e.key * e.value)")
          / col("n") - col("mean")) < abs(col("mean")) * 1e-9).as("mean_ok"))
    },

    // hmac_md5/sha1/sha256/sha512 (reference: HmacFunctions.java) against
    // the published RFC 2202 / RFC 4231 test vectors — an exact literal
    // oracle, no cross-engine hash needed.
    Qdef(
      "k06_hmac",
      """SELECT
        |  '9294727a3638bb1c13f48ef8158bfc9d' AS h_md5,
        |  'b617318655057264e28bc0b6fb378c8ef146be00' AS h_sha1,
        |  'b0344c61d8db38535ca8afceaf0bf12b881dc200c9833da726e9376c2e32cff7' AS h_sha256,
        |  concat('87aa7cdea5ef619d4ff0b4241a1d6cb02379f4e2ce4ec2787ad0b305',
        |         '45e17cdedaa833b7d6b8a702038b274eaea3f4e4be9d914eeb61f1702e696c203a126854')
        |    AS h_sha512""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "region").limit(1)
        .select(
          lower(hex(expr(
            "hmac_md5(CAST('Hi There' AS BINARY), unhex('0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b'))")))
            .as("h_md5"),
          lower(hex(expr(
            "hmac_sha1(CAST('Hi There' AS BINARY), unhex('0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b'))")))
            .as("h_sha1"),
          lower(hex(expr(
            "hmac_sha256(CAST('Hi There' AS BINARY), unhex('0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b'))")))
            .as("h_sha256"),
          lower(hex(expr(
            "hmac_sha512(CAST('Hi There' AS BINARY), unhex('0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b'))")))
            .as("h_sha512"))
    },

    // Array-function pack over fixed inputs with literal expected outputs
    // (reference: ArrayNgramsFunction / ArrayCombinationsFunction /
    // ArrayNormalizeFunction / SplitToMapFunction /
    // MultimapFromEntriesFunction .java).
    Qdef(
      "k07_array_pack",
      """SELECT
        |  'a_b,b_c,c_d' AS ngrams2,
        |  'a_b,a_c,a_d,b_c,b_d,c_d' AS combos2,
        |  '0.6,0.8' AS normalized,
        |  'a:1,b:2' AS smap,
        |  'a:1|2,b:3' AS mm""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "region").limit(1)
        .select(
          concat_ws(",", expr(
            "transform(ngrams(array('a','b','c','d'), 2), g -> concat_ws('_', g))"))
            .as("ngrams2"),
          concat_ws(",", expr(
            "transform(combinations(array('a','b','c','d'), 2), g -> concat_ws('_', g))"))
            .as("combos2"),
          concat_ws(",", expr(
            "transform(array_normalize(array(3D, 4D), 2D), v -> CAST(round(v, 4) AS STRING))"))
            .as("normalized"),
          concat_ws(",", array_sort(expr(
            "transform(map_entries(split_to_map('a=1,b=2', ',', '=')), e -> concat(e.key, ':', e.value))")))
            .as("smap"),
          concat_ws(",", array_sort(expr(
            """transform(
              |  map_entries(multimap_from_entries(array(
              |    named_struct('k', 'a', 'v', '1'),
              |    named_struct('k', 'a', 'v', '2'),
              |    named_struct('k', 'b', 'v', '3')))),
              |  e -> concat(e.key, ':', concat_ws('|', e.value)))""".stripMargin)))
            .as("mm"))
    },

    // Sparse cosine_similarity over map term-vectors — the reference's own
    // similarity function (MathFunctions.java cosineSimilarity). Term
    // frequencies of the first 4 documents, all 6 pairs, verified against
    // a DuckDB join-based replay of the same formula.
    Qdef.duckOnly(
      "k08_cosine_sparse",
      """WITH words AS (
        |  SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |        FROM documents WHERE doc_id < 4)
        |  GROUP BY doc_id, w),
        |norms AS (
        |  SELECT doc_id, sqrt(sum(c * c)) AS nrm FROM words GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM (SELECT DISTINCT doc_id FROM words) a
        |  JOIN (SELECT DISTINCT doc_id FROM words) b ON a.doc_id < b.doc_id),
        |dots AS (
        |  SELECT w1.doc_id AS id1, w2.doc_id AS id2, sum(w1.c * w2.c) AS dot
        |  FROM words w1 JOIN words w2 ON w1.w = w2.w AND w1.doc_id < w2.doc_id
        |  GROUP BY w1.doc_id, w2.doc_id)
        |SELECT p.id1, p.id2,
        |  round(coalesce(d.dot, 0) / (n1.nrm * n2.nrm), 6) AS cos_sim
        |FROM pairs p
        |LEFT JOIN dots d ON p.id1 = d.id1 AND p.id2 = d.id2
        |JOIN norms n1 ON p.id1 = n1.doc_id
        |JOIN norms n2 ON p.id2 = n2.doc_id
        |ORDER BY p.id1, p.id2""".stripMargin) { (s, dir) =>
      val tf = Tables.load(s, dir, "documents")
        .filter(col("doc_id") < 4)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "w")
        .agg(count(lit(1)).cast("double").as("c"))
        .groupBy("doc_id")
        .agg(map_from_entries(collect_list(struct(col("w"), col("c")))).as("tf"))
      val a = tf.select(col("doc_id").as("id1"), col("tf").as("tf1"))
      val b = tf.select(col("doc_id").as("id2"), col("tf").as("tf2"))
      a.join(b, col("id1") < col("id2"))
        .select(
          col("id1"), col("id2"),
          round(expr("cosine_similarity(tf1, tf2)"), 6).as("cos_sim"))
        .orderBy("id1", "id2")
    },

    // GROUP BY a map column via the canonical sorted-entry form (reference:
    // MapEqualOperator.java defines entry-wise map equality; Spark forbids
    // map grouping keys, so map_canon(m) — sorted entries — is the
    // documented equality-preserving shim).
    Qdef(
      "k09_map_groupby",
      """SELECT concat('prio:', o_orderpriority, ',status:', o_orderstatus) AS m_key,
        |  count(*) AS cnt
        |FROM orders
        |GROUP BY o_orderpriority, o_orderstatus
        |ORDER BY m_key""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "orders")
        .select(expr(
          "map('status', o_orderstatus, 'prio', o_orderpriority)").as("m"))
        .groupBy(expr("map_canon(m)").as("mc"))
        .agg(count(lit(1)).as("cnt"))
        .select(
          concat_ws(",", expr(
            "transform(mc, e -> concat(e.key, ':', e.value))")).as("m_key"),
          col("cnt"))
        .orderBy("m_key")
    },

    // Snowball-English word_stem (reference: WordStemFunction.java wraps
    // org.tartarus.snowball EnglishStemmer — "Porter2", the published
    // Snowball English algorithm). Verified against the algorithm's rule
    // families as an exact literal oracle — DuckDB's fts stem() is
    // unavailable offline. The vectors pin plurals (ies→ie after one
    // letter: ties), eed/ed/ing, y→i, short-word e-restoration, and the
    // bb..tt double-set undoubling (ll/ss/zz NOT in the set: falling,
    // hissing, fizzed keep their doubles).
    Qdef(
      "k11_word_stem",
      """SELECT * FROM (VALUES
        |  ('caresses', 'caress'), ('ponies', 'poni'), ('ties', 'tie'),
        |  ('cats', 'cat'), ('feed', 'feed'), ('agreed', 'agre'),
        |  ('plastered', 'plaster'), ('motoring', 'motor'),
        |  ('hopping', 'hop'), ('falling', 'fall'), ('hissing', 'hiss'),
        |  ('fizzed', 'fizz'), ('filing', 'file'), ('happy', 'happi'),
        |  ('sky', 'sky'), ('troubled', 'troubl')
        |) AS t(word, stemmed)
        |ORDER BY word""".stripMargin) { (s, _) =>
      val words = Seq(
        "caresses", "ponies", "ties", "cats", "feed", "agreed", "plastered",
        "motoring", "hopping", "falling", "hissing", "fizzed", "filing",
        "happy", "sky", "troubled")
      import s.implicits._
      words.toDF("word")
        .select(col("word"), expr("word_stem(word)").as("stemmed"))
        .orderBy("word")
    },

    // Snowball tier 2 (round 15): the six languages the reference's map
    // serves next by corpus frequency — da, fi, nl, no, ru, sv
    // (WordStemFunction.java:57-76). DuckDB's fts stem() is unavailable
    // offline and the reference ships no vectors for these languages, so
    // the oracle pins hand-traces of the published snowballstem.org
    // descriptions (incl. the published Dutch licham cluster and the
    // Danish bestemmelse undouble chain) — same policy as k11.
    Qdef(
      "k36_word_stem_tier2",
      """SELECT * FROM (VALUES
        |  ('sv', 'klubbarna', 'klubb'), ('sv', 'skrattade', 'skratt'),
        |  ('sv', 'verkligt', 'verk'), ('sv', 'husens', 'hus'),
        |  ('no', 'havnedistriktene', 'havnedistrikt'),
        |  ('no', 'sikkerhetene', 'sikker'), ('no', 'kattens', 'katt'),
        |  ('da', 'bestemmelse', 'bestem'), ('da', 'indtagelsen', 'indtag'),
        |  ('da', 'kattens', 'kat'),
        |  ('nl', 'lichamen', 'licham'), ('nl', 'lichamelijkheden', 'licham'),
        |  ('nl', 'bakken', 'bak'),
        |  ('ru', 'книгами', 'книг'), ('ru', 'важная', 'важн'),
        |  ('ru', 'значимость', 'значим'),
        |  ('fi', 'taloissa', 'talo'), ('fi', 'talot', 'talo'),
        |  ('fi', 'edeltäjien', 'edeltäj')
        |) AS t(lang, word, stemmed)
        |ORDER BY lang, word""".stripMargin) { (s, _) =>
      val rows = Seq(
        ("sv", "klubbarna"), ("sv", "skrattade"), ("sv", "verkligt"),
        ("sv", "husens"),
        ("no", "havnedistriktene"), ("no", "sikkerhetene"), ("no", "kattens"),
        ("da", "bestemmelse"), ("da", "indtagelsen"), ("da", "kattens"),
        ("nl", "lichamen"), ("nl", "lichamelijkheden"), ("nl", "bakken"),
        ("ru", "книгами"), ("ru", "важная"), ("ru", "значимость"),
        ("fi", "taloissa"), ("fi", "talot"), ("fi", "edeltäjien"))
      import s.implicits._
      rows.toDF("lang", "word")
        .select(col("lang"), col("word"),
          expr("word_stem(word, lang)").as("stemmed"))
        .orderBy("lang", "word")
    },

    // Snowball tier 3 (round 16): Romanian, from the published
    // snowballstem.org description — hand-traces in SnowballTier3Spec
    // (step-0 articles, repeated combining suffixes, the ţiune→t rule,
    // the RV verb window, and the pre-2.0 cedilla-only spelling the
    // reference's bundled org.tartarus port shares). Same oracle policy
    // as k11/k36: the expected column pins the traced outputs.
    Qdef(
      "k37_word_stem_ro",
      """SELECT * FROM (VALUES
        |  ('copilului', 'copil'), ('florile', 'flor'),
        |  ('capabile', 'capabil'), ('durabilitate', 'durabil'),
        |  ('comunicativitate', 'comunic'), ('contribuţiune', 'contribut'),
        |  ('acţiunile', 'acţiun'), ('lucrează', 'lucr'),
        |  ('mergeam', 'merg'), ('cântaţi', 'cânt'),
        |  ('copiii', 'copii'), ('zise', 'zis')
        |) AS t(word, stemmed)
        |ORDER BY word""".stripMargin) { (s, _) =>
      val words = Seq(
        "copilului", "florile", "capabile", "durabilitate",
        "comunicativitate", "contribuţiune", "acţiunile", "lucrează",
        "mergeam", "cântaţi", "copiii", "zise")
      import s.implicits._
      words.toDF("word")
        .select(col("word"), expr("word_stem(word, 'ro')").as("stemmed"))
        .orderBy("word")
    },

    // url_extract_* / url_encode / url_decode under their reference names
    // (UrlFunctions.java), exercised THROUGH Engine.sql on a URL covering
    // every component; exact literal oracle.
    Qdef(
      "k15_url_compat",
      """SELECT
        |  'https' AS proto, 'example.com' AS host, CAST(8080 AS BIGINT) AS prt,
        |  '/a/b' AS pth, 'x=1&y=23' AS qry, 'frag' AS frg,
        |  '23' AS param_y, 'a%2Fb+c' AS enc, 'a/b c' AS dec""".stripMargin) { (s, dir) =>
      Engine.sql(s, dir,
        """SELECT
          |  url_extract_protocol(u) AS proto,
          |  url_extract_host(u) AS host,
          |  url_extract_port(u) AS prt,
          |  url_extract_path(u) AS pth,
          |  url_extract_query(u) AS qry,
          |  url_extract_fragment(u) AS frg,
          |  url_extract_parameter(u, 'y') AS param_y,
          |  url_encode('a/b c') AS enc,
          |  url_decode('a%2Fb+c') AS dec
          |FROM (SELECT 'https://example.com:8080/a/b?x=1&y=23#frag' AS u)""".stripMargin)
    },

    // Presto datetime dialect run through Engine.sql: ISO day_of_week
    // (Monday=1 — Spark's dayofweek is Sunday=1, reference:
    // DateTimeFunctions.java:77 joda dayOfWeek), doy/week fields, and the
    // 3-arg date_add/date_diff forms. DuckDB's isodow/date_diff share
    // Presto's conventions, giving an exact oracle.
    Qdef.duckOnly(
      "k12_datetime_dialect",
      """SELECT o_orderkey,
        |  CAST(isodow(o_orderdate) AS INT) AS dow_iso,
        |  CAST(dayofyear(o_orderdate) AS INT) AS doy,
        |  CAST(weekofyear(o_orderdate) AS INT) AS wk,
        |  CAST(o_orderdate + INTERVAL '7' DAY AS TIMESTAMP) AS plus_week,
        |  CAST(date_diff('day', o_orderdate, TIMESTAMP '1998-01-01 00:00:00') AS BIGINT)
        |    AS days_to_98
        |FROM orders
        |WHERE o_orderkey < 100
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      Engine.sql(s, dir,
        """SELECT o_orderkey,
          |  day_of_week(o_orderdate) AS dow_iso,
          |  doy(o_orderdate) AS doy,
          |  week(o_orderdate) AS wk,
          |  date_add('day', 7, o_orderdate) AS plus_week,
          |  date_diff('day', o_orderdate, TIMESTAMP '1998-01-01 00:00:00')
          |    AS days_to_98
          |FROM orders
          |WHERE o_orderkey < 100
          |ORDER BY o_orderkey""".stripMargin)
    },

    // Two more reference benchto query texts VERBATIM through the facade
    // (q06/q14 — the ones whose tables/columns all exist in the fixtures;
    // only the benchto template and l_/p_ column names substituted).
    Qdef(
      "k13_benchto_q06",
      """SELECT sum(l_extendedprice * l_discount) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= DATE '1994-01-01'
        |  AND l_shipdate < DATE '1994-01-01' + INTERVAL '1' YEAR
        |  AND l_discount BETWEEN .06 - 0.01 AND .06 + 0.01
        |  AND l_quantity < 24""".stripMargin) { (s, dir) =>
      Engine.sql(s, dir,
        """SELECT
          |  sum(l.l_extendedprice*l.l_discount) AS revenue
          |FROM
          |  lineitem l
          |WHERE
          |  l.l_shipdate >= DATE '1994-01-01'
          |  AND l.l_shipdate < DATE '1994-01-01' + INTERVAL '1' YEAR
          |  AND l.l_discount BETWEEN .06 - 0.01 AND .06 + 0.01
          |  AND l.l_quantity < 24""".stripMargin)
    },

    Qdef(
      "k14_benchto_q14",
      """SELECT 100.00 * sum(CASE WHEN p_type LIKE 'PROMO%'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
        |    / sum(l_extendedprice * (1 - l_discount)) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= DATE '1995-09-01'
        |  AND l_shipdate < DATE '1995-09-01' + INTERVAL '1' MONTH""".stripMargin) { (s, dir) =>
      Engine.sql(s, dir,
        """SELECT 100.00 * sum(CASE
          |                    WHEN p.p_type LIKE 'PROMO%'
          |                      THEN l.l_extendedprice * (1 - l.l_discount)
          |                    ELSE 0
          |                    END) / sum(l.l_extendedprice * (1 - l.l_discount)) AS promo_revenue
          |FROM
          |  lineitem AS l,
          |  part AS p
          |WHERE
          |  l.l_partkey = p.p_partkey
          |  AND l.l_shipdate >= DATE '1995-09-01'
          |  AND l.l_shipdate < DATE '1995-09-01' + INTERVAL '1' MONTH""".stripMargin)
    },

    Qdef(
      "k17_benchto_q18",
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  sum(l_quantity) AS sum_qty
        |FROM customer, orders, lineitem
        |WHERE o_orderkey IN (
        |    SELECT l_orderkey FROM lineitem
        |    GROUP BY l_orderkey
        |    HAVING sum(l_quantity) > 300)
        |  AND c_custkey = o_custkey
        |  AND o_orderkey = l_orderkey
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderdate
        |LIMIT 100""".stripMargin) { (s, dir) =>
      // reference q18.sql text; only the benchto template, the fixture's
      // prefixed column names, and an output alias substituted (the
      // harness matches result columns by name across engines)
      Engine.sql(s, dir,
        """SELECT
          |  c.c_name,
          |  c.c_custkey,
          |  o.o_orderkey,
          |  o.o_orderdate,
          |  o.o_totalprice,
          |  sum(l.l_quantity) AS sum_qty
          |FROM
          |  customer AS c,
          |  orders AS o,
          |  lineitem AS l
          |WHERE
          |  o.o_orderkey IN (
          |    SELECT l.l_orderkey
          |    FROM
          |      lineitem AS l
          |    GROUP BY
          |      l.l_orderkey
          |    HAVING
          |      sum(l.l_quantity) > 300
          |  )
          |  AND c.c_custkey = o.o_custkey
          |  AND o.o_orderkey = l.l_orderkey
          |GROUP BY
          |  c.c_name,
          |  c.c_custkey,
          |  o.o_orderkey,
          |  o.o_orderdate,
          |  o.o_totalprice
          |ORDER BY
          |  o.o_totalprice DESC,
          |  o.o_orderdate
          |LIMIT 100""".stripMargin)
    },

    // Reference benchto q05 text (presto-benchto-benchmarks/.../tpch/
    // q05.sql) with one fixture adaptation, same class as k13/k14's
    // column substitutions: the 1994 order-date window matches nothing
    // in the seeded sf fixtures (orders span 1996+), so the window is
    // shifted to 1996 to keep the 6-way-join + dialect check non-vacuous
    // (5 ASIA nations expected).
    Qdef(
      "k16_benchto_q05",
      """SELECT n_name,
        |  sum(l_extendedprice * (1 - l_discount)) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey
        |  AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= DATE '1996-01-01'
        |  AND o_orderdate < DATE '1996-01-01' + INTERVAL '1' YEAR
        |GROUP BY n_name
        |ORDER BY revenue DESC""".stripMargin) { (s, dir) =>
      Engine.sql(s, dir,
        """SELECT
          |  n.n_name,
          |  sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue
          |FROM
          |  customer AS c,
          |  orders AS o,
          |  lineitem AS l,
          |  supplier AS s,
          |  nation AS n,
          |  region AS r
          |WHERE
          |  c.c_custkey = o.o_custkey
          |  AND l.l_orderkey = o.o_orderkey
          |  AND l.l_suppkey = s.s_suppkey
          |  AND c.c_nationkey = s.s_nationkey
          |  AND s.s_nationkey = n.n_nationkey
          |  AND n.n_regionkey = r.r_regionkey
          |  AND r.r_name = 'ASIA'
          |  AND o.o_orderdate >= DATE '1996-01-01'
          |  AND o.o_orderdate < DATE '1996-01-01' + INTERVAL '1' YEAR
          |GROUP BY
          |  n.n_name
          |ORDER BY
          |  revenue DESC""".stripMargin)
    },

    // The reference's own benchmark query text, run VERBATIM through the
    // Presto-dialect facade (reference: presto-benchto-benchmarks/src/
    // main/resources/sql/presto/tpch/q01.sql — only the benchto
    // ${database}.${schema}.${prefix} template and the fixture's l_
    // column names substituted, which is benchto's own parameterization).
    Qdef(
      "k10_benchto_q01",
      """SELECT
        |  l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  sum(l_extendedprice) AS sum_base_price,
        |  sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
        |  sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
        |  avg(l_quantity) AS avg_qty,
        |  avg(l_extendedprice) AS avg_price,
        |  avg(l_discount) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= DATE '1998-12-01' - INTERVAL '90' DAY
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      Engine.sql(s, dir,
        """SELECT
          |  l.l_returnflag,
          |  l.l_linestatus,
          |  sum(l.l_quantity)                                           AS sum_qty,
          |  sum(l.l_extendedprice)                                      AS sum_base_price,
          |  sum(l.l_extendedprice * (1 - l.l_discount))                 AS sum_disc_price,
          |  sum(l.l_extendedprice * (1 - l.l_discount) * (1 + l.l_tax)) AS sum_charge,
          |  avg(l.l_quantity)                                           AS avg_qty,
          |  avg(l.l_extendedprice)                                      AS avg_price,
          |  avg(l.l_discount)                                           AS avg_disc,
          |  count(*)                                                    AS count_order
          |FROM
          |  lineitem AS l
          |WHERE
          |  l.l_shipdate <= DATE '1998-12-01' - INTERVAL '90' DAY
          |GROUP BY
          |  l.l_returnflag,
          |  l.l_linestatus
          |ORDER BY
          |  l.l_returnflag,
          |  l.l_linestatus""".stripMargin)
    },

    // PREPARE / EXECUTE … USING through the facade (reference:
    // presto-parser/.../SqlBase.g4:131-133; positional `?` binding as in
    // the reference's ExecuteTask). The oracle is the same statement with
    // the parameters inlined — EXECUTE must return the identical frame.
    Qdef(
      "k18_prepare_execute",
      """SELECT o_orderpriority, count(*) AS cnt
        |FROM orders
        |WHERE o_totalprice > 150000.0 AND o_orderdate < CAST('1995-01-01' AS DATE)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      Engine.sql(s, dir,
        """PREPARE graft_k18 FROM
          |SELECT o_orderpriority, count(*) AS cnt
          |FROM orders
          |WHERE o_totalprice > ? AND o_orderdate < CAST(? AS DATE)
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin)
      Engine.sql(s, dir, "EXECUTE graft_k18 USING 150000.0, '1995-01-01'")
    },

    // Sketch scalar extensions (references: scalar/QuantileDigestFunctions
    // .java values_at_quantiles/quantile_at_value/scale_qdigest, scalar/
    // TDigestFunctions.java scale_tdigest/destructure_tdigest, scalar/
    // HyperLogLogFunctions.java empty_approx_set). Property-style oracle:
    // monotonicity and round-trips as booleans, plus two exact columns —
    // destructure's count is the real row count and its sum matches the
    // exact SUM (centroid merges preserve both).
    Qdef.duckOnly(
      "k19_sketch_scalars",
      """SELECT
        |  true AS vq_monotone,
        |  true AS qv_roundtrip,
        |  true AS scale_q_invariant,
        |  true AS scale_td_invariant,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders) AS destr_count,
        |  true AS destr_sum_matches,
        |  CAST(0 AS BIGINT) AS empty_hll""".stripMargin) { (s, dir) =>
      graft.Engine.sql(s, dir,
        """WITH d AS (
          |  SELECT qdigest_agg(o_totalprice) AS qd,
          |         tdigest_agg(o_totalprice) AS td,
          |         sum(o_totalprice) AS exact_sum,
          |         count(*) AS exact_cnt
          |  FROM orders)
          |SELECT
          |  element_at(values_at_quantiles(qd, ARRAY[0.25E0, 0.5E0, 0.75E0]), 1)
          |    <= element_at(values_at_quantiles(qd, ARRAY[0.25E0, 0.5E0, 0.75E0]), 3) AS vq_monotone,
          |  abs(quantile_at_value(qd, value_at_quantile(qd, 0.5E0)) - 0.5E0) < 0.05E0 AS qv_roundtrip,
          |  value_at_quantile(scale_qdigest(qd, 2E0), 0.5E0) = value_at_quantile(qd, 0.5E0) AS scale_q_invariant,
          |  td_value_at_quantile(scale_tdigest(td, 3E0), 0.5E0) = td_value_at_quantile(td, 0.5E0) AS scale_td_invariant,
          |  destructure_tdigest(td).count AS destr_count,
          |  abs(destructure_tdigest(td).sum - exact_sum) / exact_sum < 1E-9 AS destr_sum_matches,
          |  hll_cardinality(empty_approx_set()) AS empty_hll
          |FROM d""".stripMargin)
    },

    // IP prefix/subnet scalars over VARCHAR forms (reference:
    // scalar/IpPrefixFunctions.java; IPADDRESS/IPPREFIX types narrowed
    // to their canonical strings per SURVEY §1.2). Keys derived from
    // real data so the masking runs across rows, not one literal.
    Qdef(
      "k20_ip_functions",
      """SELECT n_nationkey AS k,
        |  '10.' || CAST(n_nationkey AS VARCHAR) || '.0.0' AS base,
        |  '10.' || CAST(n_nationkey AS VARCHAR) || '.0.0/16' AS pfx,
        |  '10.' || CAST(n_nationkey AS VARCHAR) || '.255.255' AS mx,
        |  true AS member
        |FROM nation
        |ORDER BY k""".stripMargin) { (s, dir) =>
      graft.Engine.sql(s, dir,
        """SELECT n_nationkey AS k,
          |  ip_subnet_min(ip_prefix('10.' || CAST(n_nationkey AS VARCHAR) || '.7.9', 16)) AS base,
          |  ip_prefix('10.' || CAST(n_nationkey AS VARCHAR) || '.7.9', 16) AS pfx,
          |  ip_subnet_max('10.' || CAST(n_nationkey AS VARCHAR) || '.0.0/16') AS mx,
          |  is_subnet_of('10.' || CAST(n_nationkey AS VARCHAR) || '.0.0/16',
          |               '10.' || CAST(n_nationkey AS VARCHAR) || '.42.1') AS member
          |FROM nation
          |ORDER BY k""".stripMargin)
    },

    // SHOW STATS FOR table (reference: sql/show-stats.rst, rewrite in
    // sql/rewrite/ShowStatsRewrite.java): the seven-column shape with one
    // row per column + the summary row. Ours computes the values in one
    // distributed aggregation (the reference returns connector
    // estimates); DuckDB replays every number exactly — widths follow
    // the fixture's physical types (INTEGER = 4 bytes).
    Qdef.duckOnly(
      "k21_show_stats",
      """SELECT 'n_nationkey' AS column_name,
        |  CAST(4 * count(n_nationkey) AS DOUBLE) AS data_size,
        |  CAST(count(DISTINCT n_nationkey) AS DOUBLE) AS distinct_values_count,
        |  CAST(count(*) - count(n_nationkey) AS DOUBLE) / count(*) AS nulls_fraction,
        |  CAST(NULL AS DOUBLE) AS row_count,
        |  CAST(min(n_nationkey) AS VARCHAR) AS low_value,
        |  CAST(max(n_nationkey) AS VARCHAR) AS high_value
        |FROM nation
        |UNION ALL
        |SELECT 'n_name', CAST(sum(strlen(n_name)) AS DOUBLE),
        |  CAST(count(DISTINCT n_name) AS DOUBLE),
        |  CAST(count(*) - count(n_name) AS DOUBLE) / count(*),
        |  NULL, NULL, NULL
        |FROM nation
        |UNION ALL
        |SELECT 'n_regionkey', CAST(4 * count(n_regionkey) AS DOUBLE),
        |  CAST(count(DISTINCT n_regionkey) AS DOUBLE),
        |  CAST(count(*) - count(n_regionkey) AS DOUBLE) / count(*),
        |  NULL, CAST(min(n_regionkey) AS VARCHAR),
        |  CAST(max(n_regionkey) AS VARCHAR)
        |FROM nation
        |UNION ALL
        |SELECT NULL, NULL, NULL, NULL, CAST(count(*) AS DOUBLE), NULL, NULL
        |FROM nation""".stripMargin) { (s, dir) =>
      graft.Engine.sql(s, dir, "SHOW STATS FOR nation")
    },

    // SQL-invoked functions (reference: SqlBase.g4:72-77 createFunction;
    // registration BuiltInTypeAndFunctionNamespaceManager.java:862-867):
    // CREATE TEMPORARY FUNCTION … RETURN through the facade, then a
    // query that calls it — the oracle is the same query with the
    // function body inlined, so the result certifies the macro-expansion
    // semantics end to end. OR REPLACE keeps the entry idempotent within
    // a session.
    Qdef(
      "k22_create_function",
      """SELECT l_returnflag,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  round(avg(l_extendedprice * (1 - l_discount)), 4) AS avg_net
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      graft.Engine.sql(s, dir,
        """CREATE OR REPLACE TEMPORARY FUNCTION graft_k22_net(
          |  price DOUBLE, disc DOUBLE)
          |RETURNS DOUBLE
          |LANGUAGE SQL DETERMINISTIC
          |RETURN price * (1 - disc)""".stripMargin).collect()
      graft.Engine.sql(s, dir,
        """SELECT l_returnflag,
          |  round(sum(graft_k22_net(l_extendedprice, l_discount)), 2) AS revenue,
          |  round(avg(graft_k22_net(l_extendedprice, l_discount)), 4) AS avg_net
          |FROM lineitem
          |GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)
    },

    // TIME literals + localtime (reference: presto-common/.../type/
    // TimeType.java; DateTimeFunctions.java localTime) under the
    // documented epoch-day narrowing (Dialect: TIME 'HH:MM:SS' ≡
    // TIMESTAMP '1970-01-01 HH:MM:SS'). The oracle runs DuckDB's REAL
    // TIME type over the same expressions — extraction, comparison and
    // wrap-around interval arithmetic must agree, which is exactly what
    // the narrowing claims to preserve. localtime is nondeterministic,
    // so only its range is certified.
    Qdef.duckOnly(
      "k23_time_literals",
      """SELECT
        |  CAST(hour(TIME '23:45:01') AS BIGINT) AS h,
        |  CAST(minute(TIME '23:45:01') AS BIGINT) AS m,
        |  CAST(second(TIME '23:45:01') AS BIGINT) AS s,
        |  TIME '08:00:00' < TIME '09:30:00' AS cmp,
        |  CAST(TIME '23:30:00' + INTERVAL 90 MINUTE AS VARCHAR) AS wrapped,
        |  CAST(TIME '23:30:00' - INTERVAL 45 MINUTE AS VARCHAR) AS back,
        |  true AS lt_ok""".stripMargin) { (s, dir) =>
      graft.Engine.sql(s, dir,
        """SELECT
          |  CAST(hour(TIME '23:45:01') AS BIGINT) AS h,
          |  CAST(minute(TIME '23:45:01') AS BIGINT) AS m,
          |  CAST(second(TIME '23:45:01') AS BIGINT) AS s,
          |  TIME '08:00:00' < TIME '09:30:00' AS cmp,
          |  date_format(TIME '23:30:00' + INTERVAL '90' MINUTE, '%H:%i:%s') AS wrapped,
          |  date_format(TIME '23:30:00' - INTERVAL '45' MINUTE, '%H:%i:%s') AS back,
          |  hour(localtime) BETWEEN 0 AND 23 AS lt_ok""".stripMargin)
    },

    // DESCRIBE INPUT of a prepared statement (reference: SqlBase.g4:134,
    // sql/rewrite/DescribeInputRewrite.java): one (Position, Type) row
    // per `?` placeholder, 0-based. Types surface as 'unknown' —
    // parameters aren't typed before binding. The oracle is the
    // reference-documented literal frame (duckOnly: the column names are
    // double-quoted); FacadeSpec additionally value-asserts the facade
    // path including the zero-parameter all-NULL row.
    Qdef.duckOnly(
      "k24_describe_input",
      """SELECT * FROM (VALUES (0, 'unknown'), (1, 'unknown'))
        |  AS t("Position", "Type") ORDER BY "Position"""".stripMargin) { (s, dir) =>
      graft.Engine.sql(s, dir,
        """PREPARE graft_k24 FROM
          |SELECT o_orderpriority, count(*) AS cnt FROM orders
          |WHERE o_totalprice > ? AND o_orderdate < CAST(? AS DATE)
          |GROUP BY o_orderpriority""".stripMargin)
      graft.Engine.sql(s, dir, "DESCRIBE INPUT graft_k24")
    },

    // DESCRIBE OUTPUT (reference: SqlBase.g4:135-137,
    // sql/rewrite/DescribeOutputRewrite.java): one row per output column
    // of the prepared statement, typed by ANALYZING (not executing) the
    // body with parameters bound to NULL. Documented divergences:
    // Catalog/Schema/Table are empty (temp views carry no origin),
    // Type Size is 0, Aliased always true.
    Qdef.duckOnly(
      "k25_describe_output",
      """SELECT * FROM (VALUES
        |  ('o_orderpriority', '', '', '', 'varchar', 0, true),
        |  ('cnt', '', '', '', 'bigint', 0, true))
        |  AS t("Column Name", "Catalog", "Schema", "Table", "Type",
        |       "Type Size", "Aliased")""".stripMargin) { (s, dir) =>
      graft.Engine.sql(s, dir,
        """PREPARE graft_k25 FROM
          |SELECT o_orderpriority, count(*) AS cnt FROM orders
          |WHERE o_totalprice > ? GROUP BY o_orderpriority""".stripMargin)
      graft.Engine.sql(s, dir, "DESCRIBE OUTPUT graft_k25")
    },

    // TIME WITH TIME ZONE + named-zone TIMESTAMP literals (reference:
    // TimeWithTimeZoneType.java, DateTimeEncoding.java packs the zone
    // key next to the millis, SqlBase.g4 typeConstructor). COMPARISON
    // follows the documented UTC-instant narrowing (the offset applies
    // at parse, so cross-offset equality/ordering match the reference's
    // UTC-normalized comparison); EXTRACTION over a WITH-TIME-ZONE
    // literal now follows the reference and speaks the LITERAL's zone
    // (hour(TIME '10:00:00 +05:30') = 10, the value's own wall clock;
    // timezone_hour/minute report the literal zone's offset) — the
    // zone is statically known at translation, Dialect.ZoneSensitiveFns.
    // Zone-less COLUMN values keep the session-zone narrowing. The
    // oracle replays both halves in closed form; FacadeSpec
    // value-asserts the facade path.
    Qdef.duckOnly(
      "k26_time_with_tz",
      """SELECT
        |  CAST(10 AS BIGINT) AS h_val,
        |  (TIMESTAMP '1970-01-01 10:00:00' - INTERVAL 330 MINUTE)
        |    = TIMESTAMP '1970-01-01 04:30:00' AS cmp_eq,
        |  (TIMESTAMP '1970-01-01 23:00:00' + INTERVAL 120 MINUTE)
        |    > (TIMESTAMP '1970-01-01 10:00:00' - INTERVAL 330 MINUTE) AS ord_ok,
        |  CAST(3 AS BIGINT) AS ts_h,
        |  CAST(5 AS BIGINT) AS tz_h,
        |  CAST(30 AS BIGINT) AS tz_m,
        |  CAST(-7 AS BIGINT) AS la_tz_h,
        |  CAST(-2 AS BIGINT) AS nst_h,
        |  CAST(-30 AS BIGINT) AS nst_m""".stripMargin) { (s, dir) =>
      graft.Engine.sql(s, dir,
        """SELECT
          |  CAST(hour(TIME '10:00:00 +05:30') AS BIGINT) AS h_val,
          |  TIME '10:00:00 +05:30' = TIME '04:30:00' AS cmp_eq,
          |  TIME '23:00:00 -02:00' > TIME '10:00:00 +05:30' AS ord_ok,
          |  CAST(hour(TIMESTAMP '2001-08-22 03:04:05 America/Los_Angeles')
          |    AS BIGINT) AS ts_h,
          |  timezone_hour(TIME '10:00:00 +05:30') AS tz_h,
          |  timezone_minute(TIME '10:00:00 +05:30') AS tz_m,
          |  timezone_hour(TIMESTAMP '2001-08-22 03:04:05 America/Los_Angeles')
          |    AS la_tz_h,
          |  timezone_hour(TIMESTAMP '2001-08-22 03:04:05 America/St_Johns')
          |    AS nst_h,
          |  timezone_minute(TIMESTAMP '2001-08-22 03:04:05 America/St_Johns')
          |    AS nst_m""".stripMargin)
    },

    // CREATE VIEW / query-through-view / DROP VIEW (reference: grammar
    // SqlBase.g4:64-66, execution/CreateViewTask.java). The oracle is the
    // view's defining query inlined — a plain view must be pure naming.
    Qdef(
      "k27_create_view",
      """SELECT r_name, count(*) AS nations FROM nation
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, dir) =>
      graft.Engine.sql(s, dir, "DROP VIEW IF EXISTS graft_k27_v").collect()
      graft.Engine.sql(s, dir,
        """CREATE VIEW graft_k27_v AS
          |SELECT r_name, count(*) AS nations FROM nation
          |JOIN region ON n_regionkey = r_regionkey GROUP BY r_name""".stripMargin)
        .collect()
      graft.Engine.sql(s, dir,
        "SELECT r_name, nations FROM graft_k27_v ORDER BY r_name")
    },

    // CREATE MATERIALIZED VIEW + partition-scoped REFRESH ... WHERE
    // (reference: SqlBase.g4:67-71, CreateMaterializedViewTask.java,
    // RefreshMaterializedViewTask.java — refresh recomputes only matching
    // partitions; the stale/fresh distinction under base mutation is pinned
    // in FacadeSpec, where the base table is writable). Here the base is
    // the immutable fixture, so refresh must be a value-preserving no-op on
    // the refreshed partition — the oracle is the defining query inlined.
    Qdef(
      "k28_materialized_view",
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin) { (s, dir) =>
      graft.Engine.sql(s, dir,
        "DROP MATERIALIZED VIEW IF EXISTS graft_k28_mv").collect()
      graft.Engine.sql(s, dir,
        """CREATE MATERIALIZED VIEW graft_k28_mv
          |WITH (partitioned_by = ARRAY['o_orderstatus']) AS
          |SELECT o_orderstatus, o_orderpriority, count(*) AS n,
          |  CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS total
          |FROM orders GROUP BY o_orderstatus, o_orderpriority""".stripMargin)
        .collect()
      graft.Engine.sql(s, dir,
        "REFRESH MATERIALIZED VIEW graft_k28_mv WHERE o_orderstatus = 'F'")
        .collect()
      graft.Engine.sql(s, dir,
        """SELECT o_orderstatus, o_orderpriority, n, total
          |FROM graft_k28_mv
          |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)
    },

    // ANALYZE (reference: SqlBase.g4:60, docs sql/analyze.rst): one
    // distributed statistics pass, persisted for the session; the
    // statement's result is the analyzed row count. The stats-storage
    // contract (SHOW STATS serves the stored snapshot until the next
    // ANALYZE) is pinned in FacadeSpec under real view mutation.
    Qdef.duckOnly(
      "k29_analyze",
      """SELECT count(*) AS "rows" FROM orders""") { (s, dir) =>
      graft.Engine.sql(s, dir, "ANALYZE orders")
    },

    // The map-aggregate family under its REFERENCE SQL NAMES: map_agg
    // (MapAggregationFunction.java — duplicate keys first-wins),
    // map_union (MapUnionAggregation.java), histogram (aggregation/
    // histogram/Histogram.java), approx_most_frequent (approxmostfrequent/
    // — exact here since capacity 8 ≥ 5 distinct priorities). Inputs are
    // arranged so every map is deterministic (keys distinct per group for
    // map_agg/map_union; counts deterministic for the others); maps are
    // canonicalized to sorted k=v strings so DuckDB can recompute them
    // relationally.
    Qdef.duckOnly(
      "k30_map_agg_family",
      """WITH per AS (
        |  SELECT o_orderstatus AS st, o_orderpriority AS p,
        |    count(*) AS c, min(o_orderkey) AS mk
        |  FROM orders GROUP BY o_orderstatus, o_orderpriority),
        |h AS (SELECT st, string_agg(p || '=' || c, ',' ORDER BY p) AS hist
        |      FROM per GROUP BY st),
        |m AS (SELECT st, string_agg(p || '=' || mk, ',' ORDER BY p) AS mapped
        |      FROM per GROUP BY st),
        |u AS (SELECT st, string_agg(p || '=' || mk, ',' ORDER BY p) AS unioned
        |      FROM per GROUP BY st),
        |t AS (SELECT st, string_agg(p || '=' || c, ',' ORDER BY p) AS top3
        |      FROM (SELECT st, p, c,
        |              row_number() OVER (PARTITION BY st ORDER BY c DESC, p) AS r
        |            FROM per)
        |      WHERE r <= 3 GROUP BY st)
        |SELECT h.st AS o_orderstatus, h.hist, m.mapped, u.unioned, t.top3
        |FROM h JOIN m ON h.st = m.st JOIN u ON h.st = u.st JOIN t ON h.st = t.st
        |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      def canon(c: String): org.apache.spark.sql.Column = expr(
        s"array_join(array_sort(transform(map_entries($c), " +
          s"e -> concat(e.key, '=', CAST(e.value AS STRING)))), ',')")
      val per = Tables.load(s, dir, "orders")
        .groupBy(col("o_orderstatus").as("st"), col("o_orderpriority").as("p"))
        .agg(count(lit(1)).as("c"), min(col("o_orderkey")).as("mk"))
      val h = Tables.load(s, dir, "orders").groupBy(col("o_orderstatus").as("st"))
        .agg(expr("histogram(o_orderpriority)").as("hm"))
      val am = Tables.load(s, dir, "orders").groupBy(col("o_orderstatus").as("st2"))
        .agg(expr("approx_most_frequent(3, o_orderpriority, 8)").as("tm"))
      val ma = per.groupBy(col("st").as("st3"))
        .agg(expr("map_agg(p, CAST(mk AS STRING))").as("mm"))
      val mu = per.groupBy(col("st").as("st4"))
        .agg(expr("map_union(map(p, CAST(mk AS STRING)))").as("um"))
      h.join(ma, col("st") === col("st3"))
        .join(mu, col("st") === col("st4"))
        .join(am, col("st") === col("st2"))
        .select(col("st").as("o_orderstatus"),
          canon("hm").as("hist"), canon("mm").as("mapped"),
          canon("um").as("unioned"), canon("tm").as("top3"))
        .orderBy("o_orderstatus")
    },

    // Protocol statements through the facade (reference SqlBase.g4 `use`
    // / startTransaction / commit): USE acks the single fixture schema,
    // START TRANSACTION and COMMIT ack under the documented autocommit
    // narrowing (Dialect.StartTransactionStmt), and ROLLBACK must stay
    // LOUD — pretending to undo a committed write is the one behavior
    // this surface may never have.
    Qdef.duckOnly(
      "k31_protocol_statements",
      "SELECT true AS use_ok, true AS txn_ok, true AS rollback_loud") { (s, dir) =>
      val useOk = graft.Engine.sql(s, dir, "USE graft")
        .collect()(0).getString(0) == "USE"
      val txnOk =
        graft.Engine.sql(s, dir, "START TRANSACTION").collect()(0)
          .getString(0) == "START TRANSACTION" &&
        graft.Engine.sql(s, dir, "COMMIT").collect()(0).getString(0) == "COMMIT"
      val rollbackLoud =
        try { graft.Engine.sql(s, dir, "ROLLBACK"); false }
        catch { case _: UnsupportedOperationException => true }
      s.sql(s"SELECT $useOk AS use_ok, $txnOk AS txn_ok, " +
        s"$rollbackLoud AS rollback_loud")
    },

    // CREATE TYPE — user-defined structural ROW types and distinct
    // aliases (reference: SqlBase.g4:61 #createType, execution/
    // CreateTypeTask.java, presto-tests TestUserDefinedTypes). Types
    // live in a session namespace and are observed at CAST sites; the
    // oracle computes the same values typelessly, so the comparison
    // verifies both the field routing and the result types (the pair's
    // fst is BIGINT by declaration).
    Qdef(
      "k32_create_type",
      """SELECT n_nationkey AS k,
        |  CAST(n_nationkey * 2 AS BIGINT) AS fst,
        |  n_regionkey AS snd,
        |  CAST(n_nationkey AS INTEGER) AS dnum
        |FROM nation ORDER BY k""".stripMargin) { (s, dir) =>
      def ddl(q: String): Unit =
        // create-if-absent: the session is shared across gate replays
        try { graft.Engine.sql(s, dir, q).collect(); () }
        catch { case e: Exception
          if Option(e.getMessage).exists(_.contains("already exists")) => () }
      ddl("CREATE TYPE graft.corpus.pair AS (fst BIGINT, snd INTEGER)")
      ddl("CREATE TYPE graft.corpus.num AS INTEGER")
      graft.Engine.sql(s, dir,
        """SELECT n_nationkey AS k,
          |  CAST(ROW(n_nationkey * 2, n_regionkey) AS graft.corpus.pair).fst AS fst,
          |  CAST(ROW(n_nationkey * 2, n_regionkey) AS graft.corpus.pair).snd AS snd,
          |  CAST(n_nationkey AS graft.corpus.num) AS dnum
          |FROM nation ORDER BY k""".stripMargin)
    },

    // TSWTZ value semantics through EXPRESSIONS (round-12; reference
    // packs millis+zoneKey per value — DateTimeEncoding.java:34-41,
    // DateTimeFunctions.java timeZoneHourFromTimestampWithTimeZone).
    // The Dialect post-pass (normalizeZonedValues) makes three spellings
    // speak the VALUE's zone / instant like the reference:
    //  - at_timezone CHAINS re-zone the same instant (no double shift);
    //  - timezone_hour/minute of at_timezone/with_timezone results
    //    report the value zone's offset AT the value's instant — for
    //    literal and COLUMN zones, DST-correct, including negative
    //    fractional-hour zones (St_Johns -3:30) and +8:45 (Eucla);
    //  - comparisons on at_timezone results compare instants.
    // DuckDB's ICU AT TIME ZONE is the independent zone-rules oracle;
    // offsets derive from epoch differences with toward-zero division
    // (both engines' integer division truncates toward zero, matching
    // the reference's Java semantics).
    Qdef.duckOnly(
      "k33_tswtz_value_zone",
      """WITH t AS (
        |  SELECT o_orderkey,
        |    CAST(o_orderdate AS TIMESTAMP) + (o_orderkey % 24) * INTERVAL 1 HOUR AS ts,
        |    CASE o_orderkey % 3 WHEN 0 THEN 'Asia/Kolkata'
        |      WHEN 1 THEN 'America/St_Johns' ELSE 'Australia/Eucla' END AS z
        |  FROM orders WHERE o_orderkey < 500),
        |o AS (
        |  SELECT o_orderkey, ts, z,
        |    CAST(epoch(CAST((ts AT TIME ZONE 'UTC') AT TIME ZONE z AS TIMESTAMP))
        |      - epoch(ts) AS BIGINT) AS off,
        |    CAST(epoch(CAST((ts AT TIME ZONE 'UTC') AT TIME ZONE 'America/Los_Angeles' AS TIMESTAMP))
        |      - epoch(ts) AS BIGINT) AS la_off
        |  FROM t)
        |SELECT o_orderkey,
        |  hour(CAST((ts AT TIME ZONE 'UTC') AT TIME ZONE 'America/Los_Angeles' AS TIMESTAMP)) AS chain_h,
        |  off // 3600 AS tzh,
        |  (off // 60) % 60 AS tzm,
        |  la_off // 3600 AS la_tzh,
        |  TRUE AS eq_instant,
        |  FALSE AS lt_instant,
        |  TRUE AS between_inst,
        |  TRUE AS in_inst
        |FROM o ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      graft.Engine.sql(s, dir,
        """WITH t AS (
          |  SELECT o_orderkey,
          |    date_add('hour', CAST(o_orderkey % 24 AS INTEGER),
          |             CAST(o_orderdate AS TIMESTAMP)) AS ts,
          |    CASE o_orderkey % 3 WHEN 0 THEN 'Asia/Kolkata'
          |      WHEN 1 THEN 'America/St_Johns' ELSE 'Australia/Eucla' END AS z
          |  FROM orders WHERE o_orderkey < 500)
          |SELECT o_orderkey,
          |  CAST(hour(ts AT TIME ZONE 'Asia/Kolkata'
          |            AT TIME ZONE 'America/Los_Angeles') AS BIGINT) AS chain_h,
          |  timezone_hour(at_timezone(ts, z)) AS tzh,
          |  timezone_minute(at_timezone(ts, z)) AS tzm,
          |  timezone_hour(ts AT TIME ZONE 'America/Los_Angeles') AS la_tzh,
          |  at_timezone(ts, 'Asia/Kolkata') = at_timezone(ts, 'America/New_York')
          |    AS eq_instant,
          |  at_timezone(ts, 'Asia/Kolkata') < ts AS lt_instant,
          |  at_timezone(ts, z) BETWEEN at_timezone(ts, 'America/New_York')
          |    AND ts AS between_inst,
          |  at_timezone(ts, z) IN (TIMESTAMP '1971-02-03 04:05:06', ts)
          |    AS in_inst
          |FROM t ORDER BY o_orderkey""".stripMargin)
    },

    // Enum value-map types (round-12; reference: presto-common/.../type/
    // BigintEnumType.java LongEnumMap, VarcharEnumType.java
    // VarcharEnumMap, casts type/EnumCasts.java:44-52, behavior
    // presto-tests/.../TestEnums.java — the reference has NO public SQL
    // spelling for creating one, so graft defines CREATE TYPE … AS
    // BIGINT|VARCHAR ENUM ('KEY' = value, …) mirroring the signature).
    // Exercises: member literals (case-insensitive keys), casts in/out
    // with value-membership validation, TRY_CAST null-on-miss, enum
    // comparisons/IN, enums nested in ROW casts, and the invalid-value
    // rejection ("No value '7' in enum 'BigintEnum'") observed
    // driver-side. Values mirror TestEnums' mood/country maps.
    Qdef.duckOnly(
      "k34_enum_types",
      """SELECT
        |  CAST(0 AS BIGINT) AS happy_v,
        |  CAST(2147483657 AS BIGINT) AS mellow_v,
        |  CAST(-2 AS BIGINT) AS curious_v,
        |  CAST(1 AS BIGINT) AS sad_cast,
        |  'The Bahamas' AS bahamas,
        |  CAST(NULL AS BIGINT) AS bad_try,
        |  CAST(NULL AS VARCHAR) AS bad_try_v,
        |  CAST(NULL AS BIGINT) AS null_cast,
        |  CAST(NULL AS VARCHAR) AS null_cast_v,
        |  TRUE AS happy_eq,
        |  TRUE AS in_list,
        |  CAST(1 AS BIGINT) AS row_y,
        |  TRUE AS cast_7_raises""".stripMargin) { (s, dir) =>
      def ddl(q: String): Unit =
        try { graft.Engine.sql(s, dir, q).collect(); () }
        catch { case e: Exception
          if Option(e.getMessage).exists(_.contains("already exists")) => () }
      ddl("CREATE TYPE graft.corpus.mood AS BIGINT ENUM " +
        "('HAPPY' = 0, 'SAD' = 1, 'MELLOW' = 2147483657, 'curious' = -2)")
      ddl("CREATE TYPE graft.corpus.country AS VARCHAR ENUM " +
        "('US' = 'United States', 'BAHAMAS' = 'The Bahamas', 'FRANCE' = 'France')")
      val rejects =
        try {
          graft.Engine.sql(s, dir,
            "SELECT CAST(7 AS graft.corpus.mood) AS x").collect()
          false
        } catch {
          case e: Throwable =>
            (e.getMessage + Option(e.getCause).map(_.getMessage).mkString)
              .contains("No value '7' in enum 'BigintEnum'")
        }
      graft.Engine.sql(s, dir,
        s"""SELECT
           |  graft.corpus.mood.happy AS happy_v,
           |  CAST(graft.corpus.mood.MELLOW AS BIGINT) AS mellow_v,
           |  graft.corpus.mood.CURIOUS AS curious_v,
           |  CAST(1 AS graft.corpus.mood) AS sad_cast,
           |  CAST('The Bahamas' AS graft.corpus.country) AS bahamas,
           |  TRY_CAST(7 AS graft.corpus.mood) AS bad_try,
           |  TRY_CAST('Xx' AS graft.corpus.country) AS bad_try_v,
           |  CAST(NULL AS graft.corpus.mood) AS null_cast,
           |  CAST(CAST(NULL AS VARCHAR) AS graft.corpus.country) AS null_cast_v,
           |  graft.corpus.mood.HAPPY = CAST(0 AS graft.corpus.mood) AS happy_eq,
           |  graft.corpus.mood.SAD IN
           |    (graft.corpus.mood.HAPPY, graft.corpus.mood.SAD) AS in_list,
           |  CAST(ROW(1, 1) AS ROW(x BIGINT, y graft.corpus.mood)).y AS row_y,
           |  $rejects AS cast_7_raises""".stripMargin)
    },

    // Recursive WITH (round-12): the reference PARSES the RECURSIVE
    // keyword (presto-parser/.../SqlBase.g4:143) but its analyzer
    // REJECTS it ("Recursive WITH queries are not supported",
    // presto-main/.../analyzer/StatementAnalyzer.java:2663-2664) — this
    // is a deliberate capability UPGRADE over the reference, executed by
    // Spark 4's native recursive-CTE support (UnionLoop iteration), and
    // documented as such in README's divergence matrix. The walk is
    // DATA-driven, not a constant ladder: each iteration equi-joins the
    // frontier back to `part` on a doubled key, so the recursion depth
    // (and the result) is bounded by the table's actual key range —
    // seeds 1..5 double until the key leaves the table, with overlapping
    // chains (1→2→4… and the seed 2,4 chains) exercising UNION ALL's
    // keep-duplicates contract across iterations. DuckDB runs the
    // identical text as the oracle; sharedDialect also replays it
    // through Engine.sql's translation path.
    Qdef(
      "k35_recursive_cte",
      """WITH RECURSIVE chain (k, depth) AS (
        |  SELECT p_partkey, 0 FROM part WHERE p_partkey <= 5
        |  UNION ALL
        |  SELECT p.p_partkey, c.depth + 1
        |  FROM chain c JOIN part p ON p.p_partkey = c.k * 2
        |  WHERE c.depth < 20)
        |SELECT k,
        |  CAST(count(*) AS BIGINT) AS paths,
        |  CAST(min(depth) AS BIGINT) AS min_depth,
        |  CAST(max(depth) AS BIGINT) AS max_depth
        |FROM chain
        |GROUP BY k
        |ORDER BY k""".stripMargin) { (s, dir) =>
      graft.Engine.sql(s, dir,
        """WITH RECURSIVE chain (k, depth) AS (
          |  SELECT p_partkey, 0 FROM part WHERE p_partkey <= 5
          |  UNION ALL
          |  SELECT p.p_partkey, c.depth + 1
          |  FROM chain c JOIN part p ON p.p_partkey = c.k * 2
          |  WHERE c.depth < 20)
          |SELECT k,
          |  CAST(count(*) AS BIGINT) AS paths,
          |  CAST(min(depth) AS BIGINT) AS min_depth,
          |  CAST(max(depth) AS BIGINT) AS max_depth
          |FROM chain
          |GROUP BY k
          |ORDER BY k""".stripMargin)
    }
  )
}
