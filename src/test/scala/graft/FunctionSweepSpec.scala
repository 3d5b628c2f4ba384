package graft

import org.scalatest.funsuite.AnyFunSuite

/** Function-name conformance sweep: every public function name the
  * reference registers (extracted from the @ScalarFunction /
  * @AggregationFunction / @SqlInvokedScalarFunction annotations plus
  * their alias lists under presto-main/.../operator/) must either
  * resolve through this engine — Spark built-in, graft registration, or
  * a `Dialect` alias/special form — or sit on the explicit
  * documented-deferred list with a reason. A reference function name
  * that is neither is a regression in the "a user could switch" goal.
  */
class FunctionSweepSpec extends AnyFunSuite {

  /** Names the dialect layer handles with dedicated rewrite branches
    * rather than a 1:1 alias (map constructor, TRY special form, literal
    * split, 3-arg date_add/date_diff). */
  private val textHandled = Set("map", "try", "split", "date_add", "date_diff", "approx_set", "array_agg")

  /** Deliberately not implemented; each with the reason a user sees. */
  private val deferred = Map.empty[String, String]
  // Left the list in round 7: "merge" (PrestoFunctions dispatches the
  // polymorphic name on the resolved sketch-state type), the color
  // family (functions/ColorPack.scala), and secure_random/secure_rand
  // (real per-thread SecureRandom, asNondeterministic — e11 prop entry).
  // Left in round 9: "localtime" (registered 0-arg function under the
  // epoch-day TIME narrowing; bare-keyword spelling rewritten by Dialect)
  // — the list is now EMPTY: all 288 reference names resolve.

  private val referenceNames: Seq[String] = Seq(
    "abs", "acos", "all_match", "any_match", "approx_distinct", "approx_percentile",
    "approx_set", "array_average", "array_distinct", "array_dupes", "array_duplicates", "array_except",
    "array_frequency", "array_has_dupes", "array_has_duplicates", "array_intersect", "array_max", "array_min",
    "array_normalize", "array_position", "array_remove", "array_sort", "array_sum", "array_union",
    "arrays_overlap", "asin", "at_timezone", "atan", "atan2", "avg",
    "bar", "beta_cdf", "binomial_cdf", "bit_count", "bitwise_and", "bitwise_and_agg",
    "bitwise_arithmetic_shift_right", "bitwise_left_shift", "bitwise_logical_shift_right", "bitwise_not", "bitwise_or", "bitwise_or_agg",
    "bitwise_right_shift", "bitwise_right_shift_arithmetic", "bitwise_shift_left", "bitwise_xor", "bool_and", "bool_or",
    "cardinality", "cauchy_cdf", "cbrt", "ceil", "ceiling", "chi_squared_cdf",
    "chr", "classification_fall_out", "classification_miss_rate", "classification_precision", "classification_recall", "classification_thresholds",
    "codepoint", "color", "combinations", "concat", "contains", "corr",
    "cos", "cosh", "cosine_similarity", "count", "count_if", "covar_pop",
    "covar_samp", "crc32", "current_date", "current_time", "current_timestamp", "current_timezone",
    "current_user", "date_add", "date_diff", "date_format", "date_parse", "date_trunc",
    "day", "day_of_month", "day_of_week", "day_of_year", "degrees", "destructure_tdigest",
    "differential_entropy", "dow", "doy", "e", "element_at", "empty_approx_set",
    "entropy", "every", "exp", "fail", "filter", "floor",
    "fnv1_32", "fnv1_64", "fnv1a_32", "fnv1a_64", "format_datetime", "from_base",
    "from_base64", "from_base64url", "from_big_endian_32", "from_big_endian_64", "from_hex", "from_ieee754_32",
    "from_ieee754_64", "from_iso8601_date", "from_iso8601_timestamp", "from_unixtime", "from_utf8", "geometric_mean",
    "hamming_distance", "hmac_md5", "hmac_sha1", "hmac_sha256", "hmac_sha512", "hour",
    "infinity", "inverse_beta_cdf", "inverse_binomial_cdf", "inverse_cauchy_cdf", "inverse_chi_squared_cdf", "inverse_normal_cdf",
    "inverse_poisson_cdf", "inverse_weibull_cdf", "ip_prefix", "ip_subnet_max", "ip_subnet_min", "ip_subnet_range",
    "is_finite", "is_infinite", "is_json_scalar", "is_nan", "is_subnet_of", "json_array_contains",
    "json_array_get", "json_array_length", "json_extract", "json_extract_scalar", "json_format", "json_parse",
    "json_size", "key_sampling_percent", "kurtosis", "last_day_of_month", "length", "levenshtein_distance",
    "ln", "localtime", "localtimestamp", "log", "log10", "log2",
    "lower", "lpad", "ltrim", "map", "map_entries", "map_from_entries",
    "map_keys", "map_normalize", "map_values", "md5", "merge", "merge_hll",
    "millisecond", "minute", "mod", "month", "multimap_from_entries", "murmur3_x64_128",
    "nan", "ngrams", "none_match", "normal_cdf", "normalize", "now",
    "numeric_histogram", "parse_datetime", "parse_duration", "parse_presto_data_size", "pi", "poisson_cdf",
    "pow", "quantile_at_value", "quantiles_at_values", "quarter", "radians", "rand",
    "random", "regexp_extract", "regexp_extract_all", "regexp_like", "regexp_replace", "regexp_split",
    "regr_intercept", "regr_slope", "render", "repeat", "replace", "reverse",
    "rgb", "round", "rpad", "rtrim", "scale_qdigest", "scale_tdigest",
    "second", "secure_rand", "secure_random", "sequence", "sha1", "sha256",
    "sha512", "shuffle", "sign", "sin", "skewness", "slice",
    "split", "split_part", "split_to_map", "split_to_multimap", "spooky_hash_v2_32", "spooky_hash_v2_64",
    "sqrt", "stddev", "stddev_pop", "stddev_samp", "strpos", "strrpos",
    "substr", "sum", "tan", "tanh", "timezone_hour", "timezone_minute",
    "to_base", "to_base64", "to_base64url", "to_big_endian_32", "to_big_endian_64", "to_hex",
    "to_ieee754_32", "to_ieee754_64", "to_iso8601", "to_milliseconds", "to_unixtime", "to_utf8",
    "trim", "trim_array", "truncate", "typeof", "upper", "url_decode",
    "url_encode", "url_extract_fragment", "url_extract_host", "url_extract_parameter", "url_extract_path", "url_extract_port",
    "url_extract_protocol", "url_extract_query", "value_at_quantile", "values_at_quantiles", "var_pop", "var_samp",
    "variance", "week", "week_of_year", "weibull_cdf", "width_bucket", "wilson_interval_lower",
    "wilson_interval_upper", "word_stem", "xxhash64", "year", "year_of_week", "yow",
    // round 10: the map-aggregate family under its reference SQL names
    "map_agg", "map_union", "histogram", "approx_most_frequent",
    "reidentification_potential", "uniqueness_distribution",
    "convex_hull_agg", "geometry_union", "geometry_union_agg",
    "st_equals", "st_touches", "st_crosses", "st_overlaps", "st_intersection",
    "st_union", "st_difference", "st_symdifference",
    "geometry_to_dissolved_bing_tiles", "st_linestring", "st_buffer",
    "st_issimple", "st_points", "st_geometries", "st_interiorrings",
    "st_envelopeaspts", "expand_envelope", "geometry_nearest_points",
    "st_geomfrombinary", "geometry_as_geojson", "geometry_from_geojson",
    "flatten_geometry_collections", "to_spherical_geography", "to_geometry",
    "bing_tile_parent", "bing_tile_children",
    "spatial_partitioning", "spatial_partitions", "st_relate")

  test("every reference function name resolves or is documented-deferred") {
    val s = TestSpark.spark
    val reg = s.sessionState.functionRegistry
    val unresolved = referenceNames.filterNot { n =>
      val t = Dialect.functionAliases.getOrElse(n, n)
      textHandled.contains(n) || deferred.contains(n) ||
        reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(t)) ||
        s.catalog.functionExists(t)
    }
    assert(unresolved.isEmpty,
      s"reference functions with no resolution or deferral: ${unresolved.mkString(", ")}")
  }
}
