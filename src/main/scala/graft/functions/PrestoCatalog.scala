package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Presto-name compatibility catalog (SURVEY.md §2.8, §7.4 #4): a user
  * of the reference can call the Presto spelling in `spark.sql` and
  * get the Spark implementation. Two mechanisms, both zero-overhead at
  * execution time:
  *
  *  - scalar names → SQL macros (temporary SQL functions, registered
  *    by [[SqlMacros]]): inlined into the plan by the analyzer, fully
  *    codegen'd;
  *  - aggregate names → FunctionRegistry aliases of the built-in
  *    builders.
  *
  * Only names Spark does NOT already provide under the same spelling
  * are shimmed; everything else (abs, concat, approx_percentile,
  * array_distinct, …) is already name-compatible.
  */
object PrestoCatalog {

  /** name(params) -> body; Presto semantics documented per entry. */
  private[graft] val sqlMacros: Seq[(String, String, String)] = Seq(
    // StringFunctions.java
    ("strpos", "(s STRING, sub STRING) RETURNS INT", "instr(s, sub)"),
    ("codepoint", "(s STRING) RETURNS INT", "ascii(s)"),
    ("from_utf8", "(b BINARY) RETURNS STRING", "cast(b AS STRING)"),
    ("to_utf8", "(s STRING) RETURNS BINARY", "cast(s AS BINARY)"),
    // MathFunctions.java
    ("truncate", "(x DOUBLE) RETURNS DOUBLE", "cast(cast(x AS BIGINT) AS DOUBLE)"),
    ("is_nan", "(x DOUBLE) RETURNS BOOLEAN", "isnan(x)"),
    ("is_finite", "(x DOUBLE) RETURNS BOOLEAN",
      "NOT isnan(x) AND abs(x) <> cast('Infinity' AS DOUBLE)"),
    ("is_infinite", "(x DOUBLE) RETURNS BOOLEAN",
      "abs(x) = cast('Infinity' AS DOUBLE)"),
    ("infinity", "() RETURNS DOUBLE", "cast('Infinity' AS DOUBLE)"),
    ("nan", "() RETURNS DOUBLE", "cast('NaN' AS DOUBLE)"),
    ("from_base", "(s STRING, b INT) RETURNS BIGINT", "cast(conv(s, b, 10) AS BIGINT)"),
    ("to_base", "(x BIGINT, b INT) RETURNS STRING", "lower(conv(cast(x AS STRING), 10, b))"),
    ("normal_cdf", "(mean DOUBLE, sd DOUBLE, v DOUBLE) RETURNS DOUBLE",
      "0.5 * (1.0 + erf((v - mean) / (sd * sqrt(2.0))))"),
    ("inverse_normal_cdf", "(mean DOUBLE, sd DOUBLE, p DOUBLE) RETURNS DOUBLE",
      "mean + sd * probit(p)"),
    ("width_bucket_fn", "(x DOUBLE, lo DOUBLE, hi DOUBLE, n INT) RETURNS BIGINT",
      "CASE WHEN x < lo THEN 0 WHEN x >= hi THEN n + 1 " +
        "ELSE cast(floor((x - lo) / ((hi - lo) / n)) + 1 AS BIGINT) END"),
    // DateTimeFunctions.java — Presto day_of_week is ISO (1=Mon..7=Sun)
    ("day_of_week", "(t TIMESTAMP) RETURNS INT", "((dayofweek(t) + 5) % 7) + 1"),
    ("dow", "(t TIMESTAMP) RETURNS INT", "((dayofweek(t) + 5) % 7) + 1"),
    ("day_of_year", "(t TIMESTAMP) RETURNS INT", "dayofyear(t)"),
    ("doy", "(t TIMESTAMP) RETURNS INT", "dayofyear(t)"),
    ("day_of_month", "(t TIMESTAMP) RETURNS INT", "dayofmonth(t)"),
    ("week_of_year", "(t TIMESTAMP) RETURNS INT", "weekofyear(t)"),
    ("year_of_week", "(t TIMESTAMP) RETURNS INT",
      "year(date_add(cast(t AS DATE), 4 - (((dayofweek(t) + 5) % 7) + 1)))"),
    ("yow", "(t TIMESTAMP) RETURNS INT",
      "year(date_add(cast(t AS DATE), 4 - (((dayofweek(t) + 5) % 7) + 1)))"),
    ("to_unixtime", "(t TIMESTAMP) RETURNS DOUBLE", "cast(unix_micros(t) AS DOUBLE) / 1e6"),
    ("millisecond", "(t TIMESTAMP) RETURNS INT", "cast((unix_millis(t) % 1000) AS INT)"),
    // JsonFunctions.java
    ("json_extract_scalar", "(j STRING, p STRING) RETURNS STRING",
      "get_json_object(j, p)"),
    ("is_json_scalar", "(j STRING) RETURNS BOOLEAN",
      "j IS NOT NULL AND NOT (j LIKE '[%' OR j LIKE '{%')"),
    // UrlFunctions.java
    ("url_extract_protocol", "(u STRING) RETURNS STRING", "parse_url(u, 'PROTOCOL')"),
    ("url_extract_host", "(u STRING) RETURNS STRING", "parse_url(u, 'HOST')"),
    ("url_extract_path", "(u STRING) RETURNS STRING", "parse_url(u, 'PATH')"),
    ("url_extract_query", "(u STRING) RETURNS STRING", "parse_url(u, 'QUERY')"),
    ("url_extract_fragment", "(u STRING) RETURNS STRING", "parse_url(u, 'REF')"),
    ("url_extract_parameter", "(u STRING, k STRING) RETURNS STRING",
      "parse_url(u, 'QUERY', k)"),
    // DateTimeFunctions.java MySQL-dialect formatting: the pattern is
    // translated by the foldable presto_pattern expression, so literal
    // formats constant-fold to plain codegen'd to_timestamp/date_format.
    // (Spark's builtin date_format keeps its java.time spelling;
    // date_parse has no builtin conflict and gets the Presto name.)
    ("date_parse", "(s STRING, f STRING) RETURNS TIMESTAMP",
      "to_timestamp(s, presto_pattern(f))"),
    ("presto_date_format", "(t TIMESTAMP, f STRING) RETURNS STRING",
      "date_format(t, presto_pattern(f))"),
    // VarbinaryFunctions.java big-endian + ieee754 round-trips.
    // conv(hex, 16, -10) interprets the 64-bit value as signed.
    ("to_big_endian_64", "(x BIGINT) RETURNS BINARY",
      "unhex(lpad(hex(x), 16, '0'))"),
    ("from_big_endian_64", "(b BINARY) RETURNS BIGINT",
      "cast(conv(hex(b), 16, -10) AS BIGINT)"),
    ("to_big_endian_32", "(x INT) RETURNS BINARY",
      "unhex(lpad(hex(x & 4294967295), 8, '0'))"),
    ("from_big_endian_32", "(b BINARY) RETURNS INT",
      "cast(CASE WHEN cast(conv(hex(b), 16, 10) AS BIGINT) > 2147483647 " +
        "THEN cast(conv(hex(b), 16, 10) AS BIGINT) - 4294967296 " +
        "ELSE cast(conv(hex(b), 16, 10) AS BIGINT) END AS INT)"),
    ("to_ieee754_64", "(x DOUBLE) RETURNS BINARY",
      "unhex(lpad(hex(double_to_bits(x)), 16, '0'))"),
    ("from_ieee754_64", "(b BINARY) RETURNS DOUBLE",
      "bits_to_double(cast(conv(hex(b), 16, -10) AS BIGINT))"),
    ("to_ieee754_32", "(x FLOAT) RETURNS BINARY",
      "unhex(lpad(hex(cast(float_to_bits(x) AS BIGINT) & 4294967295), 8, '0'))"),
    ("from_ieee754_32", "(b BINARY) RETURNS FLOAT",
      "bits_to_float(cast(CASE WHEN cast(conv(hex(b), 16, 10) AS BIGINT) > 2147483647 " +
        "THEN cast(conv(hex(b), 16, 10) AS BIGINT) - 4294967296 " +
        "ELSE cast(conv(hex(b), 16, 10) AS BIGINT) END AS INT))"),
    ("to_hex", "(b BINARY) RETURNS STRING", "upper(hex(b))"),
    ("from_hex", "(s STRING) RETURNS BINARY", "unhex(s)"),
    ("to_base64", "(b BINARY) RETURNS STRING", "base64(b)"),
    ("from_base64", "(s STRING) RETURNS BINARY", "unbase64(s)"),
    // StringFunctions.java tail
    ("levenshtein_distance", "(a STRING, b STRING) RETURNS INT", "levenshtein(a, b)"),
    ("starts_with", "(s STRING, p STRING) RETURNS BOOLEAN", "startswith(s, p)"),
    ("split_to_map", "(s STRING, ed STRING, kvd STRING) RETURNS MAP<STRING, STRING>",
      "str_to_map(s, ed, kvd)"),
    // DateTimeFunctions.java tail
    ("week", "(t TIMESTAMP) RETURNS INT", "weekofyear(t)"),
    ("last_day_of_month", "(t TIMESTAMP) RETURNS DATE", "last_day(cast(t AS DATE))"),
    ("parse_datetime", "(s STRING, f STRING) RETURNS TIMESTAMP",
      "to_timestamp(s, f)"),
    // (current_timezone is already a Spark builtin with Presto's name)
    // JsonFunctions.java tail: json values travel as strings (Presto's
    // JSON type is also a text representation at the API boundary)
    ("json_array_get", "(j STRING, i BIGINT) RETURNS STRING",
      "get_json_object(j, concat('$[', cast(i AS STRING), ']'))"),
    ("json_parse", "(s STRING) RETURNS STRING", "s"),
    ("json_format", "(j STRING) RETURNS STRING", "j"),
    // ArrayFunctions: Presto zip → arrays_zip (fields '0','1' vs
    // Presto's field0/field1; positional access works the same)
    ("zip", "(a ARRAY<STRING>, b ARRAY<STRING>) RETURNS ARRAY<STRUCT<`0`: STRING, `1`: STRING>>",
      "arrays_zip(a, b)"),
    // DataSizeFunctions.java: '64MB' → bytes (binary powers of 1024)
    ("parse_data_size", "(s STRING) RETURNS DECIMAL(38,0)",
      "cast(cast(regexp_extract(s, '^([0-9.]+)', 1) AS DOUBLE) * " +
        "CASE regexp_extract(s, '([a-zA-Z]+)$', 1) " +
        "WHEN 'B' THEN 1.0 WHEN 'kB' THEN 1024.0 WHEN 'MB' THEN power(1024, 2) " +
        "WHEN 'GB' THEN power(1024, 3) WHEN 'TB' THEN power(1024, 4) " +
        "WHEN 'PB' THEN power(1024, 5) WHEN 'EB' THEN power(1024, 6) " +
        "ELSE cast(NULL AS DOUBLE) END AS DECIMAL(38,0))"),
    // parse_duration('2.5m') → day-time interval
    ("parse_duration", "(s STRING) RETURNS INTERVAL DAY TO SECOND",
      "make_dt_interval(0, 0, 0, cast(regexp_extract(s, '^([0-9.]+)', 1) AS DOUBLE) * " +
        "CASE regexp_extract(s, '([a-z]+)$', 1) " +
        "WHEN 'ns' THEN 1e-9 WHEN 'us' THEN 1e-6 WHEN 'ms' THEN 1e-3 " +
        "WHEN 's' THEN 1.0 WHEN 'm' THEN 60.0 WHEN 'h' THEN 3600.0 " +
        "WHEN 'd' THEN 86400.0 ELSE cast(NULL AS DOUBLE) END)"),
    ("parse_presto_data_size", "(s STRING) RETURNS DECIMAL(38,0)",
      "parse_data_size(s)"),
    // DateTimeFunctions.java ISO8601 surface. Spark's string↔timestamp
    // casts accept ISO8601, so the from_* directions are plain casts.
    ("to_iso8601", "(t TIMESTAMP) RETURNS STRING",
      "date_format(t, 'yyyy-MM-dd''T''HH:mm:ss.SSS')"),
    ("from_iso8601_timestamp", "(s STRING) RETURNS TIMESTAMP",
      "cast(s AS TIMESTAMP)"),
    ("from_iso8601_date", "(s STRING) RETURNS DATE", "cast(s AS DATE)"),
    // to_milliseconds(interval) — IntervalDayTimeFunctions.java
    ("to_milliseconds", "(d INTERVAL DAY TO SECOND) RETURNS BIGINT",
      "cast(extract(DAY FROM d) * 86400000 + extract(HOUR FROM d) * 3600000 + " +
        "extract(MINUTE FROM d) * 60000 + extract(SECOND FROM d) * 1000 AS BIGINT)"),
    // at_timezone / with_timezone — Presto's TIMESTAMP WITH TIME ZONE
    // pair (DateTimeFunctions.java), shimmed over zone-less TimestampType
    // (documented divergence, SURVEY §1.2): Spark timestamps are instants
    // rendered in the session zone, so the zone FIELD of Presto's result
    // is lost; the instant/wall-clock arithmetic is preserved exactly.
    // at_timezone: same instant, wall-clock re-expressed in `z`.
    ("at_timezone", "(t TIMESTAMP, z STRING) RETURNS TIMESTAMP",
      "convert_timezone(current_timezone(), z, t)"),
    // with_timezone: t's wall-clock fields declared to be in `z`; the
    // result is the corresponding instant (re-rendered in session zone).
    ("with_timezone", "(t TIMESTAMP, z STRING) RETURNS TIMESTAMP",
      "convert_timezone(z, current_timezone(), cast(t AS TIMESTAMP_NTZ))"),
    // MapFunctions.java: split_to_multimap / multimap_from_entries
    // group duplicate keys into value arrays. The outer
    // transform(array(…), e -> …)[0] is the let-binding trick — the
    // entry list is parsed once and reused across the three lambdas.
    ("split_to_multimap",
      "(s STRING, ed STRING, kvd STRING) RETURNS MAP<STRING, ARRAY<STRING>>",
      """transform(array(transform(split(s, ed), p -> named_struct(
        |    'k', split(p, kvd)[0], 'v', split(p, kvd)[1]))), e ->
        |  map_from_arrays(
        |    array_distinct(transform(e, x -> x.k)),
        |    transform(array_distinct(transform(e, x -> x.k)),
        |      g -> transform(filter(e, x -> x.k = g), x -> x.v))))[0]""".stripMargin),
    ("multimap_from_entries",
      "(en ARRAY<STRUCT<k: STRING, v: STRING>>) RETURNS MAP<STRING, ARRAY<STRING>>",
      """map_from_arrays(
        |  array_distinct(transform(en, x -> x.k)),
        |  transform(array_distinct(transform(en, x -> x.k)),
        |    g -> transform(filter(en, x -> x.k = g), x -> x.v)))""".stripMargin),
    // JsonFunctions.java tail: membership and path-size. Arrays travel
    // as array<string> (JSON scalars coerce to their text form).
    ("json_array_contains", "(j STRING, v STRING) RETURNS BOOLEAN",
      "array_contains(from_json(j, 'array<string>'), v)"),
    ("json_size", "(j STRING, p STRING) RETURNS INT",
      """CASE WHEN get_json_object(j, p) LIKE '[%'
        |  THEN cast(json_array_length(get_json_object(j, p)) AS INT)
        |WHEN get_json_object(j, p) LIKE '{%'
        |  THEN size(json_object_keys(get_json_object(j, p)))
        |WHEN get_json_object(j, p) IS NULL THEN cast(NULL AS INT)
        |ELSE 0 END""".stripMargin),
    // (combine_hash needs wrapping 64-bit arithmetic, which ANSI-mode
    // SQL forbids — it lives in MiscExpressions as a codegen expression)
    // FailureFunction.java: fail(msg) raises a runtime error
    ("fail", "(msg STRING) RETURNS STRING", "cast(raise_error(msg) AS STRING)"),
    // HyperLogLogFunctions.java: cardinality(hll) under a non-conflicting name
    ("hll_cardinality", "(sk BINARY) RETURNS BIGINT", "hll_sketch_estimate(sk)"),
    // Conditional / misc
    ("if_fn", "(c BOOLEAN, a DOUBLE, b DOUBLE) RETURNS DOUBLE", "if(c, a, b)"),
    ("cosine_distance", "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) RETURNS DOUBLE",
      "1.0 - vec_dot(a, b) / (vec_norm(a) * vec_norm(b))"),
    ("cosine_similarity_arr", "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) RETURNS DOUBLE",
      "vec_dot(a, b) / (vec_norm(a) * vec_norm(b))"),
    // SessionFunctions.java current_path: the session SQL path — empty
    // here, as in a Presto session with no path set
    ("current_path", "() RETURNS STRING", "''"),
    // DateTimeFunctions.java format_datetime — Joda patterns; the core
    // tokens (yyyy MM dd HH mm ss E D K a …) coincide with Spark's
    // java.time patterns, so this is a direct alias
    ("format_datetime", "(ts TIMESTAMP, fmt STRING) RETURNS STRING",
      "date_format(ts, fmt)"),
    // TeradataDateFunctions excluded; localtime returns TIME in Presto —
    // no Spark TIME type, so the HH:mm:ss rendering (session timezone)
    ("localtime", "() RETURNS STRING",
      "date_format(localtimestamp(), 'HH:mm:ss')"),
    // DateTimeFunctions.java timezone_hour/minute: offset of the
    // session zone — the engine pins spark.sql.session.timeZone=UTC
    ("timezone_hour", "(ts TIMESTAMP) RETURNS BIGINT", "0L"),
    ("timezone_minute", "(ts TIMESTAMP) RETURNS BIGINT", "0L"),
    // UrlFunctions-adjacent base64url (airlift Slices): URL-safe
    // alphabet is the standard one with +/ → -_
    ("to_base64url", "(b BINARY) RETURNS STRING",
      "translate(base64(b), '+/', '-_')"),
    ("from_base64url", "(s STRING) RETURNS BINARY",
      "unbase64(translate(s, '-_', '+/'))"),
    // JsonFunctions.java json_extract (full JsonPath subset that
    // get_json_object shares: $.key, $.key[i], nested)
    ("json_extract", "(j STRING, p STRING) RETURNS STRING",
      "get_json_object(j, p)"),
    // ArrayFunctions ngrams(array, n) → array of n-grams
    ("ngrams", "(arr ARRAY<STRING>, n INT) RETURNS ARRAY<ARRAY<STRING>>",
      """transform(sequence(1, greatest(size(arr) - n + 1, 1)),
        |  i -> slice(arr, i, least(n, size(arr))))""".stripMargin),
    // MapSubscriptOperator: Presto's m[k] THROWS on a missing key
    // (Spark's element_at returns NULL outside ANSI mode). The strict
    // spelling restores the reference semantics; TRY(...) around it
    // restores the null-on-missing form, as in Presto.
    ("map_subscript_strict", "(m MAP<STRING, STRING>, k STRING) RETURNS STRING",
      """IF(map_contains_key(m, k), element_at(m, k),
        |  raise_error(concat('Key not present in map: ', k)))""".stripMargin),
    // StringFunctions.java hamming_distance: count of positions whose
    // code points differ. Unequal lengths raise, as in Presto; the
    // empty-equal case is guarded because sequence(1, 0) is a
    // DESCENDING two-element array, not an empty one
    ("hamming_distance", "(a STRING, b STRING) RETURNS BIGINT",
      """CASE
        |  WHEN length(a) <> length(b) THEN
        |    raise_error('The input strings to hamming_distance function must have the same length')
        |  WHEN length(a) = 0 THEN 0L
        |  ELSE cast(aggregate(sequence(1, length(a)), 0,
        |    (acc, i) -> acc + IF(substr(a, i, 1) = substr(b, i, 1), 0, 1)) AS BIGINT)
        |END""".stripMargin),
    // BitwiseFunctions.java:50-79 — the named scalar spellings of the
    // 2's-complement BIGINT operators (bit_count is already a builtin)
    ("bitwise_and", "(x BIGINT, y BIGINT) RETURNS BIGINT", "x & y"),
    ("bitwise_or", "(x BIGINT, y BIGINT) RETURNS BIGINT", "x | y"),
    ("bitwise_xor", "(x BIGINT, y BIGINT) RETURNS BIGINT", "x ^ y"),
    ("bitwise_not", "(x BIGINT) RETURNS BIGINT", "~x"),
    // WilsonInterval.java:29-57 — binomial confidence bounds by the
    // Wilson score; input guards raise as in the reference
    ("wilson_interval_lower", "(s BIGINT, t BIGINT, z DOUBLE) RETURNS DOUBLE",
      """CASE
        |  WHEN s < 0 THEN cast(raise_error('number of successes must not be negative') AS DOUBLE)
        |  WHEN t <= 0 THEN cast(raise_error('number of trials must be positive') AS DOUBLE)
        |  WHEN s > t THEN cast(raise_error('number of successes must not be larger than number of trials') AS DOUBLE)
        |  WHEN z < 0 THEN cast(raise_error('z-score must not be negative') AS DOUBLE)
        |  ELSE (s / t + z * z / (2 * cast(t AS DOUBLE))
        |        - z * sqrt((s / t) * (1 - s / t) / t
        |                   + z * z / (4 * cast(t AS DOUBLE) * t)))
        |       / (1 + z * z / t)
        |END""".stripMargin),
    ("wilson_interval_upper", "(s BIGINT, t BIGINT, z DOUBLE) RETURNS DOUBLE",
      """CASE
        |  WHEN s < 0 THEN cast(raise_error('number of successes must not be negative') AS DOUBLE)
        |  WHEN t <= 0 THEN cast(raise_error('number of trials must be positive') AS DOUBLE)
        |  WHEN s > t THEN cast(raise_error('number of successes must not be larger than number of trials') AS DOUBLE)
        |  WHEN z < 0 THEN cast(raise_error('z-score must not be negative') AS DOUBLE)
        |  ELSE (s / t + z * z / (2 * cast(t AS DOUBLE))
        |        + z * sqrt((s / t) * (1 - s / t) / t
        |                   + z * z / (4 * cast(t AS DOUBLE) * t)))
        |       / (1 + z * z / t)
        |END""".stripMargin),
    // GeoFunctions.java:1199-1227 great_circle_distance — Vincenty
    // arc-length form on a sphere of radius 6371.01 km, with the same
    // latitude/longitude range checks
    ("great_circle_distance",
      "(lat1 DOUBLE, lon1 DOUBLE, lat2 DOUBLE, lon2 DOUBLE) RETURNS DOUBLE",
      """CASE
        |  WHEN isnan(lat1) OR abs(lat1) > 90 OR isnan(lat2) OR abs(lat2) > 90
        |    THEN cast(raise_error('Latitude must be between -90 and 90') AS DOUBLE)
        |  WHEN isnan(lon1) OR abs(lon1) > 180 OR isnan(lon2) OR abs(lon2) > 180
        |    THEN cast(raise_error('Longitude must be between -180 and 180') AS DOUBLE)
        |  ELSE atan2(
        |    sqrt(pow(cos(radians(lat2)) * sin(radians(lon1) - radians(lon2)), 2)
        |       + pow(cos(radians(lat1)) * sin(radians(lat2))
        |           - sin(radians(lat1)) * cos(radians(lat2))
        |             * cos(radians(lon1) - radians(lon2)), 2)),
        |    sin(radians(lat1)) * sin(radians(lat2))
        |      + cos(radians(lat1)) * cos(radians(lat2))
        |        * cos(radians(lon1) - radians(lon2))) * 6371.01
        |END""".stripMargin),
    // MathFunctions.java:1240-1252 cosine_similarity over SPARSE map
    // vectors (the dense-array spelling is cosine_similarity_arr above)
    ("cosine_similarity",
      "(a MAP<STRING, DOUBLE>, b MAP<STRING, DOUBLE>) RETURNS DOUBLE",
      """aggregate(map_entries(a), cast(0.0 AS DOUBLE),
        |    (acc, e) -> acc + e.value * coalesce(element_at(b, e.key), cast(0.0 AS DOUBLE)))
        |  / (sqrt(aggregate(map_values(a), cast(0.0 AS DOUBLE), (acc, v) -> acc + v * v))
        |   * sqrt(aggregate(map_values(b), cast(0.0 AS DOUBLE), (acc, v) -> acc + v * v)))""".stripMargin),
    // VarbinaryFunctions.java sha256/sha512 return VARBINARY in Presto
    // (Spark's sha2 returns the hex string; unhex restores the bytes)
    ("sha256", "(b BINARY) RETURNS BINARY", "unhex(sha2(b, 256))"),
    ("sha512", "(b BINARY) RETURNS BINARY", "unhex(sha2(b, 512))"),
    // UrlFunctions.java:86-99 url_extract_port — NULL when absent
    ("url_extract_port", "(u STRING) RETURNS BIGINT",
      """cast(nullif(regexp_extract(coalesce(parse_url(u, 'AUTHORITY'), ''),
        |  ':([0-9]+)$', 1), '') AS BIGINT)""".stripMargin),
    // HyperLogLogFunctions.java empty_approx_set() — a zero-item
    // DataSketches HLL at the default lgK=12, as produced by
    // hll_sketch_agg over no input; unions/estimates like any sketch
    ("empty_approx_set", "() RETURNS BINARY",
      "unhex('0201070C030400080000000000000000000000000000000000000000000000000000000000000000')")
  )

  /** Presto aggregate name → Spark builtin it aliases.
    * (geometric_mean has no one-builtin equivalent; use the
    * exp(avg(ln x)) rewrite shown in agg_geometric_mean.)
    */
  private val aggAliases: Seq[(String, String)] = Seq(
    "approx_distinct" -> "approx_count_distinct",
    "arbitrary" -> "any_value",
    "bitwise_and_agg" -> "bit_and",
    "bitwise_or_agg" -> "bit_or",
    // Presto approx_set(x) → HLL sketch; cardinality(hll) is covered by
    // the hll_cardinality macro (Spark's `cardinality` builtin is the
    // collection-size function and cannot be overridden)
    "approx_set" -> "hll_sketch_agg",
    "merge_hll" -> "hll_union_agg")

  def register(spark: SparkSession): Unit = {
    SqlMacros.register(spark, sqlMacros)
    val registry = spark.sessionState.functionRegistry
    aggAliases.foreach { case (prestoName, sparkName) =>
      org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
        .lookupFunctionBuilder(FunctionIdentifier(sparkName))
        .foreach { builder =>
          registry.registerFunction(
            FunctionIdentifier(prestoName),
            new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
              getClass.getName, prestoName),
            builder)
        }
    }
  }
}
