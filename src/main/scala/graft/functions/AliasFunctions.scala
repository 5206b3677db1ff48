package graft.functions

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** Doris-named aliases for capabilities Spark spells differently —
  * the "switch without rewriting queries" layer (reference name list:
  * fe/fe-core/.../catalog/BuiltinScalarFunctions.java). Every body is
  * a native expression tree (SQL-bodied definitions inline into codegen).
  *
  * Arity notes: SQL UDFs cannot overload, so multi-arity reference
  * functions get their canonical form (array_range start,end;
  * sub_replace 4-arg). Lambda-parameter functions (array_count(fn, a),
  * array_sortby, ...) cannot ride SQL UDFs — the analyzer requires a
  * HigherOrderFunction root — and are covered by the native HOF
  * builders (array_map/filter/exists) + query-level composition.
  */
object AliasFunctions {

  def sqlDefs: Seq[String] = Seq(
    // ---- date/time arithmetic (date_time_transforms.h *_add/_sub/_diff)
    "days_add(t TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(DAY, n, t)",
    "days_sub(t TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(DAY, -n, t)",
    "days_diff(a TIMESTAMP, b TIMESTAMP) RETURNS BIGINT RETURN timestampdiff(DAY, b, a)",
    "hours_add(t TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(HOUR, n, t)",
    "hours_sub(t TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(HOUR, -n, t)",
    "hours_diff(a TIMESTAMP, b TIMESTAMP) RETURNS BIGINT RETURN timestampdiff(HOUR, b, a)",
    "minutes_add(t TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(MINUTE, n, t)",
    "minutes_sub(t TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(MINUTE, -n, t)",
    "minutes_diff(a TIMESTAMP, b TIMESTAMP) RETURNS BIGINT RETURN timestampdiff(MINUTE, b, a)",
    "seconds_add(t TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(SECOND, n, t)",
    "seconds_sub(t TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(SECOND, -n, t)",
    "seconds_diff(a TIMESTAMP, b TIMESTAMP) RETURNS BIGINT RETURN timestampdiff(SECOND, b, a)",
    "weeks_add(t TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(WEEK, n, t)",
    "weeks_sub(t TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(WEEK, -n, t)",
    "weeks_diff(a TIMESTAMP, b TIMESTAMP) RETURNS BIGINT RETURN timestampdiff(WEEK, b, a)",
    "months_add(t TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(MONTH, n, t)",
    "months_sub(t TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(MONTH, -n, t)",
    "months_diff(a TIMESTAMP, b TIMESTAMP) RETURNS BIGINT RETURN timestampdiff(MONTH, b, a)",
    "quarters_add(t TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(QUARTER, n, t)",
    "quarters_sub(t TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(QUARTER, -n, t)",
    "quarters_diff(a TIMESTAMP, b TIMESTAMP) RETURNS BIGINT RETURN timestampdiff(QUARTER, b, a)",
    "years_add(t TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(YEAR, n, t)",
    "years_sub(t TIMESTAMP, n INT) RETURNS TIMESTAMP RETURN timestampadd(YEAR, -n, t)",
    "years_diff(a TIMESTAMP, b TIMESTAMP) RETURNS BIGINT RETURN timestampdiff(YEAR, b, a)",
    "microseconds_add(t TIMESTAMP, n BIGINT) RETURNS TIMESTAMP RETURN timestamp_micros(unix_micros(t) + n)",
    "microseconds_sub(t TIMESTAMP, n BIGINT) RETURNS TIMESTAMP RETURN timestamp_micros(unix_micros(t) - n)",
    "microseconds_diff(a TIMESTAMP, b TIMESTAMP) RETURNS BIGINT RETURN unix_micros(a) - unix_micros(b)",
    "milliseconds_add(t TIMESTAMP, n BIGINT) RETURNS TIMESTAMP RETURN timestamp_micros(unix_micros(t) + n * 1000)",
    "milliseconds_sub(t TIMESTAMP, n BIGINT) RETURNS TIMESTAMP RETURN timestamp_micros(unix_micros(t) - n * 1000)",
    "milliseconds_diff(a TIMESTAMP, b TIMESTAMP) RETURNS BIGINT RETURN (unix_micros(a) - unix_micros(b)) div 1000",
    // ---- remaining floor/ceil units: floor = date_trunc; ceil of an
    // aligned instant is itself, else floor + 1 unit (variable-length
    // units can't use epoch division)
    "week_floor(t TIMESTAMP) RETURNS TIMESTAMP RETURN date_trunc('week', t)",
    "week_ceil(t TIMESTAMP) RETURNS TIMESTAMP RETURN IF(date_trunc('week', t) = t, t, timestampadd(WEEK, 1, date_trunc('week', t)))",
    "month_ceil(t TIMESTAMP) RETURNS TIMESTAMP RETURN IF(date_trunc('month', t) = t, t, timestampadd(MONTH, 1, date_trunc('month', t)))",
    "quarter_floor(t TIMESTAMP) RETURNS TIMESTAMP RETURN date_trunc('quarter', t)",
    "quarter_ceil(t TIMESTAMP) RETURNS TIMESTAMP RETURN IF(date_trunc('quarter', t) = t, t, timestampadd(QUARTER, 1, date_trunc('quarter', t)))",
    "year_floor(t TIMESTAMP) RETURNS TIMESTAMP RETURN date_trunc('year', t)",
    "year_ceil(t TIMESTAMP) RETURNS TIMESTAMP RETURN IF(date_trunc('year', t) = t, t, timestampadd(YEAR, 1, date_trunc('year', t)))",
    "second_floor(t TIMESTAMP) RETURNS TIMESTAMP RETURN date_trunc('second', t)",
    // sign-safe ceiling (ADVICE r03): x div D truncates toward zero, so
    // add 1 only when a positive remainder was truncated — correct for
    // pre-1970 instants too, unlike (x + D - 1) div D
    "second_ceil(t TIMESTAMP) RETURNS TIMESTAMP RETURN timestamp_micros((unix_micros(t) div 1000000 + IF(unix_micros(t) % 1000000 > 0, 1, 0)) * 1000000)",
    // ---- extracts / conversions
    "microsecond(t TIMESTAMP) RETURNS BIGINT RETURN pmod(unix_micros(t), 1000000) % 1000000",
    // MySQL mode-0 week (Doris default, = C strftime %U): Sunday-start,
    // week 0 = days before the year's first Sunday. When Jan 1 IS a
    // Sunday (dayofweek = 1; 2017, 2023, ...) there is no week 0 and
    // Jan 1-7 are week 1 (reference calc_week prev-year branch,
    // time_lut.cpp:49-91; ADVICE r03 fix)
    "week(d DATE) RETURNS INT RETURN CAST(IF(dayofweek(make_date(year(d), 1, 1)) = 1, (dayofyear(d) - 1) div 7 + 1, (dayofyear(d) - 1 + dayofweek(make_date(year(d), 1, 1)) - 1) div 7) AS INT)",
    "to_monday(d DATE) RETURNS DATE RETURN CAST(date_trunc('week', d) AS DATE)",
    "to_seconds(d DATE) RETURNS BIGINT RETURN (CAST(datediff(d, DATE '1970-01-01') AS BIGINT) + 719528) * 86400",
    "str_to_date(s STRING, f STRING) RETURNS TIMESTAMP RETURN to_timestamp(s, replace(replace(replace(replace(replace(replace(replace(f, '%Y', 'yyyy'), '%y', 'yy'), '%m', 'MM'), '%d', 'dd'), '%H', 'HH'), '%i', 'mm'), '%s', 'ss'))",
    "timediff(a TIMESTAMP, b TIMESTAMP) RETURNS STRING RETURN sec_to_time(timestampdiff(SECOND, b, a))",
    // ---- strings / numerics
    "starts_with(s STRING, p STRING) RETURNS BOOLEAN RETURN startswith(s, p)",
    "ends_with(s STRING, p STRING) RETURNS BOOLEAN RETURN endswith(s, p)",
    "to_base64(s STRING) RETURNS STRING RETURN base64(CAST(s AS BINARY))",
    "from_base64(s STRING) RETURNS STRING RETURN CAST(unbase64(s) AS STRING)",
    "md5sum(s STRING) RETURNS STRING RETURN md5(s)",
    "truncate(x DOUBLE, d INT) RETURNS DOUBLE RETURN CAST(CAST(x * power(10, d) AS BIGINT) AS DOUBLE) / power(10, d)",
    "xor(a BIGINT, b BIGINT) RETURNS BIGINT RETURN a ^ b",
    "sub_replace(s STRING, repl STRING, start INT, len INT) RETURNS STRING RETURN concat(substring(s, 1, start), repl, substring(s, start + len + 1))",
    "count_substrings(s STRING, sub STRING) RETURNS INT RETURN CAST((length(s) - length(replace(s, sub, ''))) / length(sub) AS INT)",
    "split_by_string(s STRING, sep STRING) RETURNS ARRAY<STRING> RETURN split(s, regexp_replace(sep, '([\\\\^$.|?*+()\\\\[\\\\]{}])', '\\\\\\\\$1'))",
    // ---- maps
    "map_size(m MAP<STRING,BIGINT>) RETURNS INT RETURN size(m)",
    "map_contains_value(m MAP<STRING,BIGINT>, v BIGINT) RETURNS BOOLEAN RETURN array_contains(map_values(m), v)",
    // ---- arrays (fixed-signature; element type BIGINT canonical)
    "array_concat(a ARRAY<BIGINT>, b ARRAY<BIGINT>) RETURNS ARRAY<BIGINT> RETURN concat(a, b)",
    "array_range(s INT, e INT) RETURNS ARRAY<INT> RETURN IF(s >= e, array(), sequence(s, e - 1))",
    "array_slice(a ARRAY<BIGINT>, off INT, len INT) RETURNS ARRAY<BIGINT> RETURN slice(a, off, len)",
    "array_popback(a ARRAY<BIGINT>) RETURNS ARRAY<BIGINT> RETURN slice(a, 1, size(a) - 1)",
    "array_popfront(a ARRAY<BIGINT>) RETURNS ARRAY<BIGINT> RETURN IF(size(a) <= 1, array(), slice(a, 2, size(a) - 1))",
    "array_with_constant(n INT, v BIGINT) RETURNS ARRAY<BIGINT> RETURN array_repeat(v, n)",
    "countequal(a ARRAY<BIGINT>, v BIGINT) RETURNS BIGINT RETURN CAST(size(filter(a, x -> x = v)) AS BIGINT)",
    "array_sum(a ARRAY<BIGINT>) RETURNS BIGINT RETURN aggregate(a, CAST(0 AS BIGINT), (s, x) -> s + x)",
    "array_avg(a ARRAY<BIGINT>) RETURNS DOUBLE RETURN CAST(aggregate(a, CAST(0 AS BIGINT), (s, x) -> s + x) AS DOUBLE) / size(a)",
    "array_product(a ARRAY<BIGINT>) RETURNS BIGINT RETURN aggregate(a, CAST(1 AS BIGINT), (s, x) -> s * x)",
    "array_cum_sum(a ARRAY<BIGINT>) RETURNS ARRAY<BIGINT> RETURN transform(sequence(1, size(a)), i -> aggregate(slice(a, 1, i), CAST(0 AS BIGINT), (s, x) -> s + x))",
    "array_difference(a ARRAY<BIGINT>) RETURNS ARRAY<BIGINT> RETURN transform(sequence(1, size(a)), i -> IF(i = 1, CAST(0 AS BIGINT), element_at(a, i) - element_at(a, i - 1)))",
    "array_enumerate(a ARRAY<BIGINT>) RETURNS ARRAY<INT> RETURN IF(size(a) = 0, array(), sequence(1, size(a)))",
    // ---- double-typed math aliases (math.cpp d*/f* forms return DOUBLE)
    "dexp(x DOUBLE) RETURNS DOUBLE RETURN exp(x)",
    "dlog10(x DOUBLE) RETURNS DOUBLE RETURN log10(x)",
    "dsqrt(x DOUBLE) RETURNS DOUBLE RETURN sqrt(x)",
    "dpow(x DOUBLE, y DOUBLE) RETURNS DOUBLE RETURN power(x, y)",
    "fpow(x DOUBLE, y DOUBLE) RETURNS DOUBLE RETURN power(x, y)",
    "fmod(a DOUBLE, b DOUBLE) RETURNS DOUBLE RETURN a % b",
    "dceil(x DOUBLE) RETURNS DOUBLE RETURN CAST(ceil(x) AS DOUBLE)",
    "dfloor(x DOUBLE) RETURNS DOUBLE RETURN CAST(floor(x) AS DOUBLE)",
    "dround(x DOUBLE) RETURNS DOUBLE RETURN round(x)",
    // Excel-style EVEN: round away from zero to the next even integer
    "even(x DOUBLE) RETURNS BIGINT RETURN CAST(sign(x) AS BIGINT) * 2 * CAST(ceil(abs(x) / 2) AS BIGINT)",
    "signbit(x DOUBLE) RETURNS BOOLEAN RETURN x < 0",
    "isinf(x DOUBLE) RETURNS BOOLEAN RETURN abs(x) = CAST('Infinity' AS DOUBLE)",
    // ---- YYYYMM period arithmetic (period_add/period_diff)
    "period_add(p INT, n INT) RETURNS INT RETURN ((p div 100) * 12 + (p % 100) - 1 + n) div 12 * 100 + pmod((p div 100) * 12 + (p % 100) - 1 + n, 12) + 1",
    "period_diff(a INT, b INT) RETURNS INT RETURN ((a div 100) * 12 + a % 100) - ((b div 100) * 12 + b % 100)",
    // ---- char-set trims (ltrim_in/rtrim_in/trim_in)
    "ltrim_in(s STRING, cs STRING) RETURNS STRING RETURN trim(LEADING cs FROM s)",
    "rtrim_in(s STRING, cs STRING) RETURNS STRING RETURN trim(TRAILING cs FROM s)",
    "trim_in(s STRING, cs STRING) RETURNS STRING RETURN trim(BOTH cs FROM s)",
    // ---- regexp conveniences
    "regexp_extract_all_array(s STRING, r STRING) RETURNS ARRAY<STRING> RETURN regexp_extract_all(s, r, 0)",
    "regexp_extract_or_null(s STRING, r STRING) RETURNS STRING RETURN nullif(regexp_extract(s, r, 1), '')",
    // ---- masking (function_string_mask.cpp: lower->x, upper->X, digit->n)
    "mask_first_n(s STRING, n INT) RETURNS STRING RETURN concat(regexp_replace(regexp_replace(regexp_replace(substring(s, 1, n), '[a-z]', 'x'), '[A-Z]', 'X'), '[0-9]', 'n'), substring(s, n + 1))",
    "mask_last_n(s STRING, n INT) RETURNS STRING RETURN concat(substring(s, 1, length(s) - n), regexp_replace(regexp_replace(regexp_replace(substring(s, length(s) - n + 1), '[a-z]', 'x'), '[A-Z]', 'X'), '[0-9]', 'n'))",
    "digital_masking(d BIGINT) RETURNS STRING RETURN concat(left(CAST(d AS STRING), 3), '****', right(CAST(d AS STRING), 4))",
    // ---- epoch conversions (from_second/millisecond/microsecond,
    // second/millisecond/microsecond_timestamp, iso8601)
    "from_second(n BIGINT) RETURNS TIMESTAMP RETURN timestamp_seconds(n)",
    "from_millisecond(n BIGINT) RETURNS TIMESTAMP RETURN timestamp_millis(n)",
    "from_microsecond(n BIGINT) RETURNS TIMESTAMP RETURN timestamp_micros(n)",
    "second_timestamp(t TIMESTAMP) RETURNS BIGINT RETURN unix_micros(t) div 1000000",
    "millisecond_timestamp(t TIMESTAMP) RETURNS BIGINT RETURN unix_micros(t) div 1000",
    "microsecond_timestamp(t TIMESTAMP) RETURNS BIGINT RETURN unix_micros(t)",
    "to_iso8601(t TIMESTAMP) RETURNS STRING RETURN date_format(t, 'yyyy-MM-dd''T''HH:mm:ss.SSSSSS')",
    "from_iso8601_date(s STRING) RETURNS DATE RETURN CAST(s AS DATE)",
    // ---- bitmap aliases (over the binary representation)
    "bitmap_and_not(a BINARY, b BINARY) RETURNS BINARY RETURN bitmap_andnot(a, b)",
    "bitmap_and_not_count(a BINARY, b BINARY) RETURNS BIGINT RETURN bitmap_count(bitmap_andnot(a, b))",
    "bitmap_andnot_count(a BINARY, b BINARY) RETURNS BIGINT RETURN bitmap_count(bitmap_andnot(a, b))",
    "bitmap_to_base64(b BINARY) RETURNS STRING RETURN base64(b)",
    "bitmap_from_base64(s STRING) RETURNS BINARY RETURN unbase64(s)",
    "hll_to_base64(b BINARY) RETURNS STRING RETURN base64(b)",
    "hll_from_base64(s STRING) RETURNS BINARY RETURN unbase64(s)"
  )

  def udfs: Seq[(String, UserDefinedFunction)] = Seq(
    // bround demands a foldable scale, so the variable-scale banker's
    // round rides a JVM UDF instead of a SQL body
    "round_bankers" -> udf((x: Double, d: Int) =>
      BigDecimal(x).setScale(d, scala.math.BigDecimal.RoundingMode.HALF_EVEN).toDouble),
    // first-occurrence-only regexp replace (regexp_replace_one)
    "regexp_replace_one" -> udf((s: String, r: String, repl: String) =>
      if (s == null || r == null || repl == null) null else s.replaceFirst(r, repl)),
    // gcd/lcm need iteration — JVM UDFs over BigInt
    "gcd" -> udf((a: Long, b: Long) =>
      BigInt(a).gcd(BigInt(b)).toLong),
    "lcm" -> udf((a: Long, b: Long) =>
      if (a == 0L || b == 0L) 0L
      else (BigInt(a) / BigInt(a).gcd(BigInt(b)) * BigInt(b)).abs.toLong))
}
