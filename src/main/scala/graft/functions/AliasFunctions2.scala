package graft.functions

/** Round-4 alias pack: the URL family (be/src/exprs/function/url/,
  * ClickHouse-derived domain heuristics), the remaining MySQL string
  * conveniences, and date/time tail names. Every body is a native
  * expression tree (SQL-bodied definitions inline into codegen).
  */
object AliasFunctions2 {

  def sqlDefs: Seq[String] = Seq(
    // ---- URL family. domain() accepts bare hosts too (the reference
    // falls back to treating schemeless input as host[:port]/path).
    "protocol(u STRING) RETURNS STRING RETURN parse_url(u, 'PROTOCOL')",
    "domain(u STRING) RETURNS STRING RETURN coalesce(parse_url(u, 'HOST'), regexp_extract(u, '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/@]*@)?([^/:?#]+)', 1))",
    "domain_without_www(u STRING) RETURNS STRING RETURN regexp_replace(domain(u), '^www\\\\.', '')",
    "top_level_domain(u STRING) RETURNS STRING RETURN CASE WHEN domain(u) IS NULL OR NOT contains(domain(u), '.') THEN '' ELSE element_at(split(domain(u), '\\\\.'), -1) END",
    // ClickHouse heuristic: if the second-level label is a generic
    // registrar label (com/net/org/co/gov/edu/mil/biz), the significant
    // subdomain is one level deeper
    "first_significant_subdomain(u STRING) RETURNS STRING RETURN CASE WHEN domain(u) IS NULL OR size(split(domain(u), '\\\\.')) < 2 THEN '' WHEN size(split(domain(u), '\\\\.')) >= 3 AND element_at(split(domain(u), '\\\\.'), -2) IN ('com','net','org','co','gov','edu','mil','biz') THEN element_at(split(domain(u), '\\\\.'), -3) ELSE element_at(split(domain(u), '\\\\.'), -2) END",
    "cut_to_first_significant_subdomain(u STRING) RETURNS STRING RETURN CASE WHEN first_significant_subdomain(u) = '' THEN '' WHEN size(split(domain(u), '\\\\.')) >= 3 AND element_at(split(domain(u), '\\\\.'), -2) IN ('com','net','org','co','gov','edu','mil','biz') THEN concat_ws('.', slice(split(domain(u), '\\\\.'), size(split(domain(u), '\\\\.')) - 2, 3)) ELSE concat_ws('.', slice(split(domain(u), '\\\\.'), size(split(domain(u), '\\\\.')) - 1, 2)) END",
    "extract_url_parameter(u STRING, name STRING) RETURNS STRING RETURN parse_url(u, 'QUERY', name)",
    // ---- MySQL string conveniences
    "strleft(s STRING, n INT) RETURNS STRING RETURN left(s, n)",
    "strright(s STRING, n INT) RETURNS STRING RETURN right(s, n)",
    "mid(s STRING, p INT, l INT) RETURNS STRING RETURN substring(s, p, l)",
    "append_trailing_char_if_absent(s STRING, c STRING) RETURNS STRING RETURN IF(endswith(s, c), s, concat(s, c))",
    "money_format(x DOUBLE) RETURNS STRING RETURN format_number(x, 2)",
    "format_round(x DOUBLE, d INT) RETURNS STRING RETURN format_number(x, d)",
    "null_or_empty(s STRING) RETURNS BOOLEAN RETURN s IS NULL OR s = ''",
    "not_null_or_empty(s STRING) RETURNS BOOLEAN RETURN NOT (s IS NULL OR s = '')",
    "export_set(bits BIGINT, onv STRING, offv STRING, sep STRING, nbits INT) RETURNS STRING RETURN concat_ws(sep, transform(sequence(0, nbits - 1), i -> IF((bits >> i) & 1 = 1, onv, offv)))",
    "split_by_regexp(s STRING, r STRING) RETURNS ARRAY<STRING> RETURN split(s, r)",
    "regexp_split_to_array(s STRING, r STRING) RETURNS ARRAY<STRING> RETURN split(s, r)",
    "sub_binary(b BINARY, p INT, l INT) RETURNS BINARY RETURN CAST(substring(CAST(b AS STRING), p, l) AS BINARY)",
    "from_binary(b BINARY) RETURNS STRING RETURN CAST(b AS STRING)",
    "to_base64_binary(b BINARY) RETURNS STRING RETURN base64(b)",
    "from_base64_binary(s STRING) RETURNS BINARY RETURN unbase64(s)",
    "from_hex(s STRING) RETURNS BINARY RETURN unhex(s)",
    "to_hex(b BINARY) RETURNS STRING RETURN upper(hex(b))",
    "unhex_null(s STRING) RETURNS BINARY RETURN unhex(s)",
    // ---- uuid
    "is_uuid(s STRING) RETURNS BOOLEAN RETURN s IS NOT NULL AND s rlike '^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$'",
    // ---- date/time tail
    "dow(d DATE) RETURNS INT RETURN dayofweek(d)",
    "doy(d DATE) RETURNS INT RETURN dayofyear(d)",
    "century(d DATE) RETURNS INT RETURN CAST(ceil(year(d) / 100.0) AS INT)",
    "previous_day(d DATE, dname STRING) RETURNS DATE RETURN date_sub(d, CAST(pmod(dayofweek(d) - array_position(array('SUNDAY','MONDAY','TUESDAY','WEDNESDAY','THURSDAY','FRIDAY','SATURDAY'), upper(dname)) + 6, 7) + 1 AS INT))",
    // MySQL mode-0 rollover: days before the year's first Sunday are
    // week 0 and belong to the PREVIOUS year's week 52/53
    // (yearweek('2022-01-01') = 202152)
    "yearweek(d DATE) RETURNS INT RETURN CASE WHEN CAST(week(d) AS INT) = 0 THEN (year(d) - 1) * 100 + CAST(week(make_date(year(d) - 1, 12, 31)) AS INT) ELSE year(d) * 100 + CAST(week(d) AS INT) END",
    // ISO week-year: year of the Thursday in d's ISO week (Mon=1..Sun=7
    // weekday via dayofweek arithmetic — Spark 3 dropped pattern 'u')
    "year_of_week(d DATE) RETURNS INT RETURN year(date_add(d, 4 - (pmod(dayofweek(d) + 5, 7) + 1)))",
    "yow(d DATE) RETURNS INT RETURN year(date_add(d, 4 - (pmod(dayofweek(d) + 5, 7) + 1)))",
    "hour_from_unixtime(n BIGINT) RETURNS INT RETURN hour(timestamp_seconds(n))",
    "minute_from_unixtime(n BIGINT) RETURNS INT RETURN minute(timestamp_seconds(n))",
    "second_from_unixtime(n BIGINT) RETURNS INT RETURN second(timestamp_seconds(n))",
    "microsecond_from_unixtime(n BIGINT) RETURNS INT RETURN 0",
    "maketime(h INT, m INT, s INT) RETURNS STRING RETURN concat(lpad(CAST(h AS STRING), 2, '0'), ':', lpad(CAST(m AS STRING), 2, '0'), ':', lpad(CAST(s AS STRING), 2, '0'))",
    "time_format(t TIMESTAMP, f STRING) RETURNS STRING RETURN date_format(t, replace(replace(replace(f, '%H', 'HH'), '%i', 'mm'), '%s', 'ss'))",
    "add_time(t TIMESTAMP, tm STRING) RETURNS TIMESTAMP RETURN t + make_interval(0, 0, 0, 0, CAST(split(tm, ':')[0] AS INT), CAST(split(tm, ':')[1] AS INT), CAST(split(tm, ':')[2] AS DOUBLE))",
    "sub_time(t TIMESTAMP, tm STRING) RETURNS TIMESTAMP RETURN t - make_interval(0, 0, 0, 0, CAST(split(tm, ':')[0] AS INT), CAST(split(tm, ':')[1] AS INT), CAST(split(tm, ':')[2] AS DOUBLE))",
    "adddate(d DATE, n INT) RETURNS DATE RETURN date_add(d, n)",
    "subdate(d DATE, n INT) RETURNS DATE RETURN date_sub(d, n)",
    "year_month(d DATE) RETURNS INT RETURN year(d) * 100 + month(d)",
    "datev2(s STRING) RETURNS DATE RETURN CAST(s AS DATE)",
    "to_datev2(s STRING) RETURNS DATE RETURN CAST(s AS DATE)",
    "utc_date(dummy INT) RETURNS DATE RETURN current_date()",
    "utc_timestamp(dummy INT) RETURNS TIMESTAMP RETURN now()",
    // ---- vector scalar tail (function_array_distance.cpp aliases)
    "cosine_similarity(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) RETURNS DOUBLE RETURN 1.0 - cosine_distance(a, b)",
    "inner_product_approximate(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) RETURNS DOUBLE RETURN inner_product(a, b)",
    "l2_distance_approximate(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) RETURNS DOUBLE RETURN l2_distance(a, b)",
    // ---- misc session/no-op surface
    "connection_id(dummy INT) RETURNS INT RETURN 0",
    "database(dummy INT) RETURNS STRING RETURN current_database()",
    "last_query_id(dummy INT) RETURNS STRING RETURN ''",
    "ignore(x BIGINT) RETURNS BOOLEAN RETURN false",
    "non_nullable(x BIGINT) RETURNS BIGINT RETURN x",
    "nullable(x BIGINT) RETURNS BIGINT RETURN x",
    "crc32_internal(s STRING) RETURNS BIGINT RETURN crc32(CAST(s AS BINARY))",
    "bit_test(x BIGINT, pos INT) RETURNS TINYINT RETURN CAST((x >> pos) & 1 AS TINYINT)",
    "bit_test_all(x BIGINT, p1 INT, p2 INT) RETURNS TINYINT RETURN CAST(IF(((x >> p1) & 1) = 1 AND ((x >> p2) & 1) = 1, 1, 0) AS TINYINT)",
    "bit_shift_left(x BIGINT, n INT) RETURNS BIGINT RETURN x << n",
    "bit_shift_right(x BIGINT, n INT) RETURNS BIGINT RETURN x >> n",
    // ---- array/map tail (fixed canonical element types, like the
    // round-3 alias layer)
    "array_contains_all(a ARRAY<BIGINT>, b ARRAY<BIGINT>) RETURNS BOOLEAN RETURN size(array_except(b, a)) = 0",
    "array_reverse_sort(a ARRAY<BIGINT>) RETURNS ARRAY<BIGINT> RETURN reverse(array_sort(a))",
    "map_contains_entry(m MAP<STRING,BIGINT>, k STRING, v BIGINT) RETURNS BOOLEAN RETURN element_at(m, k) IS NOT NULL AND element_at(m, k) = v",
    "array_cross_product(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) RETURNS ARRAY<DOUBLE> RETURN array(element_at(a, 2) * element_at(b, 3) - element_at(a, 3) * element_at(b, 2), element_at(a, 3) * element_at(b, 1) - element_at(a, 1) * element_at(b, 3), element_at(a, 1) * element_at(b, 2) - element_at(a, 2) * element_at(b, 1))",
    "cross_product(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) RETURNS ARRAY<DOUBLE> RETURN array_cross_product(a, b)",
    // ClickHouse-style multi-pattern regexp match over the tokenized
    // search surface
    "multi_match_any(s STRING, pats ARRAY<STRING>) RETURNS BOOLEAN RETURN exists(pats, p -> s rlike p)",
    "multi_match(s STRING, pats ARRAY<STRING>) RETURNS BOOLEAN RETURN exists(pats, p -> s rlike p)",
    // ---- straggler names (round-4 final sweep)
    "dlog1(x DOUBLE) RETURNS DOUBLE RETURN ln(x)",
    // MySQL EXTRACT combo units as functions: DDHH / DDHHMM / DDHHMMSS /
    // DDHHMMSS.uuuuuu-as-integer etc.
    "day_hour(t TIMESTAMP) RETURNS BIGINT RETURN CAST(day(t) AS BIGINT) * 100 + hour(t)",
    "day_minute(t TIMESTAMP) RETURNS BIGINT RETURN CAST(day(t) AS BIGINT) * 10000 + hour(t) * 100 + minute(t)",
    "day_second(t TIMESTAMP) RETURNS BIGINT RETURN CAST(day(t) AS BIGINT) * 1000000 + hour(t) * 10000 + minute(t) * 100 + second(t)",
    "day_microsecond(t TIMESTAMP) RETURNS BIGINT RETURN (CAST(day(t) AS BIGINT) * 1000000 + hour(t) * 10000 + minute(t) * 100 + second(t)) * 1000000 + pmod(unix_micros(t), 1000000)",
    "hour_minute(t TIMESTAMP) RETURNS BIGINT RETURN hour(t) * 100 + minute(t)",
    "hour_second(t TIMESTAMP) RETURNS BIGINT RETURN hour(t) * 10000 + minute(t) * 100 + second(t)",
    "hour_microsecond(t TIMESTAMP) RETURNS BIGINT RETURN (CAST(hour(t) AS BIGINT) * 10000 + minute(t) * 100 + second(t)) * 1000000 + pmod(unix_micros(t), 1000000)",
    "minute_second(t TIMESTAMP) RETURNS BIGINT RETURN minute(t) * 100 + second(t)",
    "minute_microsecond(t TIMESTAMP) RETURNS BIGINT RETURN (CAST(minute(t) AS BIGINT) * 100 + second(t)) * 1000000 + pmod(unix_micros(t), 1000000)",
    "second_microsecond(t TIMESTAMP) RETURNS BIGINT RETURN CAST(second(t) AS BIGINT) * 1000000 + pmod(unix_micros(t), 1000000)",
    // now-based session time surface. Spark's now()/current_timestamp
    // is frozen per-query at analysis time — exactly MySQL's
    // per-statement NOW() contract — so these inline safely even
    // though they are not row-fresh (not oracle-gated)
    "curtime() RETURNS STRING RETURN date_format(now(), 'HH:mm:ss')",
    "localtime() RETURNS TIMESTAMP RETURN now()",
    "utc_time() RETURNS STRING RETURN date_format(now(), 'HH:mm:ss')",
    "schema() RETURNS STRING RETURN current_database()",
    // MySQL GET_FORMAT lookup table (DATE/TIME/DATETIME x USA/JIS/ISO/EUR/INTERNAL)
    "get_format(what STRING, loc STRING) RETURNS STRING RETURN CASE upper(what) WHEN 'DATE' THEN CASE upper(loc) WHEN 'USA' THEN '%m.%d.%Y' WHEN 'JIS' THEN '%Y-%m-%d' WHEN 'ISO' THEN '%Y-%m-%d' WHEN 'EUR' THEN '%d.%m.%Y' WHEN 'INTERNAL' THEN '%Y%m%d' END WHEN 'TIME' THEN CASE upper(loc) WHEN 'USA' THEN '%h:%i:%s %p' WHEN 'JIS' THEN '%H:%i:%s' WHEN 'ISO' THEN '%H:%i:%s' WHEN 'EUR' THEN '%H.%i.%s' WHEN 'INTERNAL' THEN '%H%i%s' END WHEN 'DATETIME' THEN CASE upper(loc) WHEN 'USA' THEN '%Y-%m-%d %H.%i.%s' WHEN 'JIS' THEN '%Y-%m-%d %H:%i:%s' WHEN 'ISO' THEN '%Y-%m-%d %H:%i:%s' WHEN 'EUR' THEN '%Y-%m-%d %H.%i.%s' WHEN 'INTERNAL' THEN '%Y%m%d%H%i%s' END END",
    "array_enumerate_uniq(a ARRAY<BIGINT>) RETURNS ARRAY<INT> RETURN transform(sequence(1, size(a)), i -> size(filter(slice(a, 1, i), y -> y = element_at(a, i))))",
    // planar point distance (the spherical form is st_distance_sphere)
    "st_distance(p1 STRING, p2 STRING) RETURNS DOUBLE RETURN sqrt(power(st_x(p1) - st_x(p2), 2) + power(st_y(p1) - st_y(p2), 2))",
    // Spark maps are dedup-by-construction; identity under the
    // canonical MAP<STRING,BIGINT> signature
    "deduplicate_map(m MAP<STRING,BIGINT>) RETURNS MAP<STRING,BIGINT> RETURN m",
    "variant_type(s STRING) RETURNS STRING RETURN json_type(s, '$')",
    // hash of the key-sorted canonical form (the reference hashes its
    // jsonb binary — different basis, same determinism contract)
    "json_hash(s STRING) RETURNS BIGINT RETURN xxhash64(sort_json_object_keys(s))",
    "jsonb_hash(s STRING) RETURNS BIGINT RETURN xxhash64(sort_json_object_keys(s))",
    // array_apply(arr, op, val): comparison-filter by operator NAME
    // (function_array_apply.cpp — not a lambda function)
    "array_apply(a ARRAY<BIGINT>, op STRING, v BIGINT) RETURNS ARRAY<BIGINT> RETURN CASE op WHEN '=' THEN filter(a, x -> x = v) WHEN '!=' THEN filter(a, x -> x != v) WHEN '<' THEN filter(a, x -> x < v) WHEN '<=' THEN filter(a, x -> x <= v) WHEN '>' THEN filter(a, x -> x > v) WHEN '>=' THEN filter(a, x -> x >= v) END",
    // graph-SQL acceptor placeholder (FE scalar G.java — parser hook,
    // no scalar semantics)
    "g(s STRING) RETURNS BOOLEAN RETURN false",
    // dictionary lookup under the broadcast-map representation
    // (dictionary.h; the dict OBJECT here is the map column itself —
    // documented deviation from the catalog-named dictionaries)
    "dict_get(m MAP<STRING,STRING>, k STRING) RETURNS STRING RETURN element_at(m, k)",
    "dict_get_many(m MAP<STRING,STRING>, ks ARRAY<STRING>) RETURNS ARRAY<STRING> RETURN transform(ks, k -> element_at(m, k))",
    // range auto-partition naming: p + unit-truncated yyyyMMddHHmmss
    // (function_string_misc.cpp:253-300; list form via the JVM UDF)
    "auto_partition_name_range(unit STRING, t TIMESTAMP) RETURNS STRING RETURN concat('p', date_format(date_trunc(upper(unit), t), 'yyyyMMddHHmmss'))"
  )
}

