package graft.functions

/** IP / text-search / tokenize / dict function families (reference:
  * be/src/exprs/function/function_ip.cpp;
  * function_search.h:46 + match.h:61-163 (match_any/all/phrase);
  * function_tokenize.cpp; function_dict_get.cpp).
  *
  * SQL-bodied definitions (FunctionRegistry.sqlFunctions parses each
  * once per JVM) — each RETURN body is a native
  * expression tree, so these inline into whole-stage codegen (no JVM
  * UDF serialization on scan paths). The match_* family replaces the
  * reference's inverted-index lookups with tokenize-and-test — correct
  * everywhere, with Parquet bloom/minmax doing the pruning at scale.
  */
object MiscFunctions {

  def sqlDefs: Seq[String] = Seq(
    // ---- IP family ----
    """ipv4_string_to_num(s STRING) RETURNS BIGINT RETURN
       aggregate(transform(split(s, '\\.'), p -> CAST(p AS BIGINT)),
                 CAST(0 AS BIGINT), (acc, x) -> acc * 256 + x)""",
    """ipv4_num_to_string(n BIGINT) RETURNS STRING RETURN
       concat(CAST(shiftright(n, 24) & 255 AS STRING), '.',
              CAST(shiftright(n, 16) & 255 AS STRING), '.',
              CAST(shiftright(n, 8) & 255 AS STRING), '.',
              CAST(n & 255 AS STRING))""",
    // is_ipv4_string lives in Ipv6Functions (the authoritative
    // inet_pton-based parser pack)
    """ipv4_cidr_contains(cidr STRING, ip STRING) RETURNS BOOLEAN RETURN
       shiftright(aggregate(transform(split(split_part(cidr, '/', 1), '\\.'),
                    p -> CAST(p AS BIGINT)), CAST(0 AS BIGINT), (acc, x) -> acc * 256 + x),
                  32 - CAST(split_part(cidr, '/', 2) AS INT))
       = shiftright(aggregate(transform(split(ip, '\\.'), p -> CAST(p AS BIGINT)),
                    CAST(0 AS BIGINT), (acc, x) -> acc * 256 + x),
                  32 - CAST(split_part(cidr, '/', 2) AS INT))""",
    // ---- tokenize + match family ----
    """tokenize(s STRING) RETURNS ARRAY<STRING> RETURN
       filter(split(lower(s), '[^a-z0-9]+'), t -> length(t) > 0)""",
    """match_any(s STRING, q STRING) RETURNS BOOLEAN RETURN
       arrays_overlap(filter(split(lower(s), '[^a-z0-9]+'), t -> length(t) > 0),
                      filter(split(lower(q), '[^a-z0-9]+'), t -> length(t) > 0))""",
    """match_all(s STRING, q STRING) RETURNS BOOLEAN RETURN
       forall(filter(split(lower(q), '[^a-z0-9]+'), t -> length(t) > 0),
              t -> array_contains(filter(split(lower(s), '[^a-z0-9]+'), x -> length(x) > 0), t))""",
    // word-boundary-safe contiguous phrase match
    """match_phrase(s STRING, q STRING) RETURNS BOOLEAN RETURN
       instr(concat(' ', array_join(filter(split(lower(s), '[^a-z0-9]+'), t -> length(t) > 0), ' '), ' '),
             concat(' ', array_join(filter(split(lower(q), '[^a-z0-9]+'), t -> length(t) > 0), ' '), ' ')) > 0""",
    // ---- Doris-named string/date aliases: strleft/strright/
    // append_trailing_char_if_absent/null_or_empty/not_null_or_empty/
    // money_format live in AliasFunctions2 (single registration site);
    // dayname/monthname are Spark 4 built-ins already (names match)
    // ---- Doris datetime floor/ceil family (function_datetime_floor_ceil
    // .cpp). Floor = date_trunc; ceil = sign-safe integer ceil-division
    // on epoch micros: x div D truncates toward zero, so add 1 only when
    // a positive remainder was truncated — exact for negative (pre-1970)
    // micros too, where (x + D - 1) div D over-shoots (ADVICE r03 fix).
    """hour_floor(t TIMESTAMP) RETURNS TIMESTAMP RETURN date_trunc('hour', t)""",
    """day_floor(t TIMESTAMP) RETURNS TIMESTAMP RETURN date_trunc('day', t)""",
    """minute_floor(t TIMESTAMP) RETURNS TIMESTAMP RETURN date_trunc('minute', t)""",
    """month_floor(t TIMESTAMP) RETURNS TIMESTAMP RETURN date_trunc('month', t)""",
    """hour_ceil(t TIMESTAMP) RETURNS TIMESTAMP RETURN
       timestamp_micros((unix_micros(t) div 3600000000
                         + IF(unix_micros(t) % 3600000000 > 0, 1, 0)) * 3600000000)""",
    """day_ceil(t TIMESTAMP) RETURNS TIMESTAMP RETURN
       timestamp_micros((unix_micros(t) div 86400000000
                         + IF(unix_micros(t) % 86400000000 > 0, 1, 0)) * 86400000000)""",
    """minute_ceil(t TIMESTAMP) RETURNS TIMESTAMP RETURN
       timestamp_micros((unix_micros(t) div 60000000
                         + IF(unix_micros(t) % 60000000 > 0, 1, 0)) * 60000000)""",
    // per-char mismatch count for equal-length strings, NULL otherwise
    // (reference: function_hamming_distance.cpp)
    """hamming_distance(a STRING, b STRING) RETURNS INT RETURN
       CASE WHEN length(a) <> length(b) THEN CAST(NULL AS INT)
            ELSE aggregate(zip_with(split(a, ''), split(b, ''),
                                    (x, y) -> IF(x = y, 0, 1)),
                           0, (acc, v) -> acc + v) END""",
    // ---- MySQL/Doris day-number + time-of-day + tz family
    // (date_time_transforms.h: to_days/from_days, sec_to_time/
    // time_to_sec, makedate, convert_tz). Day 719528 = 1970-01-01 in
    // MySQL's day-number epoch (day 1 = 0000-01-01).
    """to_days(d DATE)
       RETURNS BIGINT RETURN CAST(datediff(d, DATE '1970-01-01') AS BIGINT) + 719528""",
    """from_days(n BIGINT)
       RETURNS DATE RETURN date_add(DATE '1970-01-01', CAST(n - 719528 AS INT))""",
    """sec_to_time(s BIGINT) RETURNS STRING RETURN
       concat(lpad(CAST(s div 3600 AS STRING), 2, '0'), ':',
              lpad(CAST((s % 3600) div 60 AS STRING), 2, '0'), ':',
              lpad(CAST(s % 60 AS STRING), 2, '0'))""",
    """time_to_sec(t STRING) RETURNS BIGINT RETURN
       CAST(split_part(t, ':', 1) AS BIGINT) * 3600
       + CAST(split_part(t, ':', 2) AS BIGINT) * 60
       + CAST(split_part(t, ':', 3) AS BIGINT)""",
    """makedate(y INT, doy INT) RETURNS DATE RETURN date_add(make_date(y, 1, 1), doy - 1)""",
    """convert_tz(t TIMESTAMP, f STRING, tz STRING)
       RETURNS TIMESTAMP RETURN from_utc_timestamp(to_utc_timestamp(t, f), tz)""",
    """strcmp(a STRING, b STRING)
       RETURNS INT RETURN CASE WHEN a IS NULL OR b IS NULL THEN CAST(NULL AS INT)
                               WHEN a < b THEN -1 WHEN a = b THEN 0 ELSE 1 END""",
    // Doris/MySQL %-style date_format (function_datetime.cpp date_format;
    // covers the numeric specifiers — month/day names are locale traps)
    """date_format_mysql(t TIMESTAMP, f STRING) RETURNS STRING RETURN date_format(t,
         replace(replace(replace(replace(replace(replace(replace(f,
           '%Y', 'yyyy'), '%y', 'yy'), '%m', 'MM'), '%d', 'dd'),
           '%H', 'HH'), '%i', 'mm'), '%s', 'ss'))"""
  )
}
