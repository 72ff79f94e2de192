package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Q._

/** Scalar-function surface — the reference's shippable function library
  * (pg_lake_engine/src/pgduck/shippable_builtin_functions.c:48-448):
  * string, math, trig, date/time, regex/LIKE, JSON, encode/decode, array,
  * SRF (generate_series/unnest), and casts. All Spark built-ins (codegen'd);
  * functions DuckDB 1.0 lacks (initcap, btrim, asinh/acosh/atanh — the
  * reference itself ships C++ shims for initcap, duckdb_pglake_extension
  * .cpp:328-354) are covered by ScalaTest specs instead of the oracle.
  */
object QFunc extends Batch {

  private def docs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").filter(col("doc_id") < 200)

  val queries: Map[String, QueryFn] = Map(
    // second string wave: character translation, SQL-standard set
    // trims, bit/octet lengths, hex — same SQL to both engines
    "q_fn_string2" -> { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      s.sql(
        """SELECT doc_id,
          |  translate(source, 'srcx', 'xyzq') AS tr,
          |  TRIM(LEADING 's' FROM source) AS ltr,
          |  TRIM(TRAILING '0123456789' FROM source) AS rtr,
          |  CAST(bit_length(lang) AS BIGINT) AS bl,
          |  CAST(octet_length(text) AS BIGINT) AS ol,
          |  upper(hex(CAST(n_chars AS BIGINT))) AS hx,
          |  substr(text, greatest(length(text) - 9, 1)) AS tail10
          |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin)
    },
    "q_fn_string" -> { (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        lower(col("lang")).as("lo"),
        upper(col("source")).as("up"),
        length(col("text")).cast("long").as("len"),
        substring(col("text"), 5, 10).as("sub"),
        expr("left(text, 3)").as("l3"),
        expr("right(text, 3)").as("r3"),
        lpad(col("lang"), 6, "*").as("lp"),
        rpad(col("lang"), 6, "#").as("rp"),
        trim(lpad(col("lang"), 6, " ")).as("trm"),
        regexp_replace(col("source"), "src", "origin_").as("repl"),
        reverse(col("lang")).as("rev"),
        repeat(col("lang"), 3).as("rep"),
        split_part(col("text"), lit(" "), lit(3)).as("word3"),
        instr(col("text"), "data").cast("long").as("pos_data"),
        concat_ws("-", col("lang"), col("source")).as("cw"),
        concat(col("lang"), lit(":"), col("source")).as("cc"),
        ascii(col("lang")).as("asc"),
        expr("char(65 + CAST(n_chars % 26 AS INT))").as("chr_out"),
        md5(col("text").cast("binary")).as("h"),
        col("text").startsWith("key").as("sw"),
        col("text").contains("table").as("ct"))
        .orderBy("doc_id")
    },

    "q_fn_math" -> { (s, dir) =>
      t(s, dir, "lineitem").filter(col("l_orderkey") % 101 === 0).select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"),
        abs(col("l_quantity") - 25).as("ab"),
        ceil(col("l_extendedprice") / 1000).as("ce"),
        floor(col("l_extendedprice") / 1000).as("fl"),
        round(col("l_extendedprice") * 0.1, 2).as("rnd"),
        round(sqrt(col("l_quantity")), 8).as("sq"),
        round(cbrt(col("l_quantity")), 8).as("cb"),
        round(exp(col("l_discount")), 8).as("ex"),
        round(log(col("l_extendedprice")), 8).as("lnp"),
        round(log10(col("l_extendedprice")), 8).as("lg"),
        round(pow(col("l_quantity"), 2), 2).as("pw"),
        (col("l_quantity") % 7).as("md"),
        signum(col("l_quantity") - 25).as("sg"),
        greatest(col("l_quantity"), col("l_discount") * 100).as("gr"),
        least(col("l_quantity"), col("l_tax") * 100).as("ls"),
        round(radians(col("l_quantity")), 8).as("rad"),
        round(degrees(col("l_discount")), 8).as("deg"),
        expr("l_orderkey div 7").as("idiv"),
        expr("l_linenumber & 3").as("band"),
        expr("l_linenumber | 8").as("bor"),
        expr("l_linenumber ^ 5").as("bxor"),
        expr("shiftleft(l_linenumber, 2)").as("shl"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    },

    "q_fn_trig" -> { (s, dir) =>
      t(s, dir, "lineitem").filter(col("l_orderkey") % 211 === 0).select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"),
        round(sin(col("l_discount")), 10).as("sn"),
        round(cos(col("l_discount")), 10).as("cs"),
        round(tan(col("l_discount")), 10).as("tn"),
        round(asin(col("l_discount")), 10).as("asn"),
        round(acos(col("l_discount")), 10).as("acs"),
        round(atan(col("l_quantity")), 10).as("atn"),
        round(atan2(col("l_quantity"), col("l_extendedprice")), 10).as("at2"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    },

    "q_fn_datetime" -> { (s, dir) =>
      t(s, dir, "orders").filter(col("o_orderkey") % 17 === 0).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        quarter(col("o_orderdate")).as("q"),
        (dayofweek(col("o_orderdate")) - 1).as("dow"),
        dayofyear(col("o_orderdate")).as("doy"),
        date_trunc("year", col("o_orderdate")).as("t_year"),
        date_trunc("month", col("o_orderdate")).as("t_month"),
        date_trunc("week", col("o_orderdate")).as("t_week"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"),
        (col("o_orderdate") + expr("INTERVAL 3 DAY")).as("plus3d"),
        (col("o_orderdate") + expr("INTERVAL 2 MONTH")).as("plus2mo"),
        (col("o_orderdate") - expr("INTERVAL 36 HOUR")).as("minus36h"),
        datediff(lit("2002-01-01").cast("date"), col("o_orderdate"))
          .as("days_to_2002"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("fmt"),
        last_day(col("o_orderdate")).as("eom"),
        make_date(year(col("o_orderdate")), month(col("o_orderdate")), lit(1))
          .as("som"))
        .orderBy("o_orderkey")
    },

    // micro-precision timestamps + epoch-aligned binning (the reference's
    // date_bin → time_bucket rewrite, rewrite_query.c:1187-1206)
    "q_fn_datetime_events" -> { (s, dir) =>
      // All timestamp outputs cast to TIMESTAMP_NTZ: the session runs in
      // UTC so the cast is wall-clock identity, and the written parquet
      // then matches the oracle's naive TIMESTAMP (the driver comparator
      // does not tz-normalize dtypes).
      t(s, dir, "events").filter(col("event_id") % 13 === 0).select(
        col("event_id"),
        col("ts").cast("timestamp_ntz").as("ts_us"),
        hour(col("ts")).as("h"),
        minute(col("ts")).as("mi"),
        second(col("ts")).as("sec"),
        timestamp_seconds((unix_timestamp(col("ts")) / 900).cast("long") * 900)
          .cast("timestamp_ntz").as("bin15m"),
        date_trunc("hour", col("ts")).cast("timestamp_ntz").as("t_hour"),
        unix_micros(col("ts")).as("us"))
        .orderBy("event_id")
    },

    "q_fn_regex" -> { (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        regexp_replace(col("text"), "[aeiou]", "_").as("devowel"),
        col("text").rlike("data\\s+\\w+").as("has_data"),
        regexp_extract(col("text"), "([a-z]{6,})", 1).as("long_word"),
        col("source").like("src1%").as("lk"),
        col("lang").ilike("EN").as("ilk"),
        regexp_count(col("text"), lit("a")).cast("long").as("n_a"))
        .orderBy("doc_id")
    },

    "q_fn_json" -> { (s, dir) =>
      t(s, dir, "events").filter(col("event_id") % 29 === 0).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        get_json_object(col("props"), "$.k").cast("int").as("k_int"),
        get_json_object(col("props"), "$.missing").as("k_missing"),
        expr("json_array_length(concat('[', props, ',', props, ']'))")
          .cast("long").as("arr_len"))
        .orderBy("event_id")
    },

    "q_fn_encode" -> { (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        base64(col("source").cast("binary")).as("b64"),
        unbase64(base64(col("source").cast("binary"))).cast("string")
          .as("b64_rt"),
        lower(hex(col("lang").cast("binary"))).as("hx"),
        unhex(hex(col("lang").cast("binary"))).cast("string").as("hx_rt"),
        bit_length(col("lang")).cast("long").as("bl"),
        octet_length(col("lang")).cast("long").as("ol"))
        .orderBy("doc_id")
    },

    "q_fn_array" -> { (s, dir) =>
      t(s, dir, "embeddings").filter(col("vec_id") % 7 === 0).select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        round(element_at(col("embedding"), 1).cast("double"), 6).as("e1"),
        // array outputs serialized to strings (driver's pandas row sort
        // cannot hash ndarray cells); floats as micro-int strings so both
        // engines format identically
        array_join(transform(slice(col("embedding"), 1, 3),
          x => round(x.cast("double") * 1e6, 0).cast("long").cast("string")),
          ",").as("head3"),
        round(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast("double")), 4).as("vsum"),
        array_contains(col("embedding").cast("array<int>"), 0).as("has_zero"),
        array_join(array(col("vec_id"), col("label").cast("long"))
          .cast("array<string>"), ",").as("pair"),
        array_join(expr("array_append(array(vec_id), CAST(label AS BIGINT))")
          .cast("array<string>"), ",").as("appended"))
        .orderBy("vec_id")
    },

    "q_fn_generate_series" -> { (s, dir) =>
      // SRF surface: generate_series over ints and timestamps
      // (shippable_builtin_functions.c:397-402)
      val ints = s.range(1)
        .select(explode(sequence(lit(1L), lit(20L))).as("n"))
        .select(col("n"), (col("n") * col("n")).as("n_sq"))
      val ts = s.range(1).select(explode(sequence(
        lit("1999-01-01").cast("timestamp"),
        lit("1999-03-01").cast("timestamp"),
        expr("INTERVAL 7 DAY"))).as("w"))
      ints.crossJoin(ts).orderBy("n", "w")
    },

    "q_fn_unnest" -> { (s, dir) =>
      t(s, dir, "embeddings").filter(col("vec_id") < 10)
        .select(col("vec_id"),
          explode(col("embedding")).as("raw"))
        .select(col("vec_id"), round(col("raw").cast("double"), 6).as("val"))
        .orderBy("vec_id", "val")
    },

    "q_fn_cast" -> { (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        col("n_chars").cast("string").as("s_int"),
        col("n_chars").cast("double").as("d_int"),
        col("n_chars").cast("string").cast("long").as("rt_int"),
        col("n_chars").cast("int").cast("short").as("sm"),
        lit("2020-01-02 03:04:05").cast("timestamp").as("ts_lit"),
        lit("2020-01-02").cast("date").as("d_lit"),
        (col("n_chars") > 200).cast("int").as("b_int"))
        .orderBy("doc_id")
    })

  override val oracleSql: Map[String, String] = Map(
    "q_fn_string2" ->
      """SELECT doc_id,
        |  translate(source, 'srcx', 'xyzq') AS tr,
        |  TRIM(LEADING 's' FROM source) AS ltr,
        |  TRIM(TRAILING '0123456789' FROM source) AS rtr,
        |  CAST(bit_length(lang) AS BIGINT) AS bl,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS ol,
        |  upper(hex(CAST(n_chars AS BIGINT))) AS hx,
        |  substr(text, greatest(length(text) - 9, 1)) AS tail10
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,

    "q_fn_string" ->
      """SELECT doc_id,
        |  lower(lang) AS lo, upper(source) AS up,
        |  length(text) AS len,
        |  substring(text, 5, 10) AS sub,
        |  left(text, 3) AS l3, right(text, 3) AS r3,
        |  lpad(lang, 6, '*') AS lp, rpad(lang, 6, '#') AS rp,
        |  trim(lpad(lang, 6, ' ')) AS trm,
        |  replace(source, 'src', 'origin_') AS repl,
        |  reverse(lang) AS rev, repeat(lang, 3) AS rep,
        |  split_part(text, ' ', 3) AS word3,
        |  strpos(text, 'data') AS pos_data,
        |  concat_ws('-', lang, source) AS cw,
        |  concat(lang, ':', source) AS cc,
        |  ascii(lang) AS asc,
        |  chr(65 + CAST(n_chars % 26 AS INT)) AS chr_out,
        |  md5(text) AS h,
        |  starts_with(text, 'key') AS sw,
        |  contains(text, 'table') AS ct
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,

    "q_fn_math" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  abs(l_quantity - 25) AS ab,
        |  CAST(ceil(l_extendedprice / 1000) AS BIGINT) AS ce,
        |  CAST(floor(l_extendedprice / 1000) AS BIGINT) AS fl,
        |  round(l_extendedprice * 0.1, 2) AS rnd,
        |  round(sqrt(l_quantity), 8) AS sq,
        |  round(cbrt(l_quantity), 8) AS cb,
        |  round(exp(l_discount), 8) AS ex,
        |  round(ln(l_extendedprice), 8) AS lnp,
        |  round(log10(l_extendedprice), 8) AS lg,
        |  round(power(l_quantity, 2), 2) AS pw,
        |  l_quantity % 7 AS md,
        |  CAST(sign(l_quantity - 25) AS DOUBLE) AS sg,
        |  greatest(l_quantity, l_discount * 100) AS gr,
        |  least(l_quantity, l_tax * 100) AS ls,
        |  round(radians(l_quantity), 8) AS rad,
        |  round(degrees(l_discount), 8) AS deg,
        |  l_orderkey // 7 AS idiv,
        |  l_linenumber & 3 AS band,
        |  l_linenumber | 8 AS bor,
        |  xor(l_linenumber, 5) AS bxor,
        |  l_linenumber << 2 AS shl
        |FROM lineitem WHERE l_orderkey % 101 = 0
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin,

    "q_fn_trig" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  round(sin(l_discount), 10) AS sn,
        |  round(cos(l_discount), 10) AS cs,
        |  round(tan(l_discount), 10) AS tn,
        |  round(asin(l_discount), 10) AS asn,
        |  round(acos(l_discount), 10) AS acs,
        |  round(atan(l_quantity), 10) AS atn,
        |  round(atan2(l_quantity, l_extendedprice), 10) AS at2
        |FROM lineitem WHERE l_orderkey % 211 = 0
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin,

    "q_fn_datetime" ->
      """SELECT o_orderkey,
        |  CAST(extract(year FROM o_orderdate) AS INT) AS y,
        |  CAST(extract(month FROM o_orderdate) AS INT) AS m,
        |  CAST(extract(day FROM o_orderdate) AS INT) AS d,
        |  CAST(extract(quarter FROM o_orderdate) AS INT) AS q,
        |  CAST(extract(dow FROM o_orderdate) AS INT) AS dow,
        |  CAST(extract(doy FROM o_orderdate) AS INT) AS doy,
        |  CAST(date_trunc('year', o_orderdate) AS TIMESTAMP) AS t_year,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS t_month,
        |  CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS t_week,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
        |  o_orderdate + INTERVAL 3 DAY AS plus3d,
        |  o_orderdate + INTERVAL 2 MONTH AS plus2mo,
        |  o_orderdate - INTERVAL 36 HOUR AS minus36h,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')
        |       AS INT) AS days_to_2002,
        |  strftime(o_orderdate, '%Y-%m-%d') AS fmt,
        |  last_day(CAST(o_orderdate AS DATE)) AS eom,
        |  make_date(CAST(extract(year FROM o_orderdate) AS BIGINT),
        |            CAST(extract(month FROM o_orderdate) AS BIGINT), 1) AS som
        |FROM orders WHERE o_orderkey % 17 = 0 ORDER BY o_orderkey""".stripMargin,

    "q_fn_datetime_events" ->
      """SELECT event_id,
        |  CAST(ts AS TIMESTAMP) AS ts_us,
        |  CAST(extract(hour FROM ts) AS INT) AS h,
        |  CAST(extract(minute FROM ts) AS INT) AS mi,
        |  CAST(extract(second FROM ts) AS INT) AS sec,
        |  make_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 900)
        |    AS BIGINT) * 900 * 1000000) AS bin15m,
        |  CAST(date_trunc('hour', ts) AS TIMESTAMP) AS t_hour,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |FROM events WHERE event_id % 13 = 0 ORDER BY event_id""".stripMargin,

    "q_fn_regex" ->
      """SELECT doc_id,
        |  regexp_replace(text, '[aeiou]', '_', 'g') AS devowel,
        |  regexp_matches(text, 'data\s+\w+') AS has_data,
        |  regexp_extract(text, '([a-z]{6,})', 1) AS long_word,
        |  source LIKE 'src1%' AS lk,
        |  lang ILIKE 'EN' AS ilk,
        |  CAST(length(text) - length(replace(text, 'a', '')) AS BIGINT) AS n_a
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,

    "q_fn_json" ->
      """SELECT event_id,
        |  json_extract_string(props, '$.k') AS k_str,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
        |  json_extract_string(props, '$.missing') AS k_missing,
        |  CAST(json_array_length(concat('[', props, ',', props, ']')) AS BIGINT)
        |    AS arr_len
        |FROM events WHERE event_id % 29 = 0 ORDER BY event_id""".stripMargin,

    "q_fn_encode" ->
      """SELECT doc_id,
        |  to_base64(source::BLOB) AS b64,
        |  CAST(from_base64(to_base64(source::BLOB)) AS VARCHAR) AS b64_rt,
        |  lower(hex(lang)) AS hx,
        |  CAST(unhex(hex(lang)) AS VARCHAR) AS hx_rt,
        |  bit_length(lang) AS bl,
        |  octet_length(lang::BLOB) AS ol
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,

    "q_fn_array" ->
      """SELECT vec_id,
        |  len(embedding) AS dim,
        |  round(CAST(embedding[1] AS DOUBLE), 6) AS e1,
        |  array_to_string(list_transform(embedding[1:3],
        |    x -> CAST(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
        |              AS VARCHAR)), ',') AS head3,
        |  round(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE))), 4) AS vsum,
        |  list_contains(list_transform(embedding, x -> CAST(x AS INT)), 0)
        |    AS has_zero,
        |  array_to_string([vec_id, CAST(label AS BIGINT)], ',') AS pair,
        |  array_to_string(list_append([vec_id], CAST(label AS BIGINT)), ',')
        |    AS appended
        |FROM embeddings WHERE vec_id % 7 = 0 ORDER BY vec_id""".stripMargin,

    "q_fn_generate_series" ->
      """SELECT n, n * n AS n_sq, w
        |FROM (SELECT unnest(generate_series(1, 20)) AS n),
        |     (SELECT unnest(generate_series(TIMESTAMP '1999-01-01',
        |        TIMESTAMP '1999-03-01', INTERVAL 7 DAY)) AS w)
        |ORDER BY n, w""".stripMargin,

    "q_fn_unnest" ->
      """SELECT vec_id, round(CAST(unnest(embedding) AS DOUBLE), 6) AS val
        |FROM embeddings WHERE vec_id < 10 ORDER BY vec_id, val""".stripMargin,

    "q_fn_cast" ->
      """SELECT doc_id,
        |  CAST(n_chars AS VARCHAR) AS s_int,
        |  CAST(n_chars AS DOUBLE) AS d_int,
        |  CAST(CAST(n_chars AS VARCHAR) AS BIGINT) AS rt_int,
        |  CAST(n_chars AS SMALLINT) AS sm,
        |  TIMESTAMP '2020-01-02 03:04:05' AS ts_lit,
        |  DATE '2020-01-02' AS d_lit,
        |  CAST(n_chars > 200 AS INT) AS b_int
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin)
}
