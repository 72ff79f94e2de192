package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import Q._

/** Per-type operator matrices — the reference tests every shippable
  * operator × type pair (tests/pytests/operator_pushdown/test_{int2,int4,
  * int8,float4,float8,bool,date,...}.py; operator inventory
  * shippable_builtin_operators.c:38-515). One gate query per type family,
  * each exercising comparisons, arithmetic, and the family's special
  * operators, oracle-checked against DuckDB.
  */
object QTypes extends Batch {

  val queries: Map[String, QueryFn] = Map(
    // integer family incl. cross-width (INT32 vs INT64) comparisons and
    // arithmetic (shippable_builtin_operators.c:167-310)
    "q_ops_int" -> { (s, dir) =>
      t(s, dir, "lineitem").filter(col("l_orderkey") % 53 === 0).select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"),
        (col("l_linenumber") + col("l_orderkey")).as("xw_add"),
        (col("l_orderkey") - col("l_linenumber")).as("xw_sub"),
        (col("l_linenumber") * 1000000L).as("xw_mul"),
        (col("l_orderkey") % col("l_linenumber")).as("xw_mod"),
        (col("l_linenumber") < col("l_orderkey")).as("xw_lt"),
        (col("l_linenumber") === 1).as("eq1"),
        (col("l_linenumber") =!= 1).as("ne1"),
        (-col("l_linenumber")).as("neg"),
        abs(col("l_linenumber") - 4).as("iabs"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    },

    // float family: FLOAT32 elements vs DOUBLE ops (operators.c:106-166)
    "q_ops_float" -> { (s, dir) =>
      t(s, dir, "embeddings").filter(col("vec_id") % 9 === 0).select(
        col("vec_id"),
        round(element_at(col("embedding"), 2).cast("double") * 2, 6).as("f_mul"),
        round(element_at(col("embedding"), 2).cast("double")
          + element_at(col("embedding"), 3).cast("double"), 6).as("f_add"),
        (element_at(col("embedding"), 2) > element_at(col("embedding"), 3))
          .as("f_gt"),
        (element_at(col("embedding"), 2).cast("double") > 0.0).as("f_pos"),
        round(-element_at(col("embedding"), 2).cast("double"), 6).as("f_neg"))
        .orderBy("vec_id")
    },

    // bool family (operators.c:96-104): and/or/not, comparisons, ordering
    "q_ops_bool" -> { (s, dir) =>
      t(s, dir, "customer").filter(col("c_custkey") % 13 === 0).select(
        col("c_custkey"),
        (col("c_acctbal") > 0).as("pos"),
        ((col("c_acctbal") > 0) && (col("c_mktsegment") === "BUILDING"))
          .as("b_and"),
        ((col("c_acctbal") > 9000) || (col("c_acctbal") < 0)).as("b_or"),
        (!(col("c_acctbal") > 0)).as("b_not"),
        ((col("c_acctbal") > 0) === (col("c_acctbal") > 100)).as("b_eq"),
        (col("c_acctbal") > 0).cast("int").as("b_int"))
        .orderBy("c_custkey")
    },

    // text family (operators.c:50-70): lexicographic compare, || concat
    "q_ops_string" -> { (s, dir) =>
      t(s, dir, "nation").select(
        col("n_nationkey"), col("n_name"),
        (col("n_name") < lit("M")).as("lt_m"),
        (col("n_name") >= lit("E") && col("n_name") <= lit("T")).as("between_et"),
        concat(col("n_name"), lit("_"), col("n_regionkey").cast("string"))
          .as("concatted"),
        (col("n_name") === reverse(reverse(col("n_name")))).as("self_eq"),
        greatest(col("n_name"), lit("FRANCE")).as("g_str"),
        least(col("n_name"), lit("FRANCE")).as("l_str"))
        .orderBy("n_nationkey")
    },

    // bytea family (operators.c:442-470): equality/ordering on raw bytes,
    // || concat, octet_length, byte substring — all surfaced as hex/bool
    // so the driver comparator never sees a raw binary cell
    "q_ops_bytea" -> { (s, dir) =>
      t(s, dir, "documents").filter(col("doc_id") < 200).select(
        col("doc_id"),
        (col("source").cast("binary") === lit("src1").cast("binary"))
          .as("beq"),
        (col("source").cast("binary") =!= col("lang").cast("binary"))
          .as("bne"),
        (col("lang").cast("binary") < col("source").cast("binary"))
          .as("blt"),
        (col("lang").cast("binary") >= lit("en").cast("binary")).as("bge"),
        lower(hex(concat(col("lang").cast("binary"),
          col("source").cast("binary")))).as("bcat"),
        octet_length(col("source")).cast("long").as("blen"),
        lower(hex(expr("substring(CAST(source AS BINARY), 2, 3)")))
          .as("bsub"))
        .orderBy("doc_id")
    },

    // char/bpchar family (operators.c:72-94): blank-padded storage with
    // pad-insensitive comparison and pad-stripped length, PG-style
    "q_ops_char" -> { (s, dir) =>
      val ch = rpad(col("c_mktsegment"), 12, " ")
      t(s, dir, "customer").filter(col("c_custkey") % 17 === 0).select(
        col("c_custkey"),
        ch.as("ch"),
        (rtrim(ch) === "BUILDING").as("ch_eq"),
        (rtrim(ch) < "FURNITURE").as("ch_lt"),
        length(rtrim(ch)).cast("long").as("ch_len"),
        concat(rtrim(ch), lit("|")).as("ch_cat"))
        .orderBy("c_custkey")
    },

    // uuid family (operators.c:472-490): canonical 8-4-4-4-12 form built
    // deterministically from md5, compared as uuids (lexicographic on the
    // canonical lowercase form = PG uuid ordering)
    "q_ops_uuid" -> { (s, dir) =>
      def toUuid(c: org.apache.spark.sql.Column) = concat_ws("-",
        substring(c, 1, 8), substring(c, 9, 4), substring(c, 13, 4),
        substring(c, 17, 4), substring(c, 21, 12))
      val u1 = toUuid(md5(col("doc_id").cast("string").cast("binary")))
      val u2 = toUuid(md5(col("source").cast("binary")))
      t(s, dir, "documents").filter(col("doc_id") < 200).select(
        col("doc_id"),
        u1.as("uid"),
        (u1 === u2).as("u_eq"),
        (u1 < u2).as("u_lt"),
        (u1 > u2).as("u_gt"),
        u1.between("40000000-0000-0000-0000-000000000000",
          "80000000-0000-0000-0000-000000000000").as("u_range"))
        .orderBy("doc_id")
    },

    // numeric/decimal family (operators.c:312-330): exact DECIMAL(18,4)
    // arithmetic — add/sub/mul/div/mod, compare, round/trunc/abs/sign.
    // All arithmetic runs in decimal, but the FINAL projection is scaled
    // BIGINT (×10^scale): DECIMAL output columns hash differently across
    // the gate's two read paths (DuckDB df() → float64 vs parquet →
    // Decimal objects), while equal integers always agree. Values stay
    // exact — scaling by the type's own scale factor is lossless.
    "q_ops_decimal" -> { (s, dir) =>
      val price = col("o_totalprice").cast("decimal(18,4)")
      val key = col("o_orderkey").cast("decimal(18,4)")
      def e4(c: Column) = (c * lit(10000)).cast("long")
      t(s, dir, "orders").filter(col("o_orderkey") % 41 === 0).select(
        col("o_orderkey"),
        e4(price).as("d_val"),
        e4(price + key).as("d_add"),
        e4(price - key).as("d_sub"),
        ((price * lit(3).cast("decimal(4,2)")) * lit(1000000)).cast("long")
          .as("d_mul"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 1000000" +
          " AS BIGINT) DIV 7").as("d_div"),
        e4(pmod(price, lit(100).cast("decimal(5,1)"))).as("d_mod"),
        (price > lit(100000)).as("d_gt"),
        (round(price, 1) * lit(10)).cast("long").as("d_round"),
        e4(abs(-price)).as("d_abs"),
        signum(price).cast("int").as("d_sign"))
        .orderBy("o_orderkey")
    },

    // time family (operators.c:366-384): PG TIME has no Spark type —
    // micros-of-day as BIGINT (DEVIATIONS.md), with compare, time±interval
    // (wrapping at midnight via pmod), and extract-like accessors
    "q_ops_time" -> { (s, dir) =>
      val dayUs = 86400000000L
      val tod = pmod(unix_micros(col("ts").cast("timestamp")), lit(dayUs))
      t(s, dir, "events").filter(col("event_id") % 43 === 0).select(
        col("event_id"),
        tod.as("t_us"),
        (tod / 3600000000L).cast("long").as("t_hour"),
        pmod(tod + 90L * 60000000L, lit(dayUs)).as("t_plus90m"),
        pmod(tod - 2L * 3600000000L + dayUs, lit(dayUs)).as("t_minus2h"),
        (tod < 43200000000L).as("t_am"),
        (tod >= 64800000000L).as("t_evening"))
        .orderBy("event_id")
    },

    // temporal family (operators.c:332-440): ts/date compare, date±int,
    // ts-ts as interval (surfaced as epoch seconds), ts±interval
    "q_ops_temporal" -> { (s, dir) =>
      val o = t(s, dir, "orders").filter(col("o_orderkey") % 41 === 0)
      o.select(
        col("o_orderkey"),
        (col("o_orderdate") > lit("1998-01-01").cast("timestamp")).as("after98"),
        col("o_orderdate").cast("date").as("d"),
        date_add(col("o_orderdate").cast("date"), 30).as("d_plus30"),
        (col("o_orderdate").cast("date") - lit("1995-01-01").cast("date"))
          .cast("long").as("days_since"),
        ((col("o_orderdate").cast("timestamp").cast("long")
          - lit("1995-01-01").cast("timestamp").cast("long")))
          .as("secs_since"),
        (col("o_orderdate") + expr("INTERVAL '1-2' YEAR TO MONTH"))
          .as("plus_ym"),
        greatest(col("o_orderdate").cast("date"),
          lit("1997-06-01").cast("date")).as("g_date"))
        .orderBy("o_orderkey")
    })

  override val oracleSql: Map[String, String] = Map(
    "q_ops_int" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  l_linenumber + l_orderkey AS xw_add,
        |  l_orderkey - l_linenumber AS xw_sub,
        |  CAST(l_linenumber * 1000000 AS BIGINT) AS xw_mul,
        |  l_orderkey % l_linenumber AS xw_mod,
        |  l_linenumber < l_orderkey AS xw_lt,
        |  l_linenumber = 1 AS eq1,
        |  l_linenumber <> 1 AS ne1,
        |  -l_linenumber AS neg,
        |  abs(l_linenumber - 4) AS iabs
        |FROM lineitem WHERE l_orderkey % 53 = 0
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin,

    "q_ops_float" ->
      """SELECT vec_id,
        |  round(CAST(embedding[2] AS DOUBLE) * 2, 6) AS f_mul,
        |  round(CAST(embedding[2] AS DOUBLE) + CAST(embedding[3] AS DOUBLE), 6)
        |    AS f_add,
        |  embedding[2] > embedding[3] AS f_gt,
        |  CAST(embedding[2] AS DOUBLE) > 0.0 AS f_pos,
        |  round(-CAST(embedding[2] AS DOUBLE), 6) AS f_neg
        |FROM embeddings WHERE vec_id % 9 = 0 ORDER BY vec_id""".stripMargin,

    "q_ops_bool" ->
      """SELECT c_custkey,
        |  c_acctbal > 0 AS pos,
        |  (c_acctbal > 0) AND (c_mktsegment = 'BUILDING') AS b_and,
        |  (c_acctbal > 9000) OR (c_acctbal < 0) AS b_or,
        |  NOT (c_acctbal > 0) AS b_not,
        |  (c_acctbal > 0) = (c_acctbal > 100) AS b_eq,
        |  CAST(c_acctbal > 0 AS INT) AS b_int
        |FROM customer WHERE c_custkey % 13 = 0 ORDER BY c_custkey""".stripMargin,

    "q_ops_string" ->
      """SELECT n_nationkey, n_name,
        |  n_name < 'M' AS lt_m,
        |  n_name >= 'E' AND n_name <= 'T' AS between_et,
        |  n_name || '_' || CAST(n_regionkey AS VARCHAR) AS concatted,
        |  n_name = reverse(reverse(n_name)) AS self_eq,
        |  greatest(n_name, 'FRANCE') AS g_str,
        |  least(n_name, 'FRANCE') AS l_str
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "q_ops_bytea" ->
      """SELECT doc_id,
        |  source::BLOB = 'src1'::BLOB AS beq,
        |  source::BLOB <> lang::BLOB AS bne,
        |  lang::BLOB < source::BLOB AS blt,
        |  lang::BLOB >= 'en'::BLOB AS bge,
        |  lower(hex(lang::BLOB || source::BLOB)) AS bcat,
        |  CAST(octet_length(source::BLOB) AS BIGINT) AS blen,
        |  lower(substr(hex(source::BLOB), 3, 6)) AS bsub
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,

    "q_ops_char" ->
      """SELECT c_custkey,
        |  rpad(c_mktsegment, 12, ' ') AS ch,
        |  rtrim(rpad(c_mktsegment, 12, ' ')) = 'BUILDING' AS ch_eq,
        |  rtrim(rpad(c_mktsegment, 12, ' ')) < 'FURNITURE' AS ch_lt,
        |  CAST(length(rtrim(rpad(c_mktsegment, 12, ' '))) AS BIGINT)
        |    AS ch_len,
        |  rtrim(rpad(c_mktsegment, 12, ' ')) || '|' AS ch_cat
        |FROM customer WHERE c_custkey % 17 = 0 ORDER BY c_custkey""".stripMargin,

    "q_ops_uuid" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    concat_ws('-', substr(m1, 1, 8), substr(m1, 9, 4),
        |      substr(m1, 13, 4), substr(m1, 17, 4), substr(m1, 21, 12))
        |      AS u1,
        |    concat_ws('-', substr(m2, 1, 8), substr(m2, 9, 4),
        |      substr(m2, 13, 4), substr(m2, 17, 4), substr(m2, 21, 12))
        |      AS u2
        |  FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS m1,
        |          md5(source) AS m2
        |        FROM documents WHERE doc_id < 200))
        |SELECT doc_id, u1 AS uid,
        |  u1 = u2 AS u_eq, u1 < u2 AS u_lt, u1 > u2 AS u_gt,
        |  u1 BETWEEN '40000000-0000-0000-0000-000000000000'
        |    AND '80000000-0000-0000-0000-000000000000' AS u_range
        |FROM u ORDER BY doc_id""".stripMargin,

    "q_ops_decimal" ->
      """SELECT o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT)
        |    AS d_val,
        |  CAST((CAST(o_totalprice AS DECIMAL(18,4))
        |    + CAST(o_orderkey AS DECIMAL(18,4))) * 10000 AS BIGINT)
        |    AS d_add,
        |  CAST((CAST(o_totalprice AS DECIMAL(18,4))
        |    - CAST(o_orderkey AS DECIMAL(18,4))) * 10000 AS BIGINT)
        |    AS d_sub,
        |  CAST(CAST(CAST(o_totalprice AS DECIMAL(18,4))
        |    * CAST(3 AS DECIMAL(4,2)) AS DECIMAL(24,6)) * 1000000
        |    AS BIGINT) AS d_mul,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 1000000
        |    AS BIGINT) // 7 AS d_div,
        |  CAST((CAST(o_totalprice AS DECIMAL(18,4))
        |    % CAST(100 AS DECIMAL(5,1))) * 10000 AS BIGINT) AS d_mod,
        |  CAST(o_totalprice AS DECIMAL(18,4)) > 100000 AS d_gt,
        |  CAST(round(CAST(o_totalprice AS DECIMAL(18,4)), 1) * 10
        |    AS BIGINT) AS d_round,
        |  CAST(abs(-CAST(o_totalprice AS DECIMAL(18,4))) * 10000
        |    AS BIGINT) AS d_abs,
        |  CAST(sign(CAST(o_totalprice AS DECIMAL(18,4))) AS INT) AS d_sign
        |FROM orders WHERE o_orderkey % 41 = 0 ORDER BY o_orderkey""".stripMargin,

    "q_ops_time" ->
      """SELECT event_id,
        |  t_us,
        |  t_us // 3600000000 AS t_hour,
        |  (t_us + CAST(90 AS BIGINT) * 60000000) % 86400000000
        |    AS t_plus90m,
        |  (t_us - CAST(2 AS BIGINT) * 3600000000 + 86400000000)
        |    % 86400000000 AS t_minus2h,
        |  t_us < 43200000000 AS t_am,
        |  t_us >= 64800000000 AS t_evening
        |FROM (
        |  SELECT event_id,
        |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) % 86400000000 AS BIGINT)
        |      AS t_us
        |  FROM events WHERE event_id % 43 = 0)
        |ORDER BY event_id""".stripMargin,

    "q_ops_temporal" ->
      """SELECT o_orderkey,
        |  o_orderdate > TIMESTAMP '1998-01-01' AS after98,
        |  CAST(o_orderdate AS DATE) AS d,
        |  CAST(o_orderdate AS DATE) + 30 AS d_plus30,
        |  CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS BIGINT)
        |    AS days_since,
        |  CAST(epoch(o_orderdate) AS BIGINT)
        |    - CAST(epoch(TIMESTAMP '1995-01-01') AS BIGINT) AS secs_since,
        |  o_orderdate + INTERVAL '1 year 2 months' AS plus_ym,
        |  greatest(CAST(o_orderdate AS DATE), DATE '1997-06-01') AS g_date
        |FROM orders WHERE o_orderkey % 41 = 0 ORDER BY o_orderkey""".stripMargin)
}
