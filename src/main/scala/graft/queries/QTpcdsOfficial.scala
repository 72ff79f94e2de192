package graft.queries

import Q._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** OFFICIAL TPC-DS query texts run verbatim over a retail-shaped
  * fixture — the round-14 answer to "the data-model deltas mean the
  * official queries never run literally". The per-id *shape* coverage
  * (QTpcds..QTpcds13, 99/99) runs on the driver's TPC-H-ish tables;
  * THIS batch generates the genuine retail schema (store_sales +
  * date_dim/item/store/customer/… per the public TPC-DS spec) and runs
  * twenty-one official queries (Q3, Q7, Q13, Q19, Q21, Q34, Q42,
  * Q43, Q46, Q48, Q52, Q55, Q59, Q65, Q68, Q73, Q79, Q82, Q88, Q96,
  * Q98 — the
  * published TPC query set, the same public texts the
  * reference's pg_lake_benchmark/src/tpcds.c:30-139 runner loads)
  * unmodified: the Spark side registers the tables as views and
  * executes the official SQL; the DuckDB oracle wraps the SAME text in
  * CTEs binding each table name to the generated parquet.
  *
  * Determinism across engines (the driver hashes value reprs):
  * - every money column is a DOUBLE holding an INTEGER value, so sums
  *   are exact in any association order (< 2^53) — no float drift, no
  *   DECIMAL physical-type mismatch between the two parquet readers;
  * - every ORDER BY ... LIMIT either orders by a unique key or the
  *   group space is smaller than the limit, so the selected SET is
  *   well-defined regardless of engine sort stability.
  *
  * Fixture: ~200k store_sales rows (sf0.01-class), written once to a
  * versioned tmp dir and reused; all columns derive from row ids via
  * integer mixing, so regeneration is bit-identical.
  */
object QTpcdsOfficial extends Batch {

  // bump when the generator changes — the dir is content-versioned
  private val Version = "v15"
  def fixtureDir: String =
    s"${System.getProperty("java.io.tmpdir")}/graft-retail-$Version"

  /** Deterministic per-column pseudo-random draw: `xxhash64(salt, id)
    * mod k` — codegen'd, overflow-free under ANSI mode, reproduces
    * bit-identically everywhere. */
  private def pick(c: org.apache.spark.sql.Column, salt: Long, k: Int) =
    pmod(xxhash64(lit(salt), c), lit(k.toLong))

  val tableNames = Seq("date_dim", "item", "store", "customer",
    "customer_address", "customer_demographics",
    "household_demographics", "promotion", "time_dim", "warehouse",
    "inventory", "store_sales",
    // tri-channel extension (v5): the catalog + web channels, their
    // returns, and the channel dims the official tri-channel queries
    // join — catalog_sales/web_sales rows derive from row ids exactly
    // like store_sales; every *_returns table derives from a
    // deterministic subset of its sales table so return keys always
    // resolve (the FK discipline dsdgen guarantees)
    "catalog_sales", "web_sales", "store_returns", "catalog_returns",
    "web_returns", "call_center", "catalog_page", "web_site", "web_page",
    "ship_mode", "reason", "income_band")

  /** Build-or-reuse the retail fixture; returns the dir. Thread-safe
    * via marker file + atomic rename publish. */
  def ensure(spark: SparkSession): String = synchronized {
    val dir = java.nio.file.Paths.get(fixtureDir)
    val done = dir.resolve("_DONE")
    if (java.nio.file.Files.exists(done)) return fixtureDir
    val tmp = java.nio.file.Files.createTempDirectory(
      dir.getParent, ".graft-retail-build-")

    def write(name: String, df: DataFrame, files: Int = 1): Unit =
      df.repartition(files).write.mode("overwrite")
        .parquet(s"$tmp/$name.parquet")

    // ---- date_dim: 1998-01-01 .. 2002-12-31 (covers every query's
    // d_year/d_moy/d_month_seq parameter; month_seq 1176 = 1998-01)
    val dd = spark.range(0, 1827).select(
      (col("id") + 2450815L).as("d_date_sk"), // Julian-style offset, spec flavor
      date_add(lit(java.sql.Date.valueOf("1998-01-01")),
        col("id").cast("int")).as("d_date"))
      .withColumn("d_year", year(col("d_date")))
      .withColumn("d_moy", month(col("d_date")))
      .withColumn("d_dom", dayofmonth(col("d_date")))
      .withColumn("d_qoy", quarter(col("d_date")))
      .withColumn("d_month_seq",
        (col("d_year") - 1900) * 12 + col("d_moy") - 1)
      .withColumn("d_week_seq",
        ((col("d_date_sk") - 2450815L) / 7).cast("int") + 5112)
      .withColumn("d_day_name", date_format(col("d_date"), "EEEE"))
      .withColumn("d_quarter_name",
        concat(col("d_year").cast("string"), lit("Q"),
          col("d_qoy").cast("string")))
      .withColumn("d_dow", dayofweek(col("d_date")) - 1) // 0 = Sunday
    write("date_dim", dd)

    // ---- item: 200 items; manufact ids 101-150 (Q3's 128 ∈ range),
    // manager ids 1-30 (Q52's 1, Q19's 8, Q55's 28), brands 1-50,
    // categories 1-10, unique descs
    val catNames = array(Seq("Home", "Books", "Electronics", "Jewelry",
      "Men", "Music", "Shoes", "Sports", "Children", "Women").map(lit): _*)
    val item = spark.range(1, 201).select(
      col("id").as("i_item_sk"),
      format_string("AAAAAAAA%08dCA", col("id")).as("i_item_id"),
      format_string("item description %d unique text", col("id"))
        .as("i_item_desc"),
      format_string("product-%04d", col("id")).as("i_product_name"),
      element_at(array(Seq("Unknown", "Oz", "Bunch", "Case", "Cup",
        "Dram", "Each", "Gram", "Lb", "Ton").map(lit): _*),
        (pick(col("id"), 271, 10) + 1).cast("int")).as("i_units"),
      element_at(array(Seq("small", "medium", "large", "extra large",
        "economy", "petite", "N/A").map(lit): _*),
        (pick(col("id"), 273, 7) + 1).cast("int")).as("i_size"),
      (pick(col("id"), 11, 50) + 1).as("i_brand_id"),
      format_string("brand#%d", pick(col("id"), 11, 50) + 1).as("i_brand"),
      (pick(col("id"), 13, 50) + 101).as("i_manufact_id"),
      format_string("manufact#%d", pick(col("id"), 13, 50) + 101)
        .as("i_manufact"),
      (pick(col("id"), 17, 30) + 1).as("i_manager_id"),
      (pick(col("id"), 19, 10) + 1).as("i_category_id"),
      element_at(catNames, (pick(col("id"), 19, 10) + 1).cast("int"))
        .as("i_category"),
      format_string("class%02d", pick(col("id"), 23, 16)).as("i_class"),
      (pick(col("id"), 23, 16) + 1).as("i_class_id"), // same draw as i_class
      // round-robin over 1..99: Q21's (0.99, 1.49) band requires an
      // item priced exactly 1, which a hash draw missed entirely
      (pmod(col("id") - 1, lit(99L)) + 1).cast("double")
        .as("i_current_price"),
      (pick(col("id"), 31, 60) + 1).cast("double").as("i_wholesale_cost"),
      // colors round-robin (Q56/Q60's color triple must each be worn
      // by a deterministic nonempty item set)
      element_at(array(Seq("almond", "antique", "aquamarine", "azure",
        "beige", "bisque", "black", "blanched", "blue", "blush",
        "brown", "burlywood", "burnished", "chartreuse", "chiffon",
        "chocolate", "coral", "cornflower", "cream", "cyan").map(lit): _*),
        (pmod(col("id") - 1, lit(20L)) + 1).cast("int")).as("i_color"))
    write("item", item)

    // ---- store: 10 stores; names from the spec's syllable list so
    // Q88/Q96's s_store_name = 'ese' literal hits; half at gmt -5
    val storeNames = array(Seq("ought", "able", "pri", "ese", "anti",
      "cally", "ation", "eing", "n st", "bar").map(lit): _*)
    val counties = array(Seq("Williamson County", "Franklin Parish",
      "Bronx County", "Orange County", "Ziebach County", "Walker County",
      "Daviess County", "Barrow County").map(lit): _*)
    // each county pairs with ONE state, shared by store and
    // customer_address, so Q54's ca_county = s_county AND ca_state =
    // s_state join is satisfiable by construction
    val countyStates = array(Seq("TN", "LA", "NY", "CA", "SD", "TX",
      "KY", "GA").map(lit): _*)
    // 50 fixed 5-digit zips shared by store + address so Q8's
    // histogram has ~20 addresses per zip and store/address first-2
    // digits overlap
    val zipPrefixes = array((0 until 50)
      .map(i => lit(f"${10007 + i * 1813}%05d")): _*)
    val store = spark.range(1, 11).select(
      col("id").as("s_store_sk"),
      format_string("AAAAAAAA%08dCA", col("id")).as("s_store_id"),
      element_at(storeNames, col("id").cast("int")).as("s_store_name"),
      // round-robin, not hashed: 10 stores over 8 counties must COVER
      // the list (a hash draw left Q34's 'Williamson County' with zero
      // stores and an empty, if oracle-agreeing, gate)
      element_at(counties, (pmod(col("id") - 1, lit(8L)) + 1).cast("int"))
        .as("s_county"),
      element_at(countyStates, (pmod(col("id") - 1, lit(8L)) + 1)
        .cast("int")).as("s_state"),
      // v7: the store street-address block Q50's wide group-by carries
      lit(1L).as("s_company_id"),
      format_string("%d", pick(col("id"), 245, 900) + 100)
        .as("s_street_number"),
      element_at(array(Seq("Main", "Oak", "Park", "Elm", "Maple",
        "Cedar", "Pine", "Lake").map(lit): _*),
        (pick(col("id"), 247, 8) + 1).cast("int")).as("s_street_name"),
      element_at(array(Seq("Street", "Avenue", "Boulevard", "Court",
        "Drive", "Lane", "Road", "Way").map(lit): _*),
        (pick(col("id"), 249, 8) + 1).cast("int")).as("s_street_type"),
      format_string("Suite %d", pick(col("id"), 253, 400))
        .as("s_suite_number"),
      lit("Unknown").as("s_company_name"),
      (pick(col("id"), 277, 10) + 1).as("s_market_id"),
      element_at(zipPrefixes, (pick(col("id"), 41, 50) + 1).cast("int"))
        .as("s_zip"),
      when(pick(col("id"), 43, 2) === 0, -5.0).otherwise(-6.0)
        .as("s_gmt_offset"),
      (pick(col("id"), 47, 250) + 50).as("s_number_employees"),
      element_at(array(Seq("Midway", "Fairview", "Oak Grove",
        "Pleasant Hill", "Centerville").map(lit): _*),
        (pick(col("id"), 49, 5) + 1).cast("int")).as("s_city"))
    write("store", store)

    // ---- customer + customer_address (1000 each)
    val lastNames = array(Seq("Smith", "Johnson", "Williams", "Jones",
      "Brown", "Davis", "Miller", "Wilson", "Moore", "Taylor", "Anderson",
      "Thomas", "Jackson", "White", "Harris", "Martin").map(lit): _*)
    val firstNames = array(Seq("James", "Mary", "John", "Patricia",
      "Robert", "Jennifer", "Michael", "Linda", "William", "Elizabeth",
      "David", "Barbara", "Richard", "Susan", "Joseph", "Jessica")
      .map(lit): _*)
    val customer = spark.range(1, 1001).select(
      col("id").as("c_customer_sk"),
      element_at(firstNames, (pick(col("id"), 53, 16) + 1).cast("int"))
        .as("c_first_name"),
      element_at(lastNames, (pick(col("id"), 59, 16) + 1).cast("int"))
        .as("c_last_name"),
      when(pick(col("id"), 61, 4) === 0, "Dr.")
        .when(pick(col("id"), 61, 4) === 1, "Mr.")
        .when(pick(col("id"), 61, 4) === 2, "Ms.")
        .otherwise("Mrs.").as("c_salutation"),
      when(pick(col("id"), 67, 2) === 0, "Y").otherwise("N")
        .as("c_preferred_cust_flag"),
      (pick(col("id"), 71, 1000) + 1).as("c_current_addr_sk"),
      // v5: the customer-identity columns the year-over-year queries
      // (Q11/Q74) and the return-outlier queries (Q1/Q81) carry
      format_string("AAAAAAAA%08dCA", col("id")).as("c_customer_id"),
      element_at(array(Seq("UNITED STATES", "CANADA", "MEXICO",
        "BRAZIL", "FRANCE", "GERMANY", "JAPAN", "CHILE").map(lit): _*),
        (pick(col("id"), 227, 8) + 1).cast("int")).as("c_birth_country"),
      format_string("login%d", col("id")).as("c_login"),
      format_string("user%d@example.example.com", col("id"))
        .as("c_email_address"),
      // v7: current-demographics fks (Q69's cd join, Q91's cd+hd join)
      (pick(col("id"), 255, 70) + 1).as("c_current_cdemo_sk"),
      (pick(col("id"), 257, 300) + 1).as("c_current_hdemo_sk"),
      (pick(col("id"), 259, 28) + 1).as("c_birth_day"),
      (pick(col("id"), 261, 12) + 1).as("c_birth_month"),
      (pick(col("id"), 263, 60) + 1924).as("c_birth_year"),
      date_add(lit(java.sql.Date.valueOf("2002-01-01")),
        pick(col("id"), 267, 300).cast("int")).as("c_last_review_date"),
      (pick(col("id"), 281, 730) + 2450815L).as("c_first_sales_date_sk"),
      (pick(col("id"), 281, 730) + 2450845L)
        .as("c_first_shipto_date_sk"))
    write("customer", customer)

    val cities = array(Seq("Midway", "Fairview", "Oak Grove", "Five Points",
      "Pleasant Hill", "Centerville", "Riverside", "Salem").map(lit): _*)
    // county+state drawn as ONE pair index (same pairing as store) so
    // county↔state joins across the two tables are consistent; the 8
    // paired states keep every ca_state literal of the official texts
    // run here satisfied (TX/KY/CA/GA... appear in the pair list)
    val address = spark.range(1, 1001).select(
      col("id").as("ca_address_sk"),
      element_at(cities, (pick(col("id"), 73, 8) + 1).cast("int"))
        .as("ca_city"),
      // 5-digit zip exactly like dsdgen's (no +4 suffix): Q8 groups on
      // the RAW ca_zip column and its having-count threshold needs the
      // ~20-addresses-per-zip histogram this pool provides
      element_at(zipPrefixes, (pick(col("id"), 79, 50) + 1).cast("int"))
        .as("ca_zip"),
      element_at(countyStates, (pick(col("id"), 87, 8) + 1).cast("int"))
        .as("ca_state"),
      element_at(counties, (pick(col("id"), 87, 8) + 1).cast("int"))
        .as("ca_county"),
      lit("United States").as("ca_country"),
      // v5: the address-detail columns Q81's select list carries
      format_string("%d", pick(col("id"), 231, 900) + 100)
        .as("ca_street_number"),
      element_at(array(Seq("Main", "Oak", "Park", "Elm", "Maple",
        "Cedar", "Pine", "Lake").map(lit): _*),
        (pick(col("id"), 233, 8) + 1).cast("int")).as("ca_street_name"),
      element_at(array(Seq("Street", "Avenue", "Boulevard", "Court",
        "Drive", "Lane", "Road", "Way").map(lit): _*),
        (pick(col("id"), 237, 8) + 1).cast("int")).as("ca_street_type"),
      format_string("Suite %d", pick(col("id"), 239, 400))
        .as("ca_suite_number"),
      when(pick(col("id"), 241, 2) === 0, -5.0).otherwise(-6.0)
        .as("ca_gmt_offset"),
      element_at(array(Seq("apartment", "condo", "single family")
        .map(lit): _*), (pick(col("id"), 243, 3) + 1).cast("int"))
        .as("ca_location_type"))
    write("customer_address", address)

    // ---- customer_demographics: the spec's full cross grid
    val genders = Seq("M", "F")
    val maritals = Seq("S", "M", "D", "W", "U")
    val educations = Seq("Primary", "Secondary", "College",
      "2 yr Degree", "4 yr Degree", "Advanced Degree", "Unknown")
    val creditRatings = Seq("Low Risk", "High Risk", "Good", "Unknown")
    val cdRows = for {
      (g, gi) <- genders.zipWithIndex
      (m, mi) <- maritals.zipWithIndex
      (e, ei) <- educations.zipWithIndex
      sk = gi * 35 + mi * 7 + ei + 1L
    } yield (sk, g, m, e,
      ((sk * 7) % 20 + 1) * 500L, // purchase estimate: 500..10000
      creditRatings(((sk * 3) % 4).toInt),
      sk % 7, (sk * 3) % 7, (sk * 5) % 7) // dependent counts (Q35)
    import spark.implicits._
    write("customer_demographics", cdRows
      .toDF("cd_demo_sk", "cd_gender", "cd_marital_status",
        "cd_education_status", "cd_purchase_estimate",
        "cd_credit_rating", "cd_dep_count", "cd_dep_employed_count",
        "cd_dep_college_count"))

    // ---- household_demographics: buy-potential × deps × vehicles grid
    val buyPots = Seq(">10000", "unknown", "1001-5000", "5001-10000",
      "501-1000", "0-500")
    val hdRows = for {
      (b, bi) <- buyPots.zipWithIndex
      dep <- 0 to 9
      veh <- 0 to 4
    } yield (bi * 50 + dep * 5 + veh + 1L, b, dep.toLong, veh.toLong)
    write("household_demographics", hdRows.map { case (sk, b, d, v) =>
      (sk, b, d, v, (sk * 11) % 20 + 1) } // income band fk (Q84)
      .toDF("hd_demo_sk", "hd_buy_potential", "hd_dep_count",
        "hd_vehicle_count", "hd_income_band_sk"))
    write("income_band", spark.range(1, 21).select(
      col("id").as("ib_income_band_sk"),
      ((col("id") - 1) * 10000).as("ib_lower_bound"),
      (col("id") * 10000 - 1).as("ib_upper_bound")))

    // ---- promotion: 20; channel flags mostly N (spec skew)
    val promotion = spark.range(1, 21).select(
      col("id").as("p_promo_sk"),
      when(pick(col("id"), 89, 4) === 0, "Y").otherwise("N")
        .as("p_channel_email"),
      when(pick(col("id"), 97, 4) === 0, "Y").otherwise("N")
        .as("p_channel_event"),
      when(pick(col("id"), 99, 4) === 0, "Y").otherwise("N")
        .as("p_channel_tv"),
      when(pick(col("id"), 103, 4) === 0, "Y").otherwise("N")
        .as("p_channel_dmail"))
    write("promotion", promotion)

    // ---- time_dim: per-minute; meal-time bands for Q71's
    // breakfast/dinner split (spec: breakfast 6-9h, dinner 17-20h)
    val timeDim = spark.range(0, 1440).select(
      col("id").as("t_time_sk"),
      (col("id") * 60).as("t_time"),
      (col("id") / 60).cast("bigint").as("t_hour"),
      pmod(col("id"), lit(60L)).as("t_minute"))
      .withColumn("t_meal_time",
        when(col("t_hour").between(6, 8), "breakfast")
          .when(col("t_hour").between(17, 19), "dinner")
          .otherwise(null))
    write("time_dim", timeDim)

    // ---- warehouse + inventory: weekly per-item per-warehouse
    // quantity snapshots (the spec's weekly inventory cadence);
    // quantity as integer-valued double (HUGEINT-free sums)
    val warehouse = spark.range(1, 6).select(
      col("id").as("w_warehouse_sk"),
      format_string("Warehouse %d", col("id")).as("w_warehouse_name"),
      (pick(col("id"), 301, 900000) + 100000).as("w_warehouse_sq_ft"),
      element_at(countyStates, (pmod(col("id") - 1, lit(8L)) + 1)
        .cast("int")).as("w_state"),
      element_at(array(Seq("Midway", "Fairview", "Oak Grove",
        "Pleasant Hill", "Centerville").map(lit): _*),
        (pmod(col("id") - 1, lit(5L)) + 1).cast("int")).as("w_city"),
      element_at(counties, (pmod(col("id") - 1, lit(8L)) + 1).cast("int"))
        .as("w_county"),
      lit("United States").as("w_country"))
    write("warehouse", warehouse)
    // items 11-18 are burst-stocked: zero most weeks, a 900-unit
    // restock every 4th week (phase-staggered by item). Any month with
    // >=4 weekly snapshots then holds items whose within-month sample
    // cov lands ~2.0 — populating Q39's cov>1 cut AND Q39b's
    // cov>1.5 cut (the official template's second statement), which a
    // uniform quantity draw (cov ~0.58 expected) leaves near-empty.
    val invWeek = (col("id") / (200 * 5)).cast("bigint")
    val invItem = pmod(col("id"), lit(200L)) + 1
    val inventory = spark.range(0, 261L * 200 * 5).select(
      (invWeek * 7 + 2450815L)
        .as("inv_date_sk"), // weekly: every 7th date_sk
      invItem.as("inv_item_sk"),
      (pmod((col("id") / 200).cast("bigint"), lit(5L)) + 1)
        .as("inv_warehouse_sk"),
      when(invItem.between(11, 18),
        when(pmod(invWeek + invItem, lit(4L)) === 0, 900.0)
          .otherwise(0.0))
        .otherwise(pick(col("id"), 307, 1000).cast("double"))
        .as("inv_quantity_on_hand"))
    write("inventory", inventory, files = 4)

    // ---- store_sales: 200k rows, ~2.4 rows per ticket; every money
    // column an integer-valued double (exact sums in any order)
    val n = 200000L
    // bimodal ticket sizes per 60-id block: twenty 2-row tickets + one
    // 20-row ticket — Q73's cnt BETWEEN 1 AND 5 selects the small ones,
    // Q34's cnt BETWEEN 15 AND 20 the big ones (every non-item filter is
    // ticket-level — date/store/hdemo ride the ticket — so tickets pass
    // or drop whole and the counts stay exactly 2 / 20)
    val ss0 = spark.range(0, n)
      .withColumn("_blk", (col("id") / 60).cast("bigint"))
      .withColumn("_pos", pmod(col("id"), lit(60L)))
      .withColumn("ss_ticket_number",
        col("_blk") * 21 + when(col("_pos") < 40,
          (col("_pos") / 2).cast("bigint")).otherwise(lit(20L)))
    val ss = ss0.select(
      col("id").as("_id"), // derivation key for store_returns; dropped
      (pick(col("ss_ticket_number"), 101, 1827) + 2450815L)
        .as("ss_sold_date_sk"), // ticket-mates share one date, spec-like
      pick(col("ss_ticket_number"), 103, 1440).as("ss_sold_time_sk"),
      // skewed item popularity (min of two uniforms → density 2(1-x)):
      // tail items sell rarely, so Q65's below-10%-of-store-average
      // filter selects a real set instead of the empty one a uniform
      // draw produces
      (least(pick(col("id"), 107, 200), pick(col("id"), 211, 200)) + 1)
        .as("ss_item_sk"),
      (pick(col("ss_ticket_number"), 109, 1000) + 1).as("ss_customer_sk"),
      (pick(col("id"), 113, 70) + 1).as("ss_cdemo_sk"),
      when(pick(col("ss_ticket_number"), 403, 30) === 0, lit(null))
        .otherwise(pick(col("ss_ticket_number"), 127, 300) + 1)
        .as("ss_hdemo_sk"),
      (pick(col("ss_ticket_number"), 131, 1000) + 1).as("ss_addr_sk"),
      // ~2% of TICKETS have a null store fk (Q76's store channel);
      // ticket-level so the 2-row/20-row count purity Q34/Q73 rely on
      // survives — a null-store ticket drops WHOLE from store joins
      when(pick(col("ss_ticket_number"), 401, 50) === 0, lit(null))
        .otherwise(pick(col("ss_ticket_number"), 137, 10) + 1)
        .as("ss_store_sk"),
      (pick(col("id"), 139, 20) + 1).as("ss_promo_sk"),
      col("ss_ticket_number"),
      // quantity as an integer-valued DOUBLE like the money columns:
      // DuckDB widens sum(BIGINT) to HUGEINT (a strict-gate physical
      // mismatch); sum(double) agrees bit-exactly on both engines
      (pick(col("id"), 149, 100) + 1).cast("double").as("ss_quantity"),
      (pick(col("id"), 151, 200) + 1).cast("double").as("ss_list_price"),
      (pick(col("id"), 157, 190) + 1).cast("double").as("ss_sales_price"),
      // multiples of 50: Q54 computes cast(sum(ss_ext_sales_price)/50
      // as int) — Spark truncates double→int, DuckDB rounds, so the
      // cast must land on an exact integer for both engines to agree
      ((pick(col("id"), 163, 20000) + 1) * 50).cast("double")
        .as("ss_ext_sales_price"),
      when(pick(col("id"), 167, 5) === 0,
        (pick(col("id"), 173, 50) + 1).cast("double"))
        .otherwise(0.0).as("ss_coupon_amt"),
      (pick(col("id"), 179, 40000) + 1).cast("double")
        .as("ss_ext_list_price"),
      pick(col("id"), 181, 2000).cast("double").as("ss_ext_tax"),
      (pick(col("id"), 191, 330) + 1).cast("double").as("ss_net_profit"),
      (pick(col("id"), 193, 20000) + 1).cast("double")
        .as("ss_ext_wholesale_cost"),
      // v5 columns for Q11/Q74/Q78
      (pick(col("id"), 197, 1000) + 1).cast("double")
        .as("ss_ext_discount_amt"),
      (pick(col("id"), 199, 18000) + 1).cast("double").as("ss_net_paid"),
      (pick(col("id"), 251, 100) + 1).cast("double")
        .as("ss_wholesale_cost"))
    write("store_sales", ss.drop("_id"), files = 8)

    // ---- store_returns: a deterministic ~1/7 of store_sales lines
    // return 1..quantity units some 1-90 days later — keys copy from
    // the originating line so ticket+item+customer joins always resolve
    val maxDateSk = 2450815L + 1826
    val sr = ss.filter(pick(col("_id"), 601, 7) === 0).select(
      least(col("ss_sold_date_sk") + pick(col("_id"), 607, 90) + 1,
        lit(maxDateSk)).as("sr_returned_date_sk"),
      col("ss_item_sk").as("sr_item_sk"),
      col("ss_customer_sk").as("sr_customer_sk"),
      col("ss_cdemo_sk").as("sr_cdemo_sk"),
      col("ss_hdemo_sk").as("sr_hdemo_sk"),
      col("ss_addr_sk").as("sr_addr_sk"),
      col("ss_store_sk").as("sr_store_sk"),
      (pick(col("_id"), 613, 10) + 1).as("sr_reason_sk"),
      col("ss_ticket_number").as("sr_ticket_number"),
      (pmod(xxhash64(lit(617L), col("_id")),
        col("ss_quantity").cast("long")) + 1).cast("double")
        .as("sr_return_quantity"),
      (pick(col("_id"), 619, 18000) + 1).cast("double")
        .as("sr_return_amt"),
      pick(col("_id"), 621, 900).cast("double").as("sr_return_tax"),
      (pick(col("_id"), 623, 100) + 1).cast("double").as("sr_fee"),
      (pick(col("_id"), 625, 17000) + 1).cast("double")
        .as("sr_refunded_cash"),
      (pick(col("_id"), 627, 8000) + 1).cast("double").as("sr_net_loss"))
    write("store_returns", sr, files = 2)

    // ---- catalog_sales: 120k lines, ~3 per order; order-level draws
    // (date, customer, addr, call center) ride the order while
    // line-level draws (item, warehouse, ship lag) vary within it —
    // Q16's multi-warehouse EXISTS needs intra-order warehouse variety
    val csN = 120000L
    val cs = spark.range(0, csN)
      .withColumn("_ord", (col("id") / 3).cast("bigint"))
      .select(
        col("id").as("_id"),
        col("_ord").as("cs_order_number"),
        (pick(col("_ord"), 501, 1827) + 2450815L).as("cs_sold_date_sk"),
        pick(col("_ord"), 507, 1440).as("cs_sold_time_sk"),
        (pick(col("_ord"), 501, 1827) + 2450815L +
          pick(col("id"), 503, 120) + 1).as("cs_ship_date_sk"),
        (pick(col("_ord"), 509, 1000) + 1).as("cs_bill_customer_sk"),
        (pick(col("_ord"), 511, 70) + 1).as("cs_bill_cdemo_sk"),
        (pick(col("_ord"), 515, 300) + 1).as("cs_bill_hdemo_sk"),
        (pick(col("_ord"), 513, 1000) + 1).as("cs_bill_addr_sk"),
        (pick(col("_ord"), 517, 1000) + 1).as("cs_ship_customer_sk"),
        // ~2.4% of orders ship to a null address (Q76 catalog channel)
        when(pick(col("_ord"), 519, 41) === 0, lit(null))
          .otherwise(pick(col("_ord"), 521, 1000) + 1)
          .as("cs_ship_addr_sk"),
        (pick(col("_ord"), 523, 5) + 1).as("cs_call_center_sk"),
        (pick(col("id"), 527, 20) + 1).as("cs_catalog_page_sk"),
        (pick(col("id"), 529, 10) + 1).as("cs_ship_mode_sk"),
        (pick(col("id"), 531, 5) + 1).as("cs_warehouse_sk"),
        (least(pick(col("id"), 537, 200), pick(col("id"), 541, 200)) + 1)
          .as("cs_item_sk"),
        // ~30% of lines carry no promotion (Q72's no_promo split)
        when(pick(col("id"), 1543, 10) < 3, lit(null))
          .otherwise(pick(col("id"), 543, 20) + 1).as("cs_promo_sk"),
        (pick(col("id"), 547, 100) + 1).cast("double").as("cs_quantity"),
        (pick(col("id"), 551, 100) + 1).cast("double")
          .as("cs_wholesale_cost"),
        (pick(col("id"), 553, 200) + 1).cast("double").as("cs_list_price"),
        (pick(col("id"), 557, 190) + 1).cast("double").as("cs_sales_price"),
        (pick(col("id"), 561, 1000) + 1).cast("double")
          .as("cs_ext_discount_amt"),
        (pick(col("id"), 563, 20000) + 1).cast("double")
          .as("cs_ext_sales_price"),
        (pick(col("id"), 567, 20000) + 1).cast("double")
          .as("cs_ext_wholesale_cost"),
        (pick(col("id"), 571, 40000) + 1).cast("double")
          .as("cs_ext_list_price"),
        pick(col("id"), 573, 2000).cast("double").as("cs_ext_tax"),
        when(pick(col("id"), 577, 5) === 0,
          (pick(col("id"), 579, 50) + 1).cast("double"))
          .otherwise(0.0).as("cs_coupon_amt"),
        (pick(col("id"), 581, 500) + 1).cast("double")
          .as("cs_ext_ship_cost"),
        (pick(col("id"), 583, 18000) + 1).cast("double").as("cs_net_paid"),
        (pick(col("id"), 587, 330) + 1).cast("double")
          .as("cs_net_profit"))
    write("catalog_sales", cs.drop("_id"), files = 6)

    // ---- catalog_returns: ~1/8 of catalog lines; order+item keys copy
    val cr = cs.filter(pick(col("_id"), 641, 8) === 0).select(
      least(col("cs_sold_date_sk") + pick(col("_id"), 643, 90) + 1,
        lit(maxDateSk)).as("cr_returned_date_sk"),
      col("cs_item_sk").as("cr_item_sk"),
      col("cs_order_number").as("cr_order_number"),
      col("cs_bill_customer_sk").as("cr_returning_customer_sk"),
      col("cs_bill_addr_sk").as("cr_returning_addr_sk"),
      col("cs_call_center_sk").as("cr_call_center_sk"),
      col("cs_catalog_page_sk").as("cr_catalog_page_sk"),
      (pick(col("_id"), 647, 10) + 1).as("cr_reason_sk"),
      (pmod(xxhash64(lit(653L), col("_id")),
        col("cs_quantity").cast("long")) + 1).cast("double")
        .as("cr_return_quantity"),
      (pick(col("_id"), 657, 18000) + 1).cast("double")
        .as("cr_return_amount"),
      (pick(col("_id"), 659, 19000) + 1).cast("double")
        .as("cr_return_amt_inc_tax"),
      // refund split sized so sum(sale) > 2*sum(refund) holds for most
      // items (Q64's cs_ui HAVING selects the typical case, not a
      // 1.5%-tail): E[refund] ~= 5000 vs E[cs_ext_list_price] ~= 20000
      (pick(col("_id"), 661, 8000) + 1).cast("double")
        .as("cr_refunded_cash"),
      (pick(col("_id"), 665, 1000) + 1).cast("double")
        .as("cr_reversed_charge"),
      (pick(col("_id"), 667, 1000) + 1).cast("double")
        .as("cr_store_credit"),
      (pick(col("_id"), 663, 8000) + 1).cast("double").as("cr_net_loss"))
    write("catalog_returns", cr, files = 2)

    // ---- web_sales: 80k lines, ~3 per order
    val wsN = 80000L
    val ws = spark.range(0, wsN)
      .withColumn("_ord", (col("id") / 3).cast("bigint"))
      .select(
        col("id").as("_id"),
        col("_ord").as("ws_order_number"),
        (pick(col("_ord"), 701, 1827) + 2450815L).as("ws_sold_date_sk"),
        pick(col("_ord"), 707, 1440).as("ws_sold_time_sk"),
        (pick(col("_ord"), 701, 1827) + 2450815L +
          pick(col("id"), 703, 120) + 1).as("ws_ship_date_sk"),
        (least(pick(col("id"), 711, 200), pick(col("id"), 713, 200)) + 1)
          .as("ws_item_sk"),
        (pick(col("_ord"), 717, 1000) + 1).as("ws_bill_customer_sk"),
        (pick(col("_ord"), 719, 70) + 1).as("ws_bill_cdemo_sk"),
        (pick(col("_ord"), 721, 1000) + 1).as("ws_bill_addr_sk"),
        // ~2.7% of orders have a null ship-to customer (Q76 web channel)
        when(pick(col("_ord"), 723, 37) === 0, lit(null))
          .otherwise(pick(col("_ord"), 727, 1000) + 1)
          .as("ws_ship_customer_sk"),
        (pick(col("_ord"), 729, 1000) + 1).as("ws_ship_addr_sk"),
        (pick(col("id"), 731, 10) + 1).as("ws_web_page_sk"),
        (pick(col("_ord"), 735, 300) + 1).as("ws_ship_hdemo_sk"),
        (pick(col("_ord"), 733, 5) + 1).as("ws_web_site_sk"),
        (pick(col("id"), 737, 10) + 1).as("ws_ship_mode_sk"),
        (pick(col("id"), 739, 5) + 1).as("ws_warehouse_sk"),
        (pick(col("id"), 741, 20) + 1).as("ws_promo_sk"),
        (pick(col("id"), 743, 100) + 1).cast("double").as("ws_quantity"),
        (pick(col("id"), 747, 100) + 1).cast("double")
          .as("ws_wholesale_cost"),
        (pick(col("id"), 751, 200) + 1).cast("double").as("ws_list_price"),
        (pick(col("id"), 753, 190) + 1).cast("double").as("ws_sales_price"),
        (pick(col("id"), 757, 1000) + 1).cast("double")
          .as("ws_ext_discount_amt"),
        (pick(col("id"), 759, 20000) + 1).cast("double")
          .as("ws_ext_sales_price"),
        (pick(col("id"), 761, 20000) + 1).cast("double")
          .as("ws_ext_wholesale_cost"),
        (pick(col("id"), 763, 40000) + 1).cast("double")
          .as("ws_ext_list_price"),
        (pick(col("id"), 767, 500) + 1).cast("double")
          .as("ws_ext_ship_cost"),
        (pick(col("id"), 769, 18000) + 1).cast("double").as("ws_net_paid"),
        (pick(col("id"), 771, 330) + 1).cast("double")
          .as("ws_net_profit"))
    write("web_sales", ws.drop("_id"), files = 4)

    // ---- web_returns: ~1/9 of web lines; the refunded and returning
    // cdemo are the SAME person (the realistic case and what makes
    // Q85's cd1≡cd2 attribute-equality join satisfiable)
    val wr = ws.filter(pick(col("_id"), 801, 9) === 0).select(
      least(col("ws_sold_date_sk") + pick(col("_id"), 803, 90) + 1,
        lit(maxDateSk)).as("wr_returned_date_sk"),
      col("ws_item_sk").as("wr_item_sk"),
      col("ws_order_number").as("wr_order_number"),
      col("ws_bill_customer_sk").as("wr_returning_customer_sk"),
      (pick(col("_id"), 807, 70) + 1).as("wr_refunded_cdemo_sk"),
      (pick(col("_id"), 807, 70) + 1).as("wr_returning_cdemo_sk"),
      (pick(col("_id"), 809, 1000) + 1).as("wr_refunded_addr_sk"),
      (pick(col("_id"), 815, 1000) + 1).as("wr_returning_addr_sk"),
      col("ws_web_page_sk").as("wr_web_page_sk"),
      (pick(col("_id"), 811, 10) + 1).as("wr_reason_sk"),
      (pmod(xxhash64(lit(813L), col("_id")),
        col("ws_quantity").cast("long")) + 1).cast("double")
        .as("wr_return_quantity"),
      (pick(col("_id"), 817, 18000) + 1).cast("double")
        .as("wr_return_amt"),
      (pick(col("_id"), 819, 100) + 1).cast("double").as("wr_fee"),
      (pick(col("_id"), 821, 17000) + 1).cast("double")
        .as("wr_refunded_cash"),
      (pick(col("_id"), 823, 8000) + 1).cast("double").as("wr_net_loss"))
    write("web_returns", wr, files = 2)

    // ---- channel dims
    val ccNames = array(Seq("NY Metro", "Mid Atlantic", "North Midwest",
      "California", "Pacific Northwest").map(lit): _*)
    write("call_center", spark.range(1, 6).select(
      col("id").as("cc_call_center_sk"),
      format_string("AAAAAAAA%08dCA", col("id")).as("cc_call_center_id"),
      element_at(ccNames, col("id").cast("int")).as("cc_name"),
      element_at(lastNames, (pick(col("id"), 831, 16) + 1).cast("int"))
        .as("cc_manager"),
      element_at(counties, (pmod(col("id") - 1, lit(8L)) + 1).cast("int"))
        .as("cc_county")))
    write("catalog_page", spark.range(1, 21).select(
      col("id").as("cp_catalog_page_sk"),
      format_string("AAAAAAAA%08dCA", col("id")).as("cp_catalog_page_id")))
    // web_company_name round-robins the syllable list so Q94's
    // literal 'pri' names a real site
    write("web_site", spark.range(1, 6).select(
      col("id").as("web_site_sk"),
      format_string("AAAAAAAA%08dCA", col("id")).as("web_site_id"),
      format_string("site_%d", col("id") - 1).as("web_name"),
      element_at(storeNames, (pmod(col("id") - 1, lit(10L)) + 1)
        .cast("int")).as("web_company_name")))
    write("web_page", spark.range(1, 11).select(
      col("id").as("wp_web_page_sk"),
      format_string("AAAAAAAA%08dCA", col("id")).as("wp_web_page_id"),
      (pick(col("id"), 279, 60) * 100 + 100).as("wp_char_count")))
    val smTypes = array(Seq("EXPRESS", "NEXT DAY", "OVERNIGHT",
      "REGULAR", "TWO DAY").map(lit): _*)
    val smCarriers = array(Seq("UPS", "FEDEX", "AIRBORNE", "USPS",
      "DHL").map(lit): _*)
    write("ship_mode", spark.range(1, 11).select(
      col("id").as("sm_ship_mode_sk"),
      element_at(smTypes, (pmod(col("id") - 1, lit(5L)) + 1).cast("int"))
        .as("sm_type"),
      element_at(smCarriers, (pick(col("id"), 837, 5) + 1).cast("int"))
        .as("sm_carrier"),
      format_string("code%d", col("id")).as("sm_code")))
    write("reason", spark.range(1, 11).select(
      col("id").as("r_reason_sk"),
      format_string("reason %d", col("id")).as("r_reason_desc")))

    java.nio.file.Files.createFile(tmp.resolve("_DONE"))
    try java.nio.file.Files.move(tmp, dir,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch { case _: Exception => // lost the race — winner's build serves
      val s = java.nio.file.Files.walk(tmp)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally s.close()
    }
    fixtureDir
  }

  // ------------------------------------------------ official texts
  // The published TPC-DS benchmark queries (TPC specification, public),
  // qualification-parameter substitutions per the spec's defaults.

  private val q3 = """
select dt.d_year, item.i_brand_id brand_id, item.i_brand brand,
       sum(ss_ext_sales_price) sum_agg
from date_dim dt, store_sales, item
where dt.d_date_sk = store_sales.ss_sold_date_sk
  and store_sales.ss_item_sk = item.i_item_sk
  and item.i_manufact_id = 128
  and dt.d_moy = 11
group by dt.d_year, item.i_brand_id, item.i_brand
order by dt.d_year, sum_agg desc, brand_id
limit 100"""

  private val q7 = """
select i_item_id,
       avg(ss_quantity) agg1,
       avg(ss_list_price) agg2,
       avg(ss_coupon_amt) agg3,
       avg(ss_sales_price) agg4
from store_sales, customer_demographics, date_dim, item, promotion
where ss_sold_date_sk = d_date_sk and
      ss_item_sk = i_item_sk and
      ss_cdemo_sk = cd_demo_sk and
      ss_promo_sk = p_promo_sk and
      cd_gender = 'M' and
      cd_marital_status = 'S' and
      cd_education_status = 'College' and
      (p_channel_email = 'N' or p_channel_event = 'N') and
      d_year = 2000
group by i_item_id
order by i_item_id
limit 100"""

  private val q19 = """
select i_brand_id brand_id, i_brand brand, i_manufact_id, i_manufact,
       sum(ss_ext_sales_price) ext_price
from date_dim, store_sales, item, customer, customer_address, store
where d_date_sk = ss_sold_date_sk
  and ss_item_sk = i_item_sk
  and i_manager_id = 8
  and d_moy = 11
  and d_year = 1998
  and ss_customer_sk = c_customer_sk
  and c_current_addr_sk = ca_address_sk
  and substr(ca_zip,1,5) <> substr(s_zip,1,5)
  and ss_store_sk = s_store_sk
group by i_brand, i_brand_id, i_manufact_id, i_manufact
order by ext_price desc, i_brand, i_brand_id, i_manufact_id, i_manufact
limit 100"""

  private val q43 = """
select s_store_name, s_store_id,
       sum(case when (d_day_name='Sunday') then ss_sales_price else null end) sun_sales,
       sum(case when (d_day_name='Monday') then ss_sales_price else null end) mon_sales,
       sum(case when (d_day_name='Tuesday') then ss_sales_price else null end) tue_sales,
       sum(case when (d_day_name='Wednesday') then ss_sales_price else null end) wed_sales,
       sum(case when (d_day_name='Thursday') then ss_sales_price else null end) thu_sales,
       sum(case when (d_day_name='Friday') then ss_sales_price else null end) fri_sales,
       sum(case when (d_day_name='Saturday') then ss_sales_price else null end) sat_sales
from date_dim, store_sales, store
where d_date_sk = ss_sold_date_sk and
      s_store_sk = ss_store_sk and
      s_gmt_offset = -5 and
      d_year = 2000
group by s_store_name, s_store_id
order by s_store_name, s_store_id, sun_sales, mon_sales, tue_sales,
         wed_sales, thu_sales, fri_sales, sat_sales
limit 100"""

  private val q52 = """
select dt.d_year, item.i_brand_id brand_id, item.i_brand brand,
       sum(ss_ext_sales_price) ext_price
from date_dim dt, store_sales, item
where dt.d_date_sk = store_sales.ss_sold_date_sk
  and store_sales.ss_item_sk = item.i_item_sk
  and item.i_manager_id = 1
  and dt.d_moy = 11
  and dt.d_year = 2000
group by dt.d_year, item.i_brand, item.i_brand_id
order by dt.d_year, ext_price desc, brand_id
limit 100"""

  private val q55 = """
select i_brand_id brand_id, i_brand brand, sum(ss_ext_sales_price) ext_price
from date_dim, store_sales, item
where d_date_sk = ss_sold_date_sk
  and ss_item_sk = i_item_sk
  and i_manager_id = 28
  and d_moy = 11
  and d_year = 1999
group by i_brand, i_brand_id
order by ext_price desc, i_brand_id
limit 100"""

  private val q65 = """
select s_store_name, i_item_desc, sc.revenue, i_current_price,
       i_wholesale_cost, i_brand
from store, item,
     (select ss_store_sk, avg(revenue) as ave
      from
          (select ss_store_sk, ss_item_sk, sum(ss_sales_price) as revenue
           from store_sales, date_dim
           where ss_sold_date_sk = d_date_sk
             and d_month_seq between 1176 and 1176+11
           group by ss_store_sk, ss_item_sk) sa
      group by ss_store_sk) sb,
     (select ss_store_sk, ss_item_sk, sum(ss_sales_price) as revenue
      from store_sales, date_dim
      where ss_sold_date_sk = d_date_sk
        and d_month_seq between 1176 and 1176+11
      group by ss_store_sk, ss_item_sk) sc
where sb.ss_store_sk = sc.ss_store_sk and
      sc.revenue <= 0.1 * sb.ave and
      s_store_sk = sc.ss_store_sk and
      i_item_sk = sc.ss_item_sk
order by s_store_name, i_item_desc
limit 100"""

  private val q73 = """
select c_last_name, c_first_name, c_salutation, c_preferred_cust_flag,
       ss_ticket_number, cnt
from
  (select ss_ticket_number, ss_customer_sk, count(*) cnt
   from store_sales, date_dim, store, household_demographics
   where store_sales.ss_sold_date_sk = date_dim.d_date_sk
     and store_sales.ss_store_sk = store.s_store_sk
     and store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
     and date_dim.d_dom between 1 and 2
     and (household_demographics.hd_buy_potential = '>10000' or
          household_demographics.hd_buy_potential = 'unknown')
     and household_demographics.hd_vehicle_count > 0
     and case when household_demographics.hd_vehicle_count > 0 then
              household_demographics.hd_dep_count /
              household_demographics.hd_vehicle_count
         else null end > 1
     and date_dim.d_year in (1999, 1999+1, 1999+2)
     and store.s_county in ('Williamson County', 'Franklin Parish',
                            'Bronx County', 'Orange County')
   group by ss_ticket_number, ss_customer_sk) dj, customer
where ss_customer_sk = c_customer_sk
  and cnt between 1 and 5
order by cnt desc, c_last_name asc"""

  private def q88Slot(alias: String, hour: Int, minCmp: String,
      dep1: Int, dep2: Int, dep3: Int) = s"""
 (select count(*) $alias
  from store_sales, household_demographics, time_dim, store
  where ss_sold_time_sk = time_dim.t_time_sk
    and ss_hdemo_sk = household_demographics.hd_demo_sk
    and ss_store_sk = s_store_sk
    and time_dim.t_hour = $hour
    and time_dim.t_minute $minCmp 30
    and ((household_demographics.hd_dep_count = $dep1 and household_demographics.hd_vehicle_count<=$dep1+2) or
         (household_demographics.hd_dep_count = $dep2 and household_demographics.hd_vehicle_count<=$dep2+2) or
         (household_demographics.hd_dep_count = $dep3 and household_demographics.hd_vehicle_count<=$dep3+2))
    and store.s_store_name = 'ese')"""

  private val q88 = "select *\nfrom" +
    Seq(
      q88Slot("h8_30_to_9", 8, ">=", 4, 2, 0) + " s1",
      q88Slot("h9_to_9_30", 9, "<", 4, 2, 0) + " s2",
      q88Slot("h9_30_to_10", 9, ">=", 4, 2, 0) + " s3",
      q88Slot("h10_to_10_30", 10, "<", 4, 2, 0) + " s4",
      q88Slot("h10_30_to_11", 10, ">=", 4, 2, 0) + " s5",
      q88Slot("h11_to_11_30", 11, "<", 4, 2, 0) + " s6",
      q88Slot("h11_30_to_12", 11, ">=", 4, 2, 0) + " s7",
      q88Slot("h12_to_12_30", 12, "<", 4, 2, 0) + " s8").mkString(",")

  private val q96 = """
select count(*)
from store_sales, household_demographics, time_dim, store
where ss_sold_time_sk = time_dim.t_time_sk
  and ss_hdemo_sk = household_demographics.hd_demo_sk
  and ss_store_sk = s_store_sk
  and time_dim.t_hour = 20
  and time_dim.t_minute >= 30
  and household_demographics.hd_dep_count = 7
  and store.s_store_name = 'ese'
order by count(*)
limit 100"""

  private val q13 = """
select avg(ss_quantity), avg(ss_ext_sales_price),
       avg(ss_ext_wholesale_cost), sum(ss_ext_wholesale_cost)
from store_sales, store, customer_demographics,
     household_demographics, customer_address, date_dim
where s_store_sk = ss_store_sk
and ss_sold_date_sk = d_date_sk and d_year = 2001
and((ss_hdemo_sk=hd_demo_sk
  and cd_demo_sk = ss_cdemo_sk
  and cd_marital_status = 'M'
  and cd_education_status = 'Advanced Degree'
  and ss_sales_price between 100.00 and 150.00
  and hd_dep_count = 3
     )or
     (ss_hdemo_sk=hd_demo_sk
  and cd_demo_sk = ss_cdemo_sk
  and cd_marital_status = 'S'
  and cd_education_status = 'College'
  and ss_sales_price between 50.00 and 100.00
  and hd_dep_count = 1
     ) or
     (ss_hdemo_sk=hd_demo_sk
  and cd_demo_sk = ss_cdemo_sk
  and cd_marital_status = 'W'
  and cd_education_status = '2 yr Degree'
  and ss_sales_price between 150.00 and 200.00
  and hd_dep_count = 1
     ))
and((ss_addr_sk = ca_address_sk
  and ca_country = 'United States'
  and ca_state in ('TX', 'OH', 'TX')
  and ss_net_profit between 100 and 200
     ) or
     (ss_addr_sk = ca_address_sk
  and ca_country = 'United States'
  and ca_state in ('OR', 'NM', 'KY')
  and ss_net_profit between 150 and 300
     ) or
     (ss_addr_sk = ca_address_sk
  and ca_country = 'United States'
  and ca_state in ('VA', 'TX', 'MS')
  and ss_net_profit between 50 and 250
     ))"""

  private val q34 = """
select c_last_name, c_first_name, c_salutation, c_preferred_cust_flag,
       ss_ticket_number, cnt
from
  (select ss_ticket_number, ss_customer_sk, count(*) cnt
   from store_sales, date_dim, store, household_demographics
   where store_sales.ss_sold_date_sk = date_dim.d_date_sk
     and store_sales.ss_store_sk = store.s_store_sk
     and store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
     and (date_dim.d_dom between 1 and 3 or date_dim.d_dom between 25 and 28)
     and (household_demographics.hd_buy_potential = '>10000' or
          household_demographics.hd_buy_potential = 'unknown')
     and household_demographics.hd_vehicle_count > 0
     and (case when household_demographics.hd_vehicle_count > 0
          then household_demographics.hd_dep_count /
               household_demographics.hd_vehicle_count
          else null end) > 1.2
     and date_dim.d_year in (1999, 1999+1, 1999+2)
     and store.s_county in ('Williamson County','Williamson County',
                            'Williamson County','Williamson County',
                            'Williamson County','Williamson County',
                            'Williamson County','Williamson County')
   group by ss_ticket_number, ss_customer_sk) dn, customer
where ss_customer_sk = c_customer_sk
  and cnt between 15 and 20
order by c_last_name, c_first_name, c_salutation,
         c_preferred_cust_flag desc, ss_ticket_number"""

  private val q42 = """
select dt.d_year, item.i_category_id, item.i_category,
       sum(ss_ext_sales_price)
from date_dim dt, store_sales, item
where dt.d_date_sk = store_sales.ss_sold_date_sk
  and store_sales.ss_item_sk = item.i_item_sk
  and item.i_manager_id = 1
  and dt.d_moy = 11
  and dt.d_year = 2000
group by dt.d_year, item.i_category_id, item.i_category
order by sum(ss_ext_sales_price) desc, dt.d_year,
         item.i_category_id, item.i_category
limit 100"""

  private val q46 = """
select c_last_name, c_first_name, ca_city, bought_city,
       ss_ticket_number, amt, profit
from
  (select ss_ticket_number, ss_customer_sk, ca_city bought_city,
          sum(ss_coupon_amt) amt, sum(ss_net_profit) profit
   from store_sales, date_dim, store, household_demographics,
        customer_address
   where store_sales.ss_sold_date_sk = date_dim.d_date_sk
     and store_sales.ss_store_sk = store.s_store_sk
     and store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
     and store_sales.ss_addr_sk = customer_address.ca_address_sk
     and (household_demographics.hd_dep_count = 4 or
          household_demographics.hd_vehicle_count = 3)
     and date_dim.d_dow in (6, 0)
     and date_dim.d_year in (1999, 1999+1, 1999+2)
     and store.s_city in ('Fairview','Midway','Fairview','Fairview',
                          'Fairview')
   group by ss_ticket_number, ss_customer_sk, ss_addr_sk, ca_city) dn,
  customer, customer_address current_addr
where ss_customer_sk = c_customer_sk
  and customer.c_current_addr_sk = current_addr.ca_address_sk
  and current_addr.ca_city <> bought_city
order by c_last_name, c_first_name, ca_city, bought_city,
         ss_ticket_number
limit 100"""

  private val q48 = """
select sum (ss_quantity)
from store_sales, store, customer_demographics, customer_address,
     date_dim
where s_store_sk = ss_store_sk
and ss_sold_date_sk = d_date_sk and d_year = 2000
and
(
 (cd_demo_sk = ss_cdemo_sk
  and cd_marital_status = 'M'
  and cd_education_status = '4 yr Degree'
  and ss_sales_price between 100.00 and 150.00)
 or
 (cd_demo_sk = ss_cdemo_sk
  and cd_marital_status = 'D'
  and cd_education_status = '2 yr Degree'
  and ss_sales_price between 50.00 and 100.00)
 or
 (cd_demo_sk = ss_cdemo_sk
  and cd_marital_status = 'S'
  and cd_education_status = 'College'
  and ss_sales_price between 150.00 and 200.00)
)
and
(
 (ss_addr_sk = ca_address_sk
  and ca_country = 'United States'
  and ca_state in ('CO', 'OH', 'TX')
  and ss_net_profit between 0 and 2000)
 or
 (ss_addr_sk = ca_address_sk
  and ca_country = 'United States'
  and ca_state in ('OR', 'MN', 'KY')
  and ss_net_profit between 150 and 3000)
 or
 (ss_addr_sk = ca_address_sk
  and ca_country = 'United States'
  and ca_state in ('VA', 'CA', 'MS')
  and ss_net_profit between 50 and 25000)
)"""

  private val q59 = """
with wss as
 (select d_week_seq, ss_store_sk,
        sum(case when (d_day_name='Sunday') then ss_sales_price else null end) sun_sales,
        sum(case when (d_day_name='Monday') then ss_sales_price else null end) mon_sales,
        sum(case when (d_day_name='Tuesday') then ss_sales_price else null end) tue_sales,
        sum(case when (d_day_name='Wednesday') then ss_sales_price else null end) wed_sales,
        sum(case when (d_day_name='Thursday') then ss_sales_price else null end) thu_sales,
        sum(case when (d_day_name='Friday') then ss_sales_price else null end) fri_sales,
        sum(case when (d_day_name='Saturday') then ss_sales_price else null end) sat_sales
 from store_sales, date_dim
 where d_date_sk = ss_sold_date_sk
 group by d_week_seq, ss_store_sk
 )
select s_store_name1, s_store_id1, d_week_seq1,
       sun_sales1/sun_sales2, mon_sales1/mon_sales2,
       tue_sales1/tue_sales2, wed_sales1/wed_sales2,
       thu_sales1/thu_sales2, fri_sales1/fri_sales2,
       sat_sales1/sat_sales2
from
 (select s_store_name s_store_name1, wss.d_week_seq d_week_seq1,
         s_store_id s_store_id1, sun_sales sun_sales1,
         mon_sales mon_sales1, tue_sales tue_sales1,
         wed_sales wed_sales1, thu_sales thu_sales1,
         fri_sales fri_sales1, sat_sales sat_sales1
  from wss, store, date_dim d
  where d.d_week_seq = wss.d_week_seq and
        ss_store_sk = s_store_sk and
        d_month_seq between 1212 and 1212 + 11
 ) y,
 (select s_store_name s_store_name2, wss.d_week_seq d_week_seq2,
         s_store_id s_store_id2, sun_sales sun_sales2,
         mon_sales mon_sales2, tue_sales tue_sales2,
         wed_sales wed_sales2, thu_sales thu_sales2,
         fri_sales fri_sales2, sat_sales sat_sales2
  from wss, store, date_dim d
  where d.d_week_seq = wss.d_week_seq and
        ss_store_sk = s_store_sk and
        d_month_seq between 1212 + 12 and 1212 + 23
 ) x
where s_store_id1 = s_store_id2
  and d_week_seq1 = d_week_seq2 - 52
order by s_store_name1, s_store_id1, d_week_seq1
limit 100"""

  private val q68 = """
select c_last_name, c_first_name, ca_city, bought_city,
       ss_ticket_number, extended_price, extended_tax, list_price
from (select ss_ticket_number, ss_customer_sk, ca_city bought_city,
        sum(ss_ext_sales_price) extended_price,
        sum(ss_ext_list_price) list_price,
        sum(ss_ext_tax) extended_tax
      from store_sales, date_dim, store, household_demographics,
           customer_address
      where store_sales.ss_sold_date_sk = date_dim.d_date_sk
        and store_sales.ss_store_sk = store.s_store_sk
        and store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
        and store_sales.ss_addr_sk = customer_address.ca_address_sk
        and date_dim.d_dom between 1 and 2
        and (household_demographics.hd_dep_count = 4 or
             household_demographics.hd_vehicle_count = 3)
        and date_dim.d_year in (1999, 1999+1, 1999+2)
        and store.s_city in ('Midway','Fairview')
      group by ss_ticket_number, ss_customer_sk, ss_addr_sk, ca_city) dn,
     customer, customer_address current_addr
where ss_customer_sk = c_customer_sk
  and customer.c_current_addr_sk = current_addr.ca_address_sk
  and current_addr.ca_city <> bought_city
order by c_last_name, ss_ticket_number
limit 100"""

  private val q79 = """
select c_last_name, c_first_name, substr(s_city,1,30),
       ss_ticket_number, amt, profit
from
  (select ss_ticket_number, ss_customer_sk, store.s_city,
          sum(ss_coupon_amt) amt, sum(ss_net_profit) profit
   from store_sales, date_dim, store, household_demographics
   where store_sales.ss_sold_date_sk = date_dim.d_date_sk
     and store_sales.ss_store_sk = store.s_store_sk
     and store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
     and (household_demographics.hd_dep_count = 6 or
          household_demographics.hd_vehicle_count > 2)
     and date_dim.d_dow = 1
     and date_dim.d_year in (1998, 1998+1, 1998+2)
     and store.s_number_employees between 200 and 295
   group by ss_ticket_number, ss_customer_sk, ss_addr_sk,
            store.s_city) ms, customer
where ss_customer_sk = c_customer_sk
order by c_last_name, c_first_name, substr(s_city,1,30), profit
limit 100"""

  private val q98 = """
select i_item_id, i_item_desc, i_category, i_class, i_current_price,
       sum(ss_ext_sales_price) as itemrevenue,
       sum(ss_ext_sales_price)*100/sum(sum(ss_ext_sales_price)) over
         (partition by i_class) as revenueratio
from store_sales, item, date_dim
where ss_item_sk = i_item_sk
  and i_category in ('Sports', 'Books', 'Home')
  and ss_sold_date_sk = d_date_sk
  and d_date between cast('1999-02-22' as date)
                 and (cast('1999-02-22' as date) + interval 30 day)
group by i_item_id, i_item_desc, i_category, i_class, i_current_price
order by i_category, i_class, i_item_id, i_item_desc, revenueratio"""

  private val q21 = """
select w_warehouse_name, i_item_id,
       sum(case when (cast(d_date as date) < cast('2000-03-11' as date))
                then inv_quantity_on_hand else 0 end) as inv_before,
       sum(case when (cast(d_date as date) >= cast('2000-03-11' as date))
                then inv_quantity_on_hand else 0 end) as inv_after
from inventory, warehouse, item, date_dim
where i_current_price between 0.99 and 1.49
  and i_item_sk = inv_item_sk
  and inv_warehouse_sk = w_warehouse_sk
  and inv_date_sk = d_date_sk
  and d_date between (cast('2000-03-11' as date) - interval 30 day)
                 and (cast('2000-03-11' as date) + interval 30 day)
group by w_warehouse_name, i_item_id
having (case when inv_before > 0
        then inv_after / inv_before
        else null end) between 2.0/3.0 and 3.0/2.0
order by w_warehouse_name, i_item_id
limit 100"""

  private val q82 = """
select i_item_id, i_item_desc, i_current_price
from item, inventory, date_dim, store_sales
where i_current_price between 62 and 62+30
  and inv_item_sk = i_item_sk
  and d_date_sk = inv_date_sk
  and d_date between cast('2000-05-25' as date)
                 and (cast('2000-05-25' as date) + interval 60 day)
  and i_manufact_id in (129, 270, 821, 423)
  and inv_quantity_on_hand between 100 and 500
  and ss_item_sk = i_item_sk
group by i_item_id, i_item_desc, i_current_price
order by i_item_id
limit 100"""

  private val texts: Map[String, String] = Map(
    "qds_official_q3" -> q3, "qds_official_q7" -> q7,
    "qds_official_q13" -> q13, "qds_official_q19" -> q19,
    "qds_official_q21" -> q21,
    "qds_official_q34" -> q34, "qds_official_q42" -> q42,
    "qds_official_q43" -> q43, "qds_official_q46" -> q46,
    "qds_official_q48" -> q48, "qds_official_q52" -> q52,
    "qds_official_q55" -> q55, "qds_official_q59" -> q59,
    "qds_official_q65" -> q65, "qds_official_q68" -> q68,
    "qds_official_q73" -> q73, "qds_official_q79" -> q79,
    "qds_official_q82" -> q82,
    "qds_official_q88" -> q88, "qds_official_q96" -> q96,
    "qds_official_q98" -> q98)

  /** Output-column renames for texts whose SELECT list carries a bare
    * aggregate (parquet cannot store `count(*)` as a column name);
    * applied identically on both engines AFTER the official text runs. */
  private val renames: Map[String, Seq[String]] = Map(
    "qds_official_q96" -> Seq("cnt_all"),
    "qds_official_q13" -> Seq("avg_qty", "avg_ext_sales",
      "avg_ext_wholesale", "sum_ext_wholesale"),
    "qds_official_q42" -> Seq("d_year", "i_category_id", "i_category",
      "sum_sales"),
    "qds_official_q48" -> Seq("sum_qty"),
    "qds_official_q59" -> Seq("s_store_name1", "s_store_id1",
      "d_week_seq1", "sun_r", "mon_r", "tue_r", "wed_r", "thu_r",
      "fri_r", "sat_r"),
    "qds_official_q79" -> Seq("c_last_name", "c_first_name", "city",
      "ss_ticket_number", "amt", "profit"))

  /** Run one official text over the retail views. Double-quoted column
    * aliases (Q16/Q32/Q92's `as "order count"`) are ANSI SQL that Spark
    * parses only under `doubleQuotedIdentifiers`; the texts quote every
    * string literal with single quotes, so enabling it is inert
    * otherwise. Set per-run and restored. */
  private[queries] def runOfficial(spark: SparkSession, text: String,
      rename: Option[Seq[String]]): DataFrame = {
    val dir = ensure(spark)
    tableNames.foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
    }
    val key = "spark.sql.ansi.doubleQuotedIdentifiers"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val df = spark.sql(text)
      rename.map(cols => df.toDF(cols: _*)).getOrElse(df)
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** DuckDB oracle: CTEs bind each official table name to the generated
    * parquet, then the SAME official text follows unmodified. `rename`
    * relabels the output columns (both engines, identically — parquet
    * cannot store `count(*)` as a column name); `bigint` casts those
    * output columns to BIGINT in the ORACLE wrapper only: DuckDB widens
    * sum(INTEGER) to HUGEINT where Spark (like the TPC-DS spec's
    * int-typed sums) stays 64-bit — values identical, physical parquet
    * type not, and the driver's gate compares physically. */
  private[queries] def wrapOracle(text: String, rename: Option[Seq[String]],
      casts: Map[String, String] = Map.empty): String = {
    val ctes = tableNames.map(t =>
      s"$t AS (SELECT * FROM '$fixtureDir/$t.parquet/*.parquet')")
      .mkString("WITH ", ",\n", "\n")
    // the text always nests in a parenthesized subquery: official texts
    // that open with their own WITH clause would otherwise collide with
    // the binding CTE list (DuckDB accepts a WITH inside a derived table)
    rename match {
      case Some(cols) =>
        // a chained type "T1->T2" emits CAST(CAST(c AS T1) AS T2) —
        // the grid-collapse-then-widen shape decimal ratio columns need
        val proj = cols.map(c => casts.get(c)
          .map(t => t.split("->").foldLeft(c)((e, ty) =>
            s"CAST($e AS $ty)") + s" AS $c").getOrElse(c)).mkString(", ")
        s"$ctes SELECT $proj FROM (\n$text\n) AS _r(${cols.mkString(",")})"
      case None =>
        require(casts.isEmpty, "oracle casts need the rename column list")
        s"$ctes SELECT * FROM (\n$text\n) AS _q"
    }
  }

  val queries: Map[String, QueryFn] =
    texts.keys.map(n => n -> ((s: SparkSession, _: String) =>
      runOfficial(s, texts(n), renames.get(n))): (String, QueryFn)).toMap

  override val oracleSql: Map[String, String] = texts.map { case (name, text) =>
    name -> wrapOracle(text, renames.get(name))
  }
}
