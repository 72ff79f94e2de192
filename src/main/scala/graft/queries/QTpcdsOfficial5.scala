package graft.queries

import Q._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** OFFICIAL TPC-DS texts, batch 5 — Q8, Q9, Q10, Q12, Q30, Q61, Q72,
  * Q77, Q84. Same verbatim-text + DuckDB-oracle discipline as
  * [[QTpcdsOfficial2]].
  *
  * Q61's third output column is a DECIMAL(15,4)/DECIMAL(15,4)*100
  * ratio whose intermediate type differs across engines (Spark keeps
  * exact decimal division, DuckDB divides in double) — BOTH sides cast
  * the output to DECIMAL(15,4), collapsing the sub-ulp intermediate
  * difference onto the same 4-decimal grid (`sparkCasts` mirrors the
  * oracle cast engine-side; the official text runs unmodified).
  */
object QTpcdsOfficial5 extends Batch {

  private val q8 = """
select s_store_name, sum(ss_net_profit)
from store_sales, date_dim, store,
     (select ca_zip
      from (
       (select substr(ca_zip,1,5) ca_zip
        from customer_address
        where substr(ca_zip,1,5) in ('10007','11820','13633','15446',
          '17259','19072','20885','22698','24511','26324','28137',
          '29950','31763','33576','35389','37202','39015','40828',
          '42641','44454','46267','48080','49893','51706','53519'))
       intersect
       (select ca_zip
        from (select substr(ca_zip,1,5) ca_zip, count(*) cnt
              from customer_address, customer
              where ca_address_sk = c_current_addr_sk
                and c_preferred_cust_flag = 'Y'
              group by ca_zip
              having count(*) > 10) A1)) A2) V1
where ss_store_sk = s_store_sk
  and ss_sold_date_sk = d_date_sk
  and d_qoy = 2 and d_year = 1998
  and (substr(s_zip,1,2) = substr(V1.ca_zip,1,2))
group by s_store_name
order by s_store_name
limit 100"""

  private val q9 = """
select case when (select count(*)
                  from store_sales
                  where ss_quantity between 1 and 20) > 39000
            then (select avg(ss_ext_discount_amt)
                  from store_sales
                  where ss_quantity between 1 and 20)
            else (select avg(ss_net_paid)
                  from store_sales
                  where ss_quantity between 1 and 20) end bucket1,
       case when (select count(*)
                  from store_sales
                  where ss_quantity between 21 and 40) > 41000
            then (select avg(ss_ext_discount_amt)
                  from store_sales
                  where ss_quantity between 21 and 40)
            else (select avg(ss_net_paid)
                  from store_sales
                  where ss_quantity between 21 and 40) end bucket2,
       case when (select count(*)
                  from store_sales
                  where ss_quantity between 41 and 60) > 39500
            then (select avg(ss_ext_discount_amt)
                  from store_sales
                  where ss_quantity between 41 and 60)
            else (select avg(ss_net_paid)
                  from store_sales
                  where ss_quantity between 41 and 60) end bucket3,
       case when (select count(*)
                  from store_sales
                  where ss_quantity between 61 and 80) > 40500
            then (select avg(ss_ext_discount_amt)
                  from store_sales
                  where ss_quantity between 61 and 80)
            else (select avg(ss_net_paid)
                  from store_sales
                  where ss_quantity between 61 and 80) end bucket4,
       case when (select count(*)
                  from store_sales
                  where ss_quantity between 81 and 100) > 40000
            then (select avg(ss_ext_discount_amt)
                  from store_sales
                  where ss_quantity between 81 and 100)
            else (select avg(ss_net_paid)
                  from store_sales
                  where ss_quantity between 81 and 100) end bucket5
from reason
where r_reason_sk = 1"""

  private val q10 = """
select cd_gender, cd_marital_status, cd_education_status,
       count(*) cnt1,
       cd_purchase_estimate, count(*) cnt2,
       cd_credit_rating, count(*) cnt3,
       cd_dep_count, count(*) cnt4,
       cd_dep_employed_count, count(*) cnt5,
       cd_dep_college_count, count(*) cnt6
from customer c, customer_address ca, customer_demographics
where c.c_current_addr_sk = ca.ca_address_sk
  and ca_county in ('Williamson County', 'Franklin Parish',
                    'Bronx County', 'Orange County', 'Ziebach County')
  and cd_demo_sk = c.c_current_cdemo_sk
  and exists (select *
              from store_sales, date_dim
              where c.c_customer_sk = ss_customer_sk
                and ss_sold_date_sk = d_date_sk
                and d_year = 2002 and d_moy between 1 and 1+3)
  and (exists (select *
               from web_sales, date_dim
               where c.c_customer_sk = ws_bill_customer_sk
                 and ws_sold_date_sk = d_date_sk
                 and d_year = 2002 and d_moy between 1 and 1+3)
       or exists (select *
                  from catalog_sales, date_dim
                  where c.c_customer_sk = cs_ship_customer_sk
                    and cs_sold_date_sk = d_date_sk
                    and d_year = 2002 and d_moy between 1 and 1+3))
group by cd_gender, cd_marital_status, cd_education_status,
         cd_purchase_estimate, cd_credit_rating, cd_dep_count,
         cd_dep_employed_count, cd_dep_college_count
order by cd_gender, cd_marital_status, cd_education_status,
         cd_purchase_estimate, cd_credit_rating, cd_dep_count,
         cd_dep_employed_count, cd_dep_college_count
limit 100"""

  private val q12 = """
select i_item_id, i_item_desc, i_category, i_class, i_current_price,
       sum(ws_ext_sales_price) as itemrevenue,
       sum(ws_ext_sales_price)*100/sum(sum(ws_ext_sales_price)) over
         (partition by i_class) as revenueratio
from web_sales, item, date_dim
where ws_item_sk = i_item_sk
  and i_category in ('Sports', 'Books', 'Home')
  and ws_sold_date_sk = d_date_sk
  and d_date between cast('1999-02-22' as date)
                 and (cast('1999-02-22' as date) + interval 30 day)
group by i_item_id, i_item_desc, i_category, i_class, i_current_price
order by i_category, i_class, i_item_id, i_item_desc, revenueratio
limit 100"""

  private val q30 = """
with customer_total_return as
 (select wr_returning_customer_sk as ctr_customer_sk,
         ca_state as ctr_state,
         sum(wr_return_amt) as ctr_total_return
  from web_returns, date_dim, customer_address
  where wr_returned_date_sk = d_date_sk
    and d_year = 2002
    and wr_returning_addr_sk = ca_address_sk
  group by wr_returning_customer_sk, ca_state)
select c_customer_id, c_salutation, c_first_name, c_last_name,
       c_preferred_cust_flag, c_birth_day, c_birth_month, c_birth_year,
       c_birth_country, c_login, c_email_address, c_last_review_date,
       ctr_total_return
from customer_total_return ctr1, customer_address, customer
where ctr1.ctr_total_return > (select avg(ctr_total_return)*1.2
                               from customer_total_return ctr2
                               where ctr1.ctr_state = ctr2.ctr_state)
  and ca_address_sk = c_current_addr_sk
  and ca_state = 'GA'
  and ctr1.ctr_customer_sk = c_customer_sk
order by c_customer_id, c_salutation, c_first_name, c_last_name,
         c_preferred_cust_flag, c_birth_day, c_birth_month,
         c_birth_year, c_birth_country, c_login, c_email_address,
         c_last_review_date, ctr_total_return
limit 100"""

  private val q61 = """
select promotions, total,
       cast(promotions as decimal(15,4)) /
       cast(total as decimal(15,4)) * 100
from
  (select sum(ss_ext_sales_price) promotions
   from store_sales, store, promotion, date_dim, customer,
        customer_address, item
   where ss_sold_date_sk = d_date_sk
     and ss_store_sk = s_store_sk
     and ss_promo_sk = p_promo_sk
     and ss_customer_sk = c_customer_sk
     and ca_address_sk = c_current_addr_sk
     and ss_item_sk = i_item_sk
     and ca_gmt_offset = -5
     and i_category = 'Jewelry'
     and (p_channel_dmail = 'Y' or p_channel_email = 'Y'
          or p_channel_tv = 'Y')
     and s_gmt_offset = -5
     and d_year = 1998
     and d_moy = 11) promotional_sales,
  (select sum(ss_ext_sales_price) total
   from store_sales, store, date_dim, customer, customer_address, item
   where ss_sold_date_sk = d_date_sk
     and ss_store_sk = s_store_sk
     and ss_customer_sk = c_customer_sk
     and ca_address_sk = c_current_addr_sk
     and ss_item_sk = i_item_sk
     and ca_gmt_offset = -5
     and i_category = 'Jewelry'
     and s_gmt_offset = -5
     and d_year = 1998
     and d_moy = 11) all_sales
order by promotions, total
limit 100"""

  private val q72 = """
select i_item_desc, w_warehouse_name, d1.d_week_seq,
       sum(case when p_promo_sk is null then 1 else 0 end) no_promo,
       sum(case when p_promo_sk is not null then 1 else 0 end) promo,
       count(*) total_cnt
from catalog_sales
join inventory on (cs_item_sk = inv_item_sk)
join warehouse on (w_warehouse_sk = inv_warehouse_sk)
join item on (i_item_sk = cs_item_sk)
join customer_demographics on (cs_bill_cdemo_sk = cd_demo_sk)
join household_demographics on (cs_bill_hdemo_sk = hd_demo_sk)
join date_dim d1 on (cs_sold_date_sk = d1.d_date_sk)
join date_dim d2 on (inv_date_sk = d2.d_date_sk)
join date_dim d3 on (cs_ship_date_sk = d3.d_date_sk)
left outer join promotion on (cs_promo_sk = p_promo_sk)
left outer join catalog_returns on (cr_item_sk = cs_item_sk
                                    and cr_order_number = cs_order_number)
where d1.d_week_seq = d2.d_week_seq
  and inv_quantity_on_hand < cs_quantity
  and d3.d_date > d1.d_date + 5
  and hd_buy_potential = '>10000'
  and d1.d_year = 1999
  and cd_marital_status = 'D'
group by i_item_desc, w_warehouse_name, d1.d_week_seq
order by total_cnt desc, i_item_desc, w_warehouse_name, d1.d_week_seq
limit 100"""

  private val q77 = """
with ss as
 (select s_store_sk, sum(ss_ext_sales_price) as sales,
         sum(ss_net_profit) as profit
  from store_sales, date_dim, store
  where ss_sold_date_sk = d_date_sk
    and d_date between cast('2000-08-23' as date)
                   and (cast('2000-08-23' as date) + interval 30 day)
    and ss_store_sk = s_store_sk
  group by s_store_sk),
 sr as
 (select s_store_sk, sum(sr_return_amt) as returns,
         sum(sr_net_loss) as profit_loss
  from store_returns, date_dim, store
  where sr_returned_date_sk = d_date_sk
    and d_date between cast('2000-08-23' as date)
                   and (cast('2000-08-23' as date) + interval 30 day)
    and sr_store_sk = s_store_sk
  group by s_store_sk),
 cs as
 (select cs_call_center_sk, sum(cs_ext_sales_price) as sales,
         sum(cs_net_profit) as profit
  from catalog_sales, date_dim
  where cs_sold_date_sk = d_date_sk
    and d_date between cast('2000-08-23' as date)
                   and (cast('2000-08-23' as date) + interval 30 day)
  group by cs_call_center_sk),
 cr as
 (select cr_call_center_sk, sum(cr_return_amount) as returns,
         sum(cr_net_loss) as profit_loss
  from catalog_returns, date_dim
  where cr_returned_date_sk = d_date_sk
    and d_date between cast('2000-08-23' as date)
                   and (cast('2000-08-23' as date) + interval 30 day)
  group by cr_call_center_sk),
 ws as
 (select wp_web_page_sk, sum(ws_ext_sales_price) as sales,
         sum(ws_net_profit) as profit
  from web_sales, date_dim, web_page
  where ws_sold_date_sk = d_date_sk
    and d_date between cast('2000-08-23' as date)
                   and (cast('2000-08-23' as date) + interval 30 day)
    and ws_web_page_sk = wp_web_page_sk
  group by wp_web_page_sk),
 wr as
 (select wp_web_page_sk, sum(wr_return_amt) as returns,
         sum(wr_net_loss) as profit_loss
  from web_returns, date_dim, web_page
  where wr_returned_date_sk = d_date_sk
    and d_date between cast('2000-08-23' as date)
                   and (cast('2000-08-23' as date) + interval 30 day)
    and wr_web_page_sk = wp_web_page_sk
  group by wp_web_page_sk)
select channel, id, sum(sales) as sales,
       sum(returns) as returns, sum(profit) as profit
from
 (select 'store channel' as channel, ss.s_store_sk as id, sales,
         coalesce(returns, 0) as returns,
         (profit - coalesce(profit_loss, 0)) as profit
  from ss left join sr on ss.s_store_sk = sr.s_store_sk
  union all
  select 'catalog channel' as channel, cs_call_center_sk as id, sales,
         returns, (profit - profit_loss) as profit
  from cs, cr
  union all
  select 'web channel' as channel, ws.wp_web_page_sk as id, sales,
         coalesce(returns, 0) as returns,
         (profit - coalesce(profit_loss, 0)) as profit
  from ws left join wr on ws.wp_web_page_sk = wr.wp_web_page_sk) x
group by rollup(channel, id)
order by channel, id
limit 100"""

  private val q84 = """
select c_customer_id as customer_id,
       coalesce(c_last_name, '') || ', ' ||
       coalesce(c_first_name, '') as customername
from customer, customer_address, customer_demographics,
     household_demographics, income_band, store_returns
where ca_city = 'Midway'
  and c_current_addr_sk = ca_address_sk
  and ib_lower_bound >= 10000
  and ib_upper_bound <= 10000 + 50000
  and ib_income_band_sk = hd_income_band_sk
  and cd_demo_sk = c_current_cdemo_sk
  and hd_demo_sk = c_current_hdemo_sk
  and sr_cdemo_sk = cd_demo_sk
order by c_customer_id
limit 100"""

  private val texts: Map[String, String] = Map(
    "qds_official_q8" -> q8, "qds_official_q9" -> q9,
    "qds_official_q10" -> q10, "qds_official_q12" -> q12,
    "qds_official_q30" -> q30, "qds_official_q61" -> q61,
    "qds_official_q72" -> q72, "qds_official_q77" -> q77,
    "qds_official_q84" -> q84)

  private val renames: Map[String, Seq[String]] = Map(
    "qds_official_q8" -> Seq("s_store_name", "sum_profit"),
    "qds_official_q61" -> Seq("promotions", "total", "promo_pct"))

  /** Oracle-side casts (HUGEINT day counters; Q61's ratio grid). */
  private val casts: Map[String, Map[String, String]] = Map(
    "qds_official_q61" -> Map("promo_pct" -> "DECIMAL(15,4)->DOUBLE"),
    "qds_official_q72" -> Map("no_promo" -> "BIGINT",
      "promo" -> "BIGINT"))

  /** Spark-side post-casts mirroring an oracle cast where SPARK's own
    * output type differs from the target grid (Q61's exact-decimal
    * division vs DuckDB's double division — both collapse to
    * DECIMAL(15,4)). Applied after rename; the official text itself is
    * untouched. */
  private val sparkCasts: Map[String, Map[String, String]] = Map(
    "qds_official_q61" -> Map("promo_pct" -> "decimal(15,4)->double"))

  /** q72 lacks a rename but needs oracle casts → give it its column
    * list explicitly. */
  private val q72Cols = Seq("i_item_desc", "w_warehouse_name",
    "d_week_seq", "no_promo", "promo", "total_cnt")

  private def renameOf(n: String): Option[Seq[String]] =
    if (n == "qds_official_q72") Some(q72Cols) else renames.get(n)

  val queries: Map[String, QueryFn] =
    texts.keys.map(n => n -> ((s: SparkSession, _: String) => {
      val df = QTpcdsOfficial.runOfficial(s, texts(n), renameOf(n))
      sparkCasts.get(n).map(_.foldLeft(df) { case (d, (c, ts)) =>
        d.withColumn(c, ts.split("->").foldLeft(col(c))(_.cast(_))) })
        .getOrElse(df)
    }): (String, QueryFn)).toMap

  override val oracleSql: Map[String, String] = texts.map { case (name, text) =>
    name -> QTpcdsOfficial.wrapOracle(text, renameOf(name),
      casts.getOrElse(name, Map.empty))
  }
}
