package graft.queries

import Q._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** OFFICIAL TPC-DS texts, batch 4 — reporting/window/set-op queries:
  * Q6, Q27, Q28, Q31, Q35, Q36, Q38, Q47, Q51, Q53, Q57, Q63, Q70,
  * Q86, Q87, Q89. Same verbatim-text + DuckDB-oracle discipline as
  * [[QTpcdsOfficial2]].
  *
  * Cross-engine physical-type notes: `rank()` is INTEGER in Spark but
  * BIGINT in DuckDB, and `grouping()+grouping()` is TINYINT in Spark —
  * the oracle wrapper casts those columns to Spark's type (values are
  * identical). Rollup subtotal rows carry NULL group keys whose sort
  * position differs between engines; every LIMIT here cuts on a key
  * chain where null and non-null rows never interleave at the boundary
  * (the lochierarchy level separates them first).
  */
object QTpcdsOfficial4 extends Batch {

  private val q6 = """
select a.ca_state state, count(*) cnt
from customer_address a, customer c, store_sales s, date_dim d, item i
where a.ca_address_sk = c.c_current_addr_sk
  and c.c_customer_sk = s.ss_customer_sk
  and s.ss_sold_date_sk = d.d_date_sk
  and s.ss_item_sk = i.i_item_sk
  and d.d_month_seq = (select distinct (d_month_seq)
                       from date_dim
                       where d_year = 2001 and d_moy = 1)
  and i.i_current_price > 1.2 * (select avg(j.i_current_price)
                                 from item j
                                 where j.i_category = i.i_category)
group by a.ca_state
having count(*) >= 10
order by cnt, a.ca_state
limit 100"""

  private val q27 = """
select i_item_id, s_state, grouping(s_state) g_state,
       avg(ss_quantity) agg1,
       avg(ss_list_price) agg2,
       avg(ss_coupon_amt) agg3,
       avg(ss_sales_price) agg4
from store_sales, customer_demographics, date_dim, store, item
where ss_sold_date_sk = d_date_sk and
      ss_item_sk = i_item_sk and
      ss_store_sk = s_store_sk and
      ss_cdemo_sk = cd_demo_sk and
      cd_gender = 'F' and
      cd_marital_status = 'D' and
      cd_education_status = 'Secondary' and
      d_year = 1999 and
      s_state in ('GA','GA','GA','GA','GA','GA')
group by rollup (i_item_id, s_state)
order by i_item_id, s_state
limit 100"""

  private val q28 = """
select *
from (select avg(ss_list_price) B1_LP, count(ss_list_price) B1_CNT,
             count(distinct ss_list_price) B1_CNTD
      from store_sales
      where ss_quantity between 0 and 5
        and (ss_list_price between 8 and 8+10
             or ss_coupon_amt between 10 and 10+20
             or ss_wholesale_cost between 20 and 20+20)) B1,
     (select avg(ss_list_price) B2_LP, count(ss_list_price) B2_CNT,
             count(distinct ss_list_price) B2_CNTD
      from store_sales
      where ss_quantity between 6 and 10
        and (ss_list_price between 90 and 90+10
             or ss_coupon_amt between 20 and 20+20
             or ss_wholesale_cost between 30 and 30+20)) B2,
     (select avg(ss_list_price) B3_LP, count(ss_list_price) B3_CNT,
             count(distinct ss_list_price) B3_CNTD
      from store_sales
      where ss_quantity between 11 and 15
        and (ss_list_price between 142 and 142+10
             or ss_coupon_amt between 30 and 30+20
             or ss_wholesale_cost between 40 and 40+20)) B3,
     (select avg(ss_list_price) B4_LP, count(ss_list_price) B4_CNT,
             count(distinct ss_list_price) B4_CNTD
      from store_sales
      where ss_quantity between 16 and 20
        and (ss_list_price between 135 and 135+10
             or ss_coupon_amt between 15 and 15+20
             or ss_wholesale_cost between 45 and 45+20)) B4,
     (select avg(ss_list_price) B5_LP, count(ss_list_price) B5_CNT,
             count(distinct ss_list_price) B5_CNTD
      from store_sales
      where ss_quantity between 21 and 25
        and (ss_list_price between 122 and 122+10
             or ss_coupon_amt between 25 and 25+20
             or ss_wholesale_cost between 50 and 50+20)) B5,
     (select avg(ss_list_price) B6_LP, count(ss_list_price) B6_CNT,
             count(distinct ss_list_price) B6_CNTD
      from store_sales
      where ss_quantity between 26 and 30
        and (ss_list_price between 154 and 154+10
             or ss_coupon_amt between 5 and 5+20
             or ss_wholesale_cost between 60 and 60+20)) B6
limit 100"""

  private val q31 = """
with ss as
 (select ca_county, d_qoy, d_year, sum(ss_ext_sales_price) as store_sales
  from store_sales, date_dim, customer_address
  where ss_sold_date_sk = d_date_sk
    and ss_addr_sk = ca_address_sk
  group by ca_county, d_qoy, d_year),
 ws as
 (select ca_county, d_qoy, d_year, sum(ws_ext_sales_price) as web_sales
  from web_sales, date_dim, customer_address
  where ws_sold_date_sk = d_date_sk
    and ws_bill_addr_sk = ca_address_sk
  group by ca_county, d_qoy, d_year)
select ss1.ca_county, ss1.d_year,
       ws2.web_sales/ws1.web_sales web_q1_q2_increase,
       ss2.store_sales/ss1.store_sales store_q1_q2_increase,
       ws3.web_sales/ws2.web_sales web_q2_q3_increase,
       ss3.store_sales/ss2.store_sales store_q2_q3_increase
from ss ss1, ss ss2, ss ss3, ws ws1, ws ws2, ws ws3
where ss1.d_qoy = 1 and ss1.d_year = 1998
  and ss1.ca_county = ss2.ca_county
  and ss2.d_qoy = 2 and ss2.d_year = 1998
  and ss2.ca_county = ss3.ca_county
  and ss3.d_qoy = 3 and ss3.d_year = 1998
  and ss1.ca_county = ws1.ca_county
  and ws1.d_qoy = 1 and ws1.d_year = 1998
  and ws1.ca_county = ws2.ca_county
  and ws2.d_qoy = 2 and ws2.d_year = 1998
  and ws1.ca_county = ws3.ca_county
  and ws3.d_qoy = 3 and ws3.d_year = 1998
  and case when ws1.web_sales > 0
           then ws2.web_sales/ws1.web_sales else null end
      > case when ss1.store_sales > 0
             then ss2.store_sales/ss1.store_sales else null end
  and case when ws2.web_sales > 0
           then ws3.web_sales/ws2.web_sales else null end
      > case when ss2.store_sales > 0
             then ss3.store_sales/ss2.store_sales else null end
order by ss1.ca_county"""

  private val q35 = """
select ca_state, cd_gender, cd_marital_status, cd_dep_count,
       count(*) cnt1,
       min(cd_dep_count), max(cd_dep_count), avg(cd_dep_count),
       cd_dep_employed_count,
       count(*) cnt2,
       min(cd_dep_employed_count), max(cd_dep_employed_count),
       avg(cd_dep_employed_count),
       cd_dep_college_count,
       count(*) cnt3,
       min(cd_dep_college_count), max(cd_dep_college_count),
       avg(cd_dep_college_count)
from customer c, customer_address ca, customer_demographics
where c.c_current_addr_sk = ca.ca_address_sk
  and cd_demo_sk = c.c_current_cdemo_sk
  and exists (select *
              from store_sales, date_dim
              where c.c_customer_sk = ss_customer_sk
                and ss_sold_date_sk = d_date_sk
                and d_year = 2002 and d_qoy < 4)
  and (exists (select *
               from web_sales, date_dim
               where c.c_customer_sk = ws_bill_customer_sk
                 and ws_sold_date_sk = d_date_sk
                 and d_year = 2002 and d_qoy < 4)
       or exists (select *
                  from catalog_sales, date_dim
                  where c.c_customer_sk = cs_ship_customer_sk
                    and cs_sold_date_sk = d_date_sk
                    and d_year = 2002 and d_qoy < 4))
group by ca_state, cd_gender, cd_marital_status, cd_dep_count,
         cd_dep_employed_count, cd_dep_college_count
order by ca_state, cd_gender, cd_marital_status, cd_dep_count,
         cd_dep_employed_count, cd_dep_college_count
limit 100"""

  private val q36 = """
select sum(ss_net_profit)/sum(ss_ext_sales_price) as gross_margin,
       i_category, i_class,
       grouping(i_category)+grouping(i_class) as lochierarchy,
       rank() over (
         partition by grouping(i_category)+grouping(i_class),
         case when grouping(i_class) = 0 then i_category end
         order by sum(ss_net_profit)/sum(ss_ext_sales_price) asc)
         as rank_within_parent
from store_sales, date_dim d1, item, store
where d1.d_year = 2001
  and d1.d_date_sk = ss_sold_date_sk
  and i_item_sk = ss_item_sk
  and s_store_sk = ss_store_sk
  and s_state in ('TN','TN','TN','TN','TN','TN','TN','TN')
group by rollup(i_category, i_class)
order by lochierarchy desc,
         case when lochierarchy = 0 then i_category end,
         rank_within_parent
limit 100"""

  private val q38 = """
select count(*)
from (select distinct c_last_name, c_first_name, d_date
      from store_sales, date_dim, customer
      where store_sales.ss_sold_date_sk = date_dim.d_date_sk
        and store_sales.ss_customer_sk = customer.c_customer_sk
        and d_month_seq between 1200 and 1200 + 11
      intersect
      select distinct c_last_name, c_first_name, d_date
      from catalog_sales, date_dim, customer
      where catalog_sales.cs_sold_date_sk = date_dim.d_date_sk
        and catalog_sales.cs_bill_customer_sk = customer.c_customer_sk
        and d_month_seq between 1200 and 1200 + 11
      intersect
      select distinct c_last_name, c_first_name, d_date
      from web_sales, date_dim, customer
      where web_sales.ws_sold_date_sk = date_dim.d_date_sk
        and web_sales.ws_bill_customer_sk = customer.c_customer_sk
        and d_month_seq between 1200 and 1200 + 11
) hot_cust
limit 100"""

  private val q47 = """
with v1 as (
 select i_category, i_brand, s_store_name, s_company_name,
        d_year, d_moy,
        sum(ss_sales_price) sum_sales,
        avg(sum(ss_sales_price)) over
          (partition by i_category, i_brand, s_store_name,
                        s_company_name, d_year)
          avg_monthly_sales,
        rank() over
          (partition by i_category, i_brand, s_store_name,
                        s_company_name
           order by d_year, d_moy) rn
 from item, store_sales, date_dim, store
 where ss_item_sk = i_item_sk
   and ss_sold_date_sk = d_date_sk
   and ss_store_sk = s_store_sk
   and (d_year = 1999
        or (d_year = 1999-1 and d_moy = 12)
        or (d_year = 1999+1 and d_moy = 1))
 group by i_category, i_brand, s_store_name, s_company_name,
          d_year, d_moy),
v2 as (
 select v1.i_category, v1.i_brand, v1.s_store_name, v1.s_company_name,
        v1.d_year, v1.d_moy, v1.avg_monthly_sales, v1.sum_sales,
        v1_lag.sum_sales psum, v1_lead.sum_sales nsum
 from v1, v1 v1_lag, v1 v1_lead
 where v1.i_category = v1_lag.i_category
   and v1.i_category = v1_lead.i_category
   and v1.i_brand = v1_lag.i_brand
   and v1.i_brand = v1_lead.i_brand
   and v1.s_store_name = v1_lag.s_store_name
   and v1.s_store_name = v1_lead.s_store_name
   and v1.s_company_name = v1_lag.s_company_name
   and v1.s_company_name = v1_lead.s_company_name
   and v1.rn = v1_lag.rn + 1
   and v1.rn = v1_lead.rn - 1)
select *
from v2
where d_year = 1999
  and avg_monthly_sales > 0
  and case when avg_monthly_sales > 0
           then abs(sum_sales - avg_monthly_sales) / avg_monthly_sales
           else null end > 0.1
order by sum_sales - avg_monthly_sales, 3
limit 100"""

  private val q51 = """
with web_v1 as (
 select ws_item_sk item_sk, d_date,
        sum(sum(ws_sales_price)) over
          (partition by ws_item_sk order by d_date
           rows between unbounded preceding and current row) cume_sales
 from web_sales, date_dim
 where ws_sold_date_sk = d_date_sk
   and d_month_seq between 1200 and 1200+11
   and ws_item_sk is not NULL
 group by ws_item_sk, d_date),
store_v1 as (
 select ss_item_sk item_sk, d_date,
        sum(sum(ss_sales_price)) over
          (partition by ss_item_sk order by d_date
           rows between unbounded preceding and current row) cume_sales
 from store_sales, date_dim
 where ss_sold_date_sk = d_date_sk
   and d_month_seq between 1200 and 1200+11
   and ss_item_sk is not NULL
 group by ss_item_sk, d_date)
select *
from (select item_sk, d_date, web_sales, store_sales,
             max(web_sales) over
               (partition by item_sk order by d_date
                rows between unbounded preceding and current row)
               web_cumulative,
             max(store_sales) over
               (partition by item_sk order by d_date
                rows between unbounded preceding and current row)
               store_cumulative
      from (select case when web.item_sk is not null
                        then web.item_sk else store.item_sk end item_sk,
                   case when web.d_date is not null
                        then web.d_date else store.d_date end d_date,
                   web.cume_sales web_sales,
                   store.cume_sales store_sales
            from web_v1 web full outer join store_v1 store
                 on (web.item_sk = store.item_sk
                     and web.d_date = store.d_date)) x) y
where web_cumulative > store_cumulative
order by item_sk, d_date
limit 100"""

  private val q53 = """
select *
from (select i_manufact_id, sum(ss_sales_price) sum_sales,
             avg(sum(ss_sales_price)) over
               (partition by i_manufact_id) avg_quarterly_sales
      from item, store_sales, date_dim, store
      where ss_item_sk = i_item_sk
        and ss_sold_date_sk = d_date_sk
        and ss_store_sk = s_store_sk
        and d_month_seq in (1200, 1200+1, 1200+2, 1200+3, 1200+4,
                            1200+5, 1200+6, 1200+7, 1200+8, 1200+9,
                            1200+10, 1200+11)
        and ((i_category in ('Books','Children','Electronics')
              and i_class in ('class01','class02','class03')
              and i_brand in ('brand#1','brand#2','brand#3','brand#4'))
          or (i_category in ('Women','Music','Men')
              and i_class in ('class04','class05','class06')
              and i_brand in ('brand#5','brand#6','brand#7','brand#8')))
      group by i_manufact_id, d_qoy) tmp1
where case when avg_quarterly_sales > 0
           then abs(sum_sales - avg_quarterly_sales) / avg_quarterly_sales
           else null end > 0.1
order by avg_quarterly_sales, sum_sales, i_manufact_id
limit 100"""

  private val q57 = """
with v1 as (
 select i_category, i_brand, cc_name, d_year, d_moy,
        sum(cs_sales_price) sum_sales,
        avg(sum(cs_sales_price)) over
          (partition by i_category, i_brand, cc_name, d_year)
          avg_monthly_sales,
        rank() over
          (partition by i_category, i_brand, cc_name
           order by d_year, d_moy) rn
 from item, catalog_sales, date_dim, call_center
 where cs_item_sk = i_item_sk
   and cs_sold_date_sk = d_date_sk
   and cc_call_center_sk = cs_call_center_sk
   and (d_year = 1999
        or (d_year = 1999-1 and d_moy = 12)
        or (d_year = 1999+1 and d_moy = 1))
 group by i_category, i_brand, cc_name, d_year, d_moy),
v2 as (
 select v1.i_category, v1.i_brand, v1.cc_name, v1.d_year, v1.d_moy,
        v1.avg_monthly_sales, v1.sum_sales,
        v1_lag.sum_sales psum, v1_lead.sum_sales nsum
 from v1, v1 v1_lag, v1 v1_lead
 where v1.i_category = v1_lag.i_category
   and v1.i_category = v1_lead.i_category
   and v1.i_brand = v1_lag.i_brand
   and v1.i_brand = v1_lead.i_brand
   and v1.cc_name = v1_lag.cc_name
   and v1.cc_name = v1_lead.cc_name
   and v1.rn = v1_lag.rn + 1
   and v1.rn = v1_lead.rn - 1)
select *
from v2
where d_year = 1999
  and avg_monthly_sales > 0
  and case when avg_monthly_sales > 0
           then abs(sum_sales - avg_monthly_sales) / avg_monthly_sales
           else null end > 0.1
order by sum_sales - avg_monthly_sales, 3
limit 100"""

  private val q63 = """
select *
from (select i_manager_id, sum(ss_sales_price) sum_sales,
             avg(sum(ss_sales_price)) over
               (partition by i_manager_id) avg_monthly_sales
      from item, store_sales, date_dim, store
      where ss_item_sk = i_item_sk
        and ss_sold_date_sk = d_date_sk
        and ss_store_sk = s_store_sk
        and d_month_seq in (1200, 1200+1, 1200+2, 1200+3, 1200+4,
                            1200+5, 1200+6, 1200+7, 1200+8, 1200+9,
                            1200+10, 1200+11)
        and ((i_category in ('Books','Children','Electronics')
              and i_class in ('class01','class02','class03')
              and i_brand in ('brand#1','brand#2','brand#3','brand#4'))
          or (i_category in ('Women','Music','Men')
              and i_class in ('class04','class05','class06')
              and i_brand in ('brand#5','brand#6','brand#7','brand#8')))
      group by i_manager_id, d_moy) tmp1
where case when avg_monthly_sales > 0
           then abs(sum_sales - avg_monthly_sales) / avg_monthly_sales
           else null end > 0.1
order by i_manager_id, avg_monthly_sales, sum_sales
limit 100"""

  private val q70 = """
select sum(ss_net_profit) as total_sum, s_state, s_county,
       grouping(s_state)+grouping(s_county) as lochierarchy,
       rank() over (
         partition by grouping(s_state)+grouping(s_county),
         case when grouping(s_county) = 0 then s_state end
         order by sum(ss_net_profit) desc) as rank_within_parent
from store_sales, date_dim d1, store
where d1.d_month_seq between 1200 and 1200+11
  and d1.d_date_sk = ss_sold_date_sk
  and s_store_sk = ss_store_sk
  and s_state in (select s_state
                  from (select s_state as s_state,
                               rank() over (partition by s_state
                                            order by sum(ss_net_profit)
                                            desc) ranking
                        from store_sales, store, date_dim
                        where d_month_seq between 1200 and 1200+11
                          and d_date_sk = ss_sold_date_sk
                          and s_store_sk = ss_store_sk
                        group by s_state) tmp1
                  where ranking <= 5)
group by rollup(s_state, s_county)
order by lochierarchy desc,
         case when lochierarchy = 0 then s_state end,
         rank_within_parent
limit 100"""

  private val q86 = """
select sum(ws_net_paid) as total_sum, i_category, i_class,
       grouping(i_category)+grouping(i_class) as lochierarchy,
       rank() over (
         partition by grouping(i_category)+grouping(i_class),
         case when grouping(i_class) = 0 then i_category end
         order by sum(ws_net_paid) desc) as rank_within_parent
from web_sales, date_dim d1, item
where d1.d_month_seq between 1200 and 1200+11
  and d1.d_date_sk = ws_sold_date_sk
  and i_item_sk = ws_item_sk
group by rollup(i_category, i_class)
order by lochierarchy desc,
         case when lochierarchy = 0 then i_category end,
         rank_within_parent
limit 100"""

  private val q87 = """
select count(*)
from ((select distinct c_last_name, c_first_name, d_date
       from store_sales, date_dim, customer
       where store_sales.ss_sold_date_sk = date_dim.d_date_sk
         and store_sales.ss_customer_sk = customer.c_customer_sk
         and d_month_seq between 1200 and 1200+11)
       except
      (select distinct c_last_name, c_first_name, d_date
       from catalog_sales, date_dim, customer
       where catalog_sales.cs_sold_date_sk = date_dim.d_date_sk
         and catalog_sales.cs_bill_customer_sk = customer.c_customer_sk
         and d_month_seq between 1200 and 1200+11)
       except
      (select distinct c_last_name, c_first_name, d_date
       from web_sales, date_dim, customer
       where web_sales.ws_sold_date_sk = date_dim.d_date_sk
         and web_sales.ws_bill_customer_sk = customer.c_customer_sk
         and d_month_seq between 1200 and 1200+11)
) cool_cust"""

  private val q89 = """
select *
from (select i_category, i_class, i_brand, s_store_name,
             s_company_name, d_moy,
             sum(ss_sales_price) sum_sales,
             avg(sum(ss_sales_price)) over
               (partition by i_category, i_brand, s_store_name,
                             s_company_name)
               avg_monthly_sales
      from item, store_sales, date_dim, store
      where ss_item_sk = i_item_sk
        and ss_sold_date_sk = d_date_sk
        and ss_store_sk = s_store_sk
        and d_year in (1999)
        and ((i_category in ('Books','Electronics','Sports')
              and i_class in ('class01','class02','class03'))
          or (i_category in ('Men','Jewelry','Women')
              and i_class in ('class04','class05','class06')))
      group by i_category, i_class, i_brand, s_store_name,
               s_company_name, d_moy) tmp1
where case when (avg_monthly_sales <> 0)
           then (abs(sum_sales - avg_monthly_sales) / avg_monthly_sales)
           else null end > 0.1
order by sum_sales - avg_monthly_sales, s_store_name
limit 100"""

  private val texts: Map[String, String] = Map(
    "qds_official_q6" -> q6, "qds_official_q27" -> q27,
    "qds_official_q28" -> q28, "qds_official_q31" -> q31,
    "qds_official_q35" -> q35, "qds_official_q36" -> q36,
    "qds_official_q38" -> q38, "qds_official_q47" -> q47,
    "qds_official_q51" -> q51, "qds_official_q53" -> q53,
    "qds_official_q57" -> q57, "qds_official_q63" -> q63,
    "qds_official_q70" -> q70, "qds_official_q86" -> q86,
    "qds_official_q87" -> q87, "qds_official_q89" -> q89)

  private val q35Cols = Seq("ca_state", "cd_gender", "cd_marital_status",
    "cd_dep_count", "cnt1", "min_dep", "max_dep", "avg_dep",
    "cd_dep_employed_count", "cnt2", "min_emp", "max_emp", "avg_emp",
    "cd_dep_college_count", "cnt3", "min_col", "max_col", "avg_col")

  private val renames: Map[String, Seq[String]] = Map(
    "qds_official_q35" -> q35Cols,
    "qds_official_q27" -> Seq("i_item_id", "s_state", "g_state",
      "agg1", "agg2", "agg3", "agg4"),
    "qds_official_q36" -> Seq("gross_margin", "i_category", "i_class",
      "lochierarchy", "rank_within_parent"),
    "qds_official_q38" -> Seq("cnt_all"),
    "qds_official_q70" -> Seq("total_sum", "s_state", "s_county",
      "lochierarchy", "rank_within_parent"),
    "qds_official_q86" -> Seq("total_sum", "i_category", "i_class",
      "lochierarchy", "rank_within_parent"),
    "qds_official_q87" -> Seq("cnt_all"))

  /** Oracle-side casts back to Spark's physical type: rank() is BIGINT
    * in DuckDB / INTEGER in Spark; grouping()+grouping() is TINYINT in
    * Spark; Q27's grouping() column likewise. */
  private val casts: Map[String, Map[String, String]] = Map(
    "qds_official_q27" -> Map("g_state" -> "TINYINT"),
    "qds_official_q36" -> Map("lochierarchy" -> "TINYINT",
      "rank_within_parent" -> "INTEGER"),
    "qds_official_q70" -> Map("lochierarchy" -> "TINYINT",
      "rank_within_parent" -> "INTEGER"),
    "qds_official_q86" -> Map("lochierarchy" -> "TINYINT",
      "rank_within_parent" -> "INTEGER"))

  val queries: Map[String, QueryFn] =
    texts.keys.map(n => n -> ((s: SparkSession, _: String) =>
      QTpcdsOfficial.runOfficial(s, texts(n), renames.get(n)))
      : (String, QueryFn)).toMap

  override val oracleSql: Map[String, String] = texts.map { case (name, text) =>
    name -> QTpcdsOfficial.wrapOracle(text, renames.get(name),
      casts.getOrElse(name, Map.empty))
  }
}
