package graft.queries

import Q._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** OFFICIAL TPC-DS texts, batch 2 — the TRI-CHANNEL queries the round-14
  * store-channel fixture could not host (catalog_sales / web_sales /
  * *_returns joins): Q1, Q2, Q5, Q11, Q15, Q20, Q26, Q33, Q54, Q56,
  * Q60, Q71, Q74, Q75, Q76, Q78, Q80, Q97 — published TPC specification
  * queries (the same public set the reference's
  * pg_lake_benchmark/src/tpcds.c:30-139 runner loads), run verbatim on
  * Spark with the DuckDB oracle executing the SAME text over the same
  * parquet. Qualification-parameter substitutions follow the spec's
  * rules (values chosen inside the generated fixture's domains).
  *
  * Determinism notes (same rules as [[QTpcdsOfficial]]):
  * - every `ORDER BY ... LIMIT` either orders by a unique key chain
  *   (customer_id, item+customer, full group-key tuple) or the result
  *   set is smaller than the limit, so the selected SET is well-defined
  *   on both engines;
  * - `round(x, 2)` calls are safe across engines because every ratio's
  *   denominator is an integer-valued double bounded far below the
  *   scale where FP error could reach a rounding boundary (gap ≥
  *   100/(2·q) ≫ ulp);
  * - `cast(sum(ss_ext_sales_price)/50 as int)` (Q54) is exact: the
  *   fixture makes that column multiples of 50, so Spark's truncation
  *   and DuckDB's rounding agree;
  * - integer-typed sums (Q97's CASE counts) widen to HUGEINT in DuckDB
  *   but BIGINT in Spark — the ORACLE wrapper casts those columns back
  *   to BIGINT ([[QTpcdsOfficial.wrapOracle]]); values are identical.
  */
object QTpcdsOfficial2 extends Batch {

  private val q1 = """
with customer_total_return as
(select sr_customer_sk as ctr_customer_sk, sr_store_sk as ctr_store_sk,
        sum(sr_return_amt) as ctr_total_return
 from store_returns, date_dim
 where sr_returned_date_sk = d_date_sk and d_year = 2000
 group by sr_customer_sk, sr_store_sk)
select c_customer_id
from customer_total_return ctr1, store, customer
where ctr1.ctr_total_return > (select avg(ctr_total_return)*1.2
                               from customer_total_return ctr2
                               where ctr1.ctr_store_sk = ctr2.ctr_store_sk)
  and s_store_sk = ctr1.ctr_store_sk
  and s_state = 'TN'
  and ctr1.ctr_customer_sk = c_customer_sk
order by c_customer_id
limit 100"""

  private val q2 = """
with wscs as
 (select sold_date_sk, sales_price
  from (select ws_sold_date_sk sold_date_sk, ws_ext_sales_price sales_price
        from web_sales
        union all
        select cs_sold_date_sk sold_date_sk, cs_ext_sales_price sales_price
        from catalog_sales)),
 wswscs as
 (select d_week_seq,
        sum(case when (d_day_name='Sunday') then sales_price else null end) sun_sales,
        sum(case when (d_day_name='Monday') then sales_price else null end) mon_sales,
        sum(case when (d_day_name='Tuesday') then sales_price else null end) tue_sales,
        sum(case when (d_day_name='Wednesday') then sales_price else null end) wed_sales,
        sum(case when (d_day_name='Thursday') then sales_price else null end) thu_sales,
        sum(case when (d_day_name='Friday') then sales_price else null end) fri_sales,
        sum(case when (d_day_name='Saturday') then sales_price else null end) sat_sales
 from wscs, date_dim
 where d_date_sk = sold_date_sk
 group by d_week_seq)
select d_week_seq1,
       round(sun_sales1/sun_sales2,2), round(mon_sales1/mon_sales2,2),
       round(tue_sales1/tue_sales2,2), round(wed_sales1/wed_sales2,2),
       round(thu_sales1/thu_sales2,2), round(fri_sales1/fri_sales2,2),
       round(sat_sales1/sat_sales2,2)
from
 (select wswscs.d_week_seq d_week_seq1, sun_sales sun_sales1,
         mon_sales mon_sales1, tue_sales tue_sales1, wed_sales wed_sales1,
         thu_sales thu_sales1, fri_sales fri_sales1, sat_sales sat_sales1
  from wswscs, date_dim
  where date_dim.d_week_seq = wswscs.d_week_seq and d_year = 1998) y,
 (select wswscs.d_week_seq d_week_seq2, sun_sales sun_sales2,
         mon_sales mon_sales2, tue_sales tue_sales2, wed_sales wed_sales2,
         thu_sales thu_sales2, fri_sales fri_sales2, sat_sales sat_sales2
  from wswscs, date_dim
  where date_dim.d_week_seq = wswscs.d_week_seq and d_year = 1998+1) z
where d_week_seq1 = d_week_seq2 - 53
order by d_week_seq1"""

  private val q5 = """
with ssr as
 (select s_store_id,
        sum(sales_price) as sales,
        sum(profit) as profit,
        sum(return_amt) as returns,
        sum(net_loss) as profit_loss
 from
  (select ss_store_sk as store_sk, ss_sold_date_sk as date_sk,
          ss_ext_sales_price as sales_price, ss_net_profit as profit,
          cast(0 as decimal(7,2)) as return_amt,
          cast(0 as decimal(7,2)) as net_loss
   from store_sales
   union all
   select sr_store_sk as store_sk, sr_returned_date_sk as date_sk,
          cast(0 as decimal(7,2)) as sales_price,
          cast(0 as decimal(7,2)) as profit,
          sr_return_amt as return_amt, sr_net_loss as net_loss
   from store_returns) salesreturns, date_dim, store
 where date_sk = d_date_sk
       and d_date between cast('2000-08-23' as date)
                      and (cast('2000-08-23' as date) + interval 14 day)
       and store_sk = s_store_sk
 group by s_store_id),
 csr as
 (select cp_catalog_page_id,
        sum(sales_price) as sales,
        sum(profit) as profit,
        sum(return_amt) as returns,
        sum(net_loss) as profit_loss
 from
  (select cs_catalog_page_sk as page_sk, cs_sold_date_sk as date_sk,
          cs_ext_sales_price as sales_price, cs_net_profit as profit,
          cast(0 as decimal(7,2)) as return_amt,
          cast(0 as decimal(7,2)) as net_loss
   from catalog_sales
   union all
   select cr_catalog_page_sk as page_sk, cr_returned_date_sk as date_sk,
          cast(0 as decimal(7,2)) as sales_price,
          cast(0 as decimal(7,2)) as profit,
          cr_return_amount as return_amt, cr_net_loss as net_loss
   from catalog_returns) salesreturns, date_dim, catalog_page
 where date_sk = d_date_sk
       and d_date between cast('2000-08-23' as date)
                      and (cast('2000-08-23' as date) + interval 14 day)
       and page_sk = cp_catalog_page_sk
 group by cp_catalog_page_id),
 wsr as
 (select web_site_id,
        sum(sales_price) as sales,
        sum(profit) as profit,
        sum(return_amt) as returns,
        sum(net_loss) as profit_loss
 from
  (select ws_web_site_sk as wsr_web_site_sk, ws_sold_date_sk as date_sk,
          ws_ext_sales_price as sales_price, ws_net_profit as profit,
          cast(0 as decimal(7,2)) as return_amt,
          cast(0 as decimal(7,2)) as net_loss
   from web_sales
   union all
   select ws_web_site_sk as wsr_web_site_sk,
          wr_returned_date_sk as date_sk,
          cast(0 as decimal(7,2)) as sales_price,
          cast(0 as decimal(7,2)) as profit,
          wr_return_amt as return_amt, wr_net_loss as net_loss
   from web_returns left outer join web_sales on
        (wr_item_sk = ws_item_sk and wr_order_number = ws_order_number)
   ) salesreturns, date_dim, web_site
 where date_sk = d_date_sk
       and d_date between cast('2000-08-23' as date)
                      and (cast('2000-08-23' as date) + interval 14 day)
       and wsr_web_site_sk = web_site_sk
 group by web_site_id)
select channel, id, sum(sales) as sales,
       sum(returns) as returns, sum(profit) as profit
from
 (select 'store channel' as channel, 'store' || s_store_id as id,
         sales, returns, (profit - profit_loss) as profit
  from ssr
  union all
  select 'catalog channel' as channel,
         'catalog_page' || cp_catalog_page_id as id,
         sales, returns, (profit - profit_loss) as profit
  from csr
  union all
  select 'web channel' as channel, 'web_site' || web_site_id as id,
         sales, returns, (profit - profit_loss) as profit
  from wsr) x
group by rollup (channel, id)
order by channel, id
limit 100"""

  private val q11 = """
with year_total as (
 select c_customer_id customer_id, c_first_name customer_first_name,
        c_last_name customer_last_name,
        c_preferred_cust_flag customer_preferred_cust_flag,
        c_birth_country customer_birth_country,
        c_login customer_login,
        c_email_address customer_email_address,
        d_year dyear,
        sum(ss_ext_list_price-ss_ext_discount_amt) year_total,
        's' sale_type
 from customer, store_sales, date_dim
 where c_customer_sk = ss_customer_sk and ss_sold_date_sk = d_date_sk
 group by c_customer_id, c_first_name, c_last_name,
          c_preferred_cust_flag, c_birth_country, c_login,
          c_email_address, d_year
 union all
 select c_customer_id customer_id, c_first_name customer_first_name,
        c_last_name customer_last_name,
        c_preferred_cust_flag customer_preferred_cust_flag,
        c_birth_country customer_birth_country,
        c_login customer_login,
        c_email_address customer_email_address,
        d_year dyear,
        sum(ws_ext_list_price-ws_ext_discount_amt) year_total,
        'w' sale_type
 from customer, web_sales, date_dim
 where c_customer_sk = ws_bill_customer_sk and ws_sold_date_sk = d_date_sk
 group by c_customer_id, c_first_name, c_last_name,
          c_preferred_cust_flag, c_birth_country, c_login,
          c_email_address, d_year)
select t_s_secyear.customer_id, t_s_secyear.customer_first_name,
       t_s_secyear.customer_last_name,
       t_s_secyear.customer_preferred_cust_flag
from year_total t_s_firstyear, year_total t_s_secyear,
     year_total t_w_firstyear, year_total t_w_secyear
where t_s_secyear.customer_id = t_s_firstyear.customer_id
  and t_s_firstyear.customer_id = t_w_secyear.customer_id
  and t_s_firstyear.customer_id = t_w_firstyear.customer_id
  and t_s_firstyear.sale_type = 's'
  and t_w_firstyear.sale_type = 'w'
  and t_s_secyear.sale_type = 's'
  and t_w_secyear.sale_type = 'w'
  and t_s_firstyear.dyear = 2001
  and t_s_secyear.dyear = 2001+1
  and t_w_firstyear.dyear = 2001
  and t_w_secyear.dyear = 2001+1
  and t_s_firstyear.year_total > 0
  and t_w_firstyear.year_total > 0
  and case when t_w_firstyear.year_total > 0
           then t_w_secyear.year_total / t_w_firstyear.year_total
           else 0.0 end
      > case when t_s_firstyear.year_total > 0
             then t_s_secyear.year_total / t_s_firstyear.year_total
             else 0.0 end
order by t_s_secyear.customer_id, t_s_secyear.customer_first_name,
         t_s_secyear.customer_last_name,
         t_s_secyear.customer_preferred_cust_flag
limit 100"""

  private val q15 = """
select ca_zip, sum(cs_sales_price)
from catalog_sales, customer, customer_address, date_dim
where cs_bill_customer_sk = c_customer_sk
  and c_current_addr_sk = ca_address_sk
  and (substr(ca_zip,1,5) in ('85669', '86197', '88274', '83405',
                              '86475', '85392', '85460', '80348', '81792')
       or ca_state in ('CA','WA','GA')
       or cs_sales_price > 500)
  and cs_sold_date_sk = d_date_sk
  and d_qoy = 2 and d_year = 2001
group by ca_zip
order by ca_zip
limit 100"""

  private val q20 = """
select i_item_id, i_item_desc, i_category, i_class, i_current_price,
       sum(cs_ext_sales_price) as itemrevenue,
       sum(cs_ext_sales_price)*100/sum(sum(cs_ext_sales_price)) over
         (partition by i_class) as revenueratio
from catalog_sales, item, date_dim
where cs_item_sk = i_item_sk
  and i_category in ('Sports', 'Books', 'Home')
  and cs_sold_date_sk = d_date_sk
  and d_date between cast('1999-02-22' as date)
                 and (cast('1999-02-22' as date) + interval 30 day)
group by i_item_id, i_item_desc, i_category, i_class, i_current_price
order by i_category, i_class, i_item_id, i_item_desc, revenueratio"""

  private val q26 = """
select i_item_id,
       avg(cs_quantity) agg1,
       avg(cs_list_price) agg2,
       avg(cs_coupon_amt) agg3,
       avg(cs_sales_price) agg4
from catalog_sales, customer_demographics, date_dim, item, promotion
where cs_sold_date_sk = d_date_sk and
      cs_item_sk = i_item_sk and
      cs_bill_cdemo_sk = cd_demo_sk and
      cs_promo_sk = p_promo_sk and
      cd_gender = 'M' and
      cd_marital_status = 'S' and
      cd_education_status = 'College' and
      (p_channel_email = 'N' or p_channel_event = 'N') and
      d_year = 2000
group by i_item_id
order by i_item_id
limit 100"""

  private val q33 = """
with ss as (
 select i_manufact_id, sum(ss_ext_sales_price) total_sales
 from store_sales, date_dim, customer_address, item
 where i_manufact_id in (select i_manufact_id
                         from item
                         where i_category in ('Electronics'))
   and ss_item_sk = i_item_sk
   and ss_sold_date_sk = d_date_sk
   and d_year = 1998 and d_moy = 5
   and ss_addr_sk = ca_address_sk
   and ca_gmt_offset = -5
 group by i_manufact_id),
cs as (
 select i_manufact_id, sum(cs_ext_sales_price) total_sales
 from catalog_sales, date_dim, customer_address, item
 where i_manufact_id in (select i_manufact_id
                         from item
                         where i_category in ('Electronics'))
   and cs_item_sk = i_item_sk
   and cs_sold_date_sk = d_date_sk
   and d_year = 1998 and d_moy = 5
   and cs_bill_addr_sk = ca_address_sk
   and ca_gmt_offset = -5
 group by i_manufact_id),
ws as (
 select i_manufact_id, sum(ws_ext_sales_price) total_sales
 from web_sales, date_dim, customer_address, item
 where i_manufact_id in (select i_manufact_id
                         from item
                         where i_category in ('Electronics'))
   and ws_item_sk = i_item_sk
   and ws_sold_date_sk = d_date_sk
   and d_year = 1998 and d_moy = 5
   and ws_bill_addr_sk = ca_address_sk
   and ca_gmt_offset = -5
 group by i_manufact_id)
select i_manufact_id, sum(total_sales) total_sales
from (select * from ss
      union all
      select * from cs
      union all
      select * from ws) tmp1
group by i_manufact_id
order by total_sales
limit 100"""

  private val q54 = """
with my_customers as (
 select distinct c_customer_sk, c_current_addr_sk
 from (select cs_sold_date_sk sold_date_sk,
              cs_bill_customer_sk customer_sk,
              cs_item_sk item_sk
       from catalog_sales
       union all
       select ws_sold_date_sk sold_date_sk,
              ws_bill_customer_sk customer_sk,
              ws_item_sk item_sk
       from web_sales) cs_or_ws_sales, item, date_dim, customer
 where sold_date_sk = d_date_sk
   and item_sk = i_item_sk
   and i_category = 'Women'
   and i_class = 'class05'
   and c_customer_sk = cs_or_ws_sales.customer_sk
   and d_moy = 12
   and d_year = 1998),
 my_revenue as (
 select c_customer_sk, sum(ss_ext_sales_price) as revenue
 from my_customers, store_sales, customer_address, store, date_dim
 where c_current_addr_sk = ca_address_sk
   and ca_county = s_county
   and ca_state = s_state
   and ss_sold_date_sk = d_date_sk
   and c_customer_sk = ss_customer_sk
   and d_month_seq between (select distinct d_month_seq+1
                            from date_dim
                            where d_year = 1998 and d_moy = 12)
                       and (select distinct d_month_seq+3
                            from date_dim
                            where d_year = 1998 and d_moy = 12)
 group by c_customer_sk),
 segments as
 (select cast((revenue/50) as int) as segment from my_revenue)
select segment, count(*) as num_customers, segment*50 as segment_base
from segments
group by segment
order by segment, num_customers
limit 100"""

  private val q56 = """
with ss as (
 select i_item_id, sum(ss_ext_sales_price) total_sales
 from store_sales, date_dim, customer_address, item
 where i_item_id in (select i_item_id
                     from item
                     where i_color in ('blanched', 'burnished', 'chiffon'))
   and ss_item_sk = i_item_sk
   and ss_sold_date_sk = d_date_sk
   and d_year = 2001 and d_moy = 2
   and ss_addr_sk = ca_address_sk
   and ca_gmt_offset = -5
 group by i_item_id),
cs as (
 select i_item_id, sum(cs_ext_sales_price) total_sales
 from catalog_sales, date_dim, customer_address, item
 where i_item_id in (select i_item_id
                     from item
                     where i_color in ('blanched', 'burnished', 'chiffon'))
   and cs_item_sk = i_item_sk
   and cs_sold_date_sk = d_date_sk
   and d_year = 2001 and d_moy = 2
   and cs_bill_addr_sk = ca_address_sk
   and ca_gmt_offset = -5
 group by i_item_id),
ws as (
 select i_item_id, sum(ws_ext_sales_price) total_sales
 from web_sales, date_dim, customer_address, item
 where i_item_id in (select i_item_id
                     from item
                     where i_color in ('blanched', 'burnished', 'chiffon'))
   and ws_item_sk = i_item_sk
   and ws_sold_date_sk = d_date_sk
   and d_year = 2001 and d_moy = 2
   and ws_bill_addr_sk = ca_address_sk
   and ca_gmt_offset = -5
 group by i_item_id)
select i_item_id, sum(total_sales) total_sales
from (select * from ss
      union all
      select * from cs
      union all
      select * from ws) tmp1
group by i_item_id
order by total_sales
limit 100"""

  private val q60 = """
with ss as (
 select i_item_id, sum(ss_ext_sales_price) total_sales
 from store_sales, date_dim, customer_address, item
 where i_item_id in (select i_item_id
                     from item
                     where i_category in ('Music'))
   and ss_item_sk = i_item_sk
   and ss_sold_date_sk = d_date_sk
   and d_year = 1998 and d_moy = 9
   and ss_addr_sk = ca_address_sk
   and ca_gmt_offset = -5
 group by i_item_id),
cs as (
 select i_item_id, sum(cs_ext_sales_price) total_sales
 from catalog_sales, date_dim, customer_address, item
 where i_item_id in (select i_item_id
                     from item
                     where i_category in ('Music'))
   and cs_item_sk = i_item_sk
   and cs_sold_date_sk = d_date_sk
   and d_year = 1998 and d_moy = 9
   and cs_bill_addr_sk = ca_address_sk
   and ca_gmt_offset = -5
 group by i_item_id),
ws as (
 select i_item_id, sum(ws_ext_sales_price) total_sales
 from web_sales, date_dim, customer_address, item
 where i_item_id in (select i_item_id
                     from item
                     where i_category in ('Music'))
   and ws_item_sk = i_item_sk
   and ws_sold_date_sk = d_date_sk
   and d_year = 1998 and d_moy = 9
   and ws_bill_addr_sk = ca_address_sk
   and ca_gmt_offset = -5
 group by i_item_id)
select i_item_id, sum(total_sales) total_sales
from (select * from ss
      union all
      select * from cs
      union all
      select * from ws) tmp1
group by i_item_id
order by i_item_id, total_sales
limit 100"""

  private val q71 = """
select i_brand_id brand_id, i_brand brand, t_hour, t_minute,
       sum(ext_price) ext_price
from item,
 (select ws_ext_sales_price as ext_price,
         ws_sold_date_sk as sold_date_sk,
         ws_item_sk as sold_item_sk,
         ws_sold_time_sk as time_sk
  from web_sales, date_dim
  where d_date_sk = ws_sold_date_sk
    and d_moy = 11 and d_year = 1999
  union all
  select cs_ext_sales_price as ext_price,
         cs_sold_date_sk as sold_date_sk,
         cs_item_sk as sold_item_sk,
         cs_sold_time_sk as time_sk
  from catalog_sales, date_dim
  where d_date_sk = cs_sold_date_sk
    and d_moy = 11 and d_year = 1999
  union all
  select ss_ext_sales_price as ext_price,
         ss_sold_date_sk as sold_date_sk,
         ss_item_sk as sold_item_sk,
         ss_sold_time_sk as time_sk
  from store_sales, date_dim
  where d_date_sk = ss_sold_date_sk
    and d_moy = 11 and d_year = 1999
 ) tmp, time_dim
where sold_item_sk = i_item_sk
  and i_manager_id = 1
  and time_sk = t_time_sk
  and (t_meal_time = 'breakfast' or t_meal_time = 'dinner')
group by i_brand, i_brand_id, t_hour, t_minute
order by ext_price desc, i_brand_id"""

  private val q74 = """
with year_total as (
 select c_customer_id customer_id, c_first_name customer_first_name,
        c_last_name customer_last_name, d_year as year,
        sum(ss_net_paid) year_total, 's' sale_type
 from customer, store_sales, date_dim
 where c_customer_sk = ss_customer_sk
   and ss_sold_date_sk = d_date_sk
   and d_year in (2001, 2001+1)
 group by c_customer_id, c_first_name, c_last_name, d_year
 union all
 select c_customer_id customer_id, c_first_name customer_first_name,
        c_last_name customer_last_name, d_year as year,
        sum(ws_net_paid) year_total, 'w' sale_type
 from customer, web_sales, date_dim
 where c_customer_sk = ws_bill_customer_sk
   and ws_sold_date_sk = d_date_sk
   and d_year in (2001, 2001+1)
 group by c_customer_id, c_first_name, c_last_name, d_year)
select t_s_secyear.customer_id, t_s_secyear.customer_first_name,
       t_s_secyear.customer_last_name
from year_total t_s_firstyear, year_total t_s_secyear,
     year_total t_w_firstyear, year_total t_w_secyear
where t_s_secyear.customer_id = t_s_firstyear.customer_id
  and t_s_firstyear.customer_id = t_w_secyear.customer_id
  and t_s_firstyear.customer_id = t_w_firstyear.customer_id
  and t_s_firstyear.sale_type = 's'
  and t_w_firstyear.sale_type = 'w'
  and t_s_secyear.sale_type = 's'
  and t_w_secyear.sale_type = 'w'
  and t_s_firstyear.year = 2001
  and t_s_secyear.year = 2001+1
  and t_w_firstyear.year = 2001
  and t_w_secyear.year = 2001+1
  and t_s_firstyear.year_total > 0
  and t_w_firstyear.year_total > 0
  and case when t_w_firstyear.year_total > 0
           then t_w_secyear.year_total / t_w_firstyear.year_total
           else null end
      > case when t_s_firstyear.year_total > 0
             then t_s_secyear.year_total / t_s_firstyear.year_total
             else null end
order by 1, 2, 3
limit 100"""

  private val q75 = """
with all_sales as (
 select d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id,
        sum(sales_cnt) as sales_cnt, sum(sales_amt) as sales_amt
 from (
   select d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id,
          cs_quantity - coalesce(cr_return_quantity,0) as sales_cnt,
          cs_ext_sales_price - coalesce(cr_return_amount,0.0) as sales_amt
   from catalog_sales
        join item on i_item_sk = cs_item_sk
        join date_dim on d_date_sk = cs_sold_date_sk
        left join catalog_returns on
          (cs_order_number = cr_order_number and cs_item_sk = cr_item_sk)
   where i_category = 'Books'
   union
   select d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id,
          ss_quantity - coalesce(sr_return_quantity,0) as sales_cnt,
          ss_ext_sales_price - coalesce(sr_return_amt,0.0) as sales_amt
   from store_sales
        join item on i_item_sk = ss_item_sk
        join date_dim on d_date_sk = ss_sold_date_sk
        left join store_returns on
          (ss_ticket_number = sr_ticket_number and ss_item_sk = sr_item_sk)
   where i_category = 'Books'
   union
   select d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id,
          ws_quantity - coalesce(wr_return_quantity,0) as sales_cnt,
          ws_ext_sales_price - coalesce(wr_return_amt,0.0) as sales_amt
   from web_sales
        join item on i_item_sk = ws_item_sk
        join date_dim on d_date_sk = ws_sold_date_sk
        left join web_returns on
          (ws_order_number = wr_order_number and ws_item_sk = wr_item_sk)
   where i_category = 'Books') sales_detail
 group by d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id)
select prev_yr.d_year as prev_year, curr_yr.d_year as year,
       curr_yr.i_brand_id, curr_yr.i_class_id, curr_yr.i_category_id,
       curr_yr.i_manufact_id,
       prev_yr.sales_cnt as prev_yr_cnt,
       curr_yr.sales_cnt as curr_yr_cnt,
       curr_yr.sales_cnt - prev_yr.sales_cnt as sales_cnt_diff,
       curr_yr.sales_amt - prev_yr.sales_amt as sales_amt_diff
from all_sales curr_yr, all_sales prev_yr
where curr_yr.i_brand_id = prev_yr.i_brand_id
  and curr_yr.i_class_id = prev_yr.i_class_id
  and curr_yr.i_category_id = prev_yr.i_category_id
  and curr_yr.i_manufact_id = prev_yr.i_manufact_id
  and curr_yr.d_year = 2002
  and prev_yr.d_year = 2002-1
  and cast(curr_yr.sales_cnt as decimal(17,2)) /
      cast(prev_yr.sales_cnt as decimal(17,2)) < 0.9
order by sales_cnt_diff, sales_amt_diff
limit 100"""

  private val q76 = """
select channel, col_name, d_year, d_qoy, i_category,
       count(*) sales_cnt, sum(ext_sales_price) sales_amt
from (
  select 'store' as channel, 'ss_store_sk' col_name, d_year, d_qoy,
         i_category, ss_ext_sales_price ext_sales_price
  from store_sales, item, date_dim
  where ss_store_sk is null
    and ss_sold_date_sk = d_date_sk
    and ss_item_sk = i_item_sk
  union all
  select 'web' as channel, 'ws_ship_customer_sk' col_name, d_year,
         d_qoy, i_category, ws_ext_sales_price ext_sales_price
  from web_sales, item, date_dim
  where ws_ship_customer_sk is null
    and ws_sold_date_sk = d_date_sk
    and ws_item_sk = i_item_sk
  union all
  select 'catalog' as channel, 'cs_ship_addr_sk' col_name, d_year,
         d_qoy, i_category, cs_ext_sales_price ext_sales_price
  from catalog_sales, item, date_dim
  where cs_ship_addr_sk is null
    and cs_sold_date_sk = d_date_sk
    and cs_item_sk = i_item_sk) foo
group by channel, col_name, d_year, d_qoy, i_category
order by channel, col_name, d_year, d_qoy, i_category
limit 100"""

  private val q78 = """
with ws as
  (select d_year AS ws_sold_year, ws_item_sk,
          ws_bill_customer_sk ws_customer_sk,
          sum(ws_quantity) ws_qty,
          sum(ws_wholesale_cost) ws_wc,
          sum(ws_sales_price) ws_sp
   from web_sales
   left join web_returns on
     wr_order_number = ws_order_number and ws_item_sk = wr_item_sk
   join date_dim on ws_sold_date_sk = d_date_sk
   where wr_order_number is null
   group by d_year, ws_item_sk, ws_bill_customer_sk),
cs as
  (select d_year AS cs_sold_year, cs_item_sk,
          cs_bill_customer_sk cs_customer_sk,
          sum(cs_quantity) cs_qty,
          sum(cs_wholesale_cost) cs_wc,
          sum(cs_sales_price) cs_sp
   from catalog_sales
   left join catalog_returns on
     cr_order_number = cs_order_number and cs_item_sk = cr_item_sk
   join date_dim on cs_sold_date_sk = d_date_sk
   where cr_order_number is null
   group by d_year, cs_item_sk, cs_bill_customer_sk),
ss as
  (select d_year AS ss_sold_year, ss_item_sk,
          ss_customer_sk,
          sum(ss_quantity) ss_qty,
          sum(ss_wholesale_cost) ss_wc,
          sum(ss_sales_price) ss_sp
   from store_sales
   left join store_returns on
     sr_ticket_number = ss_ticket_number and ss_item_sk = sr_item_sk
   join date_dim on ss_sold_date_sk = d_date_sk
   where sr_ticket_number is null
   group by d_year, ss_item_sk, ss_customer_sk)
select ss_sold_year, ss_item_sk, ss_customer_sk,
       round(ss_qty/(coalesce(ws_qty,0)+coalesce(cs_qty,0)),2) ratio,
       ss_qty store_qty, ss_wc store_wholesale_cost,
       ss_sp store_sales_price,
       coalesce(ws_qty,0)+coalesce(cs_qty,0) other_chan_qty,
       coalesce(ws_wc,0)+coalesce(cs_wc,0) other_chan_wholesale_cost,
       coalesce(ws_sp,0)+coalesce(cs_sp,0) other_chan_sales_price
from ss
left join ws on (ws_sold_year = ss_sold_year and ws_item_sk = ss_item_sk
                 and ws_customer_sk = ss_customer_sk)
left join cs on (cs_sold_year = ss_sold_year and cs_item_sk = ss_item_sk
                 and cs_customer_sk = ss_customer_sk)
where (coalesce(ws_qty,0) > 0 or coalesce(cs_qty, 0) > 0)
  and ss_sold_year = 2000
order by ss_sold_year, ss_item_sk, ss_customer_sk,
         ss_qty desc, ss_wc desc, ss_sp desc,
         other_chan_qty, other_chan_wholesale_cost,
         other_chan_sales_price, ratio
limit 100"""

  private val q80 = """
with ssr as
 (select s_store_id as store_id,
         sum(ss_ext_sales_price) as sales,
         sum(coalesce(sr_return_amt, 0)) as returns,
         sum(ss_net_profit - coalesce(sr_net_loss, 0)) as profit
  from store_sales left outer join store_returns on
         (ss_item_sk = sr_item_sk and ss_ticket_number = sr_ticket_number),
     date_dim, store, item, promotion
 where ss_sold_date_sk = d_date_sk
       and d_date between cast('2000-08-23' as date)
                      and (cast('2000-08-23' as date) + interval 30 day)
       and ss_store_sk = s_store_sk
       and ss_item_sk = i_item_sk
       and i_current_price > 50
       and ss_promo_sk = p_promo_sk
       and p_channel_tv = 'N'
 group by s_store_id),
 csr as
 (select cp_catalog_page_id as catalog_page_id,
         sum(cs_ext_sales_price) as sales,
         sum(coalesce(cr_return_amount, 0)) as returns,
         sum(cs_net_profit - coalesce(cr_net_loss, 0)) as profit
  from catalog_sales left outer join catalog_returns on
         (cs_item_sk = cr_item_sk and cs_order_number = cr_order_number),
     date_dim, catalog_page, item, promotion
 where cs_sold_date_sk = d_date_sk
       and d_date between cast('2000-08-23' as date)
                      and (cast('2000-08-23' as date) + interval 30 day)
       and cs_catalog_page_sk = cp_catalog_page_sk
       and cs_item_sk = i_item_sk
       and i_current_price > 50
       and cs_promo_sk = p_promo_sk
       and p_channel_tv = 'N'
 group by cp_catalog_page_id),
 wsr as
 (select web_site_id,
         sum(ws_ext_sales_price) as sales,
         sum(coalesce(wr_return_amt, 0)) as returns,
         sum(ws_net_profit - coalesce(wr_net_loss, 0)) as profit
  from web_sales left outer join web_returns on
         (ws_item_sk = wr_item_sk and ws_order_number = wr_order_number),
     date_dim, web_site, item, promotion
 where ws_sold_date_sk = d_date_sk
       and d_date between cast('2000-08-23' as date)
                      and (cast('2000-08-23' as date) + interval 30 day)
       and ws_web_site_sk = web_site_sk
       and ws_item_sk = i_item_sk
       and i_current_price > 50
       and ws_promo_sk = p_promo_sk
       and p_channel_tv = 'N'
 group by web_site_id)
select channel, id, sum(sales) as sales,
       sum(returns) as returns, sum(profit) as profit
from (select 'store channel' as channel, 'store' || store_id as id,
             sales, returns, profit
      from ssr
      union all
      select 'catalog channel' as channel,
             'catalog_page' || catalog_page_id as id,
             sales, returns, profit
      from csr
      union all
      select 'web channel' as channel, 'web_site' || web_site_id as id,
             sales, returns, profit
      from wsr) x
group by rollup (channel, id)
order by channel, id
limit 100"""

  private val q97 = """
with ssci as (
 select ss_customer_sk customer_sk, ss_item_sk item_sk
 from store_sales, date_dim
 where ss_sold_date_sk = d_date_sk
   and d_month_seq between 1200 and 1200 + 11
 group by ss_customer_sk, ss_item_sk),
csci as (
 select cs_bill_customer_sk customer_sk, cs_item_sk item_sk
 from catalog_sales, date_dim
 where cs_sold_date_sk = d_date_sk
   and d_month_seq between 1200 and 1200 + 11
 group by cs_bill_customer_sk, cs_item_sk)
select sum(case when ssci.customer_sk is not null
                 and csci.customer_sk is null then 1 else 0 end)
         store_only,
       sum(case when ssci.customer_sk is null
                 and csci.customer_sk is not null then 1 else 0 end)
         catalog_only,
       sum(case when ssci.customer_sk is not null
                 and csci.customer_sk is not null then 1 else 0 end)
         store_and_catalog
from ssci full outer join csci on (ssci.customer_sk = csci.customer_sk
                                   and ssci.item_sk = csci.item_sk)
limit 100"""

  private val texts: Map[String, String] = Map(
    "qds_official_q1" -> q1, "qds_official_q2" -> q2,
    "qds_official_q5" -> q5, "qds_official_q11" -> q11,
    "qds_official_q15" -> q15, "qds_official_q20" -> q20,
    "qds_official_q26" -> q26, "qds_official_q33" -> q33,
    "qds_official_q54" -> q54, "qds_official_q56" -> q56,
    "qds_official_q60" -> q60, "qds_official_q71" -> q71,
    "qds_official_q74" -> q74, "qds_official_q75" -> q75,
    "qds_official_q76" -> q76, "qds_official_q78" -> q78,
    "qds_official_q80" -> q80, "qds_official_q97" -> q97)

  private val renames: Map[String, Seq[String]] = Map(
    "qds_official_q2" -> Seq("d_week_seq1", "sun_r", "mon_r", "tue_r",
      "wed_r", "thu_r", "fri_r", "sat_r"),
    "qds_official_q15" -> Seq("ca_zip", "sum_sales"),
    "qds_official_q97" -> Seq("store_only", "catalog_only",
      "store_and_catalog"))

  /** Columns DuckDB widens to HUGEINT (sums of INTEGER case-counts) —
    * cast back to BIGINT in the oracle wrapper; Spark is already 64-bit. */
  private val casts: Map[String, Map[String, String]] = Map(
    "qds_official_q97" -> Map("store_only" -> "BIGINT", "catalog_only" -> "BIGINT",
      "store_and_catalog" -> "BIGINT"))

  val queries: Map[String, QueryFn] =
    texts.keys.map(n => n -> ((s: SparkSession, _: String) =>
      QTpcdsOfficial.runOfficial(s, texts(n), renames.get(n)))
      : (String, QueryFn)).toMap

  override val oracleSql: Map[String, String] = texts.map { case (name, text) =>
    name -> QTpcdsOfficial.wrapOracle(text, renames.get(name),
      casts.getOrElse(name, Map.empty))
  }
}
