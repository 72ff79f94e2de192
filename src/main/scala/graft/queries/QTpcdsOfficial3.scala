package graft.queries

import Q._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** OFFICIAL TPC-DS texts, batch 3 — single-channel catalog/web/returns
  * queries over the tri-channel fixture: Q16, Q25, Q29, Q32, Q37, Q40,
  * Q45, Q50, Q62, Q69, Q81, Q83, Q85, Q91, Q92, Q93, Q94, Q95, Q99.
  * Same verbatim-text + DuckDB-oracle discipline as
  * [[QTpcdsOfficial2]]; parameters substituted per the spec's
  * qualification rules inside the fixture's value domains.
  *
  * Determinism: day-bucket counters (Q50/Q62/Q99) and order counts
  * (Q16/Q94/Q95) are sums of INTEGER literals — BIGINT in Spark,
  * HUGEINT in DuckDB — so those columns cast back to BIGINT in the
  * ORACLE wrapper; every LIMIT is cut on a unique ordering chain or the
  * result is smaller than the limit.
  */
object QTpcdsOfficial3 extends Batch {

  private val q16 = """
select count(distinct cs_order_number) as "order count",
       sum(cs_ext_ship_cost) as "total shipping cost",
       sum(cs_net_profit) as "total net profit"
from catalog_sales cs1, date_dim, customer_address, call_center
where d_date between '2000-02-01' and
        (cast('2000-02-01' as date) + interval 60 day)
  and cs1.cs_ship_date_sk = d_date_sk
  and cs1.cs_ship_addr_sk = ca_address_sk
  and ca_state = 'GA'
  and cs1.cs_call_center_sk = cc_call_center_sk
  and cc_county in ('Williamson County', 'Williamson County',
                    'Williamson County', 'Williamson County',
                    'Williamson County')
  and exists (select *
              from catalog_sales cs2
              where cs1.cs_order_number = cs2.cs_order_number
                and cs1.cs_warehouse_sk <> cs2.cs_warehouse_sk)
  and not exists (select *
                  from catalog_returns cr1
                  where cs1.cs_order_number = cr1.cr_order_number)
order by count(distinct cs_order_number)
limit 100"""

  private val q25 = """
select i_item_id, i_item_desc, s_store_id, s_store_name,
       sum(ss_net_profit) as store_sales_profit,
       sum(sr_net_loss) as store_returns_loss,
       sum(cs_net_profit) as catalog_sales_profit
from store_sales, store_returns, catalog_sales, date_dim d1,
     date_dim d2, date_dim d3, store, item
where d1.d_moy = 4
  and d1.d_year = 2001
  and d1.d_date_sk = ss_sold_date_sk
  and i_item_sk = ss_item_sk
  and s_store_sk = ss_store_sk
  and ss_customer_sk = sr_customer_sk
  and ss_item_sk = sr_item_sk
  and ss_ticket_number = sr_ticket_number
  and sr_returned_date_sk = d2.d_date_sk
  and d2.d_moy between 4 and 10
  and d2.d_year = 2001
  and sr_customer_sk = cs_bill_customer_sk
  and sr_item_sk = cs_item_sk
  and cs_sold_date_sk = d3.d_date_sk
  and d3.d_moy between 4 and 10
  and d3.d_year = 2001
group by i_item_id, i_item_desc, s_store_id, s_store_name
order by i_item_id, i_item_desc, s_store_id, s_store_name
limit 100"""

  private val q29 = """
select i_item_id, i_item_desc, s_store_id, s_store_name,
       sum(ss_quantity) as store_sales_quantity,
       sum(sr_return_quantity) as store_returns_quantity,
       sum(cs_quantity) as catalog_sales_quantity
from store_sales, store_returns, catalog_sales, date_dim d1,
     date_dim d2, date_dim d3, store, item
where d1.d_moy = 9
  and d1.d_year = 1999
  and d1.d_date_sk = ss_sold_date_sk
  and i_item_sk = ss_item_sk
  and s_store_sk = ss_store_sk
  and ss_customer_sk = sr_customer_sk
  and ss_item_sk = sr_item_sk
  and ss_ticket_number = sr_ticket_number
  and sr_returned_date_sk = d2.d_date_sk
  and d2.d_moy between 9 and 9 + 3
  and d2.d_year = 1999
  and sr_customer_sk = cs_bill_customer_sk
  and sr_item_sk = cs_item_sk
  and cs_sold_date_sk = d3.d_date_sk
  and d3.d_year in (1999, 1999+1, 1999+2)
group by i_item_id, i_item_desc, s_store_id, s_store_name
order by i_item_id, i_item_desc, s_store_id, s_store_name
limit 100"""

  private val q32 = """
select sum(cs_ext_discount_amt) as "excess discount amount"
from catalog_sales, item, date_dim
where i_manufact_id = 128
  and i_item_sk = cs_item_sk
  and d_date between '2000-01-27' and
        (cast('2000-01-27' as date) + interval 90 day)
  and d_date_sk = cs_sold_date_sk
  and cs_ext_discount_amt > (
        select 1.3 * avg(cs_ext_discount_amt)
        from catalog_sales, date_dim
        where cs_item_sk = i_item_sk
          and d_date between '2000-01-27' and
                (cast('2000-01-27' as date) + interval 90 day)
          and d_date_sk = cs_sold_date_sk)
limit 100"""

  private val q37 = """
select i_item_id, i_item_desc, i_current_price
from item, inventory, date_dim, catalog_sales
where i_current_price between 68 and 68 + 30
  and inv_item_sk = i_item_sk
  and d_date_sk = inv_date_sk
  and d_date between cast('2000-02-01' as date)
                 and (cast('2000-02-01' as date) + interval 60 day)
  and i_manufact_id in (105, 110, 120, 130)
  and inv_quantity_on_hand between 100 and 500
  and cs_item_sk = i_item_sk
group by i_item_id, i_item_desc, i_current_price
order by i_item_id
limit 100"""

  private val q40 = """
select w_state, i_item_id,
       sum(case when (cast(d_date as date) <
                      cast('2000-03-11' as date))
                then cs_sales_price - coalesce(cr_refunded_cash,0)
                else 0 end) as sales_before,
       sum(case when (cast(d_date as date) >=
                      cast('2000-03-11' as date))
                then cs_sales_price - coalesce(cr_refunded_cash,0)
                else 0 end) as sales_after
from catalog_sales left outer join catalog_returns on
       (cs_order_number = cr_order_number and cs_item_sk = cr_item_sk),
     warehouse, item, date_dim
where i_current_price between 0.99 and 1.49
  and i_item_sk = cs_item_sk
  and cs_warehouse_sk = w_warehouse_sk
  and cs_sold_date_sk = d_date_sk
  and d_date between (cast('2000-03-11' as date) - interval 30 day)
                 and (cast('2000-03-11' as date) + interval 30 day)
group by w_state, i_item_id
order by w_state, i_item_id
limit 100"""

  private val q45 = """
select ca_zip, ca_city, sum(ws_sales_price)
from web_sales, customer, customer_address, date_dim, item
where ws_bill_customer_sk = c_customer_sk
  and c_current_addr_sk = ca_address_sk
  and ws_item_sk = i_item_sk
  and (substr(ca_zip,1,5) in ('85669', '86197', '88274', '83405',
                              '86475', '85392', '85460', '80348', '81792')
       or i_item_id in (select i_item_id
                        from item
                        where i_item_sk in (2, 3, 5, 7, 11, 13, 17, 19, 23, 29)))
  and ws_sold_date_sk = d_date_sk
  and d_qoy = 2 and d_year = 2001
group by ca_zip, ca_city
order by ca_zip, ca_city
limit 100"""

  private val q50 = """
select s_store_name, s_company_id, s_street_number, s_street_name,
       s_street_type, s_suite_number, s_city, s_county, s_state, s_zip,
       sum(case when (sr_returned_date_sk - ss_sold_date_sk <= 30)
                then 1 else 0 end) as "30 days",
       sum(case when (sr_returned_date_sk - ss_sold_date_sk > 30) and
                     (sr_returned_date_sk - ss_sold_date_sk <= 60)
                then 1 else 0 end) as "31-60 days",
       sum(case when (sr_returned_date_sk - ss_sold_date_sk > 60) and
                     (sr_returned_date_sk - ss_sold_date_sk <= 90)
                then 1 else 0 end) as "61-90 days",
       sum(case when (sr_returned_date_sk - ss_sold_date_sk > 90) and
                     (sr_returned_date_sk - ss_sold_date_sk <= 120)
                then 1 else 0 end) as "91-120 days",
       sum(case when (sr_returned_date_sk - ss_sold_date_sk > 120)
                then 1 else 0 end) as ">120 days"
from store_sales, store_returns, store, date_dim d1, date_dim d2
where d2.d_year = 2001
  and d2.d_moy = 8
  and ss_ticket_number = sr_ticket_number
  and ss_item_sk = sr_item_sk
  and ss_sold_date_sk = d1.d_date_sk
  and sr_returned_date_sk = d2.d_date_sk
  and ss_customer_sk = sr_customer_sk
  and ss_store_sk = s_store_sk
group by s_store_name, s_company_id, s_street_number, s_street_name,
         s_street_type, s_suite_number, s_city, s_county, s_state, s_zip
order by s_store_name, s_company_id, s_street_number, s_street_name,
         s_street_type, s_suite_number, s_city, s_county, s_state, s_zip
limit 100"""

  private val q62 = """
select substr(w_warehouse_name, 1, 20), sm_type, web_name,
       sum(case when (ws_ship_date_sk - ws_sold_date_sk <= 30)
                then 1 else 0 end) as "30 days",
       sum(case when (ws_ship_date_sk - ws_sold_date_sk > 30) and
                     (ws_ship_date_sk - ws_sold_date_sk <= 60)
                then 1 else 0 end) as "31-60 days",
       sum(case when (ws_ship_date_sk - ws_sold_date_sk > 60) and
                     (ws_ship_date_sk - ws_sold_date_sk <= 90)
                then 1 else 0 end) as "61-90 days",
       sum(case when (ws_ship_date_sk - ws_sold_date_sk > 90) and
                     (ws_ship_date_sk - ws_sold_date_sk <= 120)
                then 1 else 0 end) as "91-120 days",
       sum(case when (ws_ship_date_sk - ws_sold_date_sk > 120)
                then 1 else 0 end) as ">120 days"
from web_sales, warehouse, ship_mode, web_site, date_dim
where d_month_seq between 1200 and 1200 + 11
  and ws_ship_date_sk = d_date_sk
  and ws_warehouse_sk = w_warehouse_sk
  and ws_ship_mode_sk = sm_ship_mode_sk
  and ws_web_site_sk = web_site_sk
group by substr(w_warehouse_name, 1, 20), sm_type, web_name
order by substr(w_warehouse_name, 1, 20), sm_type, web_name
limit 100"""

  private val q69 = """
select cd_gender, cd_marital_status, cd_education_status,
       count(*) cnt1, cd_purchase_estimate, count(*) cnt2,
       cd_credit_rating, count(*) cnt3
from customer c, customer_address ca, customer_demographics
where c.c_current_addr_sk = ca.ca_address_sk
  and ca_state in ('KY', 'GA', 'NM')
  and cd_demo_sk = c.c_current_cdemo_sk
  and exists (select *
              from store_sales, date_dim
              where c.c_customer_sk = ss_customer_sk
                and ss_sold_date_sk = d_date_sk
                and d_year = 2001
                and d_moy between 4 and 4+2)
  and (not exists (select *
                   from web_sales, date_dim
                   where c.c_customer_sk = ws_bill_customer_sk
                     and ws_sold_date_sk = d_date_sk
                     and d_year = 2001
                     and d_moy between 4 and 4+2)
       and not exists (select *
                       from catalog_sales, date_dim
                       where c.c_customer_sk = cs_ship_customer_sk
                         and cs_sold_date_sk = d_date_sk
                         and d_year = 2001
                         and d_moy between 4 and 4+2))
group by cd_gender, cd_marital_status, cd_education_status,
         cd_purchase_estimate, cd_credit_rating
order by cd_gender, cd_marital_status, cd_education_status,
         cd_purchase_estimate, cd_credit_rating
limit 100"""

  private val q81 = """
with customer_total_return as
 (select cr_returning_customer_sk as ctr_customer_sk,
         ca_state as ctr_state,
         sum(cr_return_amt_inc_tax) as ctr_total_return
  from catalog_returns, date_dim, customer_address
  where cr_returned_date_sk = d_date_sk
    and d_year = 2000
    and cr_returning_addr_sk = ca_address_sk
  group by cr_returning_customer_sk, ca_state)
select c_customer_id, c_salutation, c_first_name, c_last_name,
       ca_street_number, ca_street_name, ca_street_type,
       ca_suite_number, ca_city, ca_county, ca_state, ca_zip,
       ca_country, ca_gmt_offset, ca_location_type, ctr_total_return
from customer_total_return ctr1, customer_address, customer
where ctr1.ctr_total_return > (select avg(ctr_total_return)*1.2
                               from customer_total_return ctr2
                               where ctr1.ctr_state = ctr2.ctr_state)
  and ca_address_sk = c_current_addr_sk
  and ca_state = 'GA'
  and ctr1.ctr_customer_sk = c_customer_sk
order by c_customer_id, c_salutation, c_first_name, c_last_name,
         ca_street_number, ca_street_name, ca_street_type,
         ca_suite_number, ca_city, ca_county, ca_state, ca_zip,
         ca_country, ca_gmt_offset, ca_location_type, ctr_total_return
limit 100"""

  private val q83 = """
with sr_items as
 (select i_item_id item_id, sum(sr_return_quantity) sr_item_qty
  from store_returns, item, date_dim
  where sr_item_sk = i_item_sk
    and d_date in (select d_date
                   from date_dim
                   where d_week_seq in (select d_week_seq
                                        from date_dim
                                        where d_date in ('2000-06-30',
                                                         '2000-09-27',
                                                         '2000-11-17')))
    and sr_returned_date_sk = d_date_sk
  group by i_item_id),
cr_items as
 (select i_item_id item_id, sum(cr_return_quantity) cr_item_qty
  from catalog_returns, item, date_dim
  where cr_item_sk = i_item_sk
    and d_date in (select d_date
                   from date_dim
                   where d_week_seq in (select d_week_seq
                                        from date_dim
                                        where d_date in ('2000-06-30',
                                                         '2000-09-27',
                                                         '2000-11-17')))
    and cr_returned_date_sk = d_date_sk
  group by i_item_id),
wr_items as
 (select i_item_id item_id, sum(wr_return_quantity) wr_item_qty
  from web_returns, item, date_dim
  where wr_item_sk = i_item_sk
    and d_date in (select d_date
                   from date_dim
                   where d_week_seq in (select d_week_seq
                                        from date_dim
                                        where d_date in ('2000-06-30',
                                                         '2000-09-27',
                                                         '2000-11-17')))
    and wr_returned_date_sk = d_date_sk
  group by i_item_id)
select sr_items.item_id,
       sr_item_qty,
       sr_item_qty/(sr_item_qty+cr_item_qty+wr_item_qty)/3.0 * 100 sr_dev,
       cr_item_qty,
       cr_item_qty/(sr_item_qty+cr_item_qty+wr_item_qty)/3.0 * 100 cr_dev,
       wr_item_qty,
       wr_item_qty/(sr_item_qty+cr_item_qty+wr_item_qty)/3.0 * 100 wr_dev,
       (sr_item_qty+cr_item_qty+wr_item_qty)/3.0 average
from sr_items, cr_items, wr_items
where sr_items.item_id = cr_items.item_id
  and sr_items.item_id = wr_items.item_id
order by sr_items.item_id, sr_item_qty
limit 100"""

  private val q85 = """
select substr(r_reason_desc, 1, 20),
       avg(ws_quantity),
       avg(wr_refunded_cash),
       avg(wr_fee)
from web_sales, web_returns, web_page, customer_demographics cd1,
     customer_demographics cd2, customer_address, date_dim, reason
where ws_web_page_sk = wp_web_page_sk
  and ws_item_sk = wr_item_sk
  and ws_order_number = wr_order_number
  and ws_sold_date_sk = d_date_sk
  and d_year = 2000
  and cd1.cd_demo_sk = wr_refunded_cdemo_sk
  and cd2.cd_demo_sk = wr_returning_cdemo_sk
  and ca_address_sk = wr_refunded_addr_sk
  and r_reason_sk = wr_reason_sk
  and ((cd1.cd_marital_status = 'M'
        and cd1.cd_marital_status = cd2.cd_marital_status
        and cd1.cd_education_status = 'Advanced Degree'
        and cd1.cd_education_status = cd2.cd_education_status
        and ws_sales_price between 100.00 and 150.00)
    or (cd1.cd_marital_status = 'S'
        and cd1.cd_marital_status = cd2.cd_marital_status
        and cd1.cd_education_status = 'College'
        and cd1.cd_education_status = cd2.cd_education_status
        and ws_sales_price between 50.00 and 100.00)
    or (cd1.cd_marital_status = 'W'
        and cd1.cd_marital_status = cd2.cd_marital_status
        and cd1.cd_education_status = '2 yr Degree'
        and cd1.cd_education_status = cd2.cd_education_status
        and ws_sales_price between 150.00 and 200.00))
  and ((ca_country = 'United States'
        and ca_state in ('TX', 'OH', 'TX')
        and ws_net_profit between 100 and 200)
    or (ca_country = 'United States'
        and ca_state in ('OR', 'NM', 'KY')
        and ws_net_profit between 150 and 300)
    or (ca_country = 'United States'
        and ca_state in ('VA', 'TX', 'MS')
        and ws_net_profit between 50 and 250))
group by r_reason_desc
order by substr(r_reason_desc, 1, 20),
         avg(ws_quantity),
         avg(wr_refunded_cash),
         avg(wr_fee)
limit 100"""

  private val q91 = """
select cc_call_center_id Call_Center, cc_name Call_Center_Name,
       cc_manager Manager, sum(cr_net_loss) Returns_Loss
from call_center, catalog_returns, date_dim, customer,
     customer_address, customer_demographics, household_demographics
where cr_call_center_sk = cc_call_center_sk
  and cr_returned_date_sk = d_date_sk
  and cr_returning_customer_sk = c_customer_sk
  and cd_demo_sk = c_current_cdemo_sk
  and hd_demo_sk = c_current_hdemo_sk
  and ca_address_sk = c_current_addr_sk
  and d_year = 2001
  and d_moy = 11
  and ((cd_marital_status = 'M' and cd_education_status = 'Unknown')
       or (cd_marital_status = 'W'
           and cd_education_status = 'Advanced Degree'))
  and hd_buy_potential like 'unknown%'
  and ca_gmt_offset = -6
group by cc_call_center_id, cc_name, cc_manager, cd_marital_status,
         cd_education_status
order by sum(cr_net_loss) desc"""

  private val q92 = """
select sum(ws_ext_discount_amt) as "Excess Discount Amount"
from web_sales, item, date_dim
where i_manufact_id = 128
  and i_item_sk = ws_item_sk
  and d_date between '2000-01-27' and
        (cast('2000-01-27' as date) + interval 90 day)
  and d_date_sk = ws_sold_date_sk
  and ws_ext_discount_amt > (
        select 1.3 * avg(ws_ext_discount_amt)
        from web_sales, date_dim
        where ws_item_sk = i_item_sk
          and d_date between '2000-01-27' and
                (cast('2000-01-27' as date) + interval 90 day)
          and d_date_sk = ws_sold_date_sk)
order by sum(ws_ext_discount_amt)
limit 100"""

  private val q93 = """
select ss_customer_sk, sum(act_sales) sumsales
from (select ss_item_sk, ss_ticket_number, ss_customer_sk,
             case when sr_return_quantity is not null
                  then (ss_quantity - sr_return_quantity) * ss_sales_price
                  else (ss_quantity * ss_sales_price) end act_sales
      from store_sales
           left outer join store_returns on
             (sr_item_sk = ss_item_sk and
              sr_ticket_number = ss_ticket_number),
           reason
      where sr_reason_sk = r_reason_sk
        and r_reason_desc = 'reason 5') t
group by ss_customer_sk
order by sumsales, ss_customer_sk
limit 100"""

  private val q94 = """
select count(distinct ws_order_number) as "order count",
       sum(ws_ext_ship_cost) as "total shipping cost",
       sum(ws_net_profit) as "total net profit"
from web_sales ws1, date_dim, customer_address, web_site
where d_date between '1999-02-01' and
        (cast('1999-02-01' as date) + interval 60 day)
  and ws1.ws_ship_date_sk = d_date_sk
  and ws1.ws_ship_addr_sk = ca_address_sk
  and ca_state = 'KY'
  and ws1.ws_web_site_sk = web_site_sk
  and web_company_name = 'pri'
  and exists (select *
              from web_sales ws2
              where ws1.ws_order_number = ws2.ws_order_number
                and ws1.ws_warehouse_sk <> ws2.ws_warehouse_sk)
  and not exists (select *
                  from web_returns wr1
                  where ws1.ws_order_number = wr1.wr_order_number)
order by count(distinct ws_order_number)
limit 100"""

  private val q95 = """
with ws_wh as
 (select ws1.ws_order_number, ws1.ws_warehouse_sk wh1,
         ws2.ws_warehouse_sk wh2
  from web_sales ws1, web_sales ws2
  where ws1.ws_order_number = ws2.ws_order_number
    and ws1.ws_warehouse_sk <> ws2.ws_warehouse_sk)
select count(distinct ws_order_number) as "order count",
       sum(ws_ext_ship_cost) as "total shipping cost",
       sum(ws_net_profit) as "total net profit"
from web_sales ws1, date_dim, customer_address, web_site
where d_date between '1999-02-01' and
        (cast('1999-02-01' as date) + interval 60 day)
  and ws1.ws_ship_date_sk = d_date_sk
  and ws1.ws_ship_addr_sk = ca_address_sk
  and ca_state = 'KY'
  and ws1.ws_web_site_sk = web_site_sk
  and web_company_name = 'pri'
  and ws1.ws_order_number in (select ws_order_number
                              from ws_wh)
  and ws1.ws_order_number in (select wr_order_number
                              from web_returns, ws_wh
                              where wr_order_number = ws_wh.ws_order_number)
order by count(distinct ws_order_number)
limit 100"""

  private val q99 = """
select substr(w_warehouse_name, 1, 20), sm_type, cc_name,
       sum(case when (cs_ship_date_sk - cs_sold_date_sk <= 30)
                then 1 else 0 end) as "30 days",
       sum(case when (cs_ship_date_sk - cs_sold_date_sk > 30) and
                     (cs_ship_date_sk - cs_sold_date_sk <= 60)
                then 1 else 0 end) as "31-60 days",
       sum(case when (cs_ship_date_sk - cs_sold_date_sk > 60) and
                     (cs_ship_date_sk - cs_sold_date_sk <= 90)
                then 1 else 0 end) as "61-90 days",
       sum(case when (cs_ship_date_sk - cs_sold_date_sk > 90) and
                     (cs_ship_date_sk - cs_sold_date_sk <= 120)
                then 1 else 0 end) as "91-120 days",
       sum(case when (cs_ship_date_sk - cs_sold_date_sk > 120)
                then 1 else 0 end) as ">120 days"
from catalog_sales, warehouse, ship_mode, call_center, date_dim
where d_month_seq between 1200 and 1200 + 11
  and cs_ship_date_sk = d_date_sk
  and cs_warehouse_sk = w_warehouse_sk
  and cs_ship_mode_sk = sm_ship_mode_sk
  and cs_call_center_sk = cc_call_center_sk
group by substr(w_warehouse_name, 1, 20), sm_type, cc_name
order by substr(w_warehouse_name, 1, 20), sm_type, cc_name
limit 100"""

  private val texts: Map[String, String] = Map(
    "qds_official_q16" -> q16, "qds_official_q25" -> q25,
    "qds_official_q29" -> q29, "qds_official_q32" -> q32,
    "qds_official_q37" -> q37, "qds_official_q40" -> q40,
    "qds_official_q45" -> q45, "qds_official_q50" -> q50,
    "qds_official_q62" -> q62, "qds_official_q69" -> q69,
    "qds_official_q81" -> q81, "qds_official_q83" -> q83,
    "qds_official_q85" -> q85, "qds_official_q91" -> q91,
    "qds_official_q92" -> q92, "qds_official_q93" -> q93,
    "qds_official_q94" -> q94, "qds_official_q95" -> q95,
    "qds_official_q99" -> q99)

  private val dayBuckets = Seq("d30", "d31_60", "d61_90", "d91_120",
    "d120_plus")

  private val renames: Map[String, Seq[String]] = Map(
    "qds_official_q16" -> Seq("order_count", "total_shipping_cost",
      "total_net_profit"),
    "qds_official_q45" -> Seq("ca_zip", "ca_city", "sum_sales"),
    "qds_official_q50" -> (Seq("s_store_name", "s_company_id",
      "s_street_number", "s_street_name", "s_street_type",
      "s_suite_number", "s_city", "s_county", "s_state", "s_zip")
      ++ dayBuckets),
    "qds_official_q62" -> (Seq("wh_name", "sm_type", "web_name")
      ++ dayBuckets),
    "qds_official_q85" -> Seq("reason_desc", "avg_quantity",
      "avg_refunded_cash", "avg_fee"),
    "qds_official_q32" -> Seq("excess_discount_amount"),
    "qds_official_q92" -> Seq("excess_discount_amount"),
    "qds_official_q94" -> Seq("order_count", "total_shipping_cost",
      "total_net_profit"),
    "qds_official_q95" -> Seq("order_count", "total_shipping_cost",
      "total_net_profit"),
    "qds_official_q99" -> (Seq("wh_name", "sm_type", "cc_name")
      ++ dayBuckets))

  /** sum(INTEGER) day-bucket counters → HUGEINT in DuckDB; cast back. */
  private val casts: Map[String, Map[String, String]] = Map(
    "qds_official_q50" -> dayBuckets.map(_ -> "BIGINT").toMap,
    "qds_official_q62" -> dayBuckets.map(_ -> "BIGINT").toMap,
    "qds_official_q99" -> dayBuckets.map(_ -> "BIGINT").toMap)

  val queries: Map[String, QueryFn] =
    texts.keys.map(n => n -> ((s: SparkSession, _: String) =>
      QTpcdsOfficial.runOfficial(s, texts(n), renames.get(n)))
      : (String, QueryFn)).toMap

  override val oracleSql: Map[String, String] = texts.map { case (name, text) =>
    name -> QTpcdsOfficial.wrapOracle(text, renames.get(name),
      casts.getOrElse(name, Map.empty))
  }
}
