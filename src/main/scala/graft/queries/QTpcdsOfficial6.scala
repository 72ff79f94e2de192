package graft.queries

import Q._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** OFFICIAL TPC-DS texts, batch 6 — the remaining gateable queries:
  * Q4, Q14 (second statement), Q18, Q23 (both statements, a/b), Q24,
  * Q41, Q44, Q49, Q58, Q64, Q66, Q90. Same verbatim-text +
  * DuckDB-oracle discipline as [[QTpcdsOfficial2]]; decimal ratio/avg
  * outputs collapse onto their cast's decimal grid on BOTH engines
  * then widen to DOUBLE (the gate bans decimal physicals; the engines'
  * intermediate representations differ sub-ulp, the grid is far
  * coarser than the divergence).
  *
  * NOT gateable (documented in DEVIATIONS.md): Q14's FIRST statement,
  * Q22 and Q67 order a >limit rollup by keys whose subtotal rows carry
  * NULLs — Spark sorts nulls first, DuckDB last, so the LIMIT cut
  * selects different row sets (q_click_group_limit's class: no exact
  * oracle can exist); Q17/Q39 output stddev of doubles, whose parallel
  * accumulation order differs between engines (and across Spark
  * partitionings).
  */
object QTpcdsOfficial6 extends Batch {

  private val q4 = """
with year_total as (
 select c_customer_id customer_id, c_first_name customer_first_name,
        c_last_name customer_last_name,
        c_preferred_cust_flag customer_preferred_cust_flag,
        c_birth_country customer_birth_country,
        c_login customer_login,
        c_email_address customer_email_address,
        d_year dyear,
        sum(((ss_ext_list_price-ss_ext_wholesale_cost-ss_ext_discount_amt)+ss_ext_sales_price)/2) year_total,
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
        sum(((cs_ext_list_price-cs_ext_wholesale_cost-cs_ext_discount_amt)+cs_ext_sales_price)/2) year_total,
        'c' sale_type
 from customer, catalog_sales, date_dim
 where c_customer_sk = cs_bill_customer_sk and cs_sold_date_sk = d_date_sk
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
        sum(((ws_ext_list_price-ws_ext_wholesale_cost-ws_ext_discount_amt)+ws_ext_sales_price)/2) year_total,
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
     year_total t_c_firstyear, year_total t_c_secyear,
     year_total t_w_firstyear, year_total t_w_secyear
where t_s_secyear.customer_id = t_s_firstyear.customer_id
  and t_s_firstyear.customer_id = t_c_secyear.customer_id
  and t_s_firstyear.customer_id = t_c_firstyear.customer_id
  and t_s_firstyear.customer_id = t_w_firstyear.customer_id
  and t_s_firstyear.customer_id = t_w_secyear.customer_id
  and t_s_firstyear.sale_type = 's'
  and t_c_firstyear.sale_type = 'c'
  and t_w_firstyear.sale_type = 'w'
  and t_s_secyear.sale_type = 's'
  and t_c_secyear.sale_type = 'c'
  and t_w_secyear.sale_type = 'w'
  and t_s_firstyear.dyear = 2001
  and t_s_secyear.dyear = 2001+1
  and t_c_firstyear.dyear = 2001
  and t_c_secyear.dyear = 2001+1
  and t_w_firstyear.dyear = 2001
  and t_w_secyear.dyear = 2001+1
  and t_s_firstyear.year_total > 0
  and t_c_firstyear.year_total > 0
  and t_w_firstyear.year_total > 0
  and case when t_c_firstyear.year_total > 0
           then t_c_secyear.year_total / t_c_firstyear.year_total
           else null end
      > case when t_s_firstyear.year_total > 0
             then t_s_secyear.year_total / t_s_firstyear.year_total
             else null end
  and case when t_c_firstyear.year_total > 0
           then t_c_secyear.year_total / t_c_firstyear.year_total
           else null end
      > case when t_w_firstyear.year_total > 0
             then t_w_secyear.year_total / t_w_firstyear.year_total
             else null end
order by t_s_secyear.customer_id, t_s_secyear.customer_first_name,
         t_s_secyear.customer_last_name,
         t_s_secyear.customer_preferred_cust_flag
limit 100"""


  private val q14b = """
with cross_items as
 (select i_item_sk ss_item_sk
  from item,
  (select iss.i_brand_id brand_id, iss.i_class_id class_id,
          iss.i_category_id category_id
   from store_sales, item iss, date_dim d1
   where ss_item_sk = iss.i_item_sk
     and ss_sold_date_sk = d1.d_date_sk
     and d1.d_year between 1999 and 1999 + 2
   intersect
   select ics.i_brand_id, ics.i_class_id, ics.i_category_id
   from catalog_sales, item ics, date_dim d2
   where cs_item_sk = ics.i_item_sk
     and cs_sold_date_sk = d2.d_date_sk
     and d2.d_year between 1999 and 1999 + 2
   intersect
   select iws.i_brand_id, iws.i_class_id, iws.i_category_id
   from web_sales, item iws, date_dim d3
   where ws_item_sk = iws.i_item_sk
     and ws_sold_date_sk = d3.d_date_sk
     and d3.d_year between 1999 and 1999 + 2) x
  where i_brand_id = brand_id
    and i_class_id = class_id
    and i_category_id = category_id),
 avg_sales as
 (select avg(quantity*list_price) average_sales
  from (select ss_quantity quantity, ss_list_price list_price
        from store_sales, date_dim
        where ss_sold_date_sk = d_date_sk
          and d_year between 1999 and 1999 + 2
        union all
        select cs_quantity quantity, cs_list_price list_price
        from catalog_sales, date_dim
        where cs_sold_date_sk = d_date_sk
          and d_year between 1999 and 1999 + 2
        union all
        select ws_quantity quantity, ws_list_price list_price
        from web_sales, date_dim
        where ws_sold_date_sk = d_date_sk
          and d_year between 1999 and 1999 + 2) x)
select this_year.channel ty_channel, this_year.i_brand_id ty_brand,
       this_year.i_class_id ty_class,
       this_year.i_category_id ty_category,
       this_year.sales ty_sales, this_year.number_sales ty_number_sales,
       last_year.channel ly_channel, last_year.i_brand_id ly_brand,
       last_year.i_class_id ly_class,
       last_year.i_category_id ly_category,
       last_year.sales ly_sales, last_year.number_sales ly_number_sales
from
 (select 'store' channel, i_brand_id, i_class_id, i_category_id,
         sum(ss_quantity*ss_list_price) sales, count(*) number_sales
  from store_sales, item, date_dim
  where ss_item_sk in (select ss_item_sk from cross_items)
    and ss_item_sk = i_item_sk
    and ss_sold_date_sk = d_date_sk
    and d_week_seq = (select d_week_seq
                      from date_dim
                      where d_year = 1999 + 1
                        and d_moy = 12
                        and d_dom = 11)
  group by i_brand_id, i_class_id, i_category_id
  having sum(ss_quantity*ss_list_price) > (select average_sales
                                           from avg_sales)) this_year,
 (select 'store' channel, i_brand_id, i_class_id, i_category_id,
         sum(ss_quantity*ss_list_price) sales, count(*) number_sales
  from store_sales, item, date_dim
  where ss_item_sk in (select ss_item_sk from cross_items)
    and ss_item_sk = i_item_sk
    and ss_sold_date_sk = d_date_sk
    and d_week_seq = (select d_week_seq
                      from date_dim
                      where d_year = 1999
                        and d_moy = 12
                        and d_dom = 11)
  group by i_brand_id, i_class_id, i_category_id
  having sum(ss_quantity*ss_list_price) > (select average_sales
                                           from avg_sales)) last_year
where this_year.i_brand_id = last_year.i_brand_id
  and this_year.i_class_id = last_year.i_class_id
  and this_year.i_category_id = last_year.i_category_id
order by this_year.channel, this_year.i_brand_id,
         this_year.i_class_id, this_year.i_category_id
limit 100"""

  private val q18 = """
select i_item_id, ca_country, ca_state, ca_county,
       avg(cast(cs_quantity as decimal(12,2))) agg1,
       avg(cast(cs_list_price as decimal(12,2))) agg2,
       avg(cast(cs_coupon_amt as decimal(12,2))) agg3,
       avg(cast(cs_sales_price as decimal(12,2))) agg4,
       avg(cast(cs_net_profit as decimal(12,2))) agg5,
       avg(cast(c_birth_year as decimal(12,2))) agg6,
       avg(cast(cd1.cd_dep_count as decimal(12,2))) agg7
from catalog_sales, customer_demographics cd1,
     customer_demographics cd2, customer, customer_address, date_dim,
     item
where cs_sold_date_sk = d_date_sk
  and cs_item_sk = i_item_sk
  and cs_bill_cdemo_sk = cd1.cd_demo_sk
  and cs_bill_customer_sk = c_customer_sk
  and cd1.cd_gender = 'F'
  and cd1.cd_education_status = 'Unknown'
  and c_current_cdemo_sk = cd2.cd_demo_sk
  and c_current_addr_sk = ca_address_sk
  and c_birth_month in (12,12,12,12,12,12)
  and d_year = 1998
  and ca_state in ('GA','GA','GA','GA','GA','GA','GA')
group by rollup (i_item_id, ca_country, ca_state, ca_county)
order by ca_country, ca_state, ca_county, i_item_id
limit 100"""

  private val q23a = """
with frequent_ss_items as
 (select substr(i_item_desc,1,30) itemdesc, i_item_sk item_sk,
         d_date solddate, count(*) cnt
  from store_sales, date_dim, item
  where ss_sold_date_sk = d_date_sk
    and ss_item_sk = i_item_sk
    and d_year in (2000, 2000+1, 2000+2, 2000+3)
  group by substr(i_item_desc,1,30), i_item_sk, d_date
  having count(*) > 4),
 max_store_sales as
 (select max(csales) tpcds_cmax
  from (select c_customer_sk, sum(ss_quantity*ss_sales_price) csales
        from store_sales, customer, date_dim
        where ss_customer_sk = c_customer_sk
          and ss_sold_date_sk = d_date_sk
          and d_year in (2000, 2000+1, 2000+2, 2000+3)
        group by c_customer_sk)),
 best_ss_customer as
 (select c_customer_sk, sum(ss_quantity*ss_sales_price) ssales
  from store_sales, customer
  where ss_customer_sk = c_customer_sk
  group by c_customer_sk
  having sum(ss_quantity*ss_sales_price) >
           (50/100.0) * (select * from max_store_sales))
select sum(sales)
from (select cs_quantity*cs_list_price sales
      from catalog_sales, date_dim
      where d_year = 2000
        and d_moy = 2
        and cs_sold_date_sk = d_date_sk
        and cs_item_sk in (select item_sk from frequent_ss_items)
        and cs_bill_customer_sk in (select c_customer_sk
                                    from best_ss_customer)
      union all
      select ws_quantity*ws_list_price sales
      from web_sales, date_dim
      where d_year = 2000
        and d_moy = 2
        and ws_sold_date_sk = d_date_sk
        and ws_item_sk in (select item_sk from frequent_ss_items)
        and ws_bill_customer_sk in (select c_customer_sk
                                    from best_ss_customer))
limit 100"""

  private val q23b = """
with frequent_ss_items as
 (select substr(i_item_desc,1,30) itemdesc, i_item_sk item_sk,
         d_date solddate, count(*) cnt
  from store_sales, date_dim, item
  where ss_sold_date_sk = d_date_sk
    and ss_item_sk = i_item_sk
    and d_year in (2000, 2000+1, 2000+2, 2000+3)
  group by substr(i_item_desc,1,30), i_item_sk, d_date
  having count(*) > 4),
 max_store_sales as
 (select max(csales) tpcds_cmax
  from (select c_customer_sk, sum(ss_quantity*ss_sales_price) csales
        from store_sales, customer, date_dim
        where ss_customer_sk = c_customer_sk
          and ss_sold_date_sk = d_date_sk
          and d_year in (2000, 2000+1, 2000+2, 2000+3)
        group by c_customer_sk)),
 best_ss_customer as
 (select c_customer_sk, sum(ss_quantity*ss_sales_price) ssales
  from store_sales, customer
  where ss_customer_sk = c_customer_sk
  group by c_customer_sk
  having sum(ss_quantity*ss_sales_price) >
           (50/100.0) * (select * from max_store_sales))
select c_last_name, c_first_name, sales
from (select c_last_name, c_first_name,
             sum(cs_quantity*cs_list_price) sales
      from catalog_sales, customer, date_dim
      where d_year = 2000
        and d_moy = 2
        and cs_sold_date_sk = d_date_sk
        and cs_item_sk in (select item_sk from frequent_ss_items)
        and cs_bill_customer_sk in (select c_customer_sk
                                    from best_ss_customer)
        and cs_bill_customer_sk = c_customer_sk
      group by c_last_name, c_first_name
      union all
      select c_last_name, c_first_name,
             sum(ws_quantity*ws_list_price) sales
      from web_sales, customer, date_dim
      where d_year = 2000
        and d_moy = 2
        and ws_sold_date_sk = d_date_sk
        and ws_item_sk in (select item_sk from frequent_ss_items)
        and ws_bill_customer_sk in (select c_customer_sk
                                    from best_ss_customer)
        and ws_bill_customer_sk = c_customer_sk
      group by c_last_name, c_first_name)
order by c_last_name, c_first_name, sales
limit 100"""

  private val q24 = """
with ssales as
(select c_last_name, c_first_name, s_store_name, ca_state, s_state,
        i_color, i_current_price, i_manager_id, i_units, i_size,
        sum(ss_net_paid) netpaid
 from store_sales, store_returns, store, item, customer,
      customer_address
 where ss_ticket_number = sr_ticket_number
   and ss_item_sk = sr_item_sk
   and ss_customer_sk = c_customer_sk
   and ss_item_sk = i_item_sk
   and ss_store_sk = s_store_sk
   and c_birth_country <> upper(ca_country)
   and s_zip = ca_zip
   and s_market_id = 8
   and c_current_addr_sk = ca_address_sk
 group by c_last_name, c_first_name, s_store_name, ca_state, s_state,
          i_color, i_current_price, i_manager_id, i_units, i_size)
select c_last_name, c_first_name, s_store_name, sum(netpaid) paid
from ssales
where i_color = 'chiffon'
group by c_last_name, c_first_name, s_store_name
having sum(netpaid) > (select 0.05*avg(netpaid) from ssales)
order by c_last_name, c_first_name, s_store_name
limit 100"""

  private val q41 = """
select distinct(i_product_name)
from item i1
where i_manufact_id between 101 and 140
  and (select count(*) as item_cnt
       from item
       where (i_manufact = i1.i_manufact and
        ((i_category = 'Women' and
          (i_color = 'blue' or i_color = 'blush') and
          (i_units = 'Cup' or i_units = 'Dram') and
          (i_size = 'medium' or i_size = 'economy')
         ) or
         (i_category = 'Women' and
          (i_color = 'cornflower' or i_color = 'chartreuse') and
          (i_units = 'Gram' or i_units = 'Ton') and
          (i_size = 'economy' or i_size = 'small')
         ) or
         (i_category = 'Men' and
          (i_color = 'antique' or i_color = 'azure') and
          (i_units = 'Lb' or i_units = 'Oz') and
          (i_size = 'N/A' or i_size = 'small')
         ) or
         (i_category = 'Men' and
          (i_color = 'burlywood' or i_color = 'brown') and
          (i_units = 'Cup' or i_units = 'Dram') and
          (i_size = 'petite' or i_size = 'medium')
         ))) or
       (i_manufact = i1.i_manufact and
        ((i_category = 'Women' and
          (i_color = 'burnished' or i_color = 'cream') and
          (i_units = 'Dram' or i_units = 'Gram') and
          (i_size = 'N/A' or i_size = 'small')
         ) or
         (i_category = 'Women' and
          (i_color = 'coral' or i_color = 'cyan') and
          (i_units = 'Ton' or i_units = 'Each') and
          (i_size = 'small' or i_size = 'large')
         ) or
         (i_category = 'Men' and
          (i_color = 'aquamarine' or i_color = 'almond') and
          (i_units = 'Unknown' or i_units = 'Case') and
          (i_size = 'extra large' or i_size = 'large')
         ) or
         (i_category = 'Men' and
          (i_color = 'chiffon' or i_color = 'chocolate') and
          (i_units = 'Gram' or i_units = 'Bunch') and
          (i_size = 'medium' or i_size = 'economy')
         )))) > 0
order by i_product_name
limit 100"""

  private val q44 = """
select asceding.rnk, i1.i_product_name best_performing,
       i2.i_product_name worst_performing
from(select *
     from (select item_sk, rank() over (order by rank_col asc) rnk
           from (select ss_item_sk item_sk, avg(ss_net_profit) rank_col
                 from store_sales ss1
                 where ss_store_sk = 4
                 group by ss_item_sk
                 having avg(ss_net_profit) > 0.9*(select avg(ss_net_profit) rank_col
                                                  from store_sales
                                                  where ss_store_sk = 4
                                                    and ss_hdemo_sk is null
                                                  group by ss_store_sk)) v1) v11
     where rnk < 11) asceding,
    (select *
     from (select item_sk, rank() over (order by rank_col desc) rnk
           from (select ss_item_sk item_sk, avg(ss_net_profit) rank_col
                 from store_sales ss1
                 where ss_store_sk = 4
                 group by ss_item_sk
                 having avg(ss_net_profit) > 0.9*(select avg(ss_net_profit) rank_col
                                                  from store_sales
                                                  where ss_store_sk = 4
                                                    and ss_hdemo_sk is null
                                                  group by ss_store_sk)) v2) v21
     where rnk < 11) descending,
    item i1, item i2
where asceding.rnk = descending.rnk
  and i1.i_item_sk = asceding.item_sk
  and i2.i_item_sk = descending.item_sk
order by asceding.rnk
limit 100"""

  private val q49 = """
select channel, item, return_ratio, return_rank, currency_rank
from (
 select 'web' as channel, web.item, web.return_ratio,
        web.return_rank, web.currency_rank
 from (
   select item, return_ratio, currency_ratio,
          rank() over (order by return_ratio) as return_rank,
          rank() over (order by currency_ratio) as currency_rank
   from (
     select ws.ws_item_sk as item,
            (cast(sum(coalesce(wr.wr_return_quantity,0)) as decimal(15,4))/
             cast(sum(coalesce(ws.ws_quantity,0)) as decimal(15,4))) as return_ratio,
            (cast(sum(coalesce(wr.wr_return_amt,0)) as decimal(15,4))/
             cast(sum(coalesce(ws.ws_net_paid,0)) as decimal(15,4))) as currency_ratio
     from web_sales ws left outer join web_returns wr
            on (ws.ws_order_number = wr.wr_order_number
                and ws.ws_item_sk = wr.wr_item_sk),
          date_dim
     where wr.wr_return_amt > 10000
       and ws.ws_net_profit > 1
       and ws.ws_net_paid > 0
       and ws.ws_quantity > 0
       and ws_sold_date_sk = d_date_sk
       and d_year = 2001
       and d_moy = 12
     group by ws.ws_item_sk) in_web
 ) web
 where (web.return_rank <= 10 or web.currency_rank <= 10)
 union
 select 'catalog' as channel, catalog.item, catalog.return_ratio,
        catalog.return_rank, catalog.currency_rank
 from (
   select item, return_ratio, currency_ratio,
          rank() over (order by return_ratio) as return_rank,
          rank() over (order by currency_ratio) as currency_rank
   from (
     select cs.cs_item_sk as item,
            (cast(sum(coalesce(cr.cr_return_quantity,0)) as decimal(15,4))/
             cast(sum(coalesce(cs.cs_quantity,0)) as decimal(15,4))) as return_ratio,
            (cast(sum(coalesce(cr.cr_return_amount,0)) as decimal(15,4))/
             cast(sum(coalesce(cs.cs_net_paid,0)) as decimal(15,4))) as currency_ratio
     from catalog_sales cs left outer join catalog_returns cr
            on (cs.cs_order_number = cr.cr_order_number
                and cs.cs_item_sk = cr.cr_item_sk),
          date_dim
     where cr.cr_return_amount > 10000
       and cs.cs_net_profit > 1
       and cs.cs_net_paid > 0
       and cs.cs_quantity > 0
       and cs_sold_date_sk = d_date_sk
       and d_year = 2001
       and d_moy = 12
     group by cs.cs_item_sk) in_cat
 ) catalog
 where (catalog.return_rank <= 10 or catalog.currency_rank <= 10)
 union
 select 'store' as channel, store.item, store.return_ratio,
        store.return_rank, store.currency_rank
 from (
   select item, return_ratio, currency_ratio,
          rank() over (order by return_ratio) as return_rank,
          rank() over (order by currency_ratio) as currency_rank
   from (
     select sts.ss_item_sk as item,
            (cast(sum(coalesce(sr.sr_return_quantity,0)) as decimal(15,4))/
             cast(sum(coalesce(sts.ss_quantity,0)) as decimal(15,4))) as return_ratio,
            (cast(sum(coalesce(sr.sr_return_amt,0)) as decimal(15,4))/
             cast(sum(coalesce(sts.ss_net_paid,0)) as decimal(15,4))) as currency_ratio
     from store_sales sts left outer join store_returns sr
            on (sts.ss_ticket_number = sr.sr_ticket_number
                and sts.ss_item_sk = sr.sr_item_sk),
          date_dim
     where sr.sr_return_amt > 10000
       and sts.ss_net_profit > 1
       and sts.ss_net_paid > 0
       and sts.ss_quantity > 0
       and ss_sold_date_sk = d_date_sk
       and d_year = 2001
       and d_moy = 12
     group by sts.ss_item_sk) in_store
 ) store
 where (store.return_rank <= 10 or store.currency_rank <= 10)
) tmp
order by 1, 4, 5, 2
limit 100"""

  private val q58 = """
with ss_items as
 (select i_item_id item_id, sum(ss_ext_sales_price) ss_item_rev
  from store_sales, item, date_dim
  where ss_item_sk = i_item_sk
    and d_date in (select d_date
                   from date_dim
                   where d_week_seq = (select d_week_seq
                                       from date_dim
                                       where d_date = '2000-01-03'))
    and ss_sold_date_sk = d_date_sk
  group by i_item_id),
 cs_items as
 (select i_item_id item_id, sum(cs_ext_sales_price) cs_item_rev
  from catalog_sales, item, date_dim
  where cs_item_sk = i_item_sk
    and d_date in (select d_date
                   from date_dim
                   where d_week_seq = (select d_week_seq
                                       from date_dim
                                       where d_date = '2000-01-03'))
    and cs_sold_date_sk = d_date_sk
  group by i_item_id),
 ws_items as
 (select i_item_id item_id, sum(ws_ext_sales_price) ws_item_rev
  from web_sales, item, date_dim
  where ws_item_sk = i_item_sk
    and d_date in (select d_date
                   from date_dim
                   where d_week_seq = (select d_week_seq
                                       from date_dim
                                       where d_date = '2000-01-03'))
    and ws_sold_date_sk = d_date_sk
  group by i_item_id)
select ss_items.item_id, ss_item_rev,
       ss_item_rev/((ss_item_rev+cs_item_rev+ws_item_rev)/3) * 100 ss_dev,
       cs_item_rev,
       cs_item_rev/((ss_item_rev+cs_item_rev+ws_item_rev)/3) * 100 cs_dev,
       ws_item_rev,
       ws_item_rev/((ss_item_rev+cs_item_rev+ws_item_rev)/3) * 100 ws_dev,
       (ss_item_rev+cs_item_rev+ws_item_rev)/3 average
from ss_items, cs_items, ws_items
where ss_items.item_id = cs_items.item_id
  and ss_items.item_id = ws_items.item_id
  and ss_item_rev between 0.9 * cs_item_rev and 1.1 * cs_item_rev
  and ss_item_rev between 0.9 * ws_item_rev and 1.1 * ws_item_rev
  and cs_item_rev between 0.9 * ss_item_rev and 1.1 * ss_item_rev
  and cs_item_rev between 0.9 * ws_item_rev and 1.1 * ws_item_rev
  and ws_item_rev between 0.9 * ss_item_rev and 1.1 * ss_item_rev
  and ws_item_rev between 0.9 * cs_item_rev and 1.1 * cs_item_rev
order by ss_items.item_id, ss_item_rev
limit 100"""

  private val q64 = """
with cs_ui as
 (select cs_item_sk,
         sum(cs_ext_list_price) as sale,
         sum(cr_refunded_cash+cr_reversed_charge+cr_store_credit) as refund
  from catalog_sales, catalog_returns
  where cs_item_sk = cr_item_sk
    and cs_order_number = cr_order_number
  group by cs_item_sk
  having sum(cs_ext_list_price) >
           2*sum(cr_refunded_cash+cr_reversed_charge+cr_store_credit)),
cross_sales as
 (select i_product_name product_name, i_item_sk item_sk,
         s_store_name store_name, s_zip store_zip,
         ad1.ca_street_number b_street_number,
         ad1.ca_street_name b_street_name,
         ad1.ca_city b_city, ad1.ca_zip b_zip,
         ad2.ca_street_number c_street_number,
         ad2.ca_street_name c_street_name,
         ad2.ca_city c_city, ad2.ca_zip c_zip,
         d1.d_year as syear, d2.d_year as fsyear, d3.d_year s2year,
         count(*) cnt,
         sum(ss_wholesale_cost) s1, sum(ss_list_price) s2,
         sum(ss_coupon_amt) s3
  from store_sales, store_returns, cs_ui, date_dim d1, date_dim d2,
       date_dim d3, store, customer, customer_demographics cd1,
       customer_demographics cd2, promotion,
       household_demographics hd1, household_demographics hd2,
       customer_address ad1, customer_address ad2, income_band ib1,
       income_band ib2, item
  where ss_store_sk = s_store_sk
    and ss_sold_date_sk = d1.d_date_sk
    and ss_customer_sk = c_customer_sk
    and ss_cdemo_sk = cd1.cd_demo_sk
    and ss_hdemo_sk = hd1.hd_demo_sk
    and ss_addr_sk = ad1.ca_address_sk
    and ss_item_sk = i_item_sk
    and ss_item_sk = sr_item_sk
    and ss_ticket_number = sr_ticket_number
    and ss_item_sk = cs_ui.cs_item_sk
    and c_current_cdemo_sk = cd2.cd_demo_sk
    and c_current_hdemo_sk = hd2.hd_demo_sk
    and c_current_addr_sk = ad2.ca_address_sk
    and c_first_sales_date_sk = d2.d_date_sk
    and c_first_shipto_date_sk = d3.d_date_sk
    and ss_promo_sk = p_promo_sk
    and hd1.hd_income_band_sk = ib1.ib_income_band_sk
    and hd2.hd_income_band_sk = ib2.ib_income_band_sk
    and cd1.cd_marital_status <> cd2.cd_marital_status
    and i_color in ('azure','burlywood','chiffon','cream',
                    'blanched','brown')
    and i_current_price between 60 and 60 + 10
    and i_current_price between 60 + 1 and 60 + 15
  group by i_product_name, i_item_sk, s_store_name, s_zip,
           ad1.ca_street_number, ad1.ca_street_name, ad1.ca_city,
           ad1.ca_zip, ad2.ca_street_number, ad2.ca_street_name,
           ad2.ca_city, ad2.ca_zip, d1.d_year, d2.d_year, d3.d_year)
select cs1.product_name, cs1.store_name, cs1.store_zip,
       cs1.b_street_number, cs1.b_street_name, cs1.b_city, cs1.b_zip,
       cs1.c_street_number, cs1.c_street_name, cs1.c_city, cs1.c_zip,
       cs1.syear, cs1.cnt,
       cs1.s1 as s11, cs1.s2 as s21, cs1.s3 as s31,
       cs2.s1 as s12, cs2.s2 as s22, cs2.s3 as s32,
       cs2.syear, cs2.cnt
from cross_sales cs1, cross_sales cs2
where cs1.item_sk = cs2.item_sk
  and cs1.syear = 1999
  and cs2.syear = 1999 + 1
  and cs2.cnt <= cs1.cnt
  and cs1.store_name = cs2.store_name
  and cs1.store_zip = cs2.store_zip
order by cs1.product_name, cs1.store_name, cs2.cnt, cs1.s1, cs2.s1"""

  private def q66Channel(s: String, sales: String, net: String,
      tbl: String): String = s"""
   select w_warehouse_name, w_warehouse_sq_ft, w_city, w_county,
          w_state, w_country,
          'UPS' || ',' || 'FEDEX' as ship_carriers,
          d_year as year,
          sum(case when d_moy = 1 then $sales*${s}_quantity else 0 end) as jan_sales,
          sum(case when d_moy = 2 then $sales*${s}_quantity else 0 end) as feb_sales,
          sum(case when d_moy = 3 then $sales*${s}_quantity else 0 end) as mar_sales,
          sum(case when d_moy = 4 then $sales*${s}_quantity else 0 end) as apr_sales,
          sum(case when d_moy = 5 then $sales*${s}_quantity else 0 end) as may_sales,
          sum(case when d_moy = 6 then $sales*${s}_quantity else 0 end) as jun_sales,
          sum(case when d_moy = 7 then $sales*${s}_quantity else 0 end) as jul_sales,
          sum(case when d_moy = 8 then $sales*${s}_quantity else 0 end) as aug_sales,
          sum(case when d_moy = 9 then $sales*${s}_quantity else 0 end) as sep_sales,
          sum(case when d_moy = 10 then $sales*${s}_quantity else 0 end) as oct_sales,
          sum(case when d_moy = 11 then $sales*${s}_quantity else 0 end) as nov_sales,
          sum(case when d_moy = 12 then $sales*${s}_quantity else 0 end) as dec_sales,
          sum(case when d_moy = 1 then $net*${s}_quantity else 0 end) as jan_net,
          sum(case when d_moy = 2 then $net*${s}_quantity else 0 end) as feb_net,
          sum(case when d_moy = 3 then $net*${s}_quantity else 0 end) as mar_net,
          sum(case when d_moy = 4 then $net*${s}_quantity else 0 end) as apr_net,
          sum(case when d_moy = 5 then $net*${s}_quantity else 0 end) as may_net,
          sum(case when d_moy = 6 then $net*${s}_quantity else 0 end) as jun_net,
          sum(case when d_moy = 7 then $net*${s}_quantity else 0 end) as jul_net,
          sum(case when d_moy = 8 then $net*${s}_quantity else 0 end) as aug_net,
          sum(case when d_moy = 9 then $net*${s}_quantity else 0 end) as sep_net,
          sum(case when d_moy = 10 then $net*${s}_quantity else 0 end) as oct_net,
          sum(case when d_moy = 11 then $net*${s}_quantity else 0 end) as nov_net,
          sum(case when d_moy = 12 then $net*${s}_quantity else 0 end) as dec_net
   from $tbl, warehouse, date_dim, time_dim, ship_mode
   where ${s}_warehouse_sk = w_warehouse_sk
     and ${s}_sold_date_sk = d_date_sk
     and ${s}_sold_time_sk = t_time_sk
     and ${s}_ship_mode_sk = sm_ship_mode_sk
     and d_year = 2001
     and t_time between 30838 and 30838+28800
     and sm_carrier in ('UPS','FEDEX')
   group by w_warehouse_name, w_warehouse_sq_ft, w_city, w_county,
            w_state, w_country, d_year"""

  private val q66 =
    "select w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, " +
    "w_state, w_country, ship_carriers, year,\n" +
    Seq("jan", "feb", "mar", "apr", "may", "jun", "jul", "aug", "sep",
      "oct", "nov", "dec").map(m =>
      s"sum(${m}_sales) as ${m}_sales, " +
      s"sum(${m}_sales/w_warehouse_sq_ft) as ${m}_sales_per_sq_foot, " +
      s"sum(${m}_net) as ${m}_net").mkString(",\n") +
    "\nfrom (" + q66Channel("ws", "ws_ext_sales_price", "ws_net_paid",
      "web_sales") +
    "\n union all\n" + q66Channel("cs", "cs_ext_sales_price",
      "cs_net_paid", "catalog_sales") +
    """) x
group by w_warehouse_name, w_warehouse_sq_ft, w_city, w_county,
         w_state, w_country, ship_carriers, year
order by w_warehouse_name
limit 100"""

  private val q90 = """
select cast(amc as decimal(15,4))/cast(pmc as decimal(15,4)) am_pm_ratio
from (select count(*) amc
      from web_sales, household_demographics, time_dim, web_page
      where ws_sold_time_sk = time_dim.t_time_sk
        and ws_ship_hdemo_sk = household_demographics.hd_demo_sk
        and ws_web_page_sk = web_page.wp_web_page_sk
        and time_dim.t_hour between 8 and 8+1
        and household_demographics.hd_dep_count = 6
        and web_page.wp_char_count between 2500 and 5500) at,
     (select count(*) pmc
      from web_sales, household_demographics, time_dim, web_page
      where ws_sold_time_sk = time_dim.t_time_sk
        and ws_ship_hdemo_sk = household_demographics.hd_demo_sk
        and ws_web_page_sk = web_page.wp_web_page_sk
        and time_dim.t_hour between 19 and 19+1
        and household_demographics.hd_dep_count = 6
        and web_page.wp_char_count between 2500 and 5500) pt
order by am_pm_ratio
limit 100"""

  private val texts: Map[String, String] = Map(
    "qds_official_q4" -> q4, "qds_official_q14b" -> q14b,
    "qds_official_q18" -> q18,
    "qds_official_q23a" -> q23a, "qds_official_q23b" -> q23b,
    "qds_official_q24" -> q24, "qds_official_q41" -> q41,
    "qds_official_q44" -> q44, "qds_official_q49" -> q49,
    "qds_official_q58" -> q58, "qds_official_q64" -> q64,
    "qds_official_q66" -> q66, "qds_official_q90" -> q90)

  private val q18Aggs = Seq("agg1", "agg2", "agg3", "agg4", "agg5",
    "agg6", "agg7")

  private val renames: Map[String, Seq[String]] = Map(
    "qds_official_q18" -> (Seq("i_item_id", "ca_country", "ca_state",
      "ca_county") ++ q18Aggs),
    "qds_official_q23a" -> Seq("sum_sales"),
    "qds_official_q49" -> Seq("channel", "item", "return_ratio",
      "return_rank", "currency_rank"),
    "qds_official_q64" -> Seq("product_name", "store_name", "store_zip",
      "b_street_number", "b_street_name", "b_city", "b_zip",
      "c_street_number", "c_street_name", "c_city", "c_zip",
      "syear1", "cnt1", "s11", "s21", "s31", "s12", "s22", "s32",
      "syear2", "cnt2"),
    "qds_official_q90" -> Seq("am_pm_ratio"))

  /** Oracle-side casts; `->` chains (grid-collapse then widen). */
  private val casts: Map[String, Map[String, String]] = Map(
    "qds_official_q18" ->
      q18Aggs.map(_ -> "DECIMAL(16,6)->DOUBLE").toMap,
    "qds_official_q49" -> Map(
      "return_ratio" -> "DECIMAL(15,4)->DOUBLE",
      "return_rank" -> "INTEGER", "currency_rank" -> "INTEGER"),
    "qds_official_q90" -> Map("am_pm_ratio" -> "DECIMAL(15,4)->DOUBLE"))

  /** Spark-side mirrors of the grid-collapse casts. */
  private val sparkCasts: Map[String, Map[String, String]] = Map(
    "qds_official_q18" ->
      q18Aggs.map(_ -> "decimal(16,6)->double").toMap,
    "qds_official_q49" -> Map("return_ratio" -> "decimal(15,4)->double"),
    "qds_official_q90" -> Map("am_pm_ratio" -> "decimal(15,4)->double"))

  val queries: Map[String, QueryFn] =
    texts.keys.map(n => n -> ((s: SparkSession, _: String) => {
      val df = QTpcdsOfficial.runOfficial(s, texts(n), renames.get(n))
      sparkCasts.get(n).map(_.foldLeft(df) { case (d, (c, ts)) =>
        d.withColumn(c, ts.split("->").foldLeft(col(c))(_.cast(_))) })
        .getOrElse(df)
    }): (String, QueryFn)).toMap

  override val oracleSql: Map[String, String] = texts.map { case (name, text) =>
    name -> QTpcdsOfficial.wrapOracle(text, renames.get(name),
      casts.getOrElse(name, Map.empty))
  }
}
