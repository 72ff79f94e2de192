package graft.queries

import Q._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** OFFICIAL TPC-DS texts, batch 7 — the five query ids whose EXACT
  * cross-engine oracle cannot exist (DEVIATIONS.md), run as ROWS-ONLY
  * gates (a `queries` entry with no `oracleSql` entry → the driver
  * records row count + full plan execution, the same weaker check
  * q_click_group_limit carries):
  *
  *  - Q14 first statement, Q22, Q67: ROLLUP + ORDER BY group keys +
  *    LIMIT with a >limit result — subtotal rows carry NULL keys and
  *    the engines order nulls on opposite ends, so the LIMIT cut
  *    selects different (both spec-valid) row sets;
  *  - Q17, Q39 (BOTH template statements — they share the inv CTE;
  *    the first runs as qds_official_q39, the cov>1.5 second as
  *    qds_official_q39b): stddev of doubles, accumulation-order
  *    drift vs any exact gate.
  *
  * With these, all 99 official query ids EXECUTE against the retail
  * fixture: 96 oracle-exact gates (95 ids) + 6 rows-only entries here
  * (5 ids, Q39 contributing two statements).
  */
object QTpcdsOfficial7 extends Batch {

  private val q14a = """
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
select channel, i_brand_id, i_class_id, i_category_id,
       sum(sales), sum(number_sales)
from (
  select 'store' channel, i_brand_id, i_class_id, i_category_id,
         sum(ss_quantity*ss_list_price) sales, count(*) number_sales
  from store_sales, item, date_dim
  where ss_item_sk in (select ss_item_sk from cross_items)
    and ss_item_sk = i_item_sk
    and ss_sold_date_sk = d_date_sk
    and d_year = 1999+2
    and d_moy = 11
  group by i_brand_id, i_class_id, i_category_id
  having sum(ss_quantity*ss_list_price) > (select average_sales
                                           from avg_sales)
  union all
  select 'catalog' channel, i_brand_id, i_class_id, i_category_id,
         sum(cs_quantity*cs_list_price) sales, count(*) number_sales
  from catalog_sales, item, date_dim
  where cs_item_sk in (select ss_item_sk from cross_items)
    and cs_item_sk = i_item_sk
    and cs_sold_date_sk = d_date_sk
    and d_year = 1999+2
    and d_moy = 11
  group by i_brand_id, i_class_id, i_category_id
  having sum(cs_quantity*cs_list_price) > (select average_sales
                                           from avg_sales)
  union all
  select 'web' channel, i_brand_id, i_class_id, i_category_id,
         sum(ws_quantity*ws_list_price) sales, count(*) number_sales
  from web_sales, item, date_dim
  where ws_item_sk in (select ss_item_sk from cross_items)
    and ws_item_sk = i_item_sk
    and ws_sold_date_sk = d_date_sk
    and d_year = 1999+2
    and d_moy = 11
  group by i_brand_id, i_class_id, i_category_id
  having sum(ws_quantity*ws_list_price) > (select average_sales
                                           from avg_sales)
 ) y
group by rollup (channel, i_brand_id, i_class_id, i_category_id)
order by channel, i_brand_id, i_class_id, i_category_id
limit 100"""

  private val q17 = """
select i_item_id, i_item_desc, s_state,
       count(ss_quantity) as store_sales_quantitycount,
       avg(ss_quantity) as store_sales_quantityave,
       stddev_samp(ss_quantity) as store_sales_quantitystdev,
       stddev_samp(ss_quantity)/avg(ss_quantity) as store_sales_quantitycov,
       count(sr_return_quantity) as store_returns_quantitycount,
       avg(sr_return_quantity) as store_returns_quantityave,
       stddev_samp(sr_return_quantity) as store_returns_quantitystdev,
       stddev_samp(sr_return_quantity)/avg(sr_return_quantity) as store_returns_quantitycov,
       count(cs_quantity) as catalog_sales_quantitycount,
       avg(cs_quantity) as catalog_sales_quantityave,
       stddev_samp(cs_quantity) as catalog_sales_quantitystdev,
       stddev_samp(cs_quantity)/avg(cs_quantity) as catalog_sales_quantitycov
from store_sales, store_returns, catalog_sales, date_dim d1,
     date_dim d2, date_dim d3, store, item
where d1.d_quarter_name = '2001Q1'
  and d1.d_date_sk = ss_sold_date_sk
  and i_item_sk = ss_item_sk
  and s_store_sk = ss_store_sk
  and ss_customer_sk = sr_customer_sk
  and ss_item_sk = sr_item_sk
  and ss_ticket_number = sr_ticket_number
  and sr_returned_date_sk = d2.d_date_sk
  and d2.d_quarter_name in ('2001Q1','2001Q2','2001Q3')
  and sr_customer_sk = cs_bill_customer_sk
  and sr_item_sk = cs_item_sk
  and cs_sold_date_sk = d3.d_date_sk
  and d3.d_quarter_name in ('2001Q1','2001Q2','2001Q3')
group by i_item_id, i_item_desc, s_state
order by i_item_id, i_item_desc, s_state
limit 100"""

  private val q22 = """
select i_product_name, i_brand, i_class, i_category,
       avg(inv_quantity_on_hand) qoh
from inventory, date_dim, item
where inv_date_sk = d_date_sk
  and inv_item_sk = i_item_sk
  and d_month_seq between 1200 and 1200 + 11
group by rollup(i_product_name, i_brand, i_class, i_category)
order by qoh, i_product_name, i_brand, i_class, i_category
limit 100"""

  private val q39 = """
with inv as
 (select w_warehouse_name, w_warehouse_sk, i_item_sk, d_moy,
         stdev, mean,
         case mean when 0 then null else stdev/mean end cov
  from (select w_warehouse_name, w_warehouse_sk, i_item_sk, d_moy,
               stddev_samp(inv_quantity_on_hand) stdev,
               avg(inv_quantity_on_hand) mean
        from inventory, item, warehouse, date_dim
        where inv_item_sk = i_item_sk
          and inv_warehouse_sk = w_warehouse_sk
          and inv_date_sk = d_date_sk
          and d_year = 2001
        group by w_warehouse_name, w_warehouse_sk, i_item_sk, d_moy) foo
  where case mean when 0 then 0 else stdev/mean end > 1)
select inv1.w_warehouse_sk, inv1.i_item_sk, inv1.d_moy, inv1.mean,
       inv1.cov, inv2.w_warehouse_sk, inv2.i_item_sk, inv2.d_moy,
       inv2.mean, inv2.cov
from inv inv1, inv inv2
where inv1.i_item_sk = inv2.i_item_sk
  and inv1.w_warehouse_sk = inv2.w_warehouse_sk
  and inv1.d_moy = 1
  and inv2.d_moy = 1+1
order by inv1.w_warehouse_sk, inv1.i_item_sk, inv1.d_moy, inv1.mean,
         inv1.cov, inv2.d_moy, inv2.mean, inv2.cov"""

  /** Q39's SECOND statement (the official template ships two sharing
    * the inv CTE): identical join, plus the `inv1.cov > 1.5` cut.
    * Rows-only like q39 — the cov column is a double stddev ratio whose
    * accumulation order drifts across engines (DEVIATIONS.md). */
  private val q39b = """
with inv as
 (select w_warehouse_name, w_warehouse_sk, i_item_sk, d_moy,
         stdev, mean,
         case mean when 0 then null else stdev/mean end cov
  from (select w_warehouse_name, w_warehouse_sk, i_item_sk, d_moy,
               stddev_samp(inv_quantity_on_hand) stdev,
               avg(inv_quantity_on_hand) mean
        from inventory, item, warehouse, date_dim
        where inv_item_sk = i_item_sk
          and inv_warehouse_sk = w_warehouse_sk
          and inv_date_sk = d_date_sk
          and d_year = 2001
        group by w_warehouse_name, w_warehouse_sk, i_item_sk, d_moy) foo
  where case mean when 0 then 0 else stdev/mean end > 1)
select inv1.w_warehouse_sk, inv1.i_item_sk, inv1.d_moy, inv1.mean,
       inv1.cov, inv2.w_warehouse_sk, inv2.i_item_sk, inv2.d_moy,
       inv2.mean, inv2.cov
from inv inv1, inv inv2
where inv1.i_item_sk = inv2.i_item_sk
  and inv1.w_warehouse_sk = inv2.w_warehouse_sk
  and inv1.d_moy = 1
  and inv2.d_moy = 1+1
  and inv1.cov > 1.5
order by inv1.w_warehouse_sk, inv1.i_item_sk, inv1.d_moy, inv1.mean,
         inv1.cov, inv2.d_moy, inv2.mean, inv2.cov"""

  private val q67 = """
select *
from (select i_category, i_class, i_brand, i_product_name, d_year,
             d_qoy, d_moy, s_store_id, sumsales,
             rank() over (partition by i_category
                          order by sumsales desc) rk
      from (select i_category, i_class, i_brand, i_product_name,
                   d_year, d_qoy, d_moy, s_store_id,
                   sum(coalesce(ss_sales_price*ss_quantity, 0)) sumsales
            from store_sales, date_dim, store, item
            where ss_sold_date_sk = d_date_sk
              and ss_item_sk = i_item_sk
              and ss_store_sk = s_store_sk
              and d_month_seq between 1200 and 1200+11
            group by rollup(i_category, i_class, i_brand,
                            i_product_name, d_year, d_qoy, d_moy,
                            s_store_id)) dw1) dw2
where rk <= 100
order by i_category, i_class, i_brand, i_product_name, d_year, d_qoy,
         d_moy, s_store_id, sumsales, rk
limit 100"""

  private val texts: Map[String, (String, Option[Seq[String]])] = Map(
    "qds_official_q14a" -> (q14a, Some(Seq("channel", "i_brand_id",
      "i_class_id", "i_category_id", "sum_sales", "sum_number_sales"))),
    "qds_official_q17" -> (q17, None),
    "qds_official_q22" -> (q22, None),
    "qds_official_q39" -> (q39, Some(Seq("w1", "i1", "moy1", "mean1",
      "cov1", "w2", "i2", "moy2", "mean2", "cov2"))),
    "qds_official_q39b" -> (q39b, Some(Seq("w1", "i1", "moy1", "mean1",
      "cov1", "w2", "i2", "moy2", "mean2", "cov2"))),
    "qds_official_q67" -> (q67, None))

  /** ROWS-ONLY gates: `queries` entries with NO oracleSql. */
  val queries: Map[String, QueryFn] =
    texts.keys.map(n => n -> ((s: SparkSession, _: String) => {
      val (text, rename) = texts(n)
      QTpcdsOfficial.runOfficial(s, text, rename)
    }): (String, QueryFn)).toMap
}
